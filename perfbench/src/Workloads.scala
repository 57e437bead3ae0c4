package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators._
import graft.relational.{Analytics, Eval, Graph}
import graft.text.{Bpe, Dedup, Subword}
import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs: every column is a hash of (seed, column tag, row id), so
  * the same seed gives the same tables on any core count. */
object Gen {
  def h(seed: Long, tag: Int, id: Column = col("id")): Column =
    xxhash64(lit(seed), lit(tag), id)
  def pick(seed: Long, tag: Int, n: Long, id: Column = col("id")): Column =
    pmod(h(seed, tag, id), lit(n))
  def unif(seed: Long, tag: Int, id: Column = col("id")): Column =
    pick(seed, tag, 1000003L, id).cast("double") / 1000003.0

  def write(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Runs a small-result action inside the timed call and hands back the
    * rows as a local frame, so the digest does not recompute it. */
  def collected(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toList.asJava, df.schema)
}

/** The paper's own use, fit once and serve in two shapes, followed by the
  * evaluation a fraud model gets: a fraud-shaped feature pipeline over a
  * seeded transactions table, then rank statistics and card × merchant
  * basket affinity over the same table. */
object FeTrainServe extends Workload {
  val name = "fe_train_serve"
  val calls = Seq("operators.fit", "operators.transform",
    "operators.save_load", "operators.online", "eval.spearman",
    "eval.quantileNormalize", "eval.ksExact", "analytics.basketAffinity")
  /** Save/load round trips per call, so that the call is long enough to
    * time steadily. */
  val SaveLoadReps = 5
  private var txns: DataFrame = _
  private var incoming: DataFrame = _
  /** The fixed rows the online scorer serves, as column → value maps. */
  private var onlineRows: Array[Map[String, Any]] = _
  def fitCalls: Seq[String] = Seq("operators.fit")
  def persistCalls: Seq[String] = Seq("operators.save_load")

  def generate(spark: SparkSession, seed: Long, tiny: Boolean,
      dir: String): Unit = {
    val n = if (tiny) 2000L else 5000L
    val rows = 3 * n
    txns = transactions(spark, seed, 0L, n, 4, s"$dir/transactions")
    incoming = transactions(spark, seed, n, rows, 16, s"$dir/incoming")
    val cols = incoming.columns
    onlineRows = incoming.orderBy("txn_id").limit(if (tiny) 100 else 1000)
      .collect().map(r => cols.map(c => c -> r.getAs[Any](c)).toMap)
  }

  /** Transactions `from` until `from + n` in `files` parquet files: a
    * history to fit and evaluate on, and a three times larger batch of
    * incoming ones to score, which keeps the batch-scoring call long
    * enough to time steadily. The batch is split into small files, so
    * that one slow core on a shared box does not hold up its stage. */
  private def transactions(spark: SparkSession, seed: Long, from: Long,
      n: Long, files: Int, path: String): DataFrame = {
    import Gen._
    // 1500 possible cards give > 1000 distinct values at either size:
    // that dictionary takes the broadcast-lookup path, while the
    // merchant_mcc key (≤ 720 values) stays a literal map
    val amount = round(exp(unif(seed, 5) * 10.0), 2)
    val fraud = unif(seed, 7) < lit(0.02) + pick(seed, 2, 60) / 600.0
    write(spark.range(from, from + n, 1, files).select(
      col("id").as("txn_id"),
      concat(lit("c"), pick(seed, 1, 1500).cast("string")).as("card"),
      concat(lit("m"), pick(seed, 2, 60).cast("string")).as("merchant"),
      pick(seed, 3, 12).cast("int").as("mcc"),
      concat(lit("k"), pick(seed, 4, 15).cast("string")).as("country"),
      when(pick(seed, 8, 3) === 0, "web").otherwise("pos").as("channel"),
      amount.as("amount"),
      pick(seed, 6, 24).cast("int").as("hour"),
      when(fraud, 1).otherwise(0).as("label"),
      when(fraud, "fraud").otherwise("legit").as("klass"),
      round(amount * (unif(seed, 9) + 0.5) + when(fraud, 400.0)
        .otherwise(0.0), 2).as("score")), path)
  }

  private def stages: Seq[PipelineStage] = Seq(
    new StringConcatenator(Seq(Seq("merchant", "mcc")), Seq("mkey"), "_"),
    new ComplementLabelEncoder(Seq("card", "mkey"),
      Seq("card_code", "mkey_code")),
    new FrequencyEncoder(Seq("country", "mkey"),
      Seq("country_freq", "mkey_freq"), normalize = true),
    new Aggregator(Seq("amount"), Seq("mkey_amount_mean"), Seq("mkey"),
      "mean"),
    new TargetEncoder(Seq("mkey"), Seq("mkey_te"), targetCol = "label",
      idCol = "txn_id"),
    new HashingEncoder(Seq("card"), Seq("card_bucket"), 256),
    new Scaler(Seq("amount", "hour"), Seq("amount_std", "hour_std"),
      "standard"),
    new OneHotEncoder(Seq("country")))

  def pass(p: Pass): PassOut = {
    import Gen._
    val model = p.call("operators.fit") { DFPipeline(stages: _*).fit(txns) }
    p.call("operators.transform") {
      model.transform(incoming).write.format("noop").mode("overwrite")
        .save()
    }
    val path = s"${p.dir}/model-p${p.index}"
    val loaded = p.call("operators.save_load") {
      (1 to SaveLoadReps).map { i =>
        GraftPersistence.save(model, s"$path-$i")
        GraftPersistence.load(p.spark, s"$path-$i")
      }.last
    }
    val reps = if (p.tiny) 2 else if (p.index == 0) 100 else 20
    val score = p.call("operators.online") {
      val serving = new Pipeline()
        .setStages(model.stages.filter(servable).map(s => s: PipelineStage))
        .fit(txns)
      val f = OnlineScorer.compile(serving)
      var sink = 0L
      var r = 0
      while (r < reps) {
        onlineRows.foreach { row =>
          val t0 = System.nanoTime()
          sink += f(row).size
          p.onlineNs += System.nanoTime() - t0
        }
        r += 1
      }
      if (sink == 42L) println("")
      f
    }
    val rho = p.call("eval.spearman") {
      collected(Eval.spearman(txns, "amount", "score")) }
    val qn = p.call("eval.quantileNormalize") {
      Eval.quantileNormalize(txns, "amount", "channel", "web", "pos") }
    val ks = p.call("eval.ksExact") {
      collected(Eval.ksExact(txns, "score", "klass", "fraud", "legit")) }
    val ba = p.call("analytics.basketAffinity") {
      materialize(Analytics.basketAffinity(txns, "card", "merchant")) }
    PassOut(Seq("operators.transform" -> model.transform(incoming),
        "eval.spearman" -> rho, "eval.quantileNormalize" -> qn,
        "eval.ksExact" -> ks, "analytics.basketAffinity" -> ba),
      () => checkServe(model, loaded, score) ++ checkEval(rho, ks, qn, ba))
  }

  /** Fitted stages whose state is a relation, not a driver-side map: they
    * stay in the batch model and are left out of the online one. */
  private def servable(t: org.apache.spark.ml.Transformer): Boolean =
    t match {
      case m: AggregatorModel => m.groupby.isEmpty
      case _ => true
    }

  private def checkServe(model: PipelineModel,
      loaded: LoadedPipelineModel,
      score: OnlineScorer.OnlineRow => OnlineScorer.OnlineRow)
      : Seq[(String, String)] = {
    val bad = mutable.ArrayBuffer[(String, String)]()
    // outputs of stages left out of the online model
    val batchOnly = model.stages.collect {
      case m: AggregatorModel if !servable(m) => m.outs
    }.flatten.toSet
    // every stage scores row by row, so transforming the sampled rows alone
    // gives the same rows as transforming the whole batch
    val sample = onlineRows.take(200)
    val ids = sample.map(_("txn_id")).toIndexedSeq
    val batch = model.transform(incoming.filter(col("txn_id").isin(ids: _*)))
      .collect().map(r => r.getAs[Any]("txn_id") -> r).toMap
    sample.foreach { in =>
      val got = score(in)
      val exp = batch(in("txn_id"))
      exp.schema.fieldNames.filterNot(batchOnly).foreach { c =>
        if (!got.contains(c))
          bad += (("operators.online", s"online row lacks $c"))
        else if (got(c) != exp.getAs[Any](c))
          bad += (("operators.online", s"$c of ${in("txn_id")}: " +
            s"online ${got(c)} != batch ${exp.getAs[Any](c)}"))
      }
    }
    val d = Main.digests(Seq("mem" -> model.transform(txns),
      "reload" -> loaded.transform(txns)))
    if (d("mem") != d("reload"))
      bad += (("operators.save_load",
        s"reloaded digest ${d("reload")} != in-memory ${d("mem")}"))
    bad.toSeq.distinct.take(20)
  }

  private def midranks(v: Array[Double]): Array[Double] = {
    val idx = v.indices.sortBy(v(_)).toArray
    val r = new Array[Double](v.length)
    var i = 0
    while (i < idx.length) {
      var j = i
      while (j + 1 < idx.length && v(idx(j + 1)) == v(idx(i))) j += 1
      val m = (i + j) / 2.0 + 1
      (i to j).foreach(k => r(idx(k)) = m)
      i = j + 1
    }
    r
  }

  private def checkEval(rho: DataFrame, ks: DataFrame, qn: DataFrame,
      ba: DataFrame): Seq[(String, String)] = {
    val bad = mutable.ArrayBuffer[(String, String)]()
    val rows = txns.select("amount", "score", "klass", "channel").collect()
    // Spearman: Pearson correlation of the midranks
    val (rx, ry) = (midranks(rows.map(_.getDouble(0))),
      midranks(rows.map(_.getDouble(1))))
    val n = rows.length
    val (mx, my) = (rx.sum / n, ry.sum / n)
    val cov = rx.indices.map(i => (rx(i) - mx) * (ry(i) - my)).sum
    val want = cov / math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum *
      ry.map(b => (b - my) * (b - my)).sum)
    val got = rho.head().getAs[Double]("rho")
    if (math.abs(got - want) > 2e-6)
      bad += (("eval.spearman", s"rho $got, expected $want"))
    // KS: the largest gap between the two classes' score ECDFs
    def scores(k: String) =
      rows.filter(_.getString(2) == k).map(_.getDouble(1)).sorted
    val (fa, fb) = (scores("fraud"), scores("legit"))
    var (i, j, d) = (0, 0, 0.0)
    while (i < fa.length || j < fb.length) {
      val v = math.min(if (i < fa.length) fa(i) else Double.MaxValue,
        if (j < fb.length) fb(j) else Double.MaxValue)
      while (i < fa.length && fa(i) == v) i += 1
      while (j < fb.length && fb(j) == v) j += 1
      d = math.max(d,
        math.abs(i.toDouble / fa.length - j.toDouble / fb.length))
    }
    val gotD = ks.head().getAs[Double]("d")
    if (math.abs(gotD - d) > 2e-6)
      bad += (("eval.ksExact", s"d $gotD, expected $d"))
    def amounts(c: String) =
      rows.filter(_.getString(3) == c).map(_.getDouble(0))
    val (a, b) = (amounts("web"), amounts("pos"))
    // quantile normalization maps onto reference values, monotonically
    val refs = b.toSet
    val map = qn.select("value", "normalized").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).sortBy(_._1)
    if (map.length != a.distinct.length)
      bad += (("eval.quantileNormalize",
        s"${map.length} mapped values, expected ${a.distinct.length}"))
    if (!map.forall(m => refs(m._2)) ||
        map.sliding(2).exists(w => w.length == 2 && w(1)._2 < w(0)._2))
      bad += (("eval.quantileNormalize", "mapping not monotone onto ref"))
    // basket affinity counts are mutually consistent
    ba.select("n_ab", "n_a", "n_b", "n_baskets").collect().foreach { r =>
      val (ab, na, nb, nt) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      if (ab < 1 || ab > math.min(na, nb) || math.max(na, nb) > nt)
        bad += (("analytics.basketAffinity", s"counts $ab/$na/$nb/$nt"))
    }
    bad.toSeq.distinct.take(20)
  }
}

/** LLM-data curation of a crawled corpus: exact and near-duplicate dedup
  * over documents with planted copies, two tokenizers fitted, persisted
  * and applied, and the five iterative loops over the documents' link
  * graph (rank, hops from seed pages, core, communities, link islands).
  * Each loop round is a few small driver-issued jobs. Its models are the
  * tokenizers: it runs no feature pipeline, so the operators layer is
  * measured on `fe_train_serve` alone. */
object WebCuration extends Workload {
  val name = "web_curation"
  val calls = Seq("dedup.exact", "dedup.minhash", "dedup.verify",
    "dedup.components", "bpe.fit", "bpe.save_load", "bpe.encode",
    "subword.fit", "subword.encode", "graph.pageRank", "graph.shortestPaths",
    "graph.kCore", "graph.labelPropagation", "dedup.linkComponents")
  val Threshold = 0.7
  val NumMerges = 4
  /** Save/load round trips of the merge table per call, so that the call
    * is long enough to time steadily. */
  val SaveLoadReps = 3
  val VocabSize = 150
  val PrIters = 2
  val Hops = 2
  val K = 3
  val KRounds = 2
  val LpaRounds = 2
  private var docs: DataFrame = _
  private var links: DataFrame = _
  private var seeds: DataFrame = _
  private var dir = ""
  private var nDocs = 0L
  def fitCalls: Seq[String] = Seq("bpe.fit", "subword.fit")
  def persistCalls: Seq[String] = Seq("bpe.save_load")

  def generate(spark: SparkSession, seed: Long, tiny: Boolean,
      dir: String): Unit = {
    import Gen._
    this.dir = dir
    nDocs = if (tiny) 300L else 600L
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Iterator.continually(
        Iterator.fill(2 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar)
          .mkString)
      .distinct.take(2000).toArray
    val w = typedLit(vocab.toSeq)
    val id = col("id")
    // 3% exact copies, 10% near copies (1 word in 30 replaced) of an
    // earlier document; the rest original
    val u = unif(seed, 1)
    val kind = when(id >= 50 && u < 0.03, 1).when(id >= 50 && u < 0.13, 2)
      .otherwise(0)
    val base = when(kind > 0, pmod(h(seed, 2), id)).otherwise(id)
    def word(k: Column) = element_at(w,
      (floor(pow(pmod(k, lit(1000003L)).cast("double") / 1000003.0, 2) *
        vocab.length) + 1).cast("int"))
    docs = write(spark.range(nDocs)
      .select(id, kind.as("kind"), base.as("base"))
      .select(id, array_join(transform(
        sequence(lit(0), pick(seed, 3, 30, col("base")).cast("int") + 19),
        i => when(col("kind") === 2 &&
            pmod(xxhash64(lit(seed), lit(4), id, i), lit(30)) === 0,
            word(xxhash64(lit(seed), lit(5), id, i)))
          .otherwise(word(xxhash64(lit(seed), lit(6), col("base"), i)))),
        " ").as("text")), s"$dir/docs")
    // three links per page, most to one of 20 hub pages, the rest to any
    // page: every seed's graph has the same small diameter, so the loops
    // take the same number of rounds whatever the seed
    links = write(spark.range(nDocs * 3).select(
      pick(seed, 11, nDocs).as("src"),
      when(unif(seed, 14) < 0.6, pick(seed, 15, 20) * (nDocs / 20))
        .otherwise(pick(seed, 12, nDocs)).as("dst"),
      (pick(seed, 13, 5) + 1).as("w")), s"$dir/links")
    seeds = spark.range(5).select((col("id") * (nDocs / 5)).as("node"))
  }

  def pass(p: Pass): PassOut = {
    import Gen._
    val kept = p.call("dedup.exact") {
      materialize(Dedup.exact(docs, Seq("text"), "id")) }
    val cands = p.call("dedup.minhash") {
      materialize(Dedup.minHashLSH(kept, "text", "id", withEstimate = false)) }
    val verified = p.call("dedup.verify") {
      materialize(Dedup.verifyJaccard(cands, kept, "text", "id",
        threshold = Threshold)) }
    val comps = p.call("dedup.components") {
      Dedup.duplicateComponents(verified) }
    val merges = p.call("bpe.fit") { Bpe.fitBpe(kept, "text", NumMerges) }
    val reloaded = p.call("bpe.save_load") {
      (1 to SaveLoadReps).map { i =>
        val path = s"${p.dir}/merges-p${p.index}-$i"
        Bpe.save(merges, p.spark, path)
        Bpe.load(p.spark, path)
      }.last
    }
    val bpe = p.call("bpe.encode") {
      materialize(Bpe.encodeBpe(kept, "text", "id", merges)) }
    val vocab = p.call("subword.fit") {
      materialize(Subword.fitVocab(kept, "text", VocabSize)) }
    val sub = p.call("subword.encode") {
      materialize(Subword.encode(kept, "text", "id", vocab)) }
    val pr = p.call("graph.pageRank") {
      Graph.pageRank(links, "src", "dst", "w", PrIters) }
    val bfs = p.call("graph.shortestPaths") {
      Graph.shortestPaths(links, "src", "dst", seeds, Hops) }
    val core = p.call("graph.kCore") {
      Graph.kCore(links, "src", "dst", K, KRounds) }
    val lpa = p.call("graph.labelPropagation") {
      Graph.labelPropagation(links, "src", "dst", LpaRounds) }
    val islands = p.call("dedup.linkComponents") {
      Dedup.duplicateComponents(
        links.select(col("src").as("id_a"), col("dst").as("id_b")),
        maxCollect = 0L) }
    val loops = Seq("graph.pageRank" -> pr, "graph.shortestPaths" -> bfs,
      "graph.kCore" -> core, "graph.labelPropagation" -> lpa,
      "dedup.linkComponents" -> islands)
    val outs = Seq("dedup.exact" -> kept, "dedup.minhash" -> cands,
      "dedup.verify" -> verified, "dedup.components" -> comps,
      "bpe.fit" -> Bpe.mergesDF(p.spark, merges), "bpe.encode" -> bpe,
      "subword.fit" -> vocab, "subword.encode" -> sub) ++ loops
    PassOut(outs,
      () => {
        writeTwins(s"${p.dir}/twins", loops)
        checkText(kept, verified, comps, merges, bpe) ++
          (if (reloaded == merges) Nil
          else Seq("bpe.save_load" -> "reloaded merges differ"))
      },
      () => Seq("dedup.minhash.verify_ratio" ->
        verified.count().toDouble / math.max(1L, cands.count())))
  }

  /** The graph loops are checked against their generated SQL twins, which
    * are written in DuckDB's dialect: the outputs and the queries go to
    * `twins/`, and the runner replays them there. */
  private def writeTwins(twins: String, outs: Seq[(String, DataFrame)])
      : Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val e = s"SELECT src, dst, w FROM read_parquet('$dir/links/*.parquet')"
    val srcs = seeds.collect().map(_.getLong(0)).mkString(", ")
    val sql = Seq(
      "graph.pageRank" -> Graph.pageRankSql(e, PrIters),
      "graph.shortestPaths" -> Graph.shortestPathsSql(e,
        s"SELECT unnest([$srcs]) AS node", Hops),
      "graph.kCore" -> Graph.kCoreSql(e, K, KRounds),
      "graph.labelPropagation" -> Graph.labelPropagationSql(e, LpaRounds))
    outs.foreach { case (c, df) =>
      df.write.mode("overwrite").parquet(s"$twins/$c") }
    val json = JObject(("edges" -> JString(s"$dir/links")) ::
      sql.toList.map { case (k, v) => k -> JString(v) })
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$twins/twins.json"), compact(render(json)))
  }

  private def shingles(text: String): Set[String] =
    text.trim.toLowerCase.split("\\s+").sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  /** Plain greedy BPE: the merges applied in rank order to one word. */
  private def bpePieces(word: String, merges: Seq[Bpe.Merge]): Seq[String] =
    merges.foldLeft(word.map(_.toString): Seq[String]) { (seg, m) =>
      val out = mutable.ArrayBuffer[String]()
      var i = 0
      while (i < seg.length) {
        if (i + 1 < seg.length && seg(i) == m.lhs && seg(i + 1) == m.rhs) {
          out += m.lhs + m.rhs; i += 2
        } else { out += seg(i); i += 1 }
      }
      out.toSeq
    }

  private def checkText(kept: DataFrame, verified: DataFrame,
      comps: DataFrame,
      merges: Seq[Bpe.Merge], bpe: DataFrame): Seq[(String, String)] = {
    val bad = mutable.ArrayBuffer[(String, String)]()
    val text = kept.select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every verified pair really is at or above the threshold
    val pairs = verified.select("id_a", "id_b", "jaccard").collect()
    pairs.foreach { r =>
      val (a, b) = (shingles(text(r.getLong(0))), shingles(text(r.getLong(1))))
      val j = (a & b).size.toDouble / (a | b).size
      if (j < Threshold || math.abs(j - r.getDouble(2)) > 1e-9)
        bad += (("dedup.verify", s"pair ${r.getLong(0)},${r.getLong(1)}: " +
          s"jaccard $j vs reported ${r.getDouble(2)}"))
    }
    // components: the smallest id of each connected verified cluster
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val q = parent.getOrElse(x, x)
      if (q == x) x else { val r = find(q); parent(x) = r; r }
    }
    pairs.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val want = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .distinct.map(x => x -> find(x)).toMap
    val got = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (got != want)
      bad += (("dedup.components", s"${got.size} labels vs ${want.size} " +
        "expected, or a label differs"))
    // every word's pieces concatenate back to the word, and each doc's
    // piece count is the one encodeBpe reports
    val nTok = bpe.select("id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    text.foreach { case (id, t) =>
      val words = t.split(" ").toSeq
      val pieces = words.map(w => w -> bpePieces(w, merges))
      pieces.find { case (w, ps) => ps.mkString != w }.foreach { case (w, ps) =>
        bad += (("bpe.encode", s"$w split as ${ps.mkString("|")}")) }
      val n = pieces.map(_._2.size).sum.toLong
      if (!nTok.get(id).contains(n))
        bad += (("bpe.encode", s"doc $id: ${nTok.get(id)} tokens, expected $n"))
    }
    bad.toSeq.distinct.take(20)
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(FeTrainServe, WebCuration)
  def byName(n: String): Workload = all.find(_.name == n)
    .getOrElse(sys.error(s"unknown workload $n"))
}
