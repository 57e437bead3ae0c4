package graft

import graft.relational.{Geo, Relational}
import graft.sim.Similarity
import graft.text.{Corpus, Dedup, MinHashIndex, Ranking}
import graft.util.Materialize
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The one materialization primitive and the sites that use it: a
  * checkpoint reads every counter observed in its query, owned state is
  * persisted through the same module, the hot-bucket caps report the
  * counts observed on their result's job (equal to an explicit count, same
  * WARN text, same output rows as the capped self-join), and a call-scoped
  * operator leaves nothing cached or checkpointed behind. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def cacheManager = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  /** The session's cache entries (the count is `private[sql]`). */
  private def cachedEntries: Int = cacheManager.getClass
    .getMethod("numCachedEntries").invoke(cacheManager).asInstanceOf[Int]

  // ---- the primitive -------------------------------------------------------

  test("checkpoint observes its counters on the one job that materializes " +
      "it; a sum over no rows reads 0; the session stays serializable") {
    val df = spark.range(0, 500, 1, 4).toDF("x")
      .withColumn("odd", col("x") % 2 === 1)
    val s = Materialize.checkpoint(df, count(lit(1)).as("n"),
      count(when(col("odd"), 1)).as("odd"),
      sum(when(col("x") < 0, col("x"))).as("neg"))
    assert(s.stats == Map("n" -> df.count(),
      "odd" -> df.filter(col("odd")).count(), "neg" -> 0L))
    assert(s("n") == 500L && s("odd") == 250L)
    assert(s.df.collect().toSeq == df.collect().toSeq)
    assert(s.df.queryExecution.executedPlan.toString.contains("Scan Existing"))
    // the session still serializes (Spark ML model closures capture it)
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
      .writeObject(spark)
  }

  test("release frees a local checkpoint's blocks without the " +
      "truncated-lineage WARN that RDD.unpersist logs") {
    def checkpointed() = {
      val cp = spark.range(0, 40, 1, 2).toDF("x").localCheckpoint(eager = true)
      (cp, cp.queryExecution.logical
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd)
    }
    val warning = "lineage has been truncated"
    val sc = spark.sparkContext
    val (cp, rdd) = checkpointed()
    assert(sc.getPersistentRDDs.contains(rdd.id))
    val (_, lines) = logLines(rdd.getClass.getName)(Materialize.release(cp))
    assert(!lines.exists(_.contains(warning)), lines)
    assert(!sc.getPersistentRDDs.contains(rdd.id))
    // the capture sees the WARN when the RDD API releases a checkpoint
    val (_, other) = checkpointed()
    val (_, warned) = logLines(other.getClass.getName)(
      other.unpersist(blocking = false))
    assert(warned.exists(_.contains(warning)), warned)
  }

  test("guardedCollect decides in one parallel job; over the guard its " +
      "relation reads that job's rows again without rerunning the stages " +
      "before them; a partition past twice its share costs a second job " +
      "only when the first leaves the total undecided") {
    // 100 rows in each of 4 partitions; the filter leaves 100, 30, 0, 0.
    // The second job counts the stopped partition; a third fetches it only
    // when that count leaves the total within the guard
    val even = spark.range(0, 400, 1, 4).toDF("id")
    val skewed = even.filter($"id" < 130)
    for ((df, n, under, over) <- Seq((even, 400L, 1, 1),
        (skewed, 130L, 3, 2))) {
      var got: Either[DataFrame, Array[Row]] = null
      assert(countJobs { got = Materialize.guardedCollect(df, n) } == under,
        s"$n rows")
      assert(got.toOption.get.map(_.getLong(0)).toSeq == (0L until n))
      assert(countJobs { got = Materialize.guardedCollect(df, n - 1) } ==
        over, s"$n rows over the guard")
      assert(got.left.toOption.get.as[Long].collect().toSeq == (0L until n))
    }
    // far over the guard every partition stops at twice its share
    val big = spark.range(0, 4000, 1, 4).toDF("id")
    assert(countJobs(assert(Materialize.guardedCollect(big, 399L).isLeft)) ==
      1)
    // an aggregate: its map stage runs once, before the deciding job
    val groups = spark.range(0, 4000, 1, 4).groupBy(($"id" % 400).as("g"))
      .agg(count(lit(1)).as("n"))
    var left: DataFrame = null
    assert(countJobs {
      left = Materialize.guardedCollect(groups, 399).left.toOption.get } == 2)
    assert(countJobs(assert(left.as[(Long, Long)].collect().toMap ==
      (0L until 400L).map(_ -> 10L).toMap)) == 1)
    // a local relation's rows are on the driver: no job either way
    val local = (1 to 5).toDF("x")
    assert(countJobs(assert(
      Materialize.guardedCollect(local, 5).toOption.get.length == 5)) == 0)
    assert(countJobs(assert(
      Materialize.guardedCollect(local, 4).left.toOption.get eq local)) == 0)
  }

  /** The bytes of the task results of the jobs `body` starts. */
  private def resultBytes(body: => Unit): Long = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are async; poll until the total is stable
      var (last, same) = (-1L, 0)
      while (same < 3) {
        val now = bytes.get()
        if (now == last) same += 1 else { same = 0; last = now }
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    bytes.get()
  }

  test("guardedCollect over the guard with several partitions far past " +
      "their share sends the driver no more than about twice the guard") {
    // 16 partitions of 300 rows; the filter keeps 4 of them whole, so
    // 1 200 rows of about 1 KB, and each kept partition stops the first job
    val wide = spark.range(0, 4800, 1, 16).toDF("id")
      .filter(($"id" / 300).cast("long") % 4 === 0)
      .withColumn("pad", repeat(lit("x"), 1000))
    val guard = 399L
    var got: Either[DataFrame, Array[Row]] = null
    val bytes = resultBytes { got = Materialize.guardedCollect(wide, guard) }
    assert(bytes < 2 * guard * 1000, s"$bytes bytes")
    assert(got.left.toOption.get.select("id").as[Long].collect().sorted
      .toSeq == wide.select("id").as[Long].collect().sorted.toSeq)
  }

  test("guardedCollect sorts on the driver in Spark's order: nulls first, " +
      "NaN last, -0.0 equal to 0.0, strings in UTF-8 byte order") {
    val df = Seq[(Option[Double], String, Int)]((Some(Double.NaN), "b", 0),
      (Some(0.0), "\uFFFF", 1), (None, "a", 2), (Some(-0.0), "\u00e9", 3),
      (Some(-1.5), "\uD83D\uDE00", 4), (Some(0.0), "z", 5),
      (Some(Double.NegativeInfinity), null, 6), (None, "", 7))
      .toDF("v", "s", "i")
    for (input <- Seq(df, df.repartition(3)); order <- Seq(
        Seq(col("v"), col("i")), Seq(col("s")), Seq(col("s").desc, col("i")),
        Seq(col("v").desc_nulls_last, col("s")))) {
      val got = Materialize.guardedCollect(input, 8, order: _*)
      assert(got.toOption.get.map(_.getInt(2)).toSeq ==
        df.orderBy(order: _*).collect().map(_.getInt(2)).toSeq, order)
    }
  }

  test("a grouped Aggregator over the guard persists its lookup, and its " +
      "transform equals the driver-held lookup's") {
    val df = (0 until 200).map(i => (s"k${i % 23}", i * 0.5, i % 7))
      .toDF("k", "x", "n")
    val agg = new graft.operators.Aggregator(Seq("x", "n"), Seq("mx", "mn"),
      Seq("k", "k"), "mean")
    val driver = agg.fit(df)
    val over = Materialize.driverMaxRows.withValue(0L)(agg.fit(df))
    assert(driver.lookups.map(_.broadcastable) == Seq(true))
    assert(over.lookups.map(_.broadcastable) == Seq(false))
    val lookup = over.lookups.head.df
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    assert(cacheManager.lookupCachedData(lookup).isDefined)
    assert(over.transform(df).collect().toSet ==
      driver.transform(df).collect().toSet)
    Materialize.release(lookup)
  }

  test("checkpoint reads the counters observed anywhere in its query, not " +
      "those of a persisted relation it reads; a counter name observed " +
      "twice is an error") {
    val base = spark.range(0, 100, 1, 4).toDF("x")
    val inner = base.observe("spec-inner", count(lit(1)).as("seen"))
    val s = Materialize.checkpoint(inner.filter(col("x") % 3 === 0),
      count(lit(1)).as("kept"))
    assert(s.stats == Map("seen" -> 100L, "kept" -> 34L))
    val clash = base.observe("spec-a", count(lit(1)).as("n"))
      .union(base.observe("spec-b", count(lit(1)).as("n")))
    val e = intercept[IllegalArgumentException](Materialize.checkpoint(clash))
    assert(e.getMessage.contains("observed twice in one query: List(n)"),
      e.getMessage)
    // the job that persisted each relation read its counter
    val owned = Seq.fill(2)(Materialize.persist(base, count(lit(1)).as("n")))
    assert(owned.map(_("n")) == Seq(100L, 100L))
    val both = Materialize.checkpoint(owned(0).df.union(owned(1).df))
    assert(both.stats.isEmpty && both.df.count() == 200L)
    Materialize.release(both.df +: owned.map(_.df): _*)
  }

  test("persist materializes owned state with its counters, nested ones " +
      "included, read through the cache; release drops the cache entry") {
    val base = spark.range(0, 100, 1, 4).toDF("x")
      .observe("spec-persist-inner", count(lit(1)).as("seen"))
    val s = Materialize.persist(base.filter(col("x") > 9),
      count(lit(1)).as("n"))
    assert(s.stats == Map("seen" -> 100L, "n" -> 90L))
    val cached = s.df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    assert(cacheManager.lookupCachedData(cached).isDefined)
    assert(s.df.count() == 90L)
    Materialize.release(s.df)
    assert(cacheManager.lookupCachedData(cached).isEmpty)
  }

  // ---- the hot-bucket caps ------------------------------------------------

  /** A seeded corpus with planted hot buckets: 30 and 14 copies of two
    * documents (every band of a copy lands in one bucket), 5 copies of a
    * third (kept under a cap of 10) and 80 unrelated documents. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(7)
    val vocab = Seq.fill(400)(Seq.fill(6)(('a' + rnd.nextInt(26)).toChar)
      .mkString)
    def doc() = Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val (hot1, hot2, warm) = (doc(), doc(), doc())
    val texts = Seq.fill(30)(hot1) ++ Seq.fill(14)(hot2) ++
      Seq.fill(5)(warm) ++ Seq.fill(80)(doc())
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, i % 3) }
      .toDF("id", "text", "src")
  }

  private def bucketWarn(what: String, dropped: Long, cap: Int) =
    s"$what: $dropped bucket(s) over the $cap-doc cap were dropped; their " +
      "members were not compared (raise maxBucket or add bands to restore " +
      "coverage)"

  /** The capped self-join the cap sites compute: `(band, bucket, id)`
    * rows without the buckets over `cap`, and how many buckets that drops. */
  private def capped(buckets: DataFrame, cap: Int): (DataFrame, Long) = {
    val counts = buckets.groupBy("band", "bucket").count()
    (buckets.join(counts.filter(col("count") <= cap), Seq("band", "bucket")),
      counts.filter(col("count") > cap).count())
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("minHashLSH: the drop count observed on the result's job equals an " +
      "explicit count, the WARN text is unchanged, and the pairs equal " +
      "the capped self-join") {
    val cap = 10
    val (got, lines) = logLines(Dedup.getClass.getName)(
      Dedup.minHashLSH(docs, "text", "id", maxBucket = cap,
        withEstimate = false))
    val (ok, dropped) = capped(Dedup.bandBuckets(docs, "text", "id"), cap)
    assert(dropped >= 32, s"planted hot buckets: $dropped")
    assert(lines == Seq(bucketWarn("minHashLSH", dropped, cap)))
    val want = ok.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(ok.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    assert(rows(got) == rows(want))
    assert(rows(got).size >= 10, "the warm copies pair up")
    Materialize.release(got)
  }

  test("hammingNearDup: observed drop count, WARN text and pairs equal " +
      "the capped band join") {
    val cap = 20
    val rnd = new scala.util.Random(3)
    val noise = Seq.fill(40)(rnd.nextLong())
    // 60 signatures share their low 16 bits and their zero high 32 bits
    val sigs = ((0 until 60).map(i => (i.toLong, (i.toLong << 16) | 0x1234L))
      ++ noise.zipWithIndex.map { case (s, i) => (1000L + i, s) }
      ++ noise.take(5).zipWithIndex.map { case (s, i) => (2000L + i, s ^ 5L) })
      .toDF("id", "sig")
    val (got, lines) = logLines(Dedup.getClass.getName)(
      Dedup.hammingNearDup(sigs, "id", "sig", maxBucket = cap))
    val buckets = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(j => struct(lit(j).as("band"),
        shiftrightunsigned(col("sig"), j * 16).bitwiseAND(lit(0xFFFFL))
          .as("bucket"))): _*)).as("__b"))
      .select(col("id"), col("sig"), col("__b.band"), col("__b.bucket"))
    val (ok, dropped) = capped(buckets, cap)
    assert(dropped == 3)
    assert(lines == Seq(bucketWarn("hammingNearDup", dropped, cap)))
    val want = ok.select(col("band"), col("bucket"), col("id").as("id_a"),
        col("sig").as("sa"))
      .join(ok.select(col("band"), col("bucket"), col("id").as("id_b"),
        col("sig").as("sb")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming").distinct()
    assert(rows(got) == rows(want) && rows(got).size == 5)
    Materialize.release(got)
  }

  test("knnJoin: observed drop count, WARN text and neighbours equal the " +
      "capped band join's top-k") {
    val cap = 10
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val (v0, v1) = (vec(), vec())
    val data = (Seq.fill(30)(v0) ++ Seq.fill(12)(v1) ++ Seq.fill(150)(vec()))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    val (got, lines) = logLines(Dedup.getClass.getName)(
      Similarity.knnJoin(data, "id", "vec", k = 3, dim = 8, nPlanes = 24,
        bands = 4, maxBucket = cap))
    val (ok, dropped) = capped(Similarity.idBuckets(data, "id", "vec", 8,
      nPlanes = 24, bands = 4, seed = 42L, portable = false), cap)
    assert(dropped >= 4, s"planted hot buckets: $dropped")
    assert(lines == Seq(bucketWarn("knnJoin", dropped, cap)))
    val vecs = data.select(col("id"), col("vec"))
    val scored = ok.select(col("band"), col("bucket"), col("id"))
      .join(ok.select(col("band"), col("bucket"), col("id").as("nbr_id")),
        Seq("band", "bucket"))
      .filter(col("id") =!= col("nbr_id")).select("id", "nbr_id").distinct()
      .join(vecs.select(col("id"), col("vec").as("__v")), "id")
      .join(vecs.select(col("id").as("nbr_id"), col("vec").as("__v_n")),
        "nbr_id")
      .select(col("id"), struct(Similarity.cosine(col("__v"), col("__v_n"))
        .as("score"), col("nbr_id").cast("long").as("id")).as("__cand"))
    assert(rows(got) == rows(Similarity.topKFinish(scored, "id", "nbr_id", 3)))
    Materialize.release(got)
  }

  test("MinHashIndex.frozenBuckets (owned state): observed drop count, WARN " +
      "text and buckets equal the capped relation; it stays cached until " +
      "released") {
    val cap = 10
    val index = MinHashIndex.fit(docs, "text", "id")
    val (frozen, lines) = logLines(Dedup.getClass.getName)(
      index.frozenBuckets(maxBucket = cap))
    val (ok, dropped) = capped(Dedup.bandBuckets(docs, "text", "id")
      .withColumnRenamed("id", "corpus_id"), cap)
    assert(dropped >= 32, s"planted hot buckets: $dropped")
    assert(lines == Seq(bucketWarn("MinHashIndex.frozenBuckets", dropped, cap)))
    assert(rows(frozen) == rows(ok.select("corpus_id", "band", "bucket")))
    val entry = frozen.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    assert(cacheManager.lookupCachedData(entry).isDefined)
    Materialize.release(frozen)
    index.release()
    assert(cacheManager.lookupCachedData(entry).isEmpty)
  }

  test("editDistancePairs: observed variant drop count, WARN text and " +
      "pairs equal the capped variant join") {
    val cap = 10
    // 26 strings share the deletion variant "qwer"; 12 share "zxcv"
    val words = ('a' to 'z').map(c => s"qwer$c") ++
      ('a' to 'l').map(c => s"zx${c}cv") ++
      Seq("apple", "appel", "aple", "banana", "bananas", "qwer", "zxcv")
    val df = words.toDF("w")
    val (got, lines) = logLines(Relational.getClass.getName)(
      Relational.editDistancePairs(df, "w", maxVariantBucket = cap))
    val variants = df.select(col("w").as("__s")).distinct()
      .select(col("__s"), explode(transform(sequence(lit(0),
        length(col("__s"))), i => when(i === 0, col("__s")).otherwise(
          concat(substring(col("__s"), lit(1), i - 1),
            col("__s").substr(i + 1, length(col("__s"))))))).as("__v"))
      .distinct()
    val counts = variants.groupBy("__v").count()
    val dropped = counts.filter(col("count") > cap).count()
    assert(dropped == 2)
    assert(lines == Seq(s"editDistancePairs: $dropped variant bucket(s) " +
      s"over the $cap-string cap were dropped; pairs witnessed only by " +
      "those variants were not compared (raise maxVariantBucket to " +
      "restore coverage)"))
    val ok = variants.join(counts.filter(col("count") <= cap), Seq("__v"))
    val want = ok.select(col("__s").as("a"), col("__v"))
      .join(ok.select(col("__s").as("b"), col("__v")), Seq("__v"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
      .filter(levenshtein(col("a"), col("b")) <= 1)
    assert(rows(got) == rows(want))
    // a transposition is two edits
    assert(!rows(got).contains(Row("apple", "appel")) &&
      rows(got).contains(Row("aple", "apple")))
    Materialize.release(got)
  }

  // ---- no leaks, pinned jobs ---------------------------------------------

  test("call-scoped operators leave nothing cached or checkpointed behind " +
      "but the checkpoints their lazy result reads") {
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(5)
    val vecs = Seq.fill(80)(Seq.fill(8)(rnd.nextGaussian().toFloat))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    val queries = vecs.limit(5).select(col("id").as("qid"), col("vec").as("qv"))
    val sigs = docs.select(col("id"),
      Dedup.simHash(col("text")).as("sig"))
    val pts = spark.range(200).select(col("id"),
      ((col("id") * 7919) % 2000 - 1000).as("lat"),
      ((col("id") * 104729) % 4000 - 2000).as("lon"))
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .distinct()
    val index = MinHashIndex.fit(docs, "text", "id")
    val batch = docs.limit(20).select(col("id").as("nid"), col("text"))
    val lshPairs = Dedup.minHashLSH(docs, "text", "id", maxBucket = 50)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "minHashLSH" -> (() => Dedup.minHashLSH(docs, "text", "id")),
      "hammingNearDup" -> (() => Dedup.hammingNearDup(sigs, "id", "sig")),
      "duplicateSpans" -> (() => Dedup.duplicateSpans(docs, "text", "id", 3)),
      "removeDuplicateSpans" ->
        (() => Dedup.removeDuplicateSpans(docs, "text", "id", 3)),
      "dedupLines" -> (() => Dedup.dedupLines(docs, "text", "id", " ")),
      "duplicateSpanRanges" ->
        (() => Dedup.duplicateSpanRanges(docs, "text", "id", 3)),
      "containmentPairs" -> (() => Dedup.containmentPairs(docs, "text", "id",
        shingleK = 3, maxPostings = 10)),
      "sourceOverlap" -> (() => Dedup.sourceOverlap(docs, "text", "src", 3)),
      "keepBestPerComponent" -> (() => Dedup.keepBestPerComponent(docs, "id",
        lshPairs, docs.select(col("id"), length(col("text")).as("q")), "q")),
      "unigramLogProb" -> (() => Ranking.unigramLogProb(docs, "text", "id")),
      "tfidfTopTerms" -> (() => Ranking.tfidfTopTerms(docs, "text", "id", 3)),
      "bigramLogProb" -> (() => Ranking.bigramLogProb(docs, "text", "id")),
      "collocations" -> (() => Ranking.collocations(docs, "text", 1L, 5)),
      "divergingTerms" -> (() => Ranking.divergingTerms(
        docs.filter(col("src") === 0), docs.filter(col("src") === 1),
        "text", 5)),
      "stupidBackoffScore" -> (() => Ranking.stupidBackoffScore(
        docs.filter(col("src") =!= 2), docs.filter(col("src") === 2),
        "text", "id")),
      "lshTopK" -> (() => Similarity.lshTopK(vecs, "id", "vec", queries,
        "qid", "qv", k = 3, dim = 8)),
      "ivfTopK" -> (() => Similarity.ivfTopK(vecs, "id", "vec", queries,
        "qid", "qv", k = 3, nCentroids = 4, nProbe = 2)),
      "embeddingNearDup" -> (() => Similarity.embeddingNearDup(vecs, "id",
        "vec", 8, threshold = 0.5)),
      "knnJoin" -> (() => Similarity.knnJoin(vecs, "id", "vec", 3, 8)),
      "semanticDedup" -> (() => Similarity.semanticDedup(vecs, "id", "vec", 8,
        threshold = 0.5)),
      "contaminationBloom" -> (() => Corpus.contaminationBloom(docs, "text",
        "id", docs.filter(col("id") < 40), "text", "id", k = 3)),
      "densityClusters" -> (() => Geo.densityClusters(pts, "id", "lat", "lon",
        radiusCdeg = 50, minPts = 3)),
      "matchNew" -> (() => index.matchNew(batch, "text", "nid")),
      "editDistancePairs" -> (() => Relational.editDistancePairs(words, "w")),
      "fuzzyJoin" -> (() => Relational.fuzzyJoin(words, words, "w", "w")))
    for ((name, op) <- cases) {
      val (rdds, entries) = (sc.getPersistentRDDs.keySet, cachedEntries)
      val out = op()
      out.collect()
      val reads: Set[Int] = out.queryExecution.logical.collectLeaves()
        .collect { case r: LogicalRDD => r.rdd.id }.toSet
      Materialize.release(out)
      val left = sc.getPersistentRDDs.keySet -- rdds -- reads
      assert(left.isEmpty, s"$name leaves RDDs $left checkpointed")
      assert(cachedEntries == entries,
        s"$name leaves a cache entry")
    }
    Materialize.release(lshPairs)
    index.release()
  }

  test("minHashLSH runs a pinned number of jobs") {
    val jobs = countJobs {
      Materialize.release(Dedup.minHashLSH(docs, "text", "id",
        withEstimate = false))
    }
    assert(jobs == 4, s"$jobs jobs")
  }
}
