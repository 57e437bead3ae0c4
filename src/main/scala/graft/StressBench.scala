package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress block for [[Bench]] (VERDICT r5 #2): the dedup / ANN /
  * percentile / vocab paths re-run against a ×`reps` self-replicated
  * corpus, so the banded/binned/distributed branches face data big enough
  * to show their crossover — /root/testdata caps at sf0.1, where every
  * one of those paths idles below its thresholds.
  *
  * Replication is a NARROW explode (each row emits `reps` copies tagged
  * `__rep`, no join, no shuffle), with ids re-keyed to stay unique and —
  * where distinct-value count is the load parameter (percentileRank) —
  * values perturbed per replica so ×16 data carries ×16 distinct values,
  * not 16 copies of the same 60k. For text dedup the copies are left
  * byte-identical on purpose: a corpus where EVERY doc has 16 exact
  * duplicates is the worst realistic load for bucket caps, pair
  * generation, and component propagation.
  *
  * Every stress query runs the SAME library entry points as its oracle
  * twin (correctness of those branches is already pinned by the
  * `*_big` / `*_binned` / `*_distributed` rows in CORRECTNESS); this
  * block only measures throughput, once at ×1 and once at ×`reps`, so
  * the ratio vs linear scaling is in the bench artifact every round.
  */
object StressBench {
  /** Per-row replication overrides (VERDICT r7 #1b): the two heaviest
    * rows ran ~46 s and ~25 s PER ITERATION at ×16 — a third of the whole
    * stress block for two cells. The ratio vs linear is the artifact, not
    * the absolute seconds, and both rows measured stably ~linear/sublinear
    * at ×16 in SCALE.md's two-run table, so a smaller scale still
    * exercises the same crossovers at a fraction of the cost (s_knn@×8
    * still cost 142 s/iteration on a slow box phase — ×4 keeps its
    * candidate volume well past the bucket-cap crossover). [[Bench]]
    * records the per-row scale in the artifact's `stress.scales` map. */
  val scaleOverride: Map[String, Int] = Map("s_knn" -> 4, "s_lpa" -> 8)

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** ×`reps` in-place replication: narrow explode, ids re-keyed
    * `id*reps + rep` (collision-free for non-negative long ids). */
  private def replicate(df: DataFrame, idCol: String, reps: Int): DataFrame =
    if (reps <= 1) df
    else df
      .withColumn("__rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn(idCol, col(idCol) * reps + col("__rep"))
      .drop("__rep")

  /** lineitem ×`reps` with l_extendedprice perturbed per replica: the
    * distinct-value count — percentileRank's load parameter — scales
    * with the data instead of staying at the base cardinality. The
    * 0.001 step keeps perturbed values distinct from every real price
    * (prices carry 2 decimals) without reordering across replicas. */
  private def lineitemScaled(
      s: SparkSession, d: String, reps: Int): DataFrame = {
    val li = t(s, d, "lineitem")
    if (reps <= 1) li
    else li
      .withColumn("__rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("l_extendedprice",
        col("l_extendedprice") + col("__rep") * 0.001)
      .drop("__rep")
  }

  /** Stress queries: (spark, sfDir, reps) => result. Each is the library
    * call its oracle twin makes, pointed at the replicated corpus. */
  def queries: Map[String, (SparkSession, String, Int) => DataFrame] = Map(
    // exact dedup: every text key now holds `reps` rows — the keep-first
    // window runs over genuinely duplicated groups everywhere
    // DP quantile release: bins and the finishing relation are FIXED —
    // what scales is only the clipped bin-count corpus pass, so the
    // ratio should track the scan, not the mechanism
    "s_dp_quantiles" -> ((s, d, r) =>
      graft.relational.Privacy.dpQuantiles(
        replicate(t(s, d, "customer"), "c_custkey", r), "c_acctbal",
        Seq(0.25, 0.5, 0.9), -1000.0, 10000.0, 256, "stress")),

    // within-doc repeated spans: pure zero-shuffle projection — the
    // closest thing the suite has to a raw scan-speed ceiling
    "s_span_selfrep" -> ((s, d, r) =>
      graft.text.Dedup.selfRepeatedSpans(
        replicate(t(s, d, "documents"), "doc_id", r), "text", "doc_id",
        k = 5)),

    // BPE merge learning: replication multiplies every word count
    // uniformly, so the learned merges are identical at every scale —
    // what's measured is the per-round (pair, count) aggregate over a
    // reps×-larger corpus pass plus the distinct-word table rounds
    "s_bpe" -> ((s, d, r) =>
      graft.text.Bpe.mergesDF(s, graft.text.Bpe.fitBpe(
        replicate(t(s, d, "documents"), "doc_id", r), "text",
        numMerges = 6))),

    "s_dedup_exact" -> ((s, d, r) =>
      graft.text.Dedup.exact(
        replicate(t(s, d, "documents"), "doc_id", r),
        Seq("text"), "doc_id")),

    // MinHash+LSH with the production bucket cap: all-dup corpus means
    // every bucket is ≥ reps deep — the cap/drop accounting and the
    // pair-dedup are the paths under load (drops are logged, expected)
    "s_dedup_minhash" -> ((s, d, r) =>
      graft.text.Dedup.minHashLSH(
        replicate(t(s, d, "documents"), "doc_id", r),
        "text", "doc_id", withEstimate = false)),

    // candidate → exact-verify → DISTRIBUTED min-label components
    // (maxCollect = 0): the full near-dup clustering chain a 100-TB
    // corpus runs, with a pair graph reps²-denser than the base corpus
    "s_components" -> ((s, d, r) => {
      val docs = replicate(t(s, d, "documents"), "doc_id", r)
      val cand = graft.text.Dedup.minHashLSH(docs, "text", "doc_id",
        withEstimate = false)
      val pairs = graft.text.Dedup.verifyJaccard(cand, docs,
        "text", "doc_id", shingleK = 3, threshold = 0.8,
        restrictToCandidates = true)
      graft.text.Dedup.duplicateComponents(pairs.select("id_a", "id_b"),
        maxCollect = 0)
    }),

    // self-kNN over ×reps vectors, perturbed per replica so the LSH
    // tables index reps× distinct points (not reps copies of each).
    // Scale-appropriate knobs: r = 8 bits/band → 256 buckets per band
    // (the default 16/4 leaves 16 buckets — at ×16 every bucket tops the
    // cap and gets DROPPED, benchmarking an empty candidate set)
    "s_knn" -> ((s, d, r) => {
      val base = t(s, d, "embeddings")
      val emb =
        if (r <= 1) base
        else base
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("vec_id", col("vec_id") * r + col("__rep"))
          .withColumn("embedding",
            transform(col("embedding"),
              x => x + col("__rep").cast("float") * lit(0.001f)))
          .drop("__rep")
      // AUTO knobs (VERDICT r6 #3): bucket geometry derives from the
      // corpus count, so ×16 data gets more bits per band instead of
      // overflowing every bucket and "speeding up" by dropping them all
      graft.sim.Similarity.knnJoinAuto(emb, "vec_id", "embedding",
        k = 3, dim = 64)
    }),

    // percentileRank through the WINDOW cumulative
    // (CumulativeEngine.strictlyBelow `small = true`): the single-task
    // ordered window over ~60k×reps distinct values — the plan the binned
    // path exists to replace — with percentileRank's own finish (totals,
    // broadcast join-back, `below / (n − 1)`). Output projected to keys +
    // rank so the timed difference is the rank computation, not an
    // 11-column join-back payload + sink
    "s_pctrank_window" -> ((s, d, r) => {
      val li = lineitemScaled(s, d, r)
      val counts = li.filter(col("l_extendedprice").isNotNull)
        .groupBy(col("l_extendedprice").as("__v"))
        .agg(count(lit(1)).as("__n"))
        .localCheckpoint(eager = false)
      val ranked = graft.relational.CumulativeEngine.strictlyBelow(counts,
          "__v", Seq("__n"), Nil, small = true)
        .crossJoin(broadcast(counts.agg(sum("__n").as("__nn"))))
      li.join(broadcast(ranked), li("l_extendedprice") === ranked("__v"),
          "left")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("__below___n") / (col("__nn") - lit(1.0))).as("pr"))
    }),

    // percentileRank, BINNED path forced (threshold 0): 64×64 bins,
    // per-bin parallel windows — same input, same output, scale plan
    "s_pctrank_binned" -> ((s, d, r) =>
      graft.relational.Relational.percentileRank(
        lineitemScaled(s, d, r), "l_extendedprice", "pr",
        maxDistinctBroadcast = 0)
        .select("l_orderkey", "l_linenumber", "pr")),

    // top-30k vocabulary over the replicated corpus: the token explode +
    // count aggregate sees reps× tokens (counts scale, vocab does not)
    "s_vocab" -> ((s, d, r) =>
      graft.text.Corpus.buildVocab(
        replicate(t(s, d, "documents"), "doc_id", r),
        "text", size = 30000)),

    // the TPC-H Q5 snowflake with the fact side ×reps: the
    // broadcast-dimension join plan must stay ONE lineitem shuffle
    // regardless of fact size (dims don't replicate — as in production,
    // where facts grow and dimensions don't)
    // subword tokenizer: fit re-counts ×reps gram occurrences (same
    // distinct set — the map-side combine is what's being measured) and
    // the encode pass must stay scan-speed linear
    "s_subword" -> ((s, d, r) => {
      val docs = replicate(t(s, d, "documents"), "doc_id", r)
      graft.text.Subword.encode(docs, "text", "doc_id",
        graft.text.Subword.fitVocab(docs, "text", size = 200, maxLen = 4),
        maxLen = 4)
    }),

    // PageRank with the node space scaled ×reps: composite states
    // (event_type, user_id % reps) keep edges within a user's bucket, so
    // nodes AND edges grow ~linearly — the per-iteration rank join and
    // dst aggregate face a genuinely larger graph, not heavier weights
    "s_pagerank" -> ((s, d, r) => {
      val ev = DataQueries.readEventsMicros(s, d)
        .withColumn("etype", concat(col("event_type"), lit("_"),
          pmod(col("user_id"), lit(math.max(r, 1).toLong))))
      graft.relational.Graph.pageRank(
        graft.relational.Relational.transitions(
          ev, Seq("user_id"), "tsu", "etype", Seq("event_id")),
        "from_type", "to_type", "n", iters = 5)
    }),

    // CMS: ×reps stream mass against the same fixed register budget —
    // sketch+merge+estimate cost must track the scan, never the counters
    "s_cms" -> ((s, d, r) => {
      val o = replicate(t(s, d, "orders"), "o_orderkey", r)
        .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      val months = graft.relational.Sketches
        .cmsSketch(o, Seq("month"), "o_custkey")
        .withColumn("year", substring(col("month"), 1, 4))
      val probes = o.withColumn("year", substring(col("month"), 1, 4))
        .select("year", "o_custkey").distinct()
      graft.relational.Sketches.cmsEstimate(
        graft.relational.Sketches.cmsMerge(months, Seq("year")),
        probes, Seq("year"), "o_custkey")
    }),

    "s_tpch_q5" -> ((s, d, r) => {
      val nat = t(s, d, "nation")
        .join(t(s, d, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = t(s, d, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cust = t(s, d, "customer").select("c_custkey", "c_nationkey")
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val liR =
        if (r <= 1) li
        else li.withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .drop("__rep")
      liR.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          6).as("revenue"))
    }),

    // interval union with per-user histories ×reps deep: replicas shift
    // by one microsecond so they are distinct spans, not removed dups —
    // the per-key running-max window is what's under load
    "s_interval" -> ((s, d, r) => {
      val base = DataQueries.readEventsMicros(s, d)
        .select(col("user_id"), col("event_id"), col("tsu"),
          floor(col("value") * 100000000L).cast("long").as("__dur"))
      val ev =
        if (r <= 1) base
        else base
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("tsu", col("tsu") + col("__rep"))
          .drop("__rep")
      graft.relational.Relational.mergeIntervals(
        ev.select(col("user_id"), col("tsu").as("st"),
          (col("tsu") + col("__dur")).as("en")),
        Seq("user_id"), "st", "en")
    }),

    // quantile sketch over ×reps values perturbed per replica (distinct
    // values scale with the data): the bin aggregate must track the
    // scan while the register relation stays ≤ 4096 rows per group
    "s_qsketch" -> ((s, d, r) => {
      val Sk = graft.relational.Sketches
      Sk.qQuantile(
        Sk.qSketch(lineitemScaled(s, d, r), Seq("l_returnflag"),
          "l_extendedprice", lo = 0.0, hi = 110000.0),
        Seq("l_returnflag"), Seq((1, 4), (1, 2), (3, 4), (99, 100)),
        lo = 0.0, hi = 110000.0)
    }),

    // BFS over the co-purchase graph with customers re-keyed ×reps
    // (parts shared, so the graph stays connected): edges and the hop-2
    // customer frontier grow ~linearly — per-round join + anti-join
    // under a genuinely wider graph
    "s_bfs" -> ((s, d, r) => {
      val cp0 = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
        .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
        .distinct()
      val cp = (if (r <= 1) cp0
        else cp0.withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("ck", col("ck") * r + col("__rep"))
          .drop("__rep"))
        .select(concat(lit("c"), col("ck")).as("c"),
          concat(lit("p"), col("pk")).as("p"))
      val edges = cp.select(col("c").as("src"), col("p").as("dst"))
        .union(cp.select(col("p").as("src"), col("c").as("dst")))
      val src0 = t(s, d, "customer").filter(col("c_nationkey") === 0)
        .select(col("c_custkey").as("ck"))
      val sources = (if (r <= 1) src0
        else src0.withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("ck", col("ck") * r + col("__rep"))
          .drop("__rep"))
        .select(concat(lit("c"), col("ck")).as("node"))
      graft.relational.Graph.shortestPaths(edges, "src", "dst",
        sources, maxHops = 3)
    }),

    // heavy hitters over ×reps event mass with the ITEM space scaled
    // too (user_id re-keyed per replica): the exact count shuffle grows
    // with the data while the register relation stays (k+1) rows per
    // group — truncation must happen map-side in the heap, not in a
    // window over the reps×-wider distinct-item relation
    "s_hh" -> ((s, d, r) => {
      val Sk = graft.relational.Sketches
      val e = DataQueries.readEventsMicros(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .withColumn("uid",
          col("user_id") * math.max(r, 1) +
            pmod(col("event_id"), lit(math.max(r, 1).toLong)))
      val eR =
        if (r <= 1) e
        else e.withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .drop("__rep")
      Sk.hhTopK(
        Sk.hhMerge(
          Sk.hhSketch(eR, Seq("event_type", "day"), "uid", k = 8)
            .drop("day"),
          Seq("event_type"), k = 8),
        Seq("event_type"))
    }),

    // skyline with the distinct-pair space ×reps (price perturbed per
    // replica): the per-(brand, size) max aggregate and the frontier
    // window face reps× distinct pairs, the semi-join back reps× rows
    "s_skyline" -> ((s, d, r) => {
      val p0 = t(s, d, "part")
      val p =
        if (r <= 1) p0
        else p0.withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("p_partkey", col("p_partkey") * r + col("__rep"))
          .withColumn("p_retailprice",
            col("p_retailprice") + col("__rep") * 0.0001)
          .drop("__rep")
      graft.relational.Analytics.skyline2(
        p.withColumn("neg_price", -col("p_retailprice")),
        Seq("p_brand"), "p_size", "neg_price")
        .select("p_brand", "p_partkey", "p_size", "p_retailprice")
    }),

    // attribution with per-user histories ×reps deep (replicas shifted
    // by one microsecond): the per-entity ignore-nulls window is what's
    // under load — state stays one user's history per task
    "s_attribution" -> ((s, d, r) => {
      val base = DataQueries.readEventsMicros(s, d)
      val ev =
        if (r <= 1) base
        else base
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("tsu", col("tsu") + col("__rep"))
          .withColumn("event_id",
            col("event_id") * r + col("__rep"))
          .drop("__rep")
      graft.relational.Analytics.attribution(ev, "user_id", "tsu",
        "event_id", "event_type", "value", "purchase")
    }),

    // fuzzy join with the name vocabulary ×reps (distinct names, not
    // copies): variant fan-out and the candidate equi-join are the load
    // — cost must stay vocabulary-bounded
    "s_fuzzy" -> ((s, d, r) => {
      val base = t(s, d, "customer").select("c_name")
      val names =
        if (r <= 1) base
        else base
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("c_name", concat(col("c_name"),
            lpad(col("__rep").cast("string"), 2, "0")))
          .drop("__rep")
      val corrupted = names.select(concat(substring(col("c_name"), 1, 9),
        col("c_name").substr(lit(11), length(col("c_name"))))
        .as("corrupted"))
      graft.relational.Relational.fuzzyJoin(names, corrupted,
        "c_name", "corrupted", maxDist = 1)
    }),

    // ADVERSARIAL fuzzy join (VERDICT r6 #4c): a synthetic vocabulary
    // where every 64-string group {prefix + c} shares ONE deletion
    // variant (the prefix) — uncapped, each group forms 64² candidates
    // and the candidate relation grows quadratically in group size. The
    // cap (32 < 64) demonstrably ENGAGES on every group: all hot buckets
    // drop (logged inside fuzzyJoin), runtime stays bounded by the cap,
    // and the surviving work is the per-group substitution pairs that
    // share no other variant — i.e. the row measures the CAP PATH, not
    // luck. ×reps multiplies the number of groups (more buckets), never
    // the bucket size (which is the adversarial constant)
    "s_fuzzy_adversarial" -> ((s, d, r) => {
      val chars = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ_-"
      val vocab = s.range(0L, 250L * math.max(1, r) * 64)
        .select(concat(
          lpad((col("id") / 64).cast("long").cast("string"), 10, "0"),
          expr(s"substring('$chars', CAST(id % 64 AS INT) + 1, 1)"))
          .as("name"))
      graft.relational.Relational.fuzzyJoin(vocab, vocab, "name", "name",
        maxDist = 1, maxVariantBucket = 32)
    }),

    // Spearman with the continuous side's distinct values ×reps: the
    // rank-relation join-back is the load (AQE must pick a shuffle join
    // for the continuous column, broadcast for quantity)
    "s_spearman" -> ((s, d, r) =>
      graft.relational.Eval.spearman(
        lineitemScaled(s, d, r), "l_quantity", "l_extendedprice",
        maxDistinctBroadcast = 0)),

    // Ranking metrics with every candidate list ×reps DEEP (order ids
    // re-keyed per replica → fresh pseudo-scores): the per-query window
    // sorts and the quantized top-k aggregate are the load — the
    // exchange count stays at two however deep the lists grow
    "s_ranking" -> ((s, d, r) => {
      val scored = replicate(t(s, d, "orders"), "o_orderkey", r)
        .select(col("o_custkey"), col("o_orderkey"),
          ((col("o_orderkey") % 1000).cast("double") / lit(1000.0))
            .as("score"),
          when(col("o_orderpriority") === "1-URGENT", 2L)
            .when(col("o_orderpriority") === "2-HIGH", 1L)
            .otherwise(0L).as("rel"))
      graft.relational.Eval.rankingMetrics(scored, "o_custkey",
        "o_orderkey", "score", "rel", 10)
    }),

    // quantile normalization with distinct values ×reps on BOTH sides
    // (perturbed price), binned cumulatives forced: the rank-space bin
    // join is the load — never a nested loop however many values
    "s_quantile_norm" -> ((s, d, r) =>
      graft.relational.Eval.quantileNormalize(
        lineitemScaled(s, d, r), "l_extendedprice", "l_returnflag",
        target = "N", ref = "R", maxDistinctBroadcast = 0)),

    // exact KS, BINNED path forced: distinct values ×reps via the
    // perturbed price — the two-group cumulative + argmax under load
    "s_ks_exact_binned" -> ((s, d, r) =>
      graft.relational.Eval.ksExact(
        lineitemScaled(s, d, r), "l_extendedprice", "l_returnflag",
        "R", "N", maxDistinctBroadcast = 0)),

    // Gini, BINNED path forced: distinct values ×reps via the perturbed
    // price — the two-measure cumulative under load
    "s_gini_binned" -> ((s, d, r) =>
      graft.relational.Eval.lorenzGini(
        lineitemScaled(s, d, r), "l_extendedprice",
        maxDistinctBroadcast = 0)),

    // AUC, BINNED path forced: distinct scores ×reps via the perturbed
    // price — the 256-bin cumulative is the load; the finish stays a
    // one-row aggregate however many distinct scores exist
    "s_auc_binned" -> ((s, d, r) =>
      graft.relational.Eval.auc(
        lineitemScaled(s, d, r)
          .withColumn("label",
            when(col("l_returnflag") === "R", 1L).otherwise(0L)),
        "l_extendedprice", "label", maxDistinctBroadcast = 0)),

    // CUSUM with every series ×reps LONGER (days re-keyed per replica):
    // the per-key window sort is the load — one sort carries both the
    // cumulative sum and the running min however long the series grows
    "s_cusum" -> ((s, d, r) => {
      val daily = DataQueries.readEventsMicros(s, d)
        .withColumn("day", expr("tsu div 86400000000"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"))
      val series =
        if (r <= 1) daily
        else daily
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("day", col("day") * r + col("__rep"))
          .drop("__rep")
      graft.relational.Eval.cusum(series, Seq("event_type"), "day",
        "cnt", target = 100.0, slack = 0.0, h = 50.0)
    }),

    // ACF with every series ×reps LONGER: one window sort carries all
    // 7 lag columns and the aggregate state stays 3+4·maxLag doubles
    // per key however long the series grows
    "s_acf" -> ((s, d, r) => {
      val daily = DataQueries.readEventsMicros(s, d)
        .withColumn("day", expr("tsu div 86400000000"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"))
      val series =
        if (r <= 1) daily
        else daily
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("day", col("day") * r + col("__rep"))
          .drop("__rep")
      graft.relational.Eval.acf(series, Seq("event_type"), "day", "cnt",
        maxLag = 7)
    }),

    // changepoint with every series ×reps LONGER: the cut sweep stays
    // one cumulative pass + one argmin sort however many candidate
    // cuts the longer series exposes
    "s_changepoint" -> ((s, d, r) => {
      val daily = DataQueries.readEventsMicros(s, d)
        .withColumn("day", expr("tsu div 86400000000"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"))
      val series =
        if (r <= 1) daily
        else daily
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("day", col("day") * r + col("__rep"))
          .drop("__rep")
      graft.relational.Eval.changepoint(series, Seq("event_type"),
        "day", "cnt")
    }),

    // bootstrap with the SUBJECT population ×reps (per-order subjects,
    // re-keyed ids → fresh weights): the 2R weighted sums stay ONE
    // scan's aggregate expressions — the load is R md5+weight
    // evaluations per subject, embarrassingly parallel
    "s_bootstrap" -> ((s, d, r) => {
      val subjects = replicate(t(s, d, "orders"), "o_orderkey", r)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("vc"))
      graft.relational.Eval.bootstrapMeanCI(subjects, "vc", "o_orderkey")
    }),

    // percentile bands with distinct values ×reps (perturbed price):
    // the per-group rank sort carries 5 exact order statistics at once
    "s_percentile_bands" -> ((s, d, r) =>
      graft.relational.Analytics.percentileBands(
        lineitemScaled(s, d, r), Seq("l_returnflag"),
        "l_extendedprice")),

    // n-gram diversity with the corpus ×reps (byte-identical copies —
    // worst case for the distinct): totals scale ×reps, distincts
    // don't; the one-scan multi-n explode and the hash distinct are
    // the load (fast structural-hash default — the production path)
    "s_ngram_diversity" -> ((s, d, r) =>
      graft.text.Corpus.ngramDiversity(
        replicate(t(s, d, "documents"), "doc_id", r), "text", "source")),

    // trimmed mean with the corpus ×reps: the per-group rank sort is
    // the load; the trim stays one window pass + one aggregate
    "s_trimmed_mean" -> ((s, d, r) =>
      graft.relational.Analytics.trimmedMean(
        replicate(t(s, d, "lineitem"), "l_orderkey", r),
        Seq("l_returnflag"), "l_quantity", trim = 0.1)),

    // basket affinity with baskets ×reps (same size each): the pair
    // explode and marginal joins must track basket COUNT linearly while
    // the per-basket fan-out stays cap-bounded
    "s_basket" -> ((s, d, r) =>
      graft.relational.Analytics.basketAffinity(
        replicate(t(s, d, "lineitem"), "l_orderkey", r),
        "l_orderkey", "l_suppkey", maxBasket = 16, minPairs = 2L)),

    // Theil–Sen with group populations ×reps: the heap cap holds the
    // sample (and everything after it) at maxN per group however large
    // the groups grow — the row should stay scan-bound
    "s_theilsen" -> ((s, d, r) =>
      graft.relational.Analytics.theilSen(
        replicate(t(s, d, "orders"), "o_orderkey", r)
          .withColumn("x_s",
            col("o_orderdate").cast("timestamp").cast("long")),
        "o_orderpriority", "x_s", "o_totalprice", "o_orderkey",
        maxN = 64)),

    // delta-join maintenance with the fact side ×reps: the delta terms
    // must stay delta-against-full (broadcast-eligible) however large
    // the maintained fact side grows
    "s_join_maintain" -> ((s, d, r) => {
      val o = replicate(t(s, d, "orders"), "o_orderkey", r)
      val c = t(s, d, "customer").select("c_custkey", "c_name")
      val oOld = o.filter(col("o_orderkey") % 7 =!= 0)
      val oNew = o.filter(col("o_orderkey") % 7 === 0)
      val cOld = c.filter(col("c_custkey") % 11 =!= 0)
      val cNew = c.filter(col("c_custkey") % 11 === 0)
      oOld.join(cOld, oOld("o_custkey") === cOld("c_custkey"))
        .unionByName(graft.relational.Analytics.joinDelta(
          oOld, oNew, cOld, cNew, Seq("o_custkey"), Seq("c_custkey")))
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
    }),

    // grid distance join over ×reps points: each replica lands in its
    // own DISJOINT longitude tile (gap > radius), so point count, cell
    // count, and the true pair set all scale ×reps — the ratio isolates
    // the grid join's per-volume cost, not the quadratic density
    // physics of overlapping replicas
    "s_geo" -> ((s, d, r) => {
      val pts = t(s, d, "customer").select(col("c_custkey").as("id"))
        .withColumn("lat", (col("id") * 7919) % 2000 - 1000)
        .withColumn("lon", (col("id") * 104729) % 4000 - 2000)
      val tiled =
        if (r <= 1) pts
        else pts
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("id", col("id") * r + col("__rep"))
          .withColumn("lon", col("lon") + col("__rep") * 4200L)
          .drop("__rep")
      graft.relational.Geo.distanceJoin(tiled, "id", "lat", "lon", 100)
    }),

    // decision stumps under the documented discipline: continuous
    // features BIN FIRST (dollar steps — threshold count fixed at the
    // price range), rows scale ×reps — the load rides the map-side-
    // combined count aggregate, the per-feature window stays bounded
    "s_best_split" -> ((s, d, r) =>
      graft.relational.Scorecard.bestSplits(
        t(s, d, "lineitem")
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .drop("__rep")
          .withColumn("y",
            when(col("l_returnflag") === "R", 1).otherwise(0))
          .withColumn("price_d", floor(col("l_extendedprice"))),
        Seq("price_d", "l_quantity"), "y")),

    // stupid-backoff scoring of a ×reps corpus against a FIXED model:
    // the score stream (trigram explode + five model joins) scales with
    // the data, the model relations stay vocabulary-bounded
    "s_backoff_lm" -> ((s, d, r) => {
      val docs = t(s, d, "documents")
      graft.text.Ranking.stupidBackoffScore(
        docs.filter(col("lang") === "en"),
        replicate(docs, "doc_id", r), "text", "doc_id")
    }),

    // PQ end to end at ×reps vectors (perturbed per replica): m
    // codebook fits (iters aggregates each), the encode projection,
    // and the ADC heap — all corpus-scan-bound by design
    "s_pq" -> ((s, d, r) => {
      val base = t(s, d, "embeddings")
      val emb =
        if (r <= 1) base
        else base
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("vec_id", col("vec_id") * r + col("__rep"))
          .withColumn("embedding",
            transform(col("embedding"),
              x => x + col("__rep").cast("float") * lit(0.001f)))
          .drop("__rep")
      val model = graft.sim.Pq.fit(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, iters = 2)
      graft.sim.Pq.topK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qvec")),
        "query_id", "qvec", 5, model)
    }),

    // golden-record survivorship with ×reps rows PER ENTITY (entity set
    // fixed): the mode pre-count and max_by aggregates carry the load,
    // per-task state stays at one user's distinct values
    "s_golden_record" -> ((s, d, r) =>
      graft.relational.Relational.goldenRecord(
        replicate(t(s, d, "events"), "event_id", r),
        Seq("user_id"), "ts",
        Seq(("event_type", graft.relational.Relational.ModeValue),
          ("value", graft.relational.Relational.MaxValue),
          ("props", graft.relational.Relational.LatestValue)))),

    // label propagation over ×reps DISJOINT copies of the co-purchase
    // graph (both endpoints re-keyed per replica): nodes, edges, and
    // communities all scale ×reps while the per-node vote stays
    // degree-bounded — per-round work must track edges, not rounds²
    "s_lpa" -> ((s, d, r) => {
      val cp = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
        .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
        .select(
          concat(lit("c"), col("o_custkey"), lit("_"), col("__rep"))
            .as("src"),
          concat(lit("p"), col("l_partkey"), lit("_"), col("__rep"))
            .as("dst"))
      graft.relational.Graph.labelPropagation(cp, "src", "dst", rounds = 3)
    }),

    // EWMA with each user's series ×reps LONGER (order re-keyed per
    // replica, user set fixed): the per-entity fold is the documented
    // bound — cost must track total events, the agg buffers rows/users
    "s_ewma" -> ((s, d, r) => {
      // tsu*r keeps replicas ordered within each original gap; with real
      // microsecond epochs (~1.7e15) the product stays within Long only
      // for r ≲ 5000 — fail loudly rather than silently wrap and scramble
      // the series order (ADVICE r7)
      require(r <= 4096, s"s_ewma replication capped at 4096 (got $r): " +
        "tsu * r must not overflow epoch-microsecond longs")
      graft.relational.Eval.ewma(
        DataQueries.readEventsMicros(s, d)
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("tsu", col("tsu") * r + col("__rep"))
          .drop("__rep"),
        Seq("user_id"), "tsu", "value")
    }),

    // hashing-trick encode ×reps: a pure shuffle-free projection — the
    // fit-free encoder's cost must be exactly the scan
    "s_feature_hash" -> ((s, d, r) =>
      new graft.operators.FeatureHasher(
          Seq("c_mktsegment", "c_nationkey"), Seq("c_acctbal"), "fh", 64)
        .transform(replicate(t(s, d, "customer"), "c_custkey", r))
        .select(col("c_custkey"),
          aggregate(col("fh"), lit(0.0), (a, v) => a + abs(v))
            .as("l1"))),

    // HBOS density outliers over ×reps events with per-replica value
    // perturbation (distinct values ×reps): histogram agg stays
    // F·nBins-bounded, the id-regroup carries the load
    "s_density" -> ((s, d, r) =>
      graft.relational.Analytics.histogramOutliers(
        DataQueries.readEventsMicros(s, d)
          .withColumn("__rep", explode(sequence(lit(0), lit(r - 1))))
          .withColumn("event_id", col("event_id") * r + col("__rep"))
          .withColumn("value", col("value") + col("__rep") * 0.0001)
          .withColumn("sod", expr("(tsu % 86400000000) div 1000000"))
          .drop("__rep"),
        "event_id", Seq("value", "sod"), nBins = 32, topN = 100)),

    // END-TO-END curation path (VERDICT r9 #6): quality gate (gopher
    // stats) → exact dedup → DSIR importance scoring → token-budget cut,
    // composed exactly like q_curation, so the full training-data path —
    // not just its stages — carries a measured ×scale ratio. Replicas are
    // byte-identical: the dedup stage faces reps-way duplicate groups
    // (the worst realistic load) and the surviving volume feeding DSIR
    // stays ~constant, so the ratio isolates the gate+dedup scaling.
    "s_curation" -> ((s, d, r) => {
      val docs = replicate(t(s, d, "documents"), "doc_id", r)
      val clean = graft.text.TextFunctions
        .gopherStats(docs, "text", minWords = 40)
        .filter(col("gopher_keep")).select("doc_id", "text")
      val deduped = graft.text.Dedup.exact(clean, Seq("text"), "doc_id")
      graft.text.Corpus.dsirScore(deduped, "text", "doc_id",
          docs.filter(col("source") === "src0"), "text", buckets = 256)
        .orderBy(col("dsir_score").desc, col("doc_id")).limit(150)
        .select(col("doc_id"), col("n_tokens"))
    })
  )
}
