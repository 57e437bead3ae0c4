package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.relational.{Analytics, Sketches}

/** Physical-plan shape guards for the analytics operators: the claims in
  * SCALE.md ("one shuffle", "no window over the distinct-item relation",
  * "bounded top-N") asserted against the actual plans, so a refactor
  * that silently degrades a plan fails here, not in a bench artifact two
  * rounds later. */
class AnalyticsPlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int = p.sliding(9).count(_ == "Exchange ")

  test("groupedOls is ONE map-side-combined aggregate: a single exchange, " +
      "no join, no window") {
    val df = Seq(("g", 1.0, 2.0), ("g", 2.0, 4.0)).toDF("g", "x", "y")
    val p = plan(Analytics.groupedOls(df, Seq("g"), "x", "y"))
    assert(exchanges(p) == 1, p.take(500))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(500))
  }

  test("fdViolations has no join and no window; the distinct rides the " +
      "aggregate") {
    val df = Seq(("a", "x"), ("b", "y")).toDF("det", "dep")
    val p = plan(Analytics.fdViolations(df, Seq("det"), "dep"))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(500))
    assert(exchanges(p) <= 2, p.take(500))
  }

  test("hh truncation stage is the bounded heap aggregate over the count " +
      "relation — no Window anywhere; the sketch output reads a " +
      "checkpoint (corpus scanned once, not once per union branch)") {
    val df = Seq(("g", "s1", "a"), ("g", "s2", "b")).toDF("grp", "sub", "k")
    // the truncation stage as hhSketch builds it (pre-checkpoint)
    val counts = df.groupBy(col("grp"),
        col("k").cast("string").as("item"))
      .agg(count(lit(1)).as("cnt"))
    val heads = counts.groupBy(col("grp"))
      .agg(graft.functions.TopK.collect_top_counts(
        struct(col("cnt"), col("item")), 3))
    val hp = plan(heads)
    assert(hp.contains("collecttopcounts") && !hp.contains("Window"), hp)
    // the materialized register relation: both union branches read the
    // checkpointed rows — no aggregate re-run in the final plan
    val reg = Sketches.hhSketch(df, Seq("grp", "sub"), "k", k = 2)
    val p = plan(Sketches.hhMerge(reg.drop("sub"), Seq("grp"), k = 2))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("partial_count"), p)
  }

  test("abcClasses is one aggregate + group-partitioned windows: at " +
      "most two exchanges, no join") {
    val df = Seq(("g", "e", 1L), ("g", "f", 2L)).toDF("g", "ent", "v")
    val p = plan(Analytics.abcClasses(df, Seq("g"), "ent", "v"))
    assert(exchanges(p) <= 2, p.take(600))
    assert(!p.contains("Join"), p.take(600))
    assert(p.contains("Window"), p.take(600))
  }

  test("theilSen caps via the bounded-heap aggregate — never a window " +
      "or cartesian over raw points") {
    val df = Seq(("g", 1L, 0.0, 0.0), ("g", 2L, 1.0, 1.0))
      .toDF("g", "id", "x", "y")
    val p = plan(Analytics.theilSen(df, "g", "x", "y", "id"))
    assert(p.contains("collecttopk"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("association and miRanking read the corpus ONCE: every consumer " +
      "of the cells relation reads the checkpoint, not the base table") {
    val df = Seq(("x", "u"), ("y", "v")).toDF("a", "b")
    val pa = plan(Analytics.association(df, "a", "b"))
    // the base rows were consumed at checkpoint time; the residual plan
    // must not rescan them (pre-fix: 10 base scans per call)
    assert(!pa.contains("LocalTableScan"), pa.take(600))
    val dfm = Seq(("x", "u", "l1")).toDF("f1", "f2", "label")
    val pm = plan(Analytics.miRanking(dfm, Seq("f1", "f2"), "label"))
    assert(!pm.contains("LocalTableScan"), pm.take(600))
  }

  test("cusum is TWO frames over ONE per-key window sort — the recursion's " +
      "closed form never adds a second sort or a join") {
    val df = Seq(("k", 1L, 2.0), ("k", 2L, 9.0)).toDF("k", "t", "x")
    val p = plan(graft.relational.Eval.cusum(df, Seq("k"), "t", "x",
      target = 5.0, slack = 0.0, h = 3.0))
    // two Window nodes (the running min CONSUMES the cumulative sum, so
    // they cannot fuse) but the second reuses the first's sort order:
    // exactly one Sort, one Exchange, no Join
    assert(p.sliding(7).count(_ == "Window ") == 2, p.take(600))
    assert(p.sliding(6).count(_ == "Sort [") == 1, p.take(800))
    assert(exchanges(p) == 1, p.take(800))
    assert(!p.contains("Join"), p.take(600))
  }

  test("auc binned path: windows partition by bin, the only joins are " +
      "broadcast (edges + ≤256-row offsets), no shuffle join") {
    val df = Seq((0.1, 1L), (0.9, 0L), (0.5, 1L)).toDF("score", "label")
    val (out, counts) = graft.relational.Eval.aucPlan(df, "score", "label",
      maxDistinctBroadcast = 1)
    val p = plan(out)
    // the within-bin cumulative partitions by __bin (parallel, never a
    // global sort over the distinct-score relation)
    assert(p.contains("[__bin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p.take(1200))
    // exactly the unified engine's two window passes (cross-bin offsets
    // + within-bin) — a third means a pass leaked in above the engine
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(1200))
    graft.util.Materialize.release(counts)
  }

  test("ksExact binned path: per-bin partitioned windows, only " +
      "broadcast joins, TakeOrdered(1) argmax — no global sort, no " +
      "shuffle join") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0))
      .toDF("g", "x")
    val (out, counts) = graft.relational.Eval.ksExactPlan(df, "x", "g",
      "a", "b", maxDistinctBroadcast = 1)
    val p = plan(out)
    assert(p.contains("[__bin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    // the unified engine's two window passes, nothing more
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(1200))
    graft.util.Materialize.release(counts)
  }

  test("quantileNormalize: the rank lookup is a BIN EQUI-join — no " +
      "cartesian, no broadcast-nested-loop, no sort-merge on values") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 1.5), ("b", 2.5))
      .toDF("g", "x")
    // over the guard (0 rows): the distributed rank lookup
    val (out, counts) = graft.relational.Eval.quantileNormalizePlan(df,
      "x", "g", target = "b", ref = "a", maxDistinctBroadcast = 0)
    val p = plan(out)
    // the rank lookup joins hash-equi on the rank-space bin (the
    // interval containment is its residual filter); the only
    // nested-loop joins are the deliberate ONE-ROW totals broadcasts
    assert(p.contains("BroadcastHashJoin [__bin") ||
      p.contains("ShuffledHashJoin [__bin") ||
      p.contains("SortMergeJoin [__bin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    graft.util.Materialize.release(counts)
    // under the guard the driver finishes the map: no join at all
    val (local, _) = graft.relational.Eval.quantileNormalizePlan(df,
      "x", "g", target = "b", ref = "a", maxDistinctBroadcast = 100000)
    val lp = plan(local)
    assert(!lp.contains("Join") && !lp.contains("CartesianProduct"),
      lp.take(1200))
  }

  test("spearman join-back: equi-joins only (no cartesian, no " +
      "broadcast-nested-loop), one corr aggregate finish") {
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 5.0)).toDF("a", "b")
    val p = plan(graft.relational.Eval.spearman(df, "a", "b"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      p.take(400))
  }

  test("acf: all lags share ONE key exchange and ONE window sort, the " +
      "aggregate reuses the window partitioning, no join") {
    val df = Seq(("k", 1L, 2.0), ("k", 2L, 3.0), ("k", 3L, 1.0))
      .toDF("k", "t", "x")
    val p = plan(graft.relational.Eval.acf(df, Seq("k"), "t", "x",
      maxLag = 7))
    assert(!p.contains("Join"), p.take(800))
    val exchanges = "Exchange".r.findAllIn(p).size
    val sorts = "\\+- Sort".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected <= 1 exchange, got $exchanges")
    assert(sorts == 1, s"expected 1 sort, got $sorts:\n" + p.take(800))
  }

  test("changepoint: one key exchange, two in-partition sorts (order + " +
      "argmin), no join — the O(n^2) cut sweep is one cumulative pass") {
    val df = Seq(("k", 1L, 2.0), ("k", 2L, 3.0), ("k", 3L, 9.0))
      .toDF("k", "t", "x")
    val p = plan(graft.relational.Eval.changepoint(df, Seq("k"), "t", "x"))
    assert(!p.contains("Join"), p.take(800))
    val exchanges = "Exchange".r.findAllIn(p).size
    val sorts = "\\+- Sort".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected <= 1 exchange, got $exchanges")
    assert(sorts <= 2, s"expected <= 2 sorts, got $sorts:\n" + p.take(800))
  }

  test("forecastBacktest and trimmedMean: one key exchange, one " +
      "in-partition sort, no join each") {
    val ts = Seq(("k", 1L, 2.0), ("k", 2L, 3.0), ("k", 3L, 4.0))
      .toDF("k", "t", "x")
    val p1 = plan(graft.relational.Eval.forecastBacktest(ts, Seq("k"),
      "t", "x", season = 2))
    val p2 = plan(graft.relational.Analytics.trimmedMean(
      ts.select(col("k"), col("x")), Seq("k"), "x", 0.1))
    for (p <- Seq(p1, p2)) {
      assert(!p.contains("Join"), p.take(600))
      assert("Exchange".r.findAllIn(p).size <= 1, p.take(600))
      assert("\\+- Sort".r.findAllIn(p).size == 1, p.take(600))
    }
  }

  test("ngramDiversity: ONE corpus scan for all n sizes (flattened " +
      "per-row explode), no join") {
    val df = Seq(("s", "a b c"), ("s", "a b")).toDF("source", "text")
    val p = plan(graft.text.Corpus.ngramDiversity(df, "text", "source"))
    assert(!p.contains("Join"), p.take(600))
    val scans = "LocalTableScan".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 corpus scan, got $scans")
  }

  test("bootstrapMeanCI: ONE scan of the corpus (all 2R replicate sums " +
      "are aggregate expressions — never an xR explode), no join") {
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x")
    val p = plan(graft.relational.Eval.bootstrapMeanCI(df, "x", "id",
      replicates = 8))
    assert(!p.contains("Join"), p.take(800))
    val scans = "LocalTableScan".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 corpus scan, got $scans:\n" + p.take(800))
  }

  test("rankingMetrics: no join anywhere, and both window sorts plus " +
      "the per-query aggregate share ONE query-key exchange") {
    val df = Seq((1, 1L, 0.5, 1L), (1, 2L, 0.4, 0L), (2, 3L, 0.9, 2L))
      .toDF("q", "i", "s", "r")
    val p = plan(graft.relational.Eval.rankingMetrics(df, "q", "i", "s",
      "r", 5))
    assert(!p.contains("Join"), p.take(800))
    // one hashpartitioning(q) exchange + the one-row finish exchange
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n" +
      p.take(800))
  }

  test("rfmSegments fits ALL 12 quintile edges (4 ranks x 3 dims) in ONE " +
      "narrowing session — the job count stays at single-session depth") {
    val df = (1 to 500).map(i => (s"c${i % 97}", i.toLong, i * 1.5))
      .toDF("k", "d", "a")
    val tracker = spark.sparkContext.statusTracker
    def jobs() = tracker.getJobIdsForGroup(null).length
    // one throwaway call first so JIT/codegen jobs don't pollute the count
    Analytics.rfmSegments(df, "k", "d", "a")
    val before = jobs()
    Analytics.rfmSegments(df, "k", "d", "a") // eager (checkpoints inside)
    val fitJobs = jobs() - before
    // measured single-session cost: persist+count + narrowing rounds +
    // final checkpoint ≈ 6 jobs at this size; the pre-batch code ran FOUR
    // narrowing sessions (one per quintile) ≈ 3x more. 8 allows round
    // jitter while failing on any return to per-quantile sessions
    assert(fitJobs <= 8, s"rfm fit ran $fitJobs jobs — did the quintile " +
      "fit fall back to one narrowing session per rank?")
  }

  test("skyline2 plans no cartesian/broadcast-nested-loop and finishes " +
      "with a semi-join") {
    val df = Seq(("g", 1, 2), ("g", 2, 1)).toDF("g", "d1", "d2")
    val p = plan(Analytics.skyline2(df, Seq("g"), "d1", "d2"))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.contains("LeftSemi"), p.take(600))
  }

  test("topSessionPaths finishes with a bounded TakeOrdered, not a " +
      "global sort") {
    // enough rows that the optimizer cannot prove maxRows <= topN and
    // fold the limit away (which would leave a plain global sort)
    val df = (1 to 40).map(i => (i.toLong, 1L, i.toLong, "a"))
      .toDF("u", "o", "id", "t")
    val p = plan(Analytics.topSessionPaths(df, "u", "o", "id", "t",
      gapUs = 10L, maxSteps = 3, topN = 5))
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("decayedValue evaluates every lag in ONE window over one sort") {
    val df = Seq((1L, 1L, 1L, 1.0)).toDF("u", "o", "id", "v")
    val p = plan(Analytics.decayedValue(df, Seq("u"), "o", "id", "v",
      "dec", lastN = 4))
    assert(p.sliding(7).count(_ == "Window ") == 1, p.take(600))
    assert(!p.contains("Join"), p.take(600))
  }

  test("attribution sorts each user's history ONCE and never self-joins " +
      "the event log") {
    val df = Seq((1L, 1L, 1L, "ad", 0.0), (1L, 2L, 2L, "buy", 1.0))
      .toDF("u", "o", "id", "t", "v")
    val p = plan(Analytics.attribution(df, "u", "o", "id", "t", "v", "buy"))
    // the two running touches ride one per-user sort (two pipelined
    // Window nodes, no second Sort/Exchange between them) and the only
    // exchanges are the user partition + the final cells aggregate
    assert(p.sliding(5).count(_ == "Sort ") == 1, p.take(700))
    assert(exchanges(p) == 2, p.take(700))
    assert(!p.contains("Join"), p.take(700))
  }
}
