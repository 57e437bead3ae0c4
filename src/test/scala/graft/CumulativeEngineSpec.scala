package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.relational.{CumulativeEngine, Eval, Relational}

/** The unified strictly-below cumulative engine (round 7: one engine
  * behind percentileRank AND the Eval ranking family) — exactness of
  * the binned path against the small path, and plan-shape pins so a
  * refactor that adds an exchange or a global window to the widest
  * shared 100-TB path fails HERE, not in a bench artifact two rounds
  * later. Inputs are localCheckpoint'ed so the plans under test are
  * the ENGINE's plans, not the fixture lineage. */
class CumulativeEngineSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  // distinct-value relation with a long and a double measure, exercising
  // duplicate-heavy and skewed values
  private def counts(n: Int, groups: Int = 0): DataFrame = {
    val rows = (1 to n).map { i =>
      val g = if (groups == 0) "g" else s"g${i % groups}"
      (g, i * 7 % 997 + (if (i % 13 == 0) 100000 else 0),
        (i % 5 + 1).toLong, (i % 3 + 1) * 0.5)
    }
    rows.toDF("g", "__v", "__n", "__m")
      .groupBy("g", "__v")
      .agg(sum("__n").as("__n"), sum("__m").as("__m"))
      .localCheckpoint(true)
  }

  test("binned path is bit-identical to the small path — both measures " +
      "(long count + double mass), ungrouped and grouped") {
    for (groups <- Seq(0, 4)) {
      val gcols = if (groups == 0) Nil else Seq("g")
      val c = counts(600, groups)
      def run(small: Boolean) =
        CumulativeEngine.strictlyBelow(c, "__v", Seq("__n", "__m"),
          gcols, small)
          .select((gcols.map(col) :+ col("__v") :+
            col("__below___n") :+ col("__below___m")): _*)
          .collect().map { r =>
            val off = gcols.size
            val key = (if (off == 0) "g" else r.getString(0),
              r.getInt(off))
            key -> (r.getLong(off + 1), r.getDouble(off + 2))
          }.toMap
      val smallR = run(small = true)
      val binnedR = run(small = false)
      assert(smallR == binnedR && smallR.nonEmpty,
        s"groups=$groups: binned != small")
    }
  }

  test("binned ungrouped plan: exactly TWO windows (cross-bin offsets " +
      "over <=4096 bins + within-bin partitioned by __bin), no shuffle " +
      "join, and the bin fan-out bounded at 2 hash exchanges") {
    val c = counts(600)
    val p = plan(CumulativeEngine.strictlyBelow(c, "__v", Seq("__n"),
      Nil, small = false))
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(1500))
    // the distinct-value window partitions by __bin — parallel, never a
    // global sort over the distinct relation
    assert(p.contains("[__bin"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("CartesianProduct"), p.take(1500))
    // shuffles: the offsets groupBy(__bin) + the within-bin window
    // partitioning (AQE may reuse); a third means the engine grew a pass
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"engine gained a shuffle:\n" + p.take(1500))
    // single-partition exchanges: the one-row bounds aggregate (appears
    // in BOTH the binned-side and offsets-side subtrees pre-AQE — the
    // canonical-equal exchanges collapse to one via ReuseExchange at
    // runtime over the persisted input) + the <=4096-row offsets
    // cumulative — a fourth means the engine grew a global funnel over
    // the distinct relation
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 3,
      s"engine gained a global funnel:\n" + p.take(1500))
  }

  test("binned grouped plan: windows partition by (g, __bin); no " +
      "cartesian; per-group edges ride ONE groups-sized aggregate") {
    val c = counts(600, groups = 4)
    val p = plan(CumulativeEngine.strictlyBelow(c, "__v", Seq("__n"),
      Seq("g"), small = false))
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(1500))
    assert(p.contains("[g#") && p.contains("__bin"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("small path: ONE window, no join, no hash exchange") {
    val c = counts(600)
    val p = plan(CumulativeEngine.strictlyBelow(c, "__v", Seq("__n"),
      Nil, small = true))
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(800))
    assert(!p.contains("Join"), p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      p.take(800))
  }

  test("heavy skew: one value holding half the distinct-relation mass " +
      "still bins exactly (the quantile-balanced macro edges put the " +
      "outlier alone in the top bins)") {
    val rows = ((1 to 400).map(i => ("g", i, 1L, 1.0)) ++
      Seq(("g", 10000000, 200L, 200.0))).toDF("g", "__v", "__n", "__m")
      .groupBy("g", "__v").agg(sum("__n").as("__n"), sum("__m").as("__m"))
      .localCheckpoint(true)
    def run(small: Boolean) =
      CumulativeEngine.strictlyBelow(rows, "__v", Seq("__n"), Nil, small)
        .select(col("__v"), col("__below___n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(run(small = true) == run(small = false))
  }

  // ---- the guarded driver path (CumulativeEngine.rank) ------------------

  /** `body(threshold, binnable)` on each path of [[CumulativeEngine.rank]]:
    * the driver finish (threshold above every count), the window
    * (threshold 0, not binnable — what a non-numeric value column takes)
    * and the binned path (threshold 0). */
  private def onEachPath[T](body: (Long, Boolean) => T): Seq[(String, T)] =
    Seq("driver" -> body(Long.MaxValue, true), "window" -> body(0L, false),
      "binned" -> body(0L, true))

  /** Rows as comparable values: doubles by their bits, so NaN and the
    * signed zeros compare exactly. */
  private def bits(df: DataFrame, order: String*): Seq[Seq[Any]] =
    df.orderBy(order.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })

  test("rank: driver == window == binned, bit for bit — long and double " +
      "measures, ungrouped and grouped, below and totals") {
    for (groups <- Seq(0, 4)) {
      val gcols = if (groups == 0) Nil else Seq("g")
      val c = counts(600, groups)
      val got = onEachPath { (max, binnable) =>
        val r = CumulativeEngine.rank(c, "__v", Seq("__n", "__m"), gcols,
          max, "spec", binnable)
        val out = (r.path,
          bits(r.below.select((gcols ++ Seq("__v", "__n", "__m",
            "__below___n", "__below___m")).map(col): _*), gcols :+ "__v": _*),
          bits(r.totals, gcols: _*),
          bits(r.withTotals.select((gcols ++ Seq("__v", "__below___n",
            "__total___n", "__total___m")).map(col): _*),
            gcols :+ "__v": _*))
        r.release()
        out
      }
      got.foreach { case (path, (taken, _, _, _)) => assert(taken == path) }
      val Seq(driver, window, binned) = got.map(_._2)
      assert(driver._2.size == c.count() &&
        driver._3.size == math.max(groups, 1))
      assert(driver.productIterator.drop(1).toSeq ==
        window.productIterator.drop(1).toSeq, s"groups=$groups: window")
      assert(driver.productIterator.drop(1).toSeq ==
        binned.productIterator.drop(1).toSeq, s"groups=$groups: binned")
    }
  }

  test("rank: driver == window on arbitrary doubles, NaN and ±0.0 values " +
      "included — the driver adds in the window's order (totals are Spark " +
      "sums off the driver path, exact only where the addition order " +
      "cannot matter)") {
    val rng = new scala.util.Random(0x5EED)
    val c = ((1 to 500).map(i => (i * 0.731 % 97.0, rng.nextGaussian() * 1e3))
      ++ Seq(Double.NaN, -0.0, 0.0, Double.NegativeInfinity, Double.NaN)
        .map(v => (v, rng.nextGaussian() * 1e3)))
      .toDF("__v", "__m").groupBy("__v").agg(sum("__m").as("__m"))
    val got = onEachPath { (max, binnable) =>
      val r = CumulativeEngine.rank(c, "__v", Seq("__m"), Nil, max, "spec",
        binnable)
      val out = bits(r.below.select("__v", "__below___m"), "__v")
      r.release()
      out
    }.toMap
    assert(got("driver") == got("window"))
  }

  test("NaN, ±0.0, ties and null groups: percentileRank (ungrouped and " +
      "grouped) and the Eval ranking family agree on the driver and binned " +
      "paths, a string percentileRank on the driver and window paths") {
    val vals = Seq(Double.NaN, -0.0, 0.0, 1.5, 1.5, -2.0, Double.NaN, 3.25,
      0.0, -0.0, 7.0, 1.5, -2.0, 11.0, Double.NegativeInfinity, 2.5, 4.75,
      -3.0)
    // the last three rows' strings: UTF-8 byte order puts U+1F600 after
    // U+FFFF, where a Java String (UTF-16) sort puts it before
    val texts = Seq("\u00e9", "\uFFFF", "\uD83D\uDE00")
    val df = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, if (i == 4) None else Some(v),
        if (i % 5 == 0) None else Some(s"g${i % 2}"),
        (i % 3 == 0).compare(false),
        (i * 7 % 5).toDouble, if (i % 2 == 0) "a" else "b",
        texts.lift(i - vals.length + texts.length))
    }.toDF("row_id", "v", "g", "label", "w", "side", "text")
      .withColumn("sv", coalesce(col("text"), col("v").cast("string")))
    // threshold above every count: the driver; threshold 0: the binned
    // path, or the window for the string column
    def same(name: String)(run: Long => DataFrame, order: String*): Unit =
      assert(bits(run(0L), order: _*) == bits(run(Long.MaxValue), order: _*),
        s"$name: distributed path != driver")
    for (value <- Seq("v", "sv")) {
      same(s"percentileRank $value")(m =>
        Relational.percentileRank(df, value, "pr", maxDistinctBroadcast = m)
          .select("row_id", "pr"), "row_id")
      same(s"percentileRank grouped $value")(m =>
        Relational.percentileRank(df, value, "pr", Seq("g"),
          maxDistinctBroadcast = m).select("row_id", "pr"), "row_id")
    }
    same("auc")(m => Eval.auc(df, "v", "label", m))
    same("prAuc")(m => Eval.prAuc(df, "v", "label", m))
    same("rankSumTest")(m => Eval.rankSumTest(df, "v", "label", m))
    same("lorenzGini")(m => Eval.lorenzGini(df, "w", m))
    same("spearman")(m => Eval.spearman(df, "v", "w", m))
    same("ksExact")(m => Eval.ksExact(df, "v", "side", "a", "b", m))
    same("quantileNormalize")(m =>
      Eval.quantileNormalize(df, "v", "side", "a", "b", m), "value")
  }

  test("over the guard the distributed paths read the checkpointed " +
      "distinct relation: the corpus is scanned once") {
    val scans = spark.sparkContext.longAccumulator("rank-corpus-scans")
    // nondeterministic: a deterministic UDF is re-evaluated wherever the
    // optimizer copies it (the null filter), which would count one row twice
    val tap = udf { (v: Double) => scans.add(1); v }.asNondeterministic()
    val df = (1 to 300).map(i => (i * 0.37 % 29.0, (i % 3 == 0).compare(false),
      if (i % 2 == 0) "a" else "b")).toDF("x", "label", "side")
      .select(tap(col("x")).as("x"), col("label"), col("side"))
    Eval.auc(df, "x", "label", maxDistinctBroadcast = 0).collect()
    assert(scans.sum == 300, s"auc binned read ${scans.sum} rows")
    scans.reset()
    val r = CumulativeEngine.rank(
      df.groupBy(col("x").cast("string").as("__v"))
        .agg(count(lit(1)).as("__n")),
      "__v", Seq("__n"), Nil, 0L, "spec", binnable = false)
    r.withTotals.collect()
    r.release()
    assert(r.path == "window" && scans.sum == 300,
      s"${r.path} path read ${scans.sum} rows")
  }

  test("spearman + quantileNormalize + ksExact on a 5k-row table finish " +
      "in at most 20 jobs, and each ranking logs its decision") {
    val tx = (1 to 5000).map { i =>
      (i * 0.37 % 101, (i * 7 % 13).toDouble,
        if (i % 3 == 0) "web" else "pos", if (i % 5 == 0) "fraud" else "legit",
        (i % 5 == 0).compare(false))
    }.toDF("amount", "score", "channel", "klass", "label")
      .localCheckpoint(true)
    val jobs = countJobs {
      Eval.spearman(tx, "amount", "score").collect()
      Eval.quantileNormalize(tx, "amount", "channel", "web", "pos")
      Eval.ksExact(tx, "score", "klass", "fraud", "legit").collect()
    }
    assert(jobs <= 20, s"$jobs jobs")
    val (_, lines) = logLines(CumulativeEngine.getClass.getName) {
      Eval.spearman(tx, "amount", "score").collect()
      Eval.auc(tx, "score", "label", maxDistinctBroadcast = 5).collect()
      Relational.percentileRank(tx, "channel", "pr",
        maxDistinctBroadcast = 1).collect()
    }
    val nAmount = tx.select("amount").distinct().count()
    assert(lines == Seq(
      s"CumulativeEngine spearman.amount: rows=$nAmount guard=100000 " +
        "path=driver",
      "CumulativeEngine spearman.score: rows=13 guard=100000 path=driver",
      "CumulativeEngine auc: rows>5 guard=5 path=binned",
      "CumulativeEngine percentileRank: rows>1 guard=1 path=window"))
  }
}
