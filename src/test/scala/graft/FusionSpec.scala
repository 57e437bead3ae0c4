package graft

import graft.operators._
import org.apache.spark.ml.{Estimator, PipelineStage, Transformer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared-scan fit fusion: the fused pipeline fit must produce models
  * bit-identical to per-stage fits (a real-valued TargetEncoder target to
  * 1e-12 relative), in fewer Spark jobs, and must refuse to fuse when a
  * later fit reads an earlier stage's output or a stage changes the rows. */
class FusionSpec extends SparkSpec {
  import spark.implicits._

  private def train = Seq(
    (1L, Some("a"), 10.0), (2L, Some("a"), 20.0), (3L, Some("b"), 30.0),
    (4L, None, 40.0), (5L, Some("c"), 50.0), (6L, Some("b"), 60.0))
    .toDF("row_id", "k", "v")

  private def sameFrames(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema)
    assert(a.orderBy("row_id").collect().toSeq ==
      b.orderBy("row_id").collect().toSeq)
  }

  test("fused keyed fit == per-stage fits (CLE + Freq + grouped Agg + OneHot)") {
    val df = train
    val stages = () => Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k_code")),
      new FrequencyEncoder(Seq("k"), Seq("k_freq"), normalize = true),
      new Aggregator(Seq("v"), Seq("k_mean"), Seq("k"), "mean"),
      new OneHotEncoder(Seq("k")))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df)((d, e) => e.fit(d).transform(d))
    sameFrames(fused, seq)
  }

  test("fused scalar fit == per-stage fits (Scaler + global Agg)") {
    val df = train
    val stages = () => Seq(
      new Scaler(Seq("v"), Seq("v_std"), "standard"),
      new Aggregator(Seq("v"), Seq("v_mean"), Nil, "mean"),
      new Scaler(Seq("v"), Seq("v_mm"), "minmax"))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df)((d, e) => e.fit(d).transform(d))
    sameFrames(fused, seq)
  }

  test("fusion saves jobs: 3 same-key fits run as ONE aggregation job") {
    val df = train.persist()
    df.count() // warm the cache so both measurements read memory
    val mk = () => Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k_code")),
      new FrequencyEncoder(Seq("k"), Seq("k_freq")),
      new Aggregator(Seq("v"), Seq("k_mean"), Seq("k"), "mean"))
    val fusedJobs = countJobs { DFPipeline(mk(): _*).fit(df); () }
    val seqJobs = countJobs {
      mk().foldLeft(df)((d, e) => e.fit(d).transform(d)); ()
    }
    df.unpersist()
    // AQE materializes the shuffle stage as its own job → 2 jobs for the
    // one aggregation (map + collect); per-stage fits run ≥6
    assert(fusedJobs <= 2, s"fused fit ran $fusedJobs jobs")
    assert(seqJobs > fusedJobs,
      s"sequential ($seqJobs) should exceed fused ($fusedJobs)")
  }

  test("no fusion across a data dependency (later fit reads earlier output)") {
    val df = train
    // Freq reads CLE's OUTPUT — fusing them on the base frame would count
    // the wrong column; the run must break and results must equal sequential
    val stages = () => Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k2")),
      new FrequencyEncoder(Seq("k2"), Seq("k2_freq")))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df)((d, e) => e.fit(d).transform(d))
    sameFrames(fused, seq)
    assertCol(fused, "k2_freq", Seq(2L, 2L, 2L, 1L, 1L, 2L))
  }

  test("grouped Aggregator on a non-string key does not fuse (and still works)") {
    val df = Seq((1L, 10, 1.0), (2L, 10, 3.0), (3L, 20, 5.0))
      .toDF("row_id", "ik", "v")
      .withColumn("ks", col("ik").cast("string"))
    val stages = () => Seq(
      new FrequencyEncoder(Seq("ks"), Seq("ks_freq")),
      new Aggregator(Seq("v"), Seq("ik_mean"), Seq("ik"), "mean"))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df)((d, e) => e.fit(d).transform(d))
    sameFrames(fused, seq)
    assertColApprox(fused, "ik_mean", Seq(Some(2.0), Some(2.0), Some(5.0)))
  }

  test("vocabulary overflow falls back to per-stage (BigDict) fits") {
    val df = train
    val stages = Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k_code"), maxCollect = 0L),
      new FrequencyEncoder(Seq("k"), Seq("k_freq")))
    val fused = DFPipeline(stages: _*).fit(df).transform(df)
    // BigDict codes are still lexicographic: a→0, b→1, c→2, sentinel→3? no —
    // nulls WERE seen, so sentinel sorts among values: a,b,c,extra_category_
    assertCol(fused, "k_code", Seq(0, 0, 1, 3, 2, 1))
    assertCol(fused, "k_freq", Seq(2L, 2L, 2L, 1L, 1L, 2L))
  }

  test("DFPipeline still round-trips through Spark ML Pipeline persistence") {
    // graft stages persist via GraftPersistence; the ML-writer contract
    // matters for pipelines of standard writable Spark stages
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pipe_io").toString
    val sql = new org.apache.spark.ml.feature.SQLTransformer()
      .setStatement("SELECT k FROM __THIS__")
    DFPipeline(sql).write.overwrite().save(dir)
    val re = org.apache.spark.ml.Pipeline.load(dir)
    val out = re.fit(train).transform(train)
    assert(out.columns.toSeq == Seq("k"))
  }

  test("interleaving preserved: stateless stage between fused fits") {
    val df = train
    val stages = () => Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k_code")),
      new StringConcatenator(Seq(Seq("k", "k_code")), Seq("kk"), "_"),
      new FrequencyEncoder(Seq("kk"), Seq("kk_freq")))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df) {
      case (d, e: GraftEstimator[_]) => e.fit(d).transform(d)
      case (d, t: GraftTransformer) => t.transform(d)
    }
    sameFrames(fused, seq)
  }

  /** Sequential reference: each stage fitted on, and applied to, the frame
    * as every earlier stage left it. */
  private def sequential(stages: Seq[PipelineStage], df: DataFrame) =
    stages.foldLeft(df) {
      case (d, e: Estimator[_]) =>
        e.fit(d).asInstanceOf[Transformer].transform(d)
      case (d, t: Transformer) => t.transform(d)
    }

  private def fraudFrame(n: Int): DataFrame = FraudFixture.frame(spark, n)
  private def fraudStages(): Seq[PipelineStage] = FraudFixture.stages()

  test("fraud pipeline: one batch, ≤ 3 jobs, equal to the stage-by-stage fit") {
    val df = fraudFrame(3000)
    var model: org.apache.spark.ml.PipelineModel = null
    val jobs = countJobs { model = DFPipeline(fraudStages(): _*).fit(df); () }
    assert(jobs <= 3, s"fused fraud fit ran $jobs jobs")
    sameFrames(model.transform(df), sequential(fraudStages(), df))
  }

  test("multi-column ComplementLabelEncoder and FrequencyEncoder fuse") {
    val df = fraudFrame(500).persist()
    df.count()
    val stages = () => Seq(
      new ComplementLabelEncoder(Seq("card", "country"),
        Seq("card_code", "country_code")),
      new FrequencyEncoder(Seq("country", "merchant"),
        Seq("country_freq", "merchant_freq")))
    var model: org.apache.spark.ml.PipelineModel = null
    val jobs = countJobs { model = DFPipeline(stages(): _*).fit(df); () }
    assert(jobs <= 2, s"fused multi-column fit ran $jobs jobs")
    sameFrames(model.transform(df), sequential(stages(), df))
    df.unpersist()
  }

  private def targetModel(stages: Seq[PipelineStage], df: DataFrame) =
    DFPipeline(stages: _*).fit(df).stages
      .collectFirst { case m: TargetEncoderModel => m }.get

  private def targetTables(m: TargetEncoderModel) = m.states.map {
    case SmallTarget(oof, full) => (oof, full)
    case other => fail(s"expected a driver-side table, got $other")
  }

  test("TargetEncoder in a batch equals its own fit (0/1 target: exactly)") {
    val df = fraudFrame(2000).persist()
    df.count()
    val te = () => new TargetEncoder(Seq("country", "merchant"),
      Seq("country_te", "merchant_te"), targetCol = "label", idCol = "row_id",
      nFolds = 4, smoothing = 5.0)
    val stages = Seq(new FrequencyEncoder(Seq("country"), Seq("cf")), te())
    var fused: TargetEncoderModel = null
    val jobs = countJobs { fused = targetModel(stages, df); () }
    assert(jobs <= 2, s"fused fit ran $jobs jobs")
    val own = te().fit(df)
    assert(fused.prior == own.prior)
    assert(targetTables(fused) == targetTables(own))
    val train = (m: TargetEncoderModel) => m.transformTrain(df)
      .select("row_id", "country_te", "merchant_te")
    sameFrames(train(fused), train(own))
    df.unpersist()
  }

  test("TargetEncoder in a batch: a real-valued target within 1e-12 relative") {
    val df = fraudFrame(2000).withColumn("y", col("amount") / 7.0)
    val te = () => new TargetEncoder(Seq("country"), Seq("country_te"),
      targetCol = "y", idCol = "row_id")
    val fused = targetModel(
      Seq(new ComplementLabelEncoder(Seq("card"), Seq("cc")), te()), df)
    val own = te().fit(df)
    val close = (a: Double, b: Double) =>
      math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    assert(close(fused.prior, own.prior))
    targetTables(fused).zip(targetTables(own)).foreach {
      case ((fo, ff), (oo, of)) =>
        assert(fo.keySet == oo.keySet && ff.keySet == of.keySet)
        fo.foreach { case (k, v) => assert(close(v, oo(k)), s"oof $k") }
        ff.foreach { case (k, v) => assert(close(v, of(k)), s"full $k") }
    }
  }

  test("a RowTransformer between two fits ends the batch") {
    val df = train
    val stages = () => Seq(
      new FrequencyEncoder(Seq("k"), Seq("k_freq"), normalize = true),
      new RowTransformer(Seq("k"), Seq("a")),
      new FrequencyEncoder(Seq("k"), Seq("k_freq2"), normalize = true),
      new ComplementLabelEncoder(Seq("k"), Seq("k_code")))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    sameFrames(fused, sequential(stages(), df))
    // rows 3..6 survive the filter; k_freq counted all six rows, k_freq2
    // and k_code only the kept ones
    assertColApprox(fused, "k_freq", Seq(0.4, 0.0, 0.2, 0.4).map(Some(_)))
    assertColApprox(fused, "k_freq2",
      Seq(2.0 / 3, 0.0, 1.0 / 3, 2.0 / 3).map(Some(_)))
    assertCol(fused, "k_code", Seq(0, 2, 1, 0))
  }

  test("a Winsorizer in a batch with keyed parts equals its own fit") {
    val df = fraudFrame(1000)
    val winsor = () => new Winsorizer(Seq("amount", "hour"),
      Seq("amount_w", "hour_w"), 0.05, 0.9)
    val stages = () => Seq(
      new ComplementLabelEncoder(Seq("country"), Seq("country_code")),
      winsor(),
      new FrequencyEncoder(Seq("country"), Seq("country_freq")))
    val model = DFPipeline(stages(): _*).fit(df)
    val fused = model.stages.collectFirst { case m: WinsorizerModel => m }.get
    assert(fused.bounds == winsor().fit(df).bounds)
    sameFrames(model.transform(df), sequential(stages(), df))
  }

  test("a transform-time-statistics transformer ends the batch unprobed") {
    val df = train
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k_code")),
      new SetTransformer(Left("k"), Right(Seq("a", "b")), "&",
        outputFunc = Some(_ => { calls.incrementAndGet(); () })),
      new FrequencyEncoder(Seq("k"), Seq("k_freq")))
    DFPipeline(stages: _*).fit(df)
    // once, on the frame the sequential fit hands it — never on a probe
    assert(calls.get() == 1)
  }

  /** The INFO lines FitFusion logs while `body` runs. */
  private def decisions(body: => Unit): Seq[String] =
    logLines(FitFusion.getClass.getName)(body)._2

  test("one decision line per batch: members, grouping sets, fallbacks") {
    val fraud = decisions {
      DFPipeline(fraudStages(): _*).fit(fraudFrame(300))
      ()
    }
    assert(fraud.length == 1, fraud)
    val line = fraud.head
    assert(line.contains("fused=[ComplementLabelEncoder#1, " +
      "FrequencyEncoder#2, Aggregator#3, TargetEncoder#4, Scaler#6, " +
      "OneHotEncoder#7]"), line)
    Seq("(card)", "(mkey)", "(country)", "(mkey, fold(row_id % 5))", "()")
      .foreach(set => assert(line.contains(set), s"$set in $line"))
    assert(line.contains("alone=[] end=none"), line)

    val filtered = decisions {
      DFPipeline(new FrequencyEncoder(Seq("k"), Seq("f")),
        new RowTransformer(Seq("k"), Seq("a")),
        new ComplementLabelEncoder(Seq("k"), Seq("c"), maxCollect = 0L),
        new FrequencyEncoder(Seq("v"), Seq("vf"))).fit(train)
      ()
    }
    assert(filtered.length == 2, filtered)
    assert(filtered.head.contains("alone=[FrequencyEncoder#0:single] " +
      "end=RowTransformer#1:row-changing-transformer"), filtered.head)
    // only the overflowing member falls back; the other keeps its fused fit
    assert(filtered(1).contains("fused=[FrequencyEncoder#3] sets=[(v)] " +
      "alone=[ComplementLabelEncoder#2:overflow]"), filtered(1))
  }

  test("an overflowing member fits alone, the others stay fused") {
    val df = train
    // guards 1 and 4: the (v) set's 6 groups overflow the first; the (k)
    // set's 4 groups (a, b, c, null) fit the others. The collect stops at
    // 2 + 5 + 1 rows of 10, so the two are aggregated again on their own
    val stages = () => Seq(
      new ComplementLabelEncoder(Seq("v"), Seq("v_code"), maxCollect = 1L),
      new FrequencyEncoder(Seq("k"), Seq("k_freq"), maxCollect = 4L),
      new ComplementLabelEncoder(Seq("k"), Seq("k_code"), maxCollect = 4L))
    var model: org.apache.spark.ml.PipelineModel = null
    val lines = decisions { model = DFPipeline(stages(): _*).fit(df); () }
    assert(lines.length == 1, lines)
    assert(lines.head.contains("fused=[FrequencyEncoder#1, " +
      "ComplementLabelEncoder#2] sets=[(k)] " +
      "alone=[ComplementLabelEncoder#0:overflow]"), lines.head)
    sameFrames(model.transform(df), sequential(stages(), df))
  }

  test("a batch never takes more than 64 grouping columns") {
    val df = spark.range(0, 40, 1, 2).select(col("id").as("row_id") +:
      (0 until 70).map(i => (col("id") * (i + 3) % 7).cast("string")
        .as(s"c$i")): _*)
    val cs = (n: Range) => n.map(i => s"c$i")
    val stages = () => Seq(
      // 65 keys by itself: fits alone, the batch goes on
      new ComplementLabelEncoder(cs(0 until 65), cs(0 until 65).map(_ + "_a")),
      new FrequencyEncoder(cs(0 until 40), cs(0 until 40).map(_ + "_f")),
      new ComplementLabelEncoder(cs(0 until 10), cs(0 until 10).map(_ + "_b")),
      // 40 + 30 keys: ends the batch, starts the next
      new FrequencyEncoder(cs(40 until 70), cs(40 until 70).map(_ + "_f")))
    var model: org.apache.spark.ml.PipelineModel = null
    val lines = decisions { model = DFPipeline(stages(): _*).fit(df); () }
    assert(lines.length == 2, lines)
    assert(lines.head.contains("fused=[FrequencyEncoder#1, " +
      "ComplementLabelEncoder#2]"), lines.head)
    assert(lines.head.contains("alone=[ComplementLabelEncoder#0:" +
      "grouping-limit] end=FrequencyEncoder#3:grouping-limit"), lines.head)
    assert(lines(1).contains("alone=[FrequencyEncoder#3:single]"), lines(1))
    sameFrames(model.transform(df), sequential(stages(), df))
  }

  test("percentile fits stay out of keyed batches and fuse beside () sets") {
    val df = fraudFrame(600)
    val winsor = () => new Winsorizer(Seq("amount"), Seq("amount_w"),
      0.05, 0.9)
    val binner = () => new QuantileBinner(Seq("hour"), Seq("hour_bin"), 4)
    val keyed = () => Seq(winsor(),
      new ComplementLabelEncoder(Seq("country"), Seq("country_code")),
      new FrequencyEncoder(Seq("country"), Seq("country_freq")), binner())
    val global = () => Seq(winsor(),
      new Scaler(Seq("amount"), Seq("amount_std"), "standard"), binner())
    for ((stages, line) <- Seq(
        keyed -> ("fused=[ComplementLabelEncoder#1, FrequencyEncoder#2] " +
          "sets=[(country)] alone=[Winsorizer#0:percentile, " +
          "QuantileBinner#3:percentile]"),
        global -> ("fused=[Winsorizer#0, Scaler#1, QuantileBinner#2] " +
          "sets=[()] alone=[]"))) {
      var model: org.apache.spark.ml.PipelineModel = null
      val lines = decisions { model = DFPipeline(stages(): _*).fit(df); () }
      assert(lines.length == 1 && lines.head.contains(line), lines)
      sameFrames(model.transform(df), sequential(stages(), df))
    }
  }
}
