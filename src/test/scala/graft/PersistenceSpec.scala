package graft

import graft.operators._
import org.apache.spark.ml.Transformer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Save/load round-trip: a fitted pipeline reloaded from disk must produce
  * byte-identical transforms (the reference's export-then-serve contract,
  * SURVEY §3.2). */
class PersistenceSpec extends SparkSpec {
  import spark.implicits._

  lazy val train = Seq(
    (1L, "BUILDING", 1, 100.0, Some(0.1)),
    (2L, "BUILDING", 1, 200.0, None),
    (3L, "AUTO", 2, 300.0, Some(0.3)),
    (4L, "AUTO", 2, 500.0, Some(0.5)))
    .toDF("row_id", "seg", "nat", "price", "disc")

  lazy val serve = Seq(
    (1L, "BUILDING", 1, 150.0, Some(0.2)),
    (2L, "UNSEEN", 9, 250.0, None))
    .toDF("row_id", "seg", "nat", "price", "disc")

  test("full-pipeline save/load round trip") {
    val model = DFPipeline(
      new StringConcatenator(Seq(Seq("seg", "nat")), Seq("key"), "_"),
      new ComplementLabelEncoder(Seq("key"), Seq("key_code")),
      new FrequencyEncoder(Seq("key"), Seq("key_freq"), normalize = true),
      new Aggregator(Seq("price"), Seq("price_mean"), Seq("key"), "mean"),
      new Aggregator(Seq("price"), Seq("price_gmean"), Nil, "mean"),
      new Scaler(Seq("price"), Seq("price_mm"), "minmax"),
      new MapTransformer(Seq("seg"), Seq("seg2"), Seq(("AUTO", "A"))),
      new RangeTransformer(Seq("price"), Seq("price_r"),
        Seq(((Some(300.0), None), -1.0))),
      new Imputer(Seq("disc"), Seq("disc"), None, 0.0),
      new TypeConverter(Seq("nat"), DoubleType),
      new ColumnSelector(Seq("seg"), drop = true))
      .fit(train)

    val dir = "target/tmp/persist_test"
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)

    val a = model.transform(serve).orderBy("row_id").collect().toSeq
    val b = loaded.transform(serve).orderBy("row_id").collect().toSeq
    assert(a == b)
    // unseen key behavior survives the round trip
    val r = loaded.transform(serve).filter(col("row_id") === 2).head()
    assert(r.getAs[Double]("key_freq") == 0.0)
    assert(r.isNullAt(r.fieldIndex("price_mean")))
  }

  test("IvfIndex fit -> save -> load -> query serves identical top-k " +
      "(the ANN index lifecycle: fit once, serve anywhere)") {
    import graft.sim.IvfIndex
    val corpus = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(j =>
        math.sin(i * 0.37 + j * 1.3) + (if (i % 4 == j % 4) 2.0 else 0.0)))
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))

    val fresh = IvfIndex.fit(corpus, "vec_id", "embedding", nCentroids = 4)
    val dir = "target/tmp/ivf_index_test"
    fresh.save(dir)
    val loaded = IvfIndex.load(spark, dir)

    assert(loaded.centroids.map(_.toSeq).toSeq ==
      fresh.centroids.map(_.toSeq).toSeq)
    def res(ix: IvfIndex) = ix.query(qs, "query_id", "qvec", k = 3,
        nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(res(loaded) == res(fresh))
    fresh.release(); loaded.release()
  }

  test("target + hashing encoders survive save/load (small and big state)") {
    val df = (1L to 40L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", i.toDouble)).toDF("id", "c", "y")
    for (maxCollect <- Seq(1000000L, 0L)) { // literal-map AND BigTarget
      val model = DFPipeline(
        new TargetEncoder(Seq("c"), Seq("c_te"), "y", "id",
          nFolds = 3, smoothing = 5.0, maxCollect = maxCollect),
        new HashingEncoder(Seq("c"), Seq("c_h"), 16)).fit(df)
      val dir = s"target/tmp/persist_te_$maxCollect"
      GraftPersistence.save(model, dir)
      val loaded = GraftPersistence.load(spark, dir)
      val a = model.transform(df).orderBy("id")
        .select("id", "c_te", "c_h").collect().toSeq
      val b = loaded.transform(df).orderBy("id")
        .select("id", "c_te", "c_h").collect().toSeq
      assert(a == b, s"maxCollect=$maxCollect")
      // the reloaded train path (leave-own-fold-out) also matches
      val m0 = model.stages.collectFirst {
        case m: TargetEncoderModel => m }.get
      val l0 = loaded.stages.collectFirst {
        case m: TargetEncoderModel => m }.get
      val at = m0.transformTrain(df).orderBy("id").select("c_te")
        .collect().toSeq
      val bt = l0.transformTrain(df).orderBy("id").select("c_te")
        .collect().toSeq
      assert(at == bt, s"train path, maxCollect=$maxCollect")
    }
  }

  test("closure-bearing stages refuse to persist with a clear error") {
    val m = DFPipeline(
      FunctionTransformer(Seq("price"), Seq("p2"), _ * 2)).fit(train)
    val e = intercept[UnsupportedOperationException] {
      GraftPersistence.save(m, "target/tmp/persist_fail")
    }
    assert(e.getMessage.contains("fromOp"))
  }

  test("Op tree JSON round trip is structural identity") {
    import Op._
    val tree = when(in(0) > lit(3.0) && !isnull(in(1)), sqrt(in(0) * in(1)))
      .when(isnan(in(0)), lit(null))
      .otherwise(pow(abs(in(0)), lit(2.0)) + least(in(1), lit(0), in(0))
        - element_at(split(lower(in(2)), " "), 1).cast(DoubleType))
    assert(Op.fromJson(Op.toJson(tree)) == tree)
  }

  test("FunctionTransformer.fromOp and SetTransformer survive save/load") {
    val tree = {
      import Op._
      when(isnull(in(1)), lit(-1.0))
        .otherwise(sqrt(in(0)) * greatest(in(1), lit(0.05)))
    }
    val ft = FunctionTransformer.fromOp(
      Seq(Seq("price", "disc")), Seq("score"), tree)
    val st = new SetTransformer(Left("seg"), Right(Seq("AUTO", "X")), "&")
    val model = DFPipeline(ft, st,
      new Scaler(Seq("price"), Seq("p_mm"), "minmax")).fit(train)

    val dir = "target/tmp/persist_optree"
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)

    val a = model.transform(serve).orderBy("row_id").collect().toSeq
    val b = loaded.transform(serve).orderBy("row_id").collect().toSeq
    assert(a == b)
    // the reloaded SetTransformer still computes its set algebra
    val setStage = loaded.stages.collectFirst { case s: SetTransformer => s }
    assert(setStage.nonEmpty)
    assert(setStage.get.resultDF(serve).collect().isEmpty) // no AUTO in serve
  }

  test("QuantileBinner cuts survive save/load (incl. all-null column)") {
    val t2 = train.withColumn("allnull",
      lit(null).cast(DoubleType))
    val model = DFPipeline(
      new QuantileBinner(Seq("price", "allnull"),
        Seq("price_bin", "null_bin"), nBins = 4)).fit(t2)
    val dir = "target/tmp/persist_binner"
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)
    val s2 = serve.withColumn("allnull", lit(null).cast(DoubleType))
    val a = model.transform(s2).orderBy("row_id").collect().toSeq
    val b = loaded.transform(s2).orderBy("row_id").collect().toSeq
    assert(a == b)
    val lm = loaded.stages.collectFirst {
      case m: QuantileBinnerModel => m }.get
    assert(lm.cuts.head.get.length == 3 && lm.cuts(1).isEmpty)
  }

  test("SetTransformer padded-output params survive save/load") {
    val st = new SetTransformer(Left("seg"), Right(Seq("AUTO", "B")), "|",
      None, outputOperand = Some("set_out"), orderCol = Some("row_id"))
    val model = DFPipeline(st).fit(train)
    val dir = "target/tmp/persist_setpad"
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)
    val a = model.transform(train).orderBy("row_id").collect().toSeq
    val b = loaded.transform(train).orderBy("row_id").collect().toSeq
    assert(a == b)
    assert(a.head.schema.fieldNames.contains("set_out"))
  }

  test("op whitelist lowers to the same values as the Column closures") {
    val df = Seq((4.0, -2.0, "A B"), (9.0, 3.0, "C D"))
      .toDF("x", "y", "s")
    val tree = {
      import Op._
      ceil(exp(lit(1.0))) + floor(log(in(0))) +
        pow(in(1), lit(2.0)) / greatest(in(0), in(1), lit(1.0)) +
        when(element_at(split(lower(in(2)), " "), 1) === lit("a"), lit(10.0))
          .otherwise(lit(0.0))
    }
    val viaOp = FunctionTransformer.fromOp(
      Seq(Seq("x", "y", "s")), Seq("out"), tree)
      .transform(df).select("out").as[Double].collect().toSeq
    val viaCol = df.select(
      (ceil(exp(lit(1.0))) + floor(log(col("x"))) +
        pow(col("y"), lit(2.0)) / greatest(col("x"), col("y"), lit(1.0)) +
        when(element_at(split(lower(col("s")), " "), 1) === "a", 10.0)
          .otherwise(0.0)).as("out")).as[Double].collect().toSeq
    assert(viaOp == viaCol)
  }

  test("Op.mean is element-wise over operands and survives JSON") {
    val df = Seq((1.0, 3.0), (10.0, 0.0)).toDF("x", "y")
    val tree = { import Op._; mean(in(0), in(1)) }
    val reloaded = Op.fromJson(Op.toJson(tree))
    val out = FunctionTransformer.fromOp(Seq(Seq("x", "y")), Seq("m"),
      reloaded).transform(df).select("m").as[Double].collect().toSeq
    assert(out == Seq(2.0, 5.0))
  }

  test("Op.split is literal (regex metachars quoted); element_at nulls OOR") {
    val df = Seq(("a.b.c", 1), ("nodots", 2)).toDF("s", "k")
    val tree = {
      import Op._
      element_at(split(in(0), "."), 2) // Python: str.split('.')[1]
    }
    val out = FunctionTransformer.fromOp(Seq(Seq("s")), Seq("tok"), tree)
      .transform(df).select("tok").as[Option[String]].collect().toSeq
    // regex-unquoted split on "." would tokenize every char to "" — the
    // literal split yields "b"; the 1-token row nulls instead of throwing
    assert(out == Seq(Some("b"), None))
  }

  // ---- driver-resident state inline in pipeline.json ----------------------

  private def tmpDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** Rows ordered by `row_id`, doubles and floats as raw bits (NaN
    * payloads and the sign of zero count). */
  private def bitRows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("row_id").collect().toSeq.map(_.toSeq.map(rawBits))

  /** `v` with every double and float replaced by its raw bits, through
    * rows, collections, options and case classes. */
  private def rawBits(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToRawIntBits(f))
    case r: Row => r.toSeq.map(rawBits)
    case m: Map[_, _] => m.map { case (k, x) => rawBits(k) -> rawBits(x) }
    case s: Iterable[_] => s.map(rawBits).toSeq
    case o: Option[_] => o.map(rawBits)
    case p: Product => p.productPrefix +: p.productIterator.map(rawBits).toSeq
    case x => x
  }

  /** A fitted stage's state, for a bit-exact comparison. */
  private def stateOf(t: Transformer): Any = rawBits(t match {
    case m: TargetEncoderModel => (m.prior, m.states)
    case m: WoeEncoderModel => m.states
    case m: FrequencyEncoderModel => m.dicts
    case m: ScalerModel => m.stats
    case m: WinsorizerModel => m.bounds
    case m: QuantileBinnerModel => m.cuts
    case m: AggregatorModel => (m.globals, m.lookups.map(lk =>
      (lk.key, lk.outs, lk.broadcastable, lk.df.schema,
        lk.df.collect().toSeq.sortBy(_.toString))))
    case t: Imputer => t.value
    case t: RangeTransformer => t.rules
    case other => other.getClass.getName
  })

  /** `model` saved and reloaded: every stage's state and the transform of
    * `df` equal the in-memory ones bit for bit, column types included. */
  private def assertReloadsExactly(model: org.apache.spark.ml.PipelineModel,
      df: DataFrame, name: String): LoadedPipelineModel = {
    val dir = tmpDir(name)
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)
    assert(loaded.stages.map(stateOf) == model.stages.toSeq.map(stateOf))
    val (a, b) = (model.transform(df), loaded.transform(df))
    assert(b.schema == a.schema)
    assert(bitRows(b) == bitRows(a))
    loaded
  }

  private def pipelineJson(dir: String): JValue =
    parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/pipeline.json")))

  private def hasParquet(dir: String): Boolean =
    new java.io.File(s"$dir/data").exists()

  /** The fraud frame plus a float column and a region key holding null,
    * empty-string and non-ASCII (astral included) values. */
  private def fraudFrame(n: Int): DataFrame =
    FraudFixture.frame(spark, n)
      .withColumn("amount_f", (col("amount") / 3).cast("float"))
      .withColumn("region", element_at(array(lit(null).cast("string"),
        lit(""), lit("Zürich"), lit("東京"), lit("\uD83D\uDE00 x"),
        lit("plain")), (col("row_id") % 6 + 1).cast("int")))

  private def fraudAggStages = Seq(
    new Aggregator(Seq("amount_f", "hour"), Seq("r_amt_mean", "r_hour_mean"),
      Seq("region", "region"), "mean"),
    new Aggregator(Seq("amount_f"), Seq("r_cnt"), Seq("region"), "count"),
    new Aggregator(Seq("amount_f", "hour"), Seq("r_fmin", "m_hmin"),
      Seq("region", "mkey"), "min"),
    new Aggregator(Seq("amount_f", "mcc"), Seq("r_fmax", "r_mccmax"),
      Seq("region", "region"), "max"))

  test("a fraud pipeline with grouped Aggregators saves and loads with no " +
      "job, and its reload serves the same rows and types") {
    val df = fraudFrame(3000)
    val model = DFPipeline(FraudFixture.stages() ++ fraudAggStages: _*)
      .fit(df)
    val dir = tmpDir("graft_fraud_inline")
    assert(countJobs(GraftPersistence.save(model, dir)) == 0)
    var loaded: LoadedPipelineModel = null
    assert(countJobs { loaded = GraftPersistence.load(spark, dir) } == 0)
    assert(!hasParquet(dir))
    def noop(m: Transformer): Int = countJobs(m.transform(df).write
      .format("noop").mode("overwrite").save())
    assert(noop(loaded) == noop(model))
    val (a, b) = (model.transform(df), loaded.transform(df))
    assert(b.schema == a.schema)
    assert(bitRows(b) == bitRows(a))
    // the float min/max stay float, the int max int, the count long
    assert(Seq("r_fmin", "r_fmax", "r_mccmax", "r_cnt")
      .map(dtypeOf(b, _)) == Seq("float", "float", "int", "bigint"))
    // unseen and null keys stay null after the reload
    val probe = df.limit(2).withColumn("region",
      element_at(array(lit(null).cast("string"), lit("nowhere")),
        (col("row_id") % 2 + 1).cast("int")))
    assert(loaded.transform(probe).select("r_amt_mean", "r_cnt").collect()
      .forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("global min/max over byte and short columns and a decimal sum " +
      "save and reload with equal rows and column types") {
    val df = spark.range(0, 40).select(col("id").as("row_id"),
      (col("id") % 7 - 3).cast("byte").as("b"),
      (col("id") * 311 % 1000 - 500).cast("short").as("h"),
      (col("id") * 1.25 - 7).cast("decimal(12,3)").as("m"))
    val model = DFPipeline(
      new Aggregator(Seq("b", "h"), Seq("b_min", "h_min"), Nil, "min"),
      new Aggregator(Seq("b", "h"), Seq("b_max", "h_max"), Nil, "max"),
      new Aggregator(Seq("m"), Seq("m_sum"), Nil, "sum")).fit(df)
    val loaded = assertReloadsExactly(model, df, "graft_global_narrow")
    val out = loaded.transform(df)
    assert(Seq("b_min", "b_max", "h_min", "h_max", "m_sum")
      .map(dtypeOf(out, _)) == Seq("tinyint", "tinyint", "smallint",
        "smallint", dtypeOf(model.transform(df), "m_sum")))
    val r = out.head()
    assert(r.getAs[Byte]("b_min") == -3.toByte &&
      r.getAs[Short]("h_max") == df.agg(max("h")).head().getShort(0))
    assert(r.getAs[java.math.BigDecimal]("m_sum") ==
      df.agg(sum("m")).head().getDecimal(0))
  }

  test("a standalone grouped Aggregator fits in one guarded collect, and " +
      "its lookup saves inline") {
    val df = fraudFrame(2000)
    val agg = new Aggregator(Seq("amount", "hour"), Seq("c_mean", "h_mean"),
      Seq("card", "mcc"), "mean")
    var model: AggregatorModel = null
    // one guarded collect per distinct key: the aggregate's shuffle stage
    // and the collect, with no persist and no separate count
    assert(countJobs { model = agg.fit(df) } == 4)
    assert(model.lookups.forall(_.broadcastable))
    // an int-keyed lookup keeps its key type through the inline rows
    val loaded = assertReloadsExactly(DFPipeline(model).fit(df), df,
      "graft_agg_standalone")
    assert(loaded.stages.head.asInstanceOf[AggregatorModel].lookups
      .map(_.df.schema("__agg_k").dataType.simpleString) ==
      Seq("string", "int"))
  }

  test("a pipeline saved with its lookups as parquet (the earlier layout) " +
      "loads and serves identically") {
    val df = fraudFrame(1500)
    val model = DFPipeline(FraudFixture.stages() ++ fraudAggStages: _*)
      .fit(df)
    val dir = tmpDir("graft_parquet_layout")
    GraftPersistence.save(model, dir)
    // rewrite every inline lookup as the earlier layout wrote it: a
    // `path` entry and a parquet relation under data/
    val stages = (pipelineJson(dir) \ "stages").asInstanceOf[JArray].arr
    val rewritten = stages.zipWithIndex.map {
      case (st: JObject, i) if st \ "type" == JString("AggregatorModel") =>
        val m = model.stages(i).asInstanceOf[AggregatorModel]
        st.transformField { case ("lookups", JArray(lks)) =>
          "lookups" -> JArray(lks.zipWithIndex.map { case (lk, j) =>
            val rel = s"data/${i}_$j"
            m.lookups(j).df.write.parquet(s"$dir/$rel")
            lk.removeField(f => f._1 == "rows" || f._1 == "schema")
              .merge(JObject("path" -> JString(rel)))
          })
        }
      case (st, _) => st
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      s"$dir/pipeline.json"), compact(render(JObject(
        "stages" -> JArray(rewritten)))))
    val loaded = GraftPersistence.load(spark, dir)
    val (a, b) = (model.transform(df), loaded.transform(df))
    assert(bitRows(b) == bitRows(a))
    assert(b.schema.map(_.dataType) == a.schema.map(_.dataType))
  }

  test("decimal-valued and non-broadcastable lookups still round-trip " +
      "through parquet") {
    val serve = fraudFrame(800)
      .withColumn("amount_dec", col("amount").cast(DecimalType(12, 2)))
      .withColumn("mkey", concat_ws("_", col("merchant"), col("mcc")))
    val fitted = DFPipeline(
      new Aggregator(Seq("amount_dec"), Seq("m_dec_sum"), Seq("mkey"), "sum"),
      new Aggregator(Seq("amount"), Seq("c_mean"), Seq("card"), "mean"))
      .fit(serve)
    // the card lookup, as a fit over the collect guard would leave it
    val big = fitted.stages(1).asInstanceOf[AggregatorModel]
    val model = DFPipeline(fitted.stages(0),
      new AggregatorModel(big.ins, big.outs, big.groupby, big.func,
        big.globals, big.lookups.map(_.copy(broadcastable = false))))
      .fit(serve)
    val dir = tmpDir("graft_parquet_lookups")
    GraftPersistence.save(model, dir)
    val lookups = (pipelineJson(dir) \ "stages").asInstanceOf[JArray].arr
      .map(st => (st \ "lookups")(0))
    assert(lookups.map(_ \ "path") ==
      Seq(JString("data/0_0"), JString("data/1_0")))
    assert(lookups.forall(_ \ "rows" == JNothing))
    val loaded = GraftPersistence.load(spark, dir)
    assert(dtypeOf(loaded.transform(serve), "m_dec_sum") == "decimal(22,2)")
    assert(bitRows(loaded.transform(serve)) == bitRows(model.transform(serve)))
    assert(!loaded.stages(1).asInstanceOf[AggregatorModel].lookups.head
      .broadcastable)
  }

  test("NaN, infinite and negative-zero state reloads bit for bit") {
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    // a NaN whose bits differ from Double.NaN (the sign bit set, as x86
    // arithmetic makes them)
    val nanNeg = java.lang.Double.longBitsToDouble(0xfff8000000000000L)
    val df = Seq[(Long, String, Double, Double, Float)](
      (1L, "a", 1.0, nan, 1.5f), (2L, "a", 2.0, 3.0, -0.0f),
      (3L, "b", inf, inf, Float.NaN), (4L, "b", -inf, 1.0, 2.5f),
      (5L, "c", -0.0, -inf, Float.PositiveInfinity),
      (6L, "c", 4.0, 2.0, Float.NegativeInfinity),
      (7L, "d", -0.0, 0.0, 3.5f), (8L, null, 5.0, nan, 0.5f))
      .toDF("row_id", "k", "x", "y", "f")
    val model = DFPipeline(
      new TargetEncoder(Seq("k"), Seq("k_te"), targetCol = "y",
        idCol = "row_id", nFolds = 2, smoothing = 1.0),
      new Scaler(Seq("x", "y"), Seq("x_std", "y_std"), "standard"),
      new Scaler(Seq("x"), Seq("x_min"), "min"),
      new Winsorizer(Seq("x", "y"), Seq("x_w", "y_w"), 0.0, 1.0),
      new QuantileBinner(Seq("x", "y"), Seq("x_bin", "y_bin"), nBins = 4),
      new Aggregator(Seq("y"), Seq("y_gmean"), Nil, "mean"),
      new Aggregator(Seq("x", "f"), Seq("k_xmin", "k_fmax"), Seq("k", "k"),
        "min"),
      new Aggregator(Seq("y"), Seq("k_ymax"), Seq("k"), "max"),
      new Imputer(Seq("f"), Seq("f_imp"), None, Float.NaN),
      new RangeTransformer(Seq("x"), Seq("x_r"),
        Seq(((Some(inf), Some(-inf)), nanNeg))))
      .fit(df)
    // WOE and frequency maps cannot be fitted to non-finite values
    val hand = DFPipeline(
      new WoeEncoderModel(Seq("k"), Seq("k_woe"), Seq(SmallWoe(Map(
        "a" -> nan, "b" -> inf, "c" -> -inf, "d" -> -0.0)))),
      new FrequencyEncoderModel(Seq("k"), Seq("k_freq"), normalize = true,
        Seq(SmallFreq(Map("a" -> nanNeg, "b" -> -0.0,
          "c" -> java.lang.Double.longBitsToDouble(0x7ff0000000000001L),
          "d" -> Double.MinPositiveValue))))).fit(df)
    val te = model.stages.head.asInstanceOf[TargetEncoderModel]
    assert(te.prior.isNaN)
    assertReloadsExactly(model, df, "graft_nonfinite_fit")
    assertReloadsExactly(hand, df, "graft_nonfinite_hand")
  }
}
