package graft

import scala.reflect.runtime.universe.TypeTag

import graft.functions.{DictLookup, DictTable, GraftFunctions}
import graft.operators._
import org.apache.spark.ml.PipelineStage
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The fraud feature pipeline's input shape: > 1000 distinct cards, a
  * composite merchant key, a 0/1 label, and nulls in card and country. */
object FraudFixture {
  def frame(spark: SparkSession, n: Int): DataFrame =
    spark.range(0, n, 1, 3).select(
      col("id").as("row_id"),
      when(col("id") % 211 === 0, null)
        .otherwise(concat(lit("c"), (col("id") * 7919 % 1500).cast("string")))
        .as("card"),
      concat(lit("m"), (col("id") * 31 % 60).cast("string")).as("merchant"),
      (col("id") * 17 % 12).cast("int").as("mcc"),
      when(col("id") % 97 === 0, null)
        .otherwise(concat(lit("k"), (col("id") * 13 % 15).cast("string")))
        .as("country"),
      round(exp((col("id") * 37 % 1000) / 100.0), 2).as("amount"),
      (col("id") % 24).cast("int").as("hour"),
      when(col("id") * 101 % 17 === 0, 1).otherwise(0).as("label"))

  def stages(): Seq[PipelineStage] = Seq(
    new StringConcatenator(Seq(Seq("merchant", "mcc")), Seq("mkey"), "_"),
    new ComplementLabelEncoder(Seq("card", "mkey"),
      Seq("card_code", "mkey_code")),
    new FrequencyEncoder(Seq("country", "mkey"),
      Seq("country_freq", "mkey_freq"), normalize = true),
    new Aggregator(Seq("amount"), Seq("mkey_amount_mean"), Seq("mkey"),
      "mean"),
    new TargetEncoder(Seq("mkey"), Seq("mkey_te"), targetCol = "label",
      idCol = "row_id"),
    new HashingEncoder(Seq("card"), Seq("card_bucket"), 256),
    new Scaler(Seq("amount", "hour"), Seq("amount_std", "hour_std"),
      "standard"),
    new OneHotEncoder(Seq("country")))
}

/** [[DictLookup]], the hash probe that applies driver-resident encoder
  * state. Every encoder's output equals, bit for bit, the two lookups it
  * replaces — a literal map read by `try_element_at` and a broadcast hash
  * join of the dictionary as a local relation — under generated code and
  * interpreted, for null, unseen and non-ASCII keys, NaN values, an empty
  * dictionary and dictionaries of 1 001 and 100 k entries; a reloaded
  * pipeline serves the same rows; and the fraud pipeline's transform
  * plans as one codegen'd stage that runs one job. */
class DictLookupSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** `body` once under generated code only (whole-stage on), once
    * interpreted (whole-stage off, no expression codegen). */
  private def inBothModes(body: String => Unit): Unit =
    for ((mode, wholeStage) <- Seq(("CODEGEN_ONLY", "true"),
        ("NO_CODEGEN", "false"))) {
      val keys = Seq("spark.sql.codegen.factoryMode",
        "spark.sql.codegen.wholeStage")
      val before = keys.map(spark.conf.getOption)
      spark.conf.set(keys(0), mode)
      spark.conf.set(keys(1), wholeStage)
      try body(mode)
      finally keys.zip(before).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Rows ordered by `row_id`, doubles as raw bits (NaN payloads and the
    * sign of zero count). */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("row_id").collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })

  private def same(mode: String, what: String)(got: DataFrame,
      want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, s"$mode $what columns")
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType),
      s"$mode $what types")
    assert(bits(got) == bits(want), s"$mode $what")
  }

  // ---- the two lookups the expression replaces ---------------------------

  /** A `typedLit` map read by `try_element_at` (a per-row scan). */
  private def literalMap[T: TypeTag](df: DataFrame, out: String,
      key: Column, m: Map[String, T], default: Column,
      finish: Column => Column): DataFrame = {
    val hit = if (m.isEmpty) lit(null) else try_element_at(typedLit(m), key)
    df.withColumn(out, finish(coalesce(hit, default)))
  }

  /** A broadcast hash join of the dictionary as a local relation. */
  private def joined[T: TypeTag](df: DataFrame, out: String, key: Column,
      m: Map[String, T], default: Column,
      finish: Column => Column): DataFrame = {
    val lookup = spark.createDataset(m.toSeq)(
      ExpressionEncoder[(String, T)]()).toDF("__k", "__v")
    df.join(broadcast(lookup), key === col("__k"), "left")
      .withColumn(out, finish(coalesce(col("__v"), default)))
      .drop("__k", "__v")
  }

  /** `m` applied by the replaced lookup `kind`. */
  private def replaced[T: TypeTag](kind: String)(df: DataFrame, out: String,
      key: Column, m: Map[String, T], default: Column,
      finish: Column => Column): DataFrame =
    if (kind == "join") joined(df, out, key, m, default, finish)
    else literalMap(df, out, key, m, default, finish)

  /** The replaced lookups to compare with: the literal scan only where it
    * is cheap. */
  private def kinds(m: Map[String, _]): Seq[String] =
    if (m.size <= 2000) Seq("join", "literal") else Seq("join")

  // ---- fixtures ----------------------------------------------------------

  /** `n` rows on 3 partitions (not a local relation, so the projection runs
    * in tasks): `c` has `card` distinct values, with nulls, non-ASCII and
    * astral keys; `e` is all null; `y` and `label` are 0/1 targets; `amt`
    * has NaNs. */
  private def train(n: Int, card: Int): DataFrame = {
    val odd = Seq("été", "中文", "🙂x", "Übung")
    val rows = (0 until n).map { i =>
      val c = if (i % 53 == 7) null
        else if (i % 11 == 3) odd(i % odd.size)
        else s"v${i % card}"
      Row(i.toLong, c, null, ((i * 7) % 3 % 2).toDouble, (i * 13) % 3 % 2,
        if (i % 37 == 1) Double.NaN else (i % 97) * 1.25)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("row_id", LongType),
        StructField("c", StringType), StructField("e", StringType),
        StructField("y", DoubleType), StructField("label", IntegerType),
        StructField("amt", DoubleType))))
  }

  /** Serving rows: the training keys plus unseen ones and nulls. */
  private def serve(fit: DataFrame): DataFrame = {
    val extra = Seq(Row(-1L, "nope", null, 1.0, 1, 2.0),
      Row(-2L, null, null, 0.0, 0, 1.0), Row(-3L, "ÉTÉ", null, 1.0, 0, 3.0),
      Row(-4L, "", null, 0.0, 1, 4.0))
    fit.union(spark.createDataFrame(
      spark.sparkContext.parallelize(extra, 2), fit.schema))
  }

  private val sizes = Seq(("12 keys", 400, 12), ("1 001 keys", 2600, 1001),
    ("100 k keys", 100000, 100000))

  // ---- the expression ----------------------------------------------------

  test("DictLookup on double keys matches a join: -0.0 is 0.0, NaN is NaN, " +
      "null never matches; an empty table misses everything") {
    val keys = Seq(Some(0.0), Some(-0.0), Some(Double.NaN), None, Some(1.5),
      Some(2.5))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        keys.zipWithIndex.map { case (k, i) => Row(i.toLong, k.map(d => d: Any).orNull) }, 2),
      StructType(Seq(StructField("row_id", LongType),
        StructField("k", DoubleType))))
    val entries = Seq[(Any, Any)](-0.0 -> 10.0, Double.NaN -> 20.0,
      1.5 -> Double.NaN)
    val tableRel = entries.map { case (k, v) =>
      (k.asInstanceOf[Double], v.asInstanceOf[Double]) }.toDF("__k", "__v")
    val want = df.join(broadcast(tableRel), col("k") === col("__k"), "left")
      .select(col("row_id"), col("__v").as("v"))
    val bc = spark.sparkContext.broadcast(
      DictTable(entries, DoubleType, DoubleType))
    val empty = spark.sparkContext.broadcast(
      DictTable(Nil, DoubleType, DoubleType))
    inBothModes { mode =>
      same(mode, "double keys")(df.select(col("row_id"),
        GraftFunctions.dict_lookup(col("k"), bc, DoubleType).as("v")), want)
      assert(df.select(GraftFunctions.dict_lookup(col("k"), empty,
        DoubleType)).collect().forall(_.isNullAt(0)), mode)
    }
  }

  test("DictLookup prints its entry count, never its entries") {
    val m = (1 to 5000).map(i => s"secret$i" -> i).toMap
    val bc = spark.sparkContext.broadcast(DictTable(m, StringType,
      IntegerType))
    val e = DictLookup(
      org.apache.spark.sql.graft.Bridge.expression(col("k")), bc, IntegerType)
    assert(e.toString.contains("5000 entries") && !e.toString.contains("secret"))
    assert(e.sql.contains("5000 entries") && !e.sql.contains("secret"))
    val p = Seq("secret1").toDF("k")
      .select(GraftFunctions.dict_lookup(col("k"), bc, IntegerType))
      .queryExecution.toString
    assert(!p.contains("secret2"), p.take(600))
  }

  // ---- each encoder equals both replaced lookups -------------------------

  for ((label, n, card) <- sizes) {
    test(s"ComplementLabelEncoder and FrequencyEncoder equal the literal " +
        s"map and the join, $label") {
      val fit = train(n, card)
      val df = serve(fit)
      val cle = new ComplementLabelEncoder(Seq("c"), Seq("out")).fit(fit)
      val SmallDict(m, sent) = cle.dicts.head: @unchecked
      val key = coalesce(col("c").cast(StringType),
        lit(ComplementLabelEncoder.Sentinel))
      val raw = new FrequencyEncoder(Seq("c"), Seq("out")).fit(fit)
      val norm = new FrequencyEncoder(Seq("c"), Seq("out"), normalize = true)
        .fit(fit)
      val empty = new FrequencyEncoder(Seq("e"), Seq("out")).fit(fit)
      assert(empty.maps.head.isEmpty)
      inBothModes { mode =>
        for (k <- kinds(m)) same(mode, s"cle $k")(cle.transform(df),
          replaced(k)(df, "out", key, m, lit(sent), _.cast(IntegerType)))
        for (k <- kinds(raw.maps.head)) same(mode, s"freq $k")(
          raw.transform(df), replaced(k)(df, "out", col("c"), raw.maps.head,
            lit(1.0), _.cast(LongType)))
        for (k <- kinds(norm.maps.head)) same(mode, s"freq normalized $k")(
          norm.transform(df), replaced(k)(df, "out", col("c"),
            norm.maps.head, lit(0.0), _.cast(DoubleType)))
        for (k <- kinds(Map.empty)) same(mode, s"freq empty $k")(
          empty.transform(df), replaced(k)(df, "out", col("e"),
            Map.empty[String, Double], lit(1.0), _.cast(LongType)))
      }
    }

    test(s"TargetEncoder (serve and transformTrain) and WoeEncoder equal " +
        s"the literal map and the join, $label") {
      val fit = train(n, card)
      val df = serve(fit)
      val te = new TargetEncoder(Seq("c"), Seq("out"), targetCol = "y",
        idCol = "row_id").fit(fit)
      val st = te.states.head.asInstanceOf[SmallTarget]
      val woe = new WoeEncoder(Seq("c"), Seq("out"), "label").fit(fit)
      val SmallWoe(w) = woe.states.head: @unchecked
      val v = col("c").cast(StringType)
      val f = TargetEncoder.foldOf(col("row_id"), te.nFolds)
      inBothModes { mode =>
        for (k <- kinds(st.full)) same(mode, s"te serve $k")(te.transform(df),
          replaced(k)(df, "out", v, st.full, lit(te.prior),
            _.cast(DoubleType)))
        // transformTrain: (value, fold) first, then the value, then prior
        for (k <- kinds(st.oof)) {
          val oof = replaced(k)(df, "__o",
            concat(v, lit("\u0001"), f.cast(StringType)), st.oof, lit(null),
            identity)
          val want = replaced(k)(oof, "__f", v, st.full, lit(te.prior),
              identity)
            .withColumn("out", coalesce(col("__o"), col("__f"),
              lit(te.prior)).cast(DoubleType))
            .drop("__o", "__f")
          same(mode, s"te train $k")(te.transformTrain(df), want)
        }
        for (k <- kinds(w)) same(mode, s"woe $k")(woe.transform(df),
          replaced(k)(df, "out", v, w, lit(0.0), _.cast(DoubleType)))
      }
    }

    test(s"grouped Aggregator equals its broadcast join, $label") {
      val fit = train(n, card)
      val df = serve(fit)
      val model = new Aggregator(Seq("amt", "y"), Seq("mean_amt", "n_y"),
        Seq("c", "c"), "mean").fit(fit)
      val lk = model.lookups.head
      assert(lk.broadcastable)
      assert(lk.df.collect().exists(_.getDouble(1).isNaN), "a NaN value")
      val want = df.join(broadcast(lk.df), col("c") === col("__agg_k"), "left")
        .withColumn("mean_amt", col("__agg_v_mean_amt"))
        .withColumn("n_y", col("__agg_v_n_y"))
        .drop("__agg_k", "__agg_v_mean_amt", "__agg_v_n_y")
      inBothModes { mode =>
        same(mode, "aggregator")(model.transform(df), want)
      }
    }
  }

  test("a reloaded pipeline serves the same rows; transforming it again " +
      "plans without a job") {
    val fit = train(2600, 1001)
    val df = serve(fit)
    val model = DFPipeline(
      new ComplementLabelEncoder(Seq("c"), Seq("c_code")),
      new FrequencyEncoder(Seq("c"), Seq("c_freq"), normalize = true),
      new TargetEncoder(Seq("c"), Seq("c_te"), targetCol = "y",
        idCol = "row_id"),
      new WoeEncoder(Seq("c"), Seq("c_woe"), "label"),
      new Aggregator(Seq("amt"), Seq("c_amt"), Seq("c"), "mean")).fit(fit)
    val dir = java.nio.file.Files.createTempDirectory("graft_dict").toString
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)
    inBothModes { mode =>
      same(mode, "reload")(loaded.transform(df), model.transform(df))
    }
    // the tables are built: transforming again plans without a job
    assert(countJobs { loaded.transform(df); () } == 0)
  }

  // ---- the fraud pipeline's plan -----------------------------------------

  test("the fraud pipeline's transform: no join, no exchange, its lookups " +
      "inside whole-stage codegen, one job, a short plan string") {
    val df = FraudFixture.frame(spark, 3000)
    val model = DFPipeline(FraudFixture.stages(): _*).fit(df)
    val out = model.transform(df)
    val plan = out.queryExecution.executedPlan
    val nodes = collect(plan) { case p: SparkPlan => p }
    val names = nodes.map(_.nodeName)
    assert(!names.exists(n => n.contains("Join") || n.contains("Exchange")),
      plan.toString.take(2000))
    def lookups(p: SparkPlan) = p.expressions.flatMap(_.collect {
      case d: DictLookup => d })
    val all = nodes.flatMap(lookups)
    val inCodegen = collect(plan) { case w: WholeStageCodegenExec =>
      collect(w.child) { case p: SparkPlan => p }.flatMap(lookups) }.flatten
    // card, mkey (codes), country, mkey (freq), mkey (mean), mkey (te)
    assert(all.size == 6 && inCodegen.size == all.size, plan.toString
      .take(2000))
    val jobs = countJobs {
      out.write.format("noop").mode("overwrite").save()
    }
    assert(jobs == 1, s"$jobs jobs")
    val text = out.queryExecution.toString
    assert(text.length < 16000, s"${text.length} characters")
  }
}
