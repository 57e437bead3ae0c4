package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

private[operators] object Lookup {
  /** Above this size a fitted dictionary is applied as a broadcast hash join
    * of a lookup relation instead of a literal in-plan map —
    * `element_at` on a literal `MapType` is a per-row linear scan, fine for
    * small encoder dictionaries, wrong for high-cardinality keys
    * (SURVEY §7.1.3). */
  val LiteralMapMax = 1000

  /** Apply `value -> result` dictionary to `key(in)`, null-free keys assumed
    * handled by caller; misses become `default`. */
  def withLookup[T: scala.reflect.runtime.universe.TypeTag](
      df: DataFrame,
      out: String,
      key: Column,
      m: Map[String, T],
      default: Column,
      finish: Column => Column,
      tag: String): DataFrame = {
    if (m.size <= LiteralMapMax) {
      val hit =
        if (m.isEmpty) lit(null)
        else try_element_at(typedLit(m), key)
      df.withColumn(out, finish(coalesce(hit, default)))
    } else {
      val spark = df.sparkSession
      val k = s"__${tag}_k"
      val v = s"__${tag}_v"
      val enc = org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(String, T)]()
      val lookup = spark.createDataset(m.toSeq)(enc).toDF(k, v)
      df.join(broadcast(lookup), key === col(k), "left")
        .withColumn(out, finish(coalesce(col(v), default)))
        .drop(k, v)
    }
  }

  /** One distributed pass over `df` yielding the distinct (columnIndex,
    * stringValue) pairs for all `cols` — a single shuffle fits every
    * column's dictionary instead of one job per column. */
  def distinctPairs(df: DataFrame, cols: Seq[String]): Array[Row] =
    distinctPairsDF(df, cols).collect()

  def distinctPairsDF(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(
        posexplode(array(cols.map(c => col(c).cast(StringType)): _*))
          .as(Seq("__i", "__v")))
      .distinct()
}

/** A fitted per-column dictionary: driver-resident map for normal
  * cardinalities, distributed lookup relation when the vocabulary is too
  * large to collect (SCALE.md known-limit #1 — the 100 TB path). */
sealed trait Dict extends Serializable
case class SmallDict(m: Map[String, Int], sentinelCode: Int) extends Dict
case class BigDict(lookup: DataFrame, sentinelCode: Int) extends Dict

/** Label encoding with an always-present unseen/missing sentinel class.
  * Reference: dfpipeline/ComplementLabelEncoder.py:39-78.
  *
  * fit (per column, values stringified like the reference's `astype(str)`):
  * null → `"extra_category_"`; classes = lexicographically sorted distinct
  * values; if the sentinel wasn't among them it is APPENDED at the end
  * (unsorted — ComplementLabelEncoder.py:61-63), so its code is
  * `classes.size` when the training data had no missing values. transform:
  * value → code, with null AND any unseen value collapsing to the sentinel
  * code; output is int (int32, tests/test_le.py:32).
  *
  * NOT Spark's `StringIndexer` (frequency-ordered, no sentinel). Dictionaries
  * ≤1000 entries ride the plan as literal maps; larger ones become broadcast
  * hash joins. Ordering note: Scala/Java string sort is UTF-16 code-unit
  * order vs Python's codepoint order — they differ only beyond the BMP.
  */
class ComplementLabelEncoder(
    inputs: Seq[String] = Nil,
    outputs: Seq[String] = Nil,
    maxCollect: Long = ComplementLabelEncoder.DefaultMaxCollect)
    extends GraftEstimator[ComplementLabelEncoderModel] {
  // output columns are statically known (int codes) — declare them so
  // Pipeline.fit's upfront schema validation lets downstream stages see them
  override def transformSchema(schema: StructType): StructType = {
    val ins = GraftSchema.resolve(inputs, schema)
    val outs = if (outputs.isEmpty) ins else outputs
    outs.foldLeft(schema)((s, o) => GraftSchema.withField(s, o, IntegerType))
  }

  /** (inputs, outputs, maxCollect) for [[FitFusion]]'s shared-scan fit. */
  private[operators] def fuseInfo: (Seq[String], Seq[String], Long) =
    (inputs, outputs, maxCollect)

  override def fitDF(df: DataFrame): ComplementLabelEncoderModel = {
    val ins = GraftSchema.resolve(inputs, df)
    val outs = if (outputs.isEmpty) ins else outputs
    val S = ComplementLabelEncoder.Sentinel
    val pairs = Lookup.distinctPairsDF(df, ins).persist()
    try {
      val sizes = pairs.groupBy("__i").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val dicts = ins.indices.map { i =>
        if (sizes.getOrElse(i, 0L) <= maxCollect) {
          val vals = pairs.filter(col("__i") === i).collect()
            .map(r => if (r.isNullAt(1)) S else r.getString(1))
            .distinct.sorted
          val classes = if (vals.contains(S)) vals else vals :+ S
          val m = classes.zipWithIndex.toMap
          SmallDict(m, m(S))
        } else {
          // 100 TB path: vocabulary never touches the driver. Missing/null
          // folds into the sentinel value; codes come from a distributed
          // sort + zipWithIndex (stable, matches the lexicographic
          // contract); a training set with no missing values appends the
          // sentinel AFTER the sorted classes (its code = vocab size, which
          // is exactly what lookup misses default to at transform time).
          // Cost note: zipWithIndex is inherently TWO jobs per big column
          // (one to size the sorted partitions, one to stamp offsets) plus
          // the hasMissing probe — the price of global contiguous codes
          // without a driver round trip; the shared `pairs` cache keeps the
          // underlying distinct-scan at one pass for all columns.
          val values = pairs.filter(col("__i") === i)
            .select(coalesce(col("__v"), lit(S)).as("value"))
            .distinct()
          val hasMissing = values.filter(col("value") === S).count() > 0
          val sorted = values.sort("value")
          val spark = df.sparkSession
          val indexed = spark.createDataFrame(
            sorted.rdd.zipWithIndex.map { case (r, idx) =>
              Row(r.getString(0), idx.toInt)
            },
            StructType(Seq(StructField("value", StringType),
              StructField("code", IntegerType))))
            .persist()
          val n = indexed.count() // materialize before pairs unpersists
          val sentCode =
            if (hasMissing)
              indexed.filter(col("value") === S).head().getInt(1)
            else n.toInt
          BigDict(indexed, sentCode)
        }
      }
      new ComplementLabelEncoderModel(ins, outs, dicts)
    } finally { pairs.unpersist(); () }
  }
}

object ComplementLabelEncoder {
  val Sentinel = "extra_category_"
  val DefaultMaxCollect = 1000000L
}

class ComplementLabelEncoderModel(
    val ins: Seq[String],
    val outs: Seq[String],
    val dicts: Seq[Dict])
    extends GraftModel[ComplementLabelEncoderModel] {
  /** Small-dict maps (tests/persistence); throws on a BigDict column. */
  def maps: Seq[Map[String, Int]] =
    dicts.map { case SmallDict(m, _) => m
                case _: BigDict => throw new IllegalStateException(
                  "distributed dictionary has no driver-side map") }

  override def transformDF(df: DataFrame): DataFrame = {
    val S = ComplementLabelEncoder.Sentinel
    ins.zip(outs).zip(dicts).foldLeft(df) { case (d, ((in, out), dict)) =>
      val key = coalesce(col(in).cast(StringType), lit(S))
      dict match {
        case SmallDict(m, sentCode) =>
          Lookup.withLookup[Int](d, out, key, m,
            lit(sentCode), _.cast(IntegerType), s"cle_$out")
        case BigDict(lookup, sentCode) =>
          // no broadcast hint: the relation may be huge; AQE decides
          val l = lookup.withColumnRenamed("value", s"__cle_k_$out")
            .withColumnRenamed("code", s"__cle_v_$out")
          d.join(l, key === col(s"__cle_k_$out"), "left")
            .withColumn(out,
              coalesce(col(s"__cle_v_$out"), lit(sentCode))
                .cast(IntegerType))
            .drop(s"__cle_k_$out", s"__cle_v_$out")
      }
    }
  }
}

/** Frequency (count) encoding. Reference: dfpipeline/FrequencyEncoder.py:
  * 39-66. fit: per-column `value_counts` (nulls excluded), optionally
  * normalized by the column's non-null count. transform: value → count;
  * unseen values and nulls default to 1 (raw, long) or 0.0 (normalized,
  * double). One distributed groupBy pass fits every column's map.
  */
/** A fitted value→frequency dictionary (double: exact for counts < 2^53,
  * and the ratio for the normalized mode). */
sealed trait FreqDict extends Serializable
case class SmallFreq(m: Map[String, Double]) extends FreqDict
case class BigFreq(lookup: DataFrame) extends FreqDict

class FrequencyEncoder(
    inputs: Seq[String],
    outputs: Seq[String],
    normalize: Boolean = false,
    maxCollect: Long = ComplementLabelEncoder.DefaultMaxCollect)
    extends GraftEstimator[FrequencyEncoderModel] {
  require(inputs.length == outputs.length)

  /** (inputs, outputs, normalize, maxCollect) for [[FitFusion]]. */
  private[operators] def fuseInfo: (Seq[String], Seq[String], Boolean, Long) =
    (inputs, outputs, normalize, maxCollect)

  override def transformSchema(schema: StructType): StructType =
    outputs.foldLeft(schema)((s, o) => GraftSchema.withField(s, o,
      if (normalize) DoubleType else LongType))

  override def fitDF(df: DataFrame): FrequencyEncoderModel = {
    val countsDF = df
      .select(
        posexplode(array(inputs.map(c => col(c).cast(StringType)): _*))
          .as(Seq("__i", "__v")))
      .filter(col("__v").isNotNull)
      .groupBy("__i", "__v").agg(count(lit(1)).as("__c"))
      .persist()
    try {
      val sizes = countsDF.groupBy("__i").agg(
          count(lit(1)).as("n"), sum("__c").as("total"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val dicts = inputs.indices.map { i =>
        val (n, total) = sizes.getOrElse(i, (0L, 0L))
        if (n <= maxCollect) {
          val rows = countsDF.filter(col("__i") === i).collect()
          SmallFreq(
            if (normalize)
              rows.map(r => r.getString(1) -> r.getLong(2) / total.toDouble)
                .toMap
            else rows.map(r => r.getString(1) -> r.getLong(2).toDouble).toMap)
        } else {
          // 100 TB path: the frequency table stays distributed
          val v = if (normalize) col("__c") / lit(total.toDouble)
                  else col("__c").cast(DoubleType)
          val lookup = countsDF.filter(col("__i") === i)
            .select(col("__v").as("value"), v.as("freq")).persist()
          lookup.count() // materialize before countsDF unpersists
          BigFreq(lookup)
        }
      }
      new FrequencyEncoderModel(inputs, outputs, normalize, dicts)
    } finally { countsDF.unpersist(); () }
  }
}

class FrequencyEncoderModel(
    val ins: Seq[String],
    val outs: Seq[String],
    val normalize: Boolean,
    val dicts: Seq[FreqDict])
    extends GraftModel[FrequencyEncoderModel] {
  def maps: Seq[Map[String, Double]] =
    dicts.map { case SmallFreq(m) => m
                case _: BigFreq => throw new IllegalStateException(
                  "distributed frequency table has no driver-side map") }

  override def transformDF(df: DataFrame): DataFrame =
    ins.zip(outs).zip(dicts).foldLeft(df) { case (d, ((in, out), dict)) =>
      val key = col(in).cast(StringType)
      val default = if (normalize) lit(0.0) else lit(1.0)
      val finish: Column => Column =
        if (normalize) _.cast(DoubleType) else _.cast(LongType)
      dict match {
        case SmallFreq(m) =>
          Lookup.withLookup[Double](d, out, key, m, default, finish,
            s"fe_$out")
        case BigFreq(lookup) =>
          val l = lookup.withColumnRenamed("value", s"__fe_k_$out")
            .withColumnRenamed("freq", s"__fe_v_$out")
          d.join(l, key === col(s"__fe_k_$out"), "left")
            .withColumn(out, finish(coalesce(col(s"__fe_v_$out"), default)))
            .drop(s"__fe_k_$out", s"__fe_v_$out")
      }
    }
}

/** Training-time aggregate features. Reference: dfpipeline/Aggregator.py:
  * 57-97.
  *
  * Global mode (`groupby` empty): fit computes one scalar per input
  * (`mean`/`std`/`count`/...) and transform broadcasts it as a constant
  * column. Grouped mode: `groupby` is a PARALLEL list (one key column per
  * input, not a composite key); fit materializes the per-key aggregate as a
  * small relation and transform is a broadcast-hash-join lookup of the
  * TRAINING-time aggregate — not a recomputation — with unseen keys (and
  * null keys, which pandas groupby drops) yielding null.
  *
  * pandas `std` is sample std (ddof=1) → `stddev_samp`; `median` is exact →
  * sort-based `percentile` (SURVEY §4). The fitted relation stays a
  * DataFrame when huge (no driver collect above [[Aggregator.CollectMax]]) —
  * the 100 TB path joins it with AQE picking the strategy.
  */
class Aggregator(
    inputs: Seq[String],
    outputs: Seq[String],
    groupby: Seq[String] = Nil,
    func: String,
    customAgg: Option[Column => Column] = None)
    extends GraftEstimator[AggregatorModel] {
  require(inputs.length == outputs.length)
  require(groupby.isEmpty || groupby.length == inputs.length)

  private def aggOf(c: Column): Column =
    customAgg.fold(Aggregator.aggExpr(func, c))(f => f(c))

  /** (inputs, outputs, groupby, func) for [[FitFusion]]. */
  private[operators] def fuseInfo: (Seq[String], Seq[String], Seq[String], String) =
    (inputs, outputs, groupby, func)
  private[operators] def fuseAgg(c: Column): Column = aggOf(c)

  override def transformSchema(schema: StructType): StructType =
    inputs.zip(outputs).foldLeft(schema) { case (s, (in, out)) =>
      val dt = func match {
        case "count" | "nunique" | "approx_nunique" => LongType
        case "min" | "max" if s.fieldNames.contains(in) => s(in).dataType
        case "sum" if s.fieldNames.contains(in) => s(in).dataType match {
          case ByteType | ShortType | IntegerType | LongType => LongType
          case d: DecimalType => d // approximate: sum widens precision
          case _ => DoubleType
        }
        case _ => DoubleType
      }
      GraftSchema.withField(s, out, dt)
    }

  override def fitDF(df: DataFrame): AggregatorModel = {
    if (groupby.isEmpty) {
      val aggs = inputs.map(c => aggOf(col(c)))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      new AggregatorModel(inputs, outputs, Nil, func,
        inputs.indices.map(row.get), Nil)
    } else {
      // one aggregation pass and one transform-time join PER DISTINCT KEY:
      // multiple inputs grouped by the same key (the fraud shape: mean and
      // std of several columns by one composite key) fuse into a single
      // relation instead of one shuffle + join per input
      val byKey = inputs.zip(outputs).zip(groupby)
        .map { case ((in, out), key) => (key, in, out) }
      val lookups = groupby.distinct.map { key =>
        val cols = byKey.filter(_._1 == key)
        val aggs = cols.map { case (_, in, out) =>
          aggOf(col(in)).as(s"__agg_v_$out")
        }
        val aggDF = df.filter(col(key).isNotNull)
          .groupBy(col(key).as("__agg_k"))
          .agg(aggs.head, aggs.tail: _*)
        // persist so the size probe and the fetch (or the transform-time
        // join, in the big case) read the materialized aggregate — NOT a
        // limit(): a global limit funnels the relation through one task
        val cached = aggDF.persist()
        val n = cached.count()
        if (n <= Aggregator.CollectMax) {
          val local = AggLookup(key, cols.map(_._3),
            df.sparkSession.createDataFrame(
              java.util.Arrays.asList(cached.collect(): _*), aggDF.schema),
            broadcastable = true)
          cached.unpersist()
          local
        } else AggLookup(key, cols.map(_._3), cached, broadcastable = false)
      }
      new AggregatorModel(inputs, outputs, groupby, func, Nil, lookups)
    }
  }
}

object Aggregator {
  val CollectMax = 1000000L

  /** The reference accepts arbitrary callables for `func`
    * (`Series.aggregate`, Aggregator.py:73-74); the Spark analog is a
    * Column-expression aggregate — codegen'd like the named ones. The
    * `name` labels the stage (and schema: custom aggregates declare
    * DoubleType unless the name matches a known func). */
  def custom(
      inputs: Seq[String], outputs: Seq[String], groupby: Seq[String],
      name: String, agg: Column => Column): Aggregator =
    new Aggregator(inputs, outputs, groupby, name, Some(agg))
  def aggExpr(f: String, c: Column): Column = f match {
    case "mean"    => avg(c)
    case "std"     => stddev_samp(c)
    case "var"     => var_samp(c)
    case "count"   => count(c)
    case "sum"     => sum(c)
    case "min"     => min(c)
    case "max"     => max(c)
    case "median"  => percentile(c, lit(0.5))
    case "nunique" => count_distinct(c)
    // sketch variants for 100 TB fits, beyond the reference surface:
    // exact nunique is a full distinct shuffle per key and exact median a
    // sort — HyperLogLog++ (~2% default error) and a quantile sketch
    // combine map-side in fixed memory instead. Same fitted-lookup serving.
    case "approx_nunique" => approx_count_distinct(c)
    case "approx_median" =>
      percentile_approx(c, lit(0.5), lit(10000)).cast("double")
    case other     => throw new IllegalArgumentException(s"func $other")
  }
}

/** One fitted per-key aggregate relation: columns `__agg_k` plus one
  * `__agg_v_<out>` per served output. */
case class AggLookup(
    key: String, outs: Seq[String], df: DataFrame, broadcastable: Boolean)

class AggregatorModel(
    val ins: Seq[String],
    val outs: Seq[String],
    val groupby: Seq[String],
    val func: String,
    val globals: Seq[Any],
    val lookups: Seq[AggLookup])
    extends GraftModel[AggregatorModel] {
  override def transformDF(df: DataFrame): DataFrame =
    if (groupby.isEmpty) {
      outs.zip(globals).foldLeft(df) { case (d, (out, v)) =>
        d.withColumn(out, lit(v))
      }
    } else {
      lookups.foldLeft(df) { case (d, lk) =>
        val right = if (lk.broadcastable) broadcast(lk.df) else lk.df
        val joined = d.join(right, col(lk.key) === col("__agg_k"), "left")
        lk.outs.foldLeft(joined)((dd, o) =>
            dd.withColumn(o, col(s"__agg_v_$o")))
          .drop("__agg_k" +: lk.outs.map(o => s"__agg_v_$o"): _*)
      }
    }
}

/** Column scaling. Reference: dfpipeline/Scaler.py:42-78 (sklearn
  * MinMaxScaler / StandardScaler / plain min-subtraction).
  *
  * fit: one aggregate pass collects min/max/mean/population-std for every
  * input (sklearn ddof=0 — vs pandas/Aggregator sample std, SURVEY §2.1 #7).
  * transform: `min` → `x - min` keeping the column's type (int stays int,
  * tests/test_scale.py:48-51); `minmax` → `(x-min)/(max-min)` as double
  * (degenerate max==min → `x-min`, sklearn's handle-zeros rule);
  * `standard` → `(x-mean)/std` with std==0 treated as 1.
  *
  * Extension beyond the reference: `robust` → `(x - median) / IQR`
  * (sklearn RobustScaler semantics, IQR==0 treated as 1) — the
  * outlier-immune scaling for heavy-tailed features; quartiles come from
  * [[ExactStats.quantiles]] (exact, distributed, no value→count buffers),
  * so the fit is multi-pass and opts out of [[FitFusion]].
  */
class Scaler(inputs: Seq[String], outputs: Seq[String], strategy: String)
    extends GraftEstimator[ScalerModel] {
  require(inputs.length == outputs.length)

  /** (inputs, outputs, strategy) for [[FitFusion]]'s one-pass scalar fit. */
  private[operators] def fuseInfo: (Seq[String], Seq[String], String) =
    (inputs, outputs, strategy)

  override def transformSchema(schema: StructType): StructType =
    inputs.zip(outputs).foldLeft(schema) { case (s, (in, out)) =>
      val dt =
        if (strategy == "min" && s.fieldNames.contains(in)) s(in).dataType
        else DoubleType
      GraftSchema.withField(s, out, dt)
    }

  override def fitDF(df: DataFrame): ScalerModel = {
    if (strategy == "robust") {
      val qs = ExactStats.quantiles(df, inputs, Seq(0.25, 0.5, 0.75))
      val stats = qs.map { q =>
        ScalerStats(minRaw = null, max = 0.0, mean = 0.0, stdPop = 0.0,
          median = q(1).getOrElse(0.0),
          iqr = (for (a <- q(0); b <- q(2)) yield b - a).getOrElse(0.0))
      }
      return new ScalerModel(inputs, outputs, strategy, stats)
    }
    val aggs = inputs.flatMap(c => Scaler.statAggs.map(_(col(c))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    new ScalerModel(inputs, outputs, strategy,
      Scaler.statsOf(row.get, inputs.length))
  }
}

object Scaler {
  /** The per-input fit aggregates: min (raw type), max, mean, pop std. */
  private[operators] val statAggs: Seq[Column => Column] = Seq(
    min(_), max(_).cast(DoubleType), avg(_), stddev_pop(_))

  /** Decode `n` inputs' [[statAggs]] values, slot `i * 4 + j` for input i. */
  private[operators] def statsOf(v: Int => Any, n: Int): Seq[ScalerStats] = {
    def dbl(j: Int) = Option(v(j)).fold(0.0)(_.asInstanceOf[Double])
    (0 until n).map { i =>
      ScalerStats(minRaw = v(i * 4), max = dbl(i * 4 + 1),
        mean = dbl(i * 4 + 2), stdPop = dbl(i * 4 + 3))
    }
  }
}

case class ScalerStats(minRaw: Any, max: Double, mean: Double,
    stdPop: Double, median: Double = 0.0, iqr: Double = 0.0)

class ScalerModel(
    val ins: Seq[String],
    val outs: Seq[String],
    val strategy: String,
    val stats: Seq[ScalerStats])
    extends GraftModel[ScalerModel] {
  override def transformDF(df: DataFrame): DataFrame =
    ins.zip(outs).zip(stats).foldLeft(df) { case (d, ((in, out), st)) =>
      val c = col(in)
      val minD = Option(st.minRaw).fold(0.0)(v => v.toString.toDouble)
      val e = strategy match {
        case "min" => c - lit(st.minRaw)
        case "minmax" =>
          val denom = st.max - minD
          if (denom == 0.0) (c - lit(minD)).cast(DoubleType)
          else (c.cast(DoubleType) - lit(minD)) / lit(denom)
        case "standard" =>
          val sd = if (st.stdPop == 0.0) 1.0 else st.stdPop
          (c.cast(DoubleType) - lit(st.mean)) / lit(sd)
        case "robust" =>
          val scale = if (st.iqr == 0.0) 1.0 else st.iqr
          (c.cast(DoubleType) - lit(st.median)) / lit(scale)
        case other => throw new IllegalArgumentException(s"strategy $other")
      }
      d.withColumn(out, e)
    }
}

/** Percentile clipping (winsorization) — feature-engineering extension
  * beyond the reference surface: fit records the exact `lowerP`/`upperP`
  * percentiles per input via [[ExactStats.quantiles]] (key-range
  * narrowing, ~2 scans, bounded task memory — same linear-interpolation
  * semantics as sort-based `percentile` and Imputer's exact median);
  * transform clips to [lo, hi] as double, nulls passing through.
  * Robust-scaling preamble for heavy-tailed monetary/count features.
  * `distributedPercentiles = true` opts the stage out of [[FitFusion]]
  * (fused shared-scan fits use `percentile` buffers). */
class Winsorizer(
    inputs: Seq[String], outputs: Seq[String],
    lowerP: Double = 0.01, upperP: Double = 0.99,
    distributedPercentiles: Boolean = false)
    extends GraftEstimator[WinsorizerModel] {
  require(inputs.length == outputs.length)
  require(0.0 <= lowerP && lowerP < upperP && upperP <= 1.0,
    "need 0 <= lowerP < upperP <= 1")

  /** (inputs, outputs, lowerP, upperP) for [[FitFusion]]'s scalar fit. */
  private[operators] def fuseInfo: (Seq[String], Seq[String], Double, Double) =
    (inputs, outputs, lowerP, upperP)
  private[operators] def isDistributed: Boolean = distributedPercentiles

  override def transformSchema(schema: StructType): StructType =
    outputs.foldLeft(schema)((s, o) =>
      GraftSchema.withField(s, o, DoubleType))

  override def fitDF(df: DataFrame): WinsorizerModel = {
    // key-range narrowing exact selection (ExactStats): O(log) scan
    // rounds, O(buckets × columns) per-task memory, identical
    // interpolation to sort-based `percentile` (ExactStatsSpec asserts
    // equality) — and measurably faster even at bench scale, because
    // `percentile`'s value→count buffer merge+sort is single-threaded.
    // The standalone fit therefore ALWAYS takes this path; the
    // `distributedPercentiles` flag now only opts the stage out of
    // FitFusion (whose shared-scan fused aggregate uses `percentile`
    // buffers — the right trade when many fits share one pass).
    val bounds = ExactStats.quantiles(df, inputs, Seq(lowerP, upperP))
      .map(s => (s(0), s(1)))
    new WinsorizerModel(inputs, outputs, bounds)
  }
}

class WinsorizerModel(
    val ins: Seq[String],
    val outs: Seq[String],
    val bounds: Seq[(Option[Double], Option[Double])])
    extends GraftModel[WinsorizerModel] {
  override def transformDF(df: DataFrame): DataFrame =
    ins.zip(outs).zip(bounds).foldLeft(df) {
      case (d, ((in, out), (lo, hi))) =>
        val c = col(in).cast(DoubleType)
        // all-null fit column → no bounds → pass through; null values stay
        // null (Spark's least/greatest SKIP nulls — unguarded they'd clip
        // null to the lower bound)
        val clipped = (lo, hi) match {
          case (Some(l), Some(h)) =>
            when(c.isNotNull, least(greatest(c, lit(l)), lit(h)))
          case _ => c
        }
        d.withColumn(out, clipped)
    }
}

object WinsorizerModel {
  /** Decode n array-percentile slots (`[lo, hi]` each, null on an all-null
    * column) into per-column bounds. */
  private[operators] def boundsOf(
      v: Int => Any, n: Int): Seq[(Option[Double], Option[Double])] =
    (0 until n).map { i =>
      Option(v(i)) match {
        case Some(arr) =>
          val s = arr.asInstanceOf[scala.collection.Seq[Double]]
          (Some(s(0)), Some(s(1)))
        case None => (None, None)
      }
    }
}

/** Quantile discretization — the fitted-cuts sibling of
  * [[graft.operators.RangeTransformer]] (whose ranges are user-given) and
  * [[Winsorizer]] (whose percentiles clip instead of label): fit learns
  * each input column's `nBins − 1` interior EXACT percentile cut points
  * (same interpolation as Imputer's median — DuckDB `quantile_cont`
  * semantics); transform appends an int bin index in [0, nBins) counting
  * the cuts strictly below the value (a value equal to a cut falls in the
  * lower bin; nulls stay null; an all-null fit column bins to null).
  *
  * Scale shape: [[ExactStats.quantiles]] fits ALL cuts of all columns in
  * the same shared narrowing scans — O(log) rounds with
  * O(buckets × columns) task memory, no value→count buffers (see the
  * Winsorizer.fitDF note; `distributedPercentiles = true` only opts out
  * of [[FitFusion]]). The transform is a pure codegen'd when-chain.
  */
class QuantileBinner(
    inputs: Seq[String], outputs: Seq[String], nBins: Int = 4,
    distributedPercentiles: Boolean = false)
    extends GraftEstimator[QuantileBinnerModel] {
  require(inputs.length == outputs.length)
  require(nBins >= 2, "need nBins >= 2")

  /** (inputs, outputs, interior percentiles) for [[FitFusion]]'s scalar
    * fit. */
  private[operators] def fuseInfo: (Seq[String], Seq[String], Seq[Double]) =
    (inputs, outputs, (1 until nBins).map(_.toDouble / nBins))
  private[operators] def isDistributed: Boolean = distributedPercentiles

  override def transformSchema(schema: StructType): StructType =
    outputs.foldLeft(schema)((s, o) =>
      GraftSchema.withField(s, o, IntegerType))

  override def fitDF(df: DataFrame): QuantileBinnerModel = {
    val ps = (1 until nBins).map(_.toDouble / nBins)
    // always the ExactStats key-range narrowing path — see the
    // Winsorizer.fitDF note (the flag only opts out of FitFusion)
    val cuts: Seq[Option[Seq[Double]]] =
      ExactStats.quantiles(df, inputs, ps)
        .map(s => if (s.forall(_.isDefined)) Some(s.map(_.get)) else None)
    new QuantileBinnerModel(inputs, outputs, cuts)
  }
}

class QuantileBinnerModel(
    val ins: Seq[String],
    val outs: Seq[String],
    val cuts: Seq[Option[Seq[Double]]])
    extends GraftModel[QuantileBinnerModel] {
  override def transformDF(df: DataFrame): DataFrame =
    ins.zip(outs).zip(cuts).foldLeft(df) {
      case (d, ((in, out), cs)) =>
        val c = col(in).cast(DoubleType)
        val bin = cs match {
          case Some(bounds) =>
            // null guard: unguarded, null > cut is null and the sum
            // null-poisons — but the CONTRACT is bin(null) = null, which
            // the guard makes explicit rather than accidental
            when(c.isNotNull,
              bounds.map(b => when(c > lit(b), 1).otherwise(0))
                .reduce(_ + _).cast(IntegerType))
          case None => lit(null).cast(IntegerType)
        }
        d.withColumn(out, bin)
    }
}

/** Dense one-hot columns. Reference: dfpipeline/OneHotEncoder.py:57-83.
  * fit: per column, the sorted distinct non-null (stringified) categories.
  * transform: for each category, append `col__cat` = 1.0/0.0 double
  * (tests/test_onehot.py:35); null rows get all zeros; the source column is
  * KEPT. Not spark.ml's `OneHotEncoder` (sparse vectors — wrong shape,
  * SURVEY §2.1 #5). All indicator columns are one single projection.
  */
class OneHotEncoder(columns: Seq[String])
    extends GraftEstimator[OneHotEncoderModel] {
  private[operators] def fuseCols: Seq[String] = columns

  override def fitDF(df: DataFrame): OneHotEncoderModel = {
    val byCol = Lookup.distinctPairs(df, columns).groupBy(_.getInt(0))
    val cats = columns.indices.map { i =>
      byCol.getOrElse(i, Array.empty[Row])
        .filterNot(_.isNullAt(1)).map(_.getString(1)).distinct.sorted.toSeq
    }
    new OneHotEncoderModel(columns, cats)
  }
}

class OneHotEncoderModel(
    val cols: Seq[String],
    val categories: Seq[Seq[String]])
    extends GraftModel[OneHotEncoderModel] {
  override def transformDF(df: DataFrame): DataFrame = {
    val indicator = cols.zip(categories).flatMap { case (c, cats) =>
      cats.map { cat =>
        when(col(c).cast(StringType) === lit(cat), 1.0).otherwise(0.0)
          .as(s"${c}__$cat")
      }
    }
    df.select(df.columns.map(col).toSeq ++ indicator: _*)
  }
}
