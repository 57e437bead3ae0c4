package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** Hashing-trick categorical encoder (stateless): each input value maps to
  * `md5_hash60(colName + '=' + value) mod numBuckets` — the fixed-width
  * encoding used when category cardinality is unbounded or unknown
  * (Weinberger et al. 2009, "Feature Hashing for Large Scale Multitask
  * Learning"). Extends the reference's encoder family
  * (dfpipeline/ComplementLabelEncoder.py, FrequencyEncoder.py) with the
  * no-fit member: there is NO dictionary, so nothing to collect, broadcast,
  * or persist — the transform is a pure codegen'd projection, and train and
  * serve agree by construction at any scale. The column name participates
  * in the hash so equal values in different columns land independently.
  * md5 (not xxhash) keeps the bucket ids engine-replayable; nulls stay
  * null (the caller decides between imputing first or keeping a missing
  * indicator). */
class HashingEncoder(
    val inputs: Seq[String],
    val outputs: Seq[String],
    val numBuckets: Int)
    extends GraftTransformer {
  require(inputs.length == outputs.length)
  require(numBuckets >= 1, s"need numBuckets >= 1, got $numBuckets")

  override def transformDF(df: DataFrame): DataFrame =
    inputs.zip(outputs).foldLeft(df) { case (d, (in, out)) =>
      val key = concat(lit(in), lit("="), col(in).cast(StringType))
      d.withColumn(out,
        when(col(in).isNotNull,
          pmod(GraftFunctions.md5_hash60(key), lit(numBuckets.toLong))
            .cast(IntegerType)))
    }
}

/** Out-of-fold smoothed target (mean) encoding — the categorical encoding
  * that wins the reference's cat-in-the-dat benchmark domain
  * (benchmarks/categorical_encoding_1/CategoricalEncoding1.py): replace a
  * category with the mean of a numeric target over OTHER folds' rows of
  * that category, so a row never sees its own fold's target (leakage
  * control), shrunk toward the global prior by `smoothing` pseudo-counts:
  *
  *   enc(v, f) = (sum(v) − sum(v,f) + m·prior) / (cnt(v) − cnt(v,f) + m)
  *
  * Folds are `md5_hash60(id) mod nFolds` — deterministic, engine-replayable,
  * stable under retry (no RNG state). Fit is ONE aggregation for ALL input
  * columns (posexplode, like the other encoders) producing per-(column,
  * value, fold) partial sums; per-value totals come from re-aggregating
  * those partials (cardinality × nFolds rows, never the data again). The
  * fitted state is the (value, fold) → encoding table per column: literal
  * map / broadcast join below `maxCollect` entries, distributed join above
  * (SURVEY §7.1.3). Serve-time rows (no fold membership) get the all-data
  * encoding `(sum(v) + m·prior)/(cnt(v) + m)` via [[TargetEncoderModel
  * .transformDF]]; unseen values get the prior. Null target rows are
  * excluded from the statistics (pandas `mean` semantics); null category
  * encodes to the prior. */
class TargetEncoder(
    inputs: Seq[String],
    outputs: Seq[String],
    targetCol: String,
    idCol: String,
    nFolds: Int = 5,
    smoothing: Double = 20.0,
    maxCollect: Long = ComplementLabelEncoder.DefaultMaxCollect)
    extends GraftEstimator[TargetEncoderModel] {
  require(inputs.length == outputs.length)
  require(nFolds >= 2, s"need nFolds >= 2, got $nFolds")
  require(smoothing >= 0, s"need smoothing >= 0, got $smoothing")

  override def transformSchema(schema: StructType): StructType =
    outputs.foldLeft(schema)((s, o) =>
      GraftSchema.withField(s, o, DoubleType))

  /** (inputs, outputs, targetCol, idCol, nFolds, smoothing, maxCollect) for
    * [[FitFusion]]'s shared-scan fit. */
  private[operators] def fuseInfo
      : (Seq[String], Seq[String], String, String, Int, Double, Long) =
    (inputs, outputs, targetCol, idCol, nFolds, smoothing, maxCollect)

  override def fitDF(df: DataFrame): TargetEncoderModel = {
    val y = col(targetCol).cast(DoubleType)
    val fold = TargetEncoder.foldOf(col(idCol), nFolds)
    val partials = df
      .filter(y.isNotNull)
      .select(y.as("__y"), fold.as("__f"),
        posexplode(array(inputs.map(c => col(c).cast(StringType)): _*))
          .as(Seq("__i", "__v")))
      .filter(col("__v").isNotNull)
      .groupBy("__i", "__v", "__f")
      .agg(sum("__y").as("__s"), count(lit(1)).as("__c"))
      .persist()
    try {
      val prior = df.agg(avg(y)).head().getDouble(0)
      val m = lit(smoothing)
      val pr = lit(prior)
      // per-value totals from the partials (cardinality-sized input); the
      // driver-side twin of these formulas is TargetEncoder.smallState
      val w = org.apache.spark.sql.expressions.Window.partitionBy("__i", "__v")
      val full = (sum("__s").over(w) + m * pr) /
        (sum("__c").over(w) + m)
      val oofDen = sum("__c").over(w) - col("__c") + m
      val oof = when(oofDen > 0,
          (sum("__s").over(w) - col("__s") + m * pr) / oofDen)
        .otherwise(pr)
      val table = partials.select(col("__i"), col("__v"), col("__f"),
        oof.as("__oof"), full.as("__full")).persist()
      val sizes = table.groupBy("__i").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val states: Seq[TargetState] = inputs.indices.map { i =>
        val n = sizes.getOrElse(i, 0L)
        val slice = table.filter(col("__i") === i)
        if (n <= maxCollect) {
          val rows = slice.collect()
          SmallTarget(
            rows.map(r => s"${r.getString(1)}\u0001${r.getLong(2)}" ->
              r.getDouble(3)).toMap,
            rows.groupBy(_.getString(1))
              .map { case (v, rs) => v -> rs.head.getDouble(4) })
        } else {
          val lookup = slice
            .select(col("__v").as("value"), col("__f").as("fold"),
              col("__oof").as("oof"), col("__full").as("full"))
            .persist()
          lookup.count() // materialize before partials unpersist
          BigTarget(lookup)
        }
      }
      table.unpersist()
      new TargetEncoderModel(inputs, outputs, idCol, nFolds, prior, states)
    } finally { partials.unpersist(); () }
  }
}

object TargetEncoder {
  /** Deterministic fold id in [0, nFolds). */
  def foldOf(id: Column, nFolds: Int): Column =
    pmod(GraftFunctions.md5_hash60(id.cast(StringType)), lit(nFolds.toLong))

  /** One column's fitted state from its collected (value, fold, Σy, count)
    * partials (count ≥ 1, value non-null) — the same out-of-fold and
    * all-data formulas, in the same operation order, as `fitDF`'s window
    * expressions. The per-value sums add the folds in partial order, so
    * Σy may differ from the windowed sum in the last bits on a real-valued
    * target (exact on integer targets). */
  private[operators] def smallState(
      partials: Seq[(String, Long, Double, Long)],
      prior: Double, smoothing: Double): SmallTarget = {
    val mp = smoothing * prior
    val totals = partials.groupBy(_._1).map { case (v, ps) =>
      v -> (ps.map(_._3).sum, ps.map(_._4).sum)
    }
    val oof = partials.map { case (v, f, s, c) =>
      val (sv, cv) = totals(v)
      val den = (cv - c) + smoothing
      s"$v\u0001$f" -> (if (den > 0) (sv - s + mp) / den else prior)
    }.toMap
    SmallTarget(oof, totals.map { case (v, (sv, cv)) =>
      v -> (sv + mp) / (cv + smoothing)
    })
  }
}

sealed trait TargetState
case class SmallTarget(oof: Map[String, Double],
    full: Map[String, Double]) extends TargetState
case class BigTarget(lookup: DataFrame) extends TargetState

class TargetEncoderModel(
    val ins: Seq[String],
    val outs: Seq[String],
    val idCol: String,
    val nFolds: Int,
    val prior: Double,
    val states: Seq[TargetState])
    extends GraftModel[TargetEncoderModel] {

  /** Serve path: all-data smoothed mean; unseen/null values → prior. */
  override def transformDF(df: DataFrame): DataFrame =
    ins.zip(outs).zip(states).foldLeft(df) { case (d, ((in, out), st)) =>
      val key = col(in).cast(StringType)
      st match {
        case SmallTarget(_, full) =>
          Lookup.withLookup[Double](d, out, key, full, lit(prior),
            _.cast(DoubleType), s"te_$out")
        case BigTarget(lookup) =>
          val l = lookup.select(col("value").as(s"__te_k_$out"),
            col("full").as(s"__te_v_$out")).distinct()
          d.join(l, key === col(s"__te_k_$out"), "left")
            .withColumn(out,
              coalesce(col(s"__te_v_$out"), lit(prior)).cast(DoubleType))
            .drop(s"__te_k_$out", s"__te_v_$out")
      }
    }

  /** Train path: leave-own-fold-out encoding, keyed by (value, fold of
    * `idCol`). A (value, fold) pair absent from the fitted table (the
    * value never co-occurred with that fold in the fit data) falls back
    * to the serve encoding, then to the prior. */
  def transformTrain(df: DataFrame): DataFrame =
    ins.zip(outs).zip(states).foldLeft(df) { case (d, ((in, out), st)) =>
      val v = col(in).cast(StringType)
      val f = TargetEncoder.foldOf(col(idCol), nFolds)
      st match {
        case SmallTarget(oof, full) =>
          val withOof = Lookup.withLookup[Double](d, s"__oof_$out",
            concat(v, lit("\u0001"), f.cast(StringType)), oof, lit(null),
            identity, s"teo_$out")
          val done = Lookup.withLookup[Double](withOof, s"__full_$out",
            v, full, lit(prior), identity, s"tef_$out")
          done.withColumn(out,
              coalesce(col(s"__oof_$out"), col(s"__full_$out"),
                lit(prior)).cast(DoubleType))
            .drop(s"__oof_$out", s"__full_$out")
        case BigTarget(lookup) =>
          // (value, fold) OOF join, then value-level full fallback (a
          // seen value whose rows all sit in OTHER folds has no (v, f)
          // entry — its leave-f-out statistics ARE the full statistics)
          val l = lookup.select(col("value").as(s"__te_k_$out"),
            col("fold").as(s"__te_f_$out"), col("oof").as(s"__te_o_$out"))
          val lf = lookup.select(col("value").as(s"__te_j_$out"),
            col("full").as(s"__te_u_$out")).distinct()
          d.join(l, v === col(s"__te_k_$out") &&
              f === col(s"__te_f_$out"), "left")
            .join(lf, v === col(s"__te_j_$out"), "left")
            .withColumn(out,
              coalesce(col(s"__te_o_$out"), col(s"__te_u_$out"),
                lit(prior)).cast(DoubleType))
            .drop(s"__te_k_$out", s"__te_f_$out", s"__te_o_$out",
              s"__te_j_$out", s"__te_u_$out")
      }
    }
}

sealed trait WoeState
case class SmallWoe(woe: Map[String, Double]) extends WoeState
case class BigWoe(lookup: DataFrame) extends WoeState

/** Weight-of-evidence categorical encoder as a PIPELINE stage — the
  * fitted-operator packaging of [[graft.relational.Scorecard.woeTable]]
  * (same ±0.5-smoothed formula, same 6-dp rounding), so WOE features
  * flow through DFPipeline fit/transform, persistence save/load, and
  * the OnlineScorer like every other encoder.
  *
  * Fit: ONE corpus aggregate over all inputs at once (the TargetEncoder
  * posexplode discipline — inputs × rows explode carries only (i, value,
  * label)), totals per feature ride a window over the CARDINALITY-sized
  * partials. Per-feature state follows the SmallDict/BigDict dual path:
  * ≤ maxCollect distinct values collect to a driver map (literal-map or
  * broadcast-join transform via Lookup), above that the lookup relation
  * stays distributed and persists as parquet beside the pipeline JSON.
  *
  * Transform: unseen/null category → 0.0, WOE's no-information point
  * (the FrequencyEncoder unseen→default contract). */
class WoeEncoder(
    val inputs: Seq[String],
    val outputs: Seq[String],
    targetCol: String,
    maxCollect: Long = ComplementLabelEncoder.DefaultMaxCollect)
    extends GraftEstimator[WoeEncoderModel] {
  require(inputs.length == outputs.length)

  override def transformSchema(schema: StructType): StructType =
    outputs.foldLeft(schema)((s, o) =>
      GraftSchema.withField(s, o, DoubleType))

  override def fitDF(df: DataFrame): WoeEncoderModel = {
    val y = col(targetCol).cast(LongType)
    val partials = df
      .filter(y.isNotNull)
      .select(y.as("__y"),
        posexplode(array(inputs.map(c => col(c).cast(StringType)): _*))
          .as(Seq("__i", "__v")))
      .filter(col("__v").isNotNull)
      .groupBy("__i", "__v")
      .agg(count(lit(1)).as("__n"), sum("__y").as("__p"))
      .persist()
    try {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("__i")
      val pt = sum(col("__p")).over(w)
      val nt = sum(col("__n") - col("__p")).over(w)
      // `log` unqualified resolves to spark.ml's slf4j logger here
      val woe = round(org.apache.spark.sql.functions.log(
        (((col("__n") - col("__p")) + lit(0.5)) / nt) /
          ((col("__p") + lit(0.5)) / pt)), 6)
      val table = partials
        .select(col("__i"), col("__v"), woe.as("__woe")).persist()
      val sizes = table.groupBy("__i").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val states: Seq[WoeState] = inputs.indices.map { i =>
        val slice = table.filter(col("__i") === i)
        if (sizes.getOrElse(i, 0L) <= maxCollect)
          SmallWoe(slice.collect()
            .map(r => r.getString(1) -> r.getDouble(2)).toMap)
        else {
          val lookup = slice
            .select(col("__v").as("value"), col("__woe").as("woe"))
            .persist()
          lookup.count() // materialize before partials unpersist
          BigWoe(lookup)
        }
      }
      table.unpersist()
      new WoeEncoderModel(inputs, outputs, states)
    } finally { partials.unpersist(); () }
  }
}

class WoeEncoderModel(
    val ins: Seq[String],
    val outs: Seq[String],
    val states: Seq[WoeState])
    extends GraftModel[WoeEncoderModel] {

  override def transformDF(df: DataFrame): DataFrame =
    ins.zip(outs).zip(states).foldLeft(df) { case (d, ((in, out), st)) =>
      val key = col(in).cast(StringType)
      st match {
        case SmallWoe(m) =>
          Lookup.withLookup[Double](d, out, key, m, lit(0.0),
            _.cast(DoubleType), s"woe_$out")
        case BigWoe(lookup) =>
          val l = lookup.select(col("value").as(s"__woe_k_$out"),
            col("woe").as(s"__woe_v_$out"))
          d.join(l, key === col(s"__woe_k_$out"), "left")
            .withColumn(out,
              coalesce(col(s"__woe_v_$out"), lit(0.0)).cast(DoubleType))
            .drop(s"__woe_k_$out", s"__woe_v_$out")
      }
    }
}
