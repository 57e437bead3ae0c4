package graft.relational

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{DictTable, GraftFunctions}

/** Model-evaluation and monitoring operators: exact AUC via the
  * Mann-Whitney rank statistic, calibration (reliability) bins,
  * cumulative lift/gains, threshold confusion sweeps, Kaplan-Meier
  * survival curves, and CUSUM changepoint detection. The reference ships
  * its pipelines into model training and an online scorer
  * (RunBench.py:41,66-77); this module is the read-back half — the
  * queries a team runs to decide whether the model and the data feeding
  * it are still healthy.
  *
  * Scale discipline matches the rest of the engine: every operator is
  * one or two map-side-combined aggregates, windows only ever partition
  * by a key or run over relations bounded by construction, and the only
  * joins are broadcast-scale. AUC gets the same dual small/binned path
  * as [[Relational.percentileRank]] because its rank pass is the same
  * ordered-cumulative problem. */
object Eval {

  /** Exact ROC AUC of `scoreCol` against binary `labelCol` (0/1), with
    * midrank tie handling — the Mann-Whitney identity
    * `AUC = Σ_s p_s·(negBelow_s + n_s/2) / (P·N)` over the DISTINCT
    * score values s (p_s positives, n_s negatives at s). Returns one row
    * `(auc, n_pos, n_neg)`. Null scores/labels are excluded.
    *
    * The per-score terms are integer counts times multiples of ½, so
    * partial sums are exact in doubles (no summation-order sensitivity)
    * and the single final division is bit-reproducible; `auc` is rounded
    * 6 dp under the repo's aggregate-derived-double discipline anyway.
    *
    * Shape at 100 TB: ONE corpus aggregate to the distinct-score
    * relation, then [[CumulativeEngine.rank]]'s guarded choice (the one
    * [[Relational.percentileRank]] makes):
    *  - distinct ≤ `maxDistinctBroadcast` (quantized model scores —
    *    the common case): collected once and cumulated on the driver
    *    into a local relation;
    *  - above (raw continuous scores): the shared 64×64
    *    quantile-balanced macro/micro binned engine
    *    ([[CumulativeEngine]] — per-bin ordered windows partitioned →
    *    parallel, ~distinct/4096 rows per task typical, ≤4096-row
    *    offsets relation joined back broadcast). Binning only
    *    partitions the value space; the cumulative arithmetic is exact
    *    either way.
    * The finish is a global sum over the distinct relation — the corpus
    * is never windowed, sorted, or collected. Counts above 2^52 pairs
    * would lose exactness in ANY double-summing engine; at that scale
    * the distinct relation is what you shard, not this operator. */
  def auc(df: DataFrame, scoreCol: String, labelCol: String,
      maxDistinctBroadcast: Long = 100000): DataFrame = {
    val (out, counts) = aucPlan(df, scoreCol, labelCol,
      maxDistinctBroadcast)
    // materialize before releasing the fit cache (mirrors
    // percentileRank): the result is one row
    val materialized = out.localCheckpoint(eager = true)
    graft.util.Materialize.release(counts)
    materialized
  }

  /** Ranking machinery for [[auc]], [[prAuc]], [[rankSumTest]] and
    * [[ksExact]]: the distinct-score relation `(__s, __p, __q)` ranked by
    * the shared [[CumulativeEngine.rank]] (driver-finished when it has ≤
    * `maxDistinctBroadcast` rows, else the quantile-balanced 64×64
    * binned path), with `__below___p` / `__below___q` the strictly-below
    * cumulative positive/negative counts and `__total___p` /
    * `__total___q` the totals. The caller releases it once its result is
    * materialized. */
  private def scoreRanked(df: DataFrame, scoreCol: String,
      labelCol: String, maxDistinctBroadcast: Long,
      site: String): CumulativeEngine.Ranked = {
    val lab = col(labelCol).cast("long")
    CumulativeEngine.rank(df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).as("__s"))
      .agg(sum(lab).as("__p"),
        sum(lit(1L) - lab).as("__q")),
      "__s", Seq("__p", "__q"), Nil, maxDistinctBroadcast, site)
  }

  /** The unmaterialized AUC plan plus the fit-time counts relation —
    * split out so plan-shape tests can assert on the real plan (the
    * public method checkpoints, which hides it). Callers must
    * release the returned counts ([[graft.util.Materialize.release]]) once
    * the plan is consumed. */
  private[graft] def aucPlan(df: DataFrame, scoreCol: String,
      labelCol: String,
      maxDistinctBroadcast: Long): (DataFrame, DataFrame) = {
    val r = scoreRanked(df, scoreCol, labelCol, maxDistinctBroadcast,
      "auc")
    val out = r.below.agg(
      sum(col("__p").cast("double") *
        (col("__below___q").cast("double") +
          col("__q").cast("double") / 2.0)).as("__u"),
      sum("__p").as("n_pos"),
      sum("__q").as("n_neg"))
      .select(
        round(col("__u") /
          (col("n_pos").cast("double") * col("n_neg").cast("double")), 6)
          .as("auc"),
        col("n_pos"), col("n_neg"))
    (out, r.counts)
  }

  /** PR-AUC (average precision) with threshold-grouped ties: sweeping
    * the decision threshold down the DISTINCT score values,
    * `AP = Σ_s (p_s / P) · precision(s)` where `precision(s) =
    * TP(s) / predicted(s)` counts everything ≥ s as positive — the
    * step-integral of the precision-recall curve, the metric that stays
    * informative when positives are rare and AUC saturates. Returns one
    * row `(pr_auc, n_pos, n_neg)`, 6-dp (the per-threshold precision
    * ratios are arbitrary doubles, so the sum is order-sensitive at the
    * ulp level — rounding is the repo's aggregate-double discipline).
    *
    * Every term reads off the SAME strictly-below cumulatives as [[auc]]
    * (`TP(s) = P − posbelow_s`, `predicted(s) = (P+N) − posbelow_s −
    * negbelow_s`), so the shape is identical: one corpus aggregate, the
    * dual small/binned cumulative, a one-row finish — no descending
    * re-sort, no second pass. */
  def prAuc(df: DataFrame, scoreCol: String, labelCol: String,
      maxDistinctBroadcast: Long = 100000): DataFrame = {
    val r = scoreRanked(df, scoreCol, labelCol, maxDistinctBroadcast,
      "prAuc")
    // totals from the engine (local on the driver path, a broadcast
    // one-row aggregate of the checkpointed counts otherwise) — NOT a global
    // window over the distinct relation, which on the binned path
    // (distinct ≈ N) would be a single-task pass
    val tp = (col("__total___p") - col("__below___p")).cast("double")
    val predicted = (col("__total___p") + col("__total___q") -
      col("__below___p") - col("__below___q")).cast("double")
    val out = r.withTotals
      .withColumn("__term",
        col("__p").cast("double") * (tp / predicted))
      .agg(sum("__term").as("__ap"),
        sum("__p").as("n_pos"), sum("__q").as("n_neg"))
      .select(
        round(col("__ap") / col("n_pos").cast("double"), 6).as("pr_auc"),
        col("n_pos"), col("n_neg"))
      .localCheckpoint(eager = true)
    r.release()
    out
  }

  /** Gini coefficient of a non-negative value column via the exact
    * Lorenz-curve trapezoid integral over DISTINCT values:
    * `G = 1 − Σ_v (F_v − F_v⁻)·(L_v + L_v⁻)` with `F` the cumulative
    * population share and `L` the cumulative value-mass share through v
    * (⁻ = strictly below). One row `(gini, n, total)`, 6-dp (mass sums
    * are arbitrary doubles). The inequality dashboard number: revenue
    * concentration across customers, token concentration across
    * documents.
    *
    * Shape at 100 TB: one corpus aggregate to the distinct-value
    * relation carrying TWO measures (count, value·count mass), the
    * shared driver/binned strictly-below cumulative with its totals, a
    * one-row finish — the same no-global-sort guarantee as
    * [[auc]]. */
  def lorenzGini(df: DataFrame, valueCol: String,
      maxDistinctBroadcast: Long = 100000): DataFrame = {
    val v = col(valueCol).cast("double")
    val r = CumulativeEngine.rank(df.filter(v.isNotNull && v >= 0)
      .groupBy(v.as("__s"))
      .agg(count(lit(1)).as("__c"),
        sum(v).as("__m")),
      "__s", Seq("__c", "__m"), Nil, maxDistinctBroadcast, "lorenzGini")
    val fPrev = col("__below___c").cast("double") / col("__total___c")
    val fCur = (col("__below___c") + col("__c")).cast("double") /
      col("__total___c")
    val lPrev = col("__below___m") / col("__total___m")
    val lCur = (col("__below___m") + col("__m")) / col("__total___m")
    val out = r.withTotals
      .withColumn("__trap", (fCur - fPrev) * (lCur + lPrev))
      .agg(sum("__trap").as("__b"), sum("__c").as("n"),
        round(sum("__m"), 6).as("total"))
      .select(round(lit(1.0) - col("__b"), 6).as("gini"),
        col("n"), col("total"))
      .localCheckpoint(eager = true)
    r.release()
    out
  }

  /** Spearman rank correlation with exact average-rank ties: Pearson
    * correlation of the two columns' midranks, one row `(rho, n)`
    * (6-dp — `corr` moment order differs across engines). Rows with a
    * null on either side are excluded BEFORE ranking (ranks are over
    * the paired sample, the standard definition).
    *
    * Shape at 100 TB: per column, one distinct-value aggregate + the
    * shared driver/binned strictly-below cumulative → a rank relation
    * (`midrank = below + (c+1)/2`) applied back to the rows: under
    * `maxDistinctBroadcast` distinct values it is finished on the driver
    * and applied as a [[graft.functions.DictLookup]] hash probe per row
    * (join key equality: -0.0 is 0.0, NaN is NaN; no join, no broadcast
    * job); above it (distinct ≈ N) the relation is checkpointed and the
    * join-back shuffles — the percentileRank join-back discipline. The
    * finish is one `corr` aggregate. No global sort of the corpus at any
    * point. */
  def spearman(df: DataFrame, aCol: String, bCol: String,
      maxDistinctBroadcast: Long = 100000): DataFrame = {
    val paired = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
    def withRank(d: DataFrame, c: String, out: String,
        site: String): DataFrame = {
      val r = CumulativeEngine.rank(paired.groupBy(col(c).as("__s"))
        .agg(count(lit(1)).as("__c")), "__s", Seq("__c"), Nil,
        maxDistinctBroadcast, s"spearman.$site")
      val ranked = r.below.select(col("__s").as(s"${c}_v"),
        (col("__below___c") + (col("__c") + 1) / 2.0).as(out))
      val keyType = ranked.schema.head.dataType
      if (r.onDriver && DictTable.supports(keyType)) {
        // a local relation: the collect runs no job
        val table = DictTable(ranked.collect().map(x => x.get(0) -> x.get(1)),
          keyType, DoubleType)
        val bc = d.sparkSession.sparkContext.broadcast(table)
        // every paired value has a rank; the filter keeps the inner
        // join's meaning regardless
        d.withColumn(out, GraftFunctions.dict_lookup(col(c), bc, DoubleType))
          .filter(col(out).isNotNull)
      } else {
        val m = ranked.localCheckpoint(eager = true)
        r.release()
        d.join(m, col(c) === col(s"${c}_v"))
      }
    }
    withRank(withRank(paired, "__a", "__rka", aCol), "__b", "__rkb", bCol)
      .agg(round(corr(col("__rka"), col("__rkb")), 6).as("rho"),
        count(lit(1)).as("n"))
  }

  /** Expected calibration error: the bin-count-weighted mean absolute
    * gap between confidence and accuracy, `Σ_b (n_b/N)·|mean_score_b −
    * pos_rate_b|`, over the same `nBins` equal-width bins as
    * [[calibration]]. One row `(ece, n)`. Same single-aggregate shape —
    * the finish folds the ≤nBins relation. */
  def ece(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins >= 2, got $nBins")
    val s = col(scoreCol).cast("double")
    df.filter(s.isNotNull && col(labelCol).isNotNull)
      .groupBy(least(floor(s * nBins), lit(nBins - 1L)).cast("long")
        .as("__bin"))
      .agg(count(lit(1)).as("__n"), avg(s).as("__conf"),
        avg(col(labelCol).cast("double")).as("__acc"))
      .agg(
        round(sum(col("__n").cast("double") *
          abs(col("__conf") - col("__acc"))) / sum("__n"), 6).as("ece"),
        sum("__n").as("n"))
  }

  /** Calibration (reliability) table: `nBins` equal-width bins over the
    * [0,1] score, per bin `(n, mean_score, pos_rate)` — a calibrated
    * model has mean_score ≈ pos_rate in every bin. Scores exactly 1.0
    * land in the top bin. ONE map-side-combined aggregate keyed by the
    * bin — state is `nBins` triples regardless of corpus size. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins >= 2, got $nBins")
    val s = col(scoreCol).cast("double")
    df.filter(s.isNotNull && col(labelCol).isNotNull)
      .groupBy(least(floor(s * nBins), lit(nBins - 1L)).cast("long")
        .as("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(s), 6).as("mean_score"),
        round(avg(col(labelCol).cast("double")), 6).as("pos_rate"))
  }

  /** Isotonic (monotone non-decreasing) calibration curve over fixed
    * score bins — the PAV fit in its closed minimax form: for bin k the
    * calibrated rate is `max_{i≤k} min_{j≥k} (pos[i..j] / n[i..j])`
    * (Ayer et al. 1955; Robertson–Wright–Dykstra 1988, Thm 1.4.4 —
    * equals pool-adjacent-violators exactly), computed over the OBSERVED
    * bins in bin order. Use it where [[calibration]]'s raw per-bin rates
    * wiggle non-monotonically from sampling noise but the calibrated
    * map must be monotone (score→probability remapping for serving).
    *
    * Determinism: segment rates are single divisions of exact integer
    * (pos, n) prefix-sum differences — identical IEEE values on any
    * engine — and min/max over identical value sets replay exactly;
    * only the two output rates are rounded (6 dp).
    *
    * Shape at 100 TB: ONE corpus aggregate reduces to ≤ `nBins` rows
    * (map-side combined); the prefix sums ride the audited
    * [[graft.util.BoundedWindow]] over that bin relation; the segment
    * and minimax joins are non-equi over the BIN relation only (≤
    * nBins² segment rows, ≤ nBins³ joined — broadcast nested-loop over
    * dictionary-sized sides, capped by the nBins ≤ 256 guard). The
    * corpus is scanned exactly once. Output per observed bin:
    * (bin, n, n_pos, rate, iso_rate), iso_rate non-decreasing. */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
      labelCol: String, nBins: Int = 64): DataFrame = {
    require(nBins >= 2 && nBins <= 256,
      s"need 2 <= nBins <= 256 (the bins^3 minimax join bound), got " +
        s"$nBins")
    val s = col(scoreCol).cast("double")
    val bins = df.filter(s.isNotNull && col(labelCol).isNotNull)
      .groupBy(least(floor(s * nBins), lit(nBins - 1L)).cast("long")
        .as("bin"))
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long"))
        .as("n_pos"))
      // ≤ nBins rows feeding four consumers — materialize once
      .localCheckpoint(true)
    // prefix sums over the ≤ nBins-row bin relation — bounded by
    // construction (the liftGains contract)
    val wc = graft.util.BoundedWindow.global(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .withColumn("__cn", sum(col("n")).over(wc))
      .withColumn("__cp", sum(col("n_pos")).over(wc))
    val lo = cum.select(col("bin").as("__bi"),
      (col("__cn") - col("n")).as("__cni"),
      (col("__cp") - col("n_pos")).as("__cpi"))
    val hi = cum.select(col("bin").as("__bj"), col("__cn").as("__cnj"),
      col("__cp").as("__cpj"))
    val seg = lo.join(hi, col("__bi") <= col("__bj"))
      .select(col("__bi"), col("__bj"),
        ((col("__cpj") - col("__cpi")).cast("double") /
          (col("__cnj") - col("__cni")).cast("double")).as("__avg"))
    val iso = seg
      .join(bins.select(col("bin").as("__k")),
        col("__bi") <= col("__k") && col("__bj") >= col("__k"))
      .groupBy(col("__k"), col("__bi")).agg(min(col("__avg")).as("__mn"))
      .groupBy(col("__k")).agg(max(col("__mn")).as("__iso"))
    bins.join(iso, col("bin") === col("__k"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("rate"),
        round(col("__iso"), 6).as("iso_rate"))
  }

  /** Apply a fitted [[isotonicCalibration]] curve to a score column:
    * each row's score maps to its bin's calibrated `iso_rate` (the
    * serving half of the fit/serve pair — same contract as the frozen
    * encoder maps). `nBins` must equal the fit's. Scores landing in a
    * bin the fit never observed fall back to `defaultRate` (serving
    * sees scores the fit corpus didn't cover; a silent null would
    * propagate into downstream arithmetic).
    *
    * Shape at 100 TB: one broadcast join against the ≤ nBins-row fitted
    * curve — scan-shaped, stream-safe (a pure stream-static join, the
    * [[graft.streaming.Streaming]] frozen-state discipline). Output:
    * input columns + `calibrated` (double). */
  def isotonicScore(df: DataFrame, scoreCol: String, fitted: DataFrame,
      nBins: Int, defaultRate: Double = 0.0): DataFrame = {
    require(nBins >= 2, s"nBins >= 2, got $nBins")
    val s = col(scoreCol).cast("double")
    df.withColumn("__bin",
        least(floor(s * nBins), lit(nBins - 1L)).cast("long"))
      .join(broadcast(fitted.select(col("bin").as("__bin"),
        col("iso_rate").as("__iso"))), Seq("__bin"), "left_outer")
      .withColumn("calibrated",
        coalesce(col("__iso"), lit(defaultRate)))
      .drop("__bin", "__iso")
  }

  /** Cumulative gains / lift by descending score bucket: bucket 0 is the
    * top `1/nBuckets` score slice; per bucket `(n, n_pos)` plus the
    * cumulative `gain` (share of all positives captured through this
    * bucket) and `lift` (capture precision ÷ base rate). Buckets are
    * FIXED-WIDTH on the [0,1] score — never `ntile`, whose global
    * row-number sort is a single-task scan at 100 TB and whose tie
    * placement is engine-dependent. One corpus aggregate to `nBuckets`
    * rows, cumulative over that bounded relation. */
  def liftGains(df: DataFrame, scoreCol: String, labelCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"nBuckets >= 2, got $nBuckets")
    val s = col(scoreCol).cast("double")
    val lab = col(labelCol).cast("long")
    val byBucket = df.filter(s.isNotNull && col(labelCol).isNotNull)
      .groupBy(least(floor((lit(1.0) - s) * nBuckets), lit(nBuckets - 1L))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(lab).as("n_pos"))
    // ≤ nBuckets rows — bounded by construction
    val wCum = graft.util.BoundedWindow.global(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = graft.util.BoundedWindow.globalUnordered()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byBucket
      .withColumn("__cn", sum("n").over(wCum))
      .withColumn("__cp", sum("n_pos").over(wCum))
      .withColumn("__tn", sum("n").over(wAll))
      .withColumn("__tp", sum("n_pos").over(wAll))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("__cp").cast("double") / col("__tp"), 6).as("gain"),
        round((col("__cp").cast("double") / col("__cn")) /
          (col("__tp").cast("double") / col("__tn")), 6).as("lift"))
  }

  /** Confusion-matrix sweep: for each threshold t, counts with
    * `predicted = score ≥ t` — `(tp, fp, fn, tn)` plus 6-dp
    * `precision`, `recall`, `f1`, each null when its denominator is 0
    * (guarded explicitly, never relying on engine division-by-zero
    * semantics; f1 uses the `2·tp/(2·tp+fp+fn)` form, defined whenever
    * any prediction or positive exists). ONE pass: the row stream is
    * widened ×|thresholds| by an `explode` of the literal threshold
    * array (broadcast-free, codegen'd) and aggregated keyed by
    * threshold — map-side combine leaves |thresholds| rows per
    * partition. */
  def confusionSweep(df: DataFrame, scoreCol: String, labelCol: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val s = col(scoreCol).cast("double")
    val lab = col(labelCol).cast("long")
    val pos = col("__l") === 1L
    val pred = col("__s") >= col("threshold")
    val cnt = (c: org.apache.spark.sql.Column) =>
      sum(when(c, 1L).otherwise(0L))
    val tp = col("tp").cast("double")
    df.filter(s.isNotNull && col(labelCol).isNotNull)
      .select(s.as("__s"), lab.as("__l"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy("threshold")
      .agg(cnt(pred && pos).as("tp"), cnt(pred && !pos).as("fp"),
        cnt(!pred && pos).as("fn"), cnt(!pred && !pos).as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          round(tp / (col("tp") + col("fp")), 6)).as("precision"),
        when(col("tp") + col("fn") > 0,
          round(tp / (col("tp") + col("fn")), 6)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * tp /
            (lit(2L) * col("tp") + col("fp") + col("fn")), 6)).as("f1"))
  }

  /** Kaplan-Meier survival curve: one input row per subject with an
    * integral `durationCol` (time observed) and `eventCol` ∈ {0,1}
    * (1 = event occurred at duration, 0 = censored). Output: one row per
    * distinct duration with `(n_risk, n_event, n_censored, survival)`
    * where `survival = Π_{u ≤ t} (1 − d_u / n_u)` under the standard
    * convention that same-time censorings are still at risk for the
    * event. The product is computed as `exp(Σ ln(…))` — cumulative sums
    * are window-expressible, products are not — and rounded 6 dp (libm
    * `ln`/`exp` are the one place the repo's float discipline allows
    * engine drift).
    *
    * Shape at 100 TB: one subject-level aggregate to the distinct-
    * duration relation, then the ordered cumulative over it. Durations
    * are calendar-quantized by construction (days/weeks since entry), so
    * that relation is bounded by the observation span, not the corpus —
    * the same boundedness argument as resample's grid. */
  def kaplanMeier(df: DataFrame, durationCol: String, eventCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val ev = col(eventCol).cast("long")
    val gb = groupCols.map(col)
    val byT = df.filter(col(durationCol).isNotNull && ev.isNotNull)
      .groupBy(gb :+ col(durationCol).cast("long").as("duration"): _*)
      .agg(sum(ev).as("n_event"), sum(lit(1L) - ev).as("n_censored"))
    // ungrouped: distinct durations are calendar-bounded (see scaladoc);
    // grouped: the same bound per segment, windows partition by group
    def wb(order: Boolean) =
      if (groupCols.isEmpty) {
        if (order) graft.util.BoundedWindow.global(col("duration"))
        else graft.util.BoundedWindow.globalUnordered()
      } else {
        val base = Window.partitionBy(gb: _*)
        if (order) base.orderBy(col("duration")) else base
      }
    val wBefore = wb(true).rowsBetween(Window.unboundedPreceding, -1)
    val wThrough = wb(true).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = wb(false)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byT
      .withColumn("n_risk",
        sum(col("n_event") + col("n_censored")).over(wAll) -
          coalesce(sum(col("n_event") + col("n_censored")).over(wBefore),
            lit(0L)))
      // a level where the event takes EVERY remaining at-risk subject
      // drives survival to exactly 0 from there on; keep that term out
      // of the log sum (Spark's log(0) is null and sum would silently
      // skip it) and zero via the cumulative flag instead
      .withColumn("survival",
        when(max((col("n_event") === col("n_risk")).cast("int"))
          .over(wThrough) > 0, lit(0.0))
          .otherwise(round(exp(
            sum(when(col("n_event") < col("n_risk"),
              log(lit(1.0) -
                col("n_event").cast("double") / col("n_risk"))))
              .over(wThrough)), 6)))
      .select(gb ++ Seq(col("duration"), col("n_risk"), col("n_event"),
        col("n_censored"), col("survival")): _*)
  }

  /** Benford first-digit audit: the observed share of each leading
    * significant digit of a positive money column vs the Benford
    * expectation `log10(1 + 1/d)` — the classic fabricated-numbers
    * screen. One row per digit 1-9: `(digit, n, observed, expected)`,
    * 6-dp. The digit is extracted from the INTEGER cent value's decimal
    * string (never via `log10`-of-value, whose libm rounding at exact
    * powers of ten is engine-dependent); values with no positive cent
    * digit are excluded.
    *
    * Shape at 100 TB: ONE digit-keyed aggregate (9 counters), a ≤9-row
    * share window. */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val cents = floor(col(valueCol).cast("double") * 100).cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("long")
    val wAll = graft.util.BoundedWindow.globalUnordered()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.filter(col(valueCol).isNotNull && cents > 0)
      .groupBy(digit.as("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("observed",
        round(col("n").cast("double") / sum("n").over(wAll), 6))
      .withColumn("expected",
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6))
      .select("digit", "n", "observed", "expected")
  }

  /** Split-conformal prediction interval: from a CALIBRATION set of
    * (prediction, actual) pairs, the absolute-residual quantile
    * `q̂ = the ⌈(n+1)(1−α)⌉-th smallest |pred − actual|` (the
    * finite-sample-corrected rank that guarantees ≥ 1−α marginal
    * coverage for exchangeable data), then the realized coverage of
    * `pred ± q̂` on the TEST set. One row
    * `(qhat, coverage, n_calib, n_test)`; coverage 6-dp.
    *
    * Shape at 100 TB: q̂ is ONE exact order statistic via the
    * [[graft.operators.ExactStats]] range-narrowing machinery — O(log)
    * scan rounds over the calibration set, O(buckets) task memory, no
    * sort, no value buffer; the fitted q̂ is one scalar of driver state
    * (the Scaler-stats contract) and the coverage pass is one
    * aggregate over the test set. */
  def conformal(calib: DataFrame, test: DataFrame, predCol: String,
      actualCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val resid = abs(col(predCol).cast("double") -
      col(actualCol).cast("double"))
    val calibR = calib
      .filter(col(predCol).isNotNull && col(actualCol).isNotNull)
      .select(resid.as("__r"))
    val nCalib = calibR.count()
    require(nCalib > 0, "empty calibration set")
    // ⌈(n+1)(1−α)⌉ as a 1-based rank, 0-indexed for orderStats; the
    // clamp (rank ≤ n−1) kicks in when n < 1/α − 1 — too few
    // calibration points for the level, q̂ degrades to the max residual
    val qhat = graft.operators.ExactStats.orderStats(
      calibR, Seq("__r"),
      n => math.ceil((n + 1) * (1 - alpha)).toLong - 1).head.get
    test
      .filter(col(predCol).isNotNull && col(actualCol).isNotNull)
      .agg(
        round(avg((resid <= qhat).cast("double")), 6).as("coverage"),
        count(lit(1)).as("n_test"))
      .select(lit(qhat).as("qhat"), col("coverage"),
        lit(nCalib).as("n_calib"), col("n_test"))
  }

  /** Welch's unequal-variance t-test between two groups of `valueCol`:
    * one row `(t, df, mean_a, mean_b, n_a, n_b)` with the
    * Welch–Satterthwaite degrees of freedom; 6-dp on the derived
    * doubles (moment aggregates differ across engines in summation
    * order). The A/B experimentation readback: did the treatment move
    * the metric. No p-value column — engines disagree on t-CDF tails;
    * compare |t| against the caller's critical value.
    *
    * Shape at 100 TB: ONE conditional-moment aggregate (six doubles of
    * state), a projection finish. */
  def welchTTest(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val inA = col(groupCol) === groupA
    val inB = col(groupCol) === groupB
    df.filter(v.isNotNull && (inA || inB))
      .agg(
        avg(when(inA, v)).as("__ma"), variance(when(inA, v)).as("__va"),
        count(when(inA, v)).as("n_a"),
        avg(when(inB, v)).as("__mb"), variance(when(inB, v)).as("__vb"),
        count(when(inB, v)).as("n_b"))
      .select({
        val sa = col("__va") / col("n_a")
        val sb = col("__vb") / col("n_b")
        val se2 = sa + sb
        Seq(
          round((col("__ma") - col("__mb")) / sqrt(se2), 6).as("t"),
          round(se2 * se2 /
            (sa * sa / (col("n_a") - 1) + sb * sb / (col("n_b") - 1)), 6)
            .as("df"),
          round(col("__ma"), 6).as("mean_a"),
          round(col("__mb"), 6).as("mean_b"),
          col("n_a"), col("n_b"))
      }: _*)
  }

  /** Mann-Whitney rank-sum test between the `label = 1` and `label = 0`
    * groups of `scoreCol` (two-sided, normal approximation with the
    * standard tie correction): one row `(u, z, auc, n_pos, n_neg)` —
    * `U = AUC·P·N` (midrank ties), `z = (U − PN/2) / σ_U` with
    * `σ²_U = PN/12 · (n+1 − Σ(t³−t)/(n(n−1)))` over the tie-group
    * sizes t. The distribution-free A/B readback (AUC doubles as the
    * common-language effect size).
    *
    * Shape at 100 TB: the [[auc]] machinery verbatim — the tie term is
    * one extra sum over the SAME distinct-score relation; no additional
    * corpus pass. */
  def rankSumTest(df: DataFrame, scoreCol: String, labelCol: String,
      maxDistinctBroadcast: Long = 100000): DataFrame = {
    val r = scoreRanked(df, scoreCol, labelCol, maxDistinctBroadcast,
      "rankSumTest")
    val t = (col("__p") + col("__q")).cast("double")
    val out = r.below.agg(
      sum(col("__p").cast("double") *
        (col("__below___q").cast("double") +
          col("__q").cast("double") / 2.0)).as("__u"),
      sum(t * t * t - t).as("__ties"),
      sum("__p").as("n_pos"),
      sum("__q").as("n_neg"))
      .select({
        val p = col("n_pos").cast("double")
        val q = col("n_neg").cast("double")
        val n = p + q
        val sigma2 = p * q / 12.0 *
          ((n + 1.0) - col("__ties") / (n * (n - 1.0)))
        Seq(
          col("__u").as("u"),
          round((col("__u") - p * q / 2.0) / sqrt(sigma2), 6).as("z"),
          round(col("__u") / (p * q), 6).as("auc"),
          col("n_pos"), col("n_neg"))
      }: _*)
      .localCheckpoint(eager = true)
    r.release()
    out
  }

  /** Two-proportion z-test between groups `a` and `b` of a 0/1
    * `successCol` (pooled standard error): one row
    * `(p_a, p_b, diff, z, n_a, n_b)`, 6-dp. The conversion-rate A/B
    * readback. ONE conditional-count aggregate (four longs of state). */
  def twoProportionZ(df: DataFrame, successCol: String,
      groupCol: String, a: String, b: String): DataFrame = {
    val s = col(successCol).cast("long")
    val inA = col(groupCol) === a
    val inB = col(groupCol) === b
    df.filter(s.isNotNull && (inA || inB))
      .agg(sum(when(inA, s)).as("__sa"), count(when(inA, s)).as("n_a"),
        sum(when(inB, s)).as("__sb"), count(when(inB, s)).as("n_b"))
      .select({
        val pa = col("__sa").cast("double") / col("n_a")
        val pb = col("__sb").cast("double") / col("n_b")
        val pool = (col("__sa") + col("__sb")).cast("double") /
          (col("n_a") + col("n_b"))
        val se = sqrt(pool * (lit(1.0) - pool) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
        Seq(round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
          round(pa - pb, 6).as("diff"),
          round((pa - pb) / se, 6).as("z"),
          col("n_a"), col("n_b"))
      }: _*)
  }

  // ---- k-group variance analysis (ANOVA / Brown-Forsythe) ----------------

  /** Shared one-way-ANOVA finish over a `(__g, __x)` relation: per-group
    * moment sums → `SSB = Σ s_g²/n_g − S²/N`, `SSW = Σ(ss_g − s_g²/n_g)`,
    * `F = (SSB/(k−1)) / (SSW/(N−k))`. One group aggregate + a k-row
    * finish fold. */
  private def anovaCore(gx: DataFrame): DataFrame = {
    val g = gx.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"),
        sum(col("__x") * col("__x")).as("__ss"))
    g.agg(
      count(lit(1)).as("k"),
      sum("__n").as("n"),
      sum(col("__s") * col("__s") / col("__n")).as("__sb"),
      sum(col("__s")).as("__st"),
      sum(col("__ss") - col("__s") * col("__s") / col("__n")).as("__ssw"))
      .select({
        val ssb = col("__sb") - col("__st") * col("__st") / col("n")
        val df1 = (col("k") - 1).cast("double")
        val df2 = (col("n") - col("k")).cast("double")
        val f = (ssb / df1) / (col("__ssw") / df2)
        Seq(
          when(col("k") > 1 && col("n") > col("k") && col("__ssw") > 0,
            round(f, 6)).as("f"),
          (col("k") - 1).as("df1"), (col("n") - col("k")).as("df2"),
          col("k"), col("n"),
          round(ssb, 6).as("ss_between"),
          round(col("__ssw"), 6).as("ss_within"))
      }: _*)
  }

  /** One-way ANOVA F across the groups of `groupCol`: ONE row
    * `(f, df1, df2, k, n, ss_between, ss_within)` from ONE group-keyed
    * moment aggregate (three numbers of state per group) plus a k-row
    * finish — "do the group means differ at all", the k-group
    * generalization of [[welchTTest]]. Null f when degenerate (k < 2,
    * no residual df, or zero within-variance). With integral values
    * every moment sum is exact; the finish folds k deterministic terms
    * and rounds 6 dp. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val x = col(valueCol).cast("double")
    anovaCore(df.filter(x.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), x.as("__x")))
  }

  /** Brown-Forsythe test (the robust Levene variant): one-way ANOVA on
    * the absolute deviations from each group's MEDIAN —
    * "do the group SPREADS differ", robust to non-normality. The median
    * is the exact nearest-rank order statistic (value at
    * `max(1, ceil(n/2))` in group rank order), so with integral values
    * the deviations stay integral and every sum replays exactly.
    *
    * Shape at 100 TB: one per-group window sort for the medians, a
    * group-keyed join-back (groups-bounded — AQE broadcasts the median
    * relation), then the [[anovaF]] aggregate. No global sort, nothing
    * collected. */
  def brownForsythe(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val x = col(valueCol).cast("double")
    val base = df.filter(x.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), x.as("__x"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__x").asc)
    val wAll = Window.partitionBy(col("__g"))
    val med = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rn") ===
        greatest(lit(1L), ceil(col("__n") / 2.0).cast("long")))
      .select(col("__g").as("__mg"), col("__x").as("__med"))
    anovaCore(base.join(med, col("__g") === col("__mg"))
      .select(col("__g"), abs(col("__x") - col("__med")).as("__x")))
  }

  // ---- multiple testing (per-group z → portable Φ → BH/FDR) --------------

  /** Abramowitz-Stegun 7.1.26 erf constants, tabulated once so the
    * Spark expression and the generated oracle SQL share identical
    * literals (|approximation error| ≤ 1.5e-7 — consistent on both
    * sides, so it never causes a compare mismatch). */
  private[graft] val ErfP = 0.3275911
  private[graft] val ErfA =
    Seq(0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
  private[graft] val Sqrt2 = math.sqrt(2.0)

  /** Two-sided normal p-value `2·(1 − Φ(|z|))` via the A&S 7.1.26 erf
    * polynomial — closed-form Column algebra (exp is the only libm
    * call; its 1-ulp engine drift is absorbed by the caller's 6-dp
    * round). */
  private[graft] def twoSidedP(z: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val x = abs(z) / lit(Sqrt2)
    val t = lit(1.0) / (lit(1.0) + lit(ErfP) * x)
    val poly = t * (lit(ErfA(0)) + t * (lit(ErfA(1)) + t * (lit(ErfA(2)) +
      t * (lit(ErfA(3)) + t * lit(ErfA(4))))))
    val erf = lit(1.0) - poly * exp(-(x * x))
    lit(2.0) * (lit(1.0) - lit(0.5) * (lit(1.0) + erf))
  }

  /** Per-group proportion test against the REST of the population: for
    * each group, the pooled two-proportion z of its success rate vs all
    * other rows, with the two-sided normal p-value (A&S erf — portable
    * to the oracle). One row per group `(groups…, x, n, rate, z, p)`,
    * z/p null when the pooled rate is degenerate (0 or 1) or the rest
    * is empty. Feed the output to [[fdrAdjust]] — the "which segments
    * really deviate" screen, multiplicity-corrected.
    *
    * Shape at 100 TB: ONE group-keyed aggregate (two longs of state per
    * group) + a one-row broadcast totals join; the test arithmetic is a
    * projection over the group relation. */
  def proportionsByGroup(df: DataFrame, groupCols: Seq[String],
      successCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val s = col(successCol).cast("long")
    val g = df.filter(s.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(s).as("x"), count(lit(1)).as("n"))
    val tot = g.agg(sum("x").as("__X"), sum("n").as("__N"))
    val p1 = col("x").cast("double") / col("n")
    val n2 = (col("__N") - col("n")).cast("double")
    val p2 = (col("__X") - col("x")).cast("double") / n2
    val pool = col("__X").cast("double") / col("__N")
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n") + lit(1.0) / n2))
    val z = (p1 - p2) / se
    g.crossJoin(broadcast(tot))
      .filter(col("__N") > col("n"))
      .select(groupCols.map(col) ++ Seq(
        col("x"), col("n"),
        round(p1, 6).as("rate"),
        when(se > 0, round(z, 6)).as("z"),
        when(se > 0, round(twoSidedP(z), 6)).as("p")): _*)
  }

  /** Cochran-Armitage trend test: is a 0/1 outcome MONOTONICALLY
    * related to an ordered exposure (dose bands, balance bands, cohort
    * age)? `z = Σ sᵢ(xᵢ − nᵢp̄) / √(p̄(1−p̄)(Σ sᵢ²nᵢ − (Σ sᵢnᵢ)²/N))`
    * over per-level success counts with the level's own integer score
    * `sᵢ`. One row `(z, p, n, n_levels, rate_lo, rate_hi)` — the p is
    * two-sided normal via the shared A&S erf, and the lo/hi rates give
    * the direction. Unlike the k-group ANOVA or pairwise z, this is
    * the test that REWARDS ordering: a clean monotone trend scores far
    * beyond any unordered comparison. Integer scores and counts keep
    * every sum exact.
    *
    * Shape at 100 TB: ONE level-keyed conditional-count aggregate +
    * a levels-relation fold — no join, no sort. */
  def trendTest(df: DataFrame, scoreCol: String, successCol: String)
      : DataFrame = {
    val s = col(successCol).cast("long")
    val lvl = col(scoreCol).cast("long")
    val levels = df.filter(s.isNotNull && lvl.isNotNull)
      .groupBy(lvl.as("__s"))
      .agg(sum(s).as("__x"), count(lit(1)).as("__n"))
    levels.agg(
      sum("__x").as("__X"), sum("__n").as("__N"),
      count(lit(1)).as("n_levels"),
      sum(col("__s") * col("__x")).as("__sx"),
      sum(col("__s") * col("__n")).as("__sn"),
      sum(col("__s") * col("__s") * col("__n")).as("__ssn"),
      min_by(col("__x").cast("double") / col("__n"), col("__s"))
        .as("rate_lo"),
      max_by(col("__x").cast("double") / col("__n"), col("__s"))
        .as("rate_hi"))
      .select({
        val p = col("__X").cast("double") / col("__N")
        val num = col("__sx").cast("double") - p * col("__sn")
        val varr = p * (lit(1.0) - p) *
          (col("__ssn").cast("double") -
            col("__sn").cast("double") * col("__sn") / col("__N"))
        val z = num / sqrt(varr)
        Seq(
          when(varr > 0, round(z, 6)).as("z"),
          when(varr > 0, round(twoSidedP(z), 6)).as("p"),
          col("__N").as("n"), col("n_levels"),
          round(col("rate_lo"), 6).as("rate_lo"),
          round(col("rate_hi"), 6).as("rate_hi"))
      }: _*)
  }

  /** Uplift (Qini) curve by score bucket — the incremental-response
    * readback for a targeting model: rank by uplift score into
    * `nBuckets` fixed-width buckets (descending score; never ntile —
    * the liftGains discipline), then per bucket the cumulative
    * `qini = Y_t − Y_c·(N_t/N_c)` — treated successes beyond what the
    * control rate predicts for the treated volume so far. One row per
    * bucket: `(bucket, n_t, n_c, y_t, y_c, cum_uplift)`; buckets with
    * no control mass yet get null (undefined scaling). A useless model
    * walks a straight line to the endpoint; targeting skill bulges
    * early. Integer cumulatives ⇒ the single scaled subtraction per
    * bucket is deterministic, 6-dp rounded.
    *
    * Shape at 100 TB: ONE bucket-keyed conditional-count aggregate
    * (four longs per bucket) + cumulative windows over the ≤nBuckets
    * relation (bounded by construction). */
  def upliftDeciles(df: DataFrame, scoreCol: String, treatCol: String,
      outcomeCol: String, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1000,
      s"nBuckets in [2, 1000], got $nBuckets")
    val s = col(scoreCol).cast("double")
    val t = col(treatCol).cast("long")
    val y = col(outcomeCol).cast("long")
    // bucket 0 = TOP scores (descending targeting order)
    val bucket = least(floor((lit(1.0) - s) * nBuckets),
      lit(nBuckets - 1L)).cast("long")
    val perBucket = df
      .filter(s.isNotNull && t.isNotNull && y.isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(sum(when(t === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(t === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(t === 1, y).otherwise(0L)).as("y_t"),
        sum(when(t === 0, y).otherwise(0L)).as("y_c"))
    // ≤nBuckets rows: bounded by construction — single-task window
    val wc = graft.util.BoundedWindow.global(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket
      .withColumn("__cnt", sum("n_t").over(wc))
      .withColumn("__cnc", sum("n_c").over(wc))
      .withColumn("__cyt", sum("y_t").over(wc))
      .withColumn("__cyc", sum("y_c").over(wc))
      .select(col("bucket"), col("n_t"), col("n_c"), col("y_t"),
        col("y_c"),
        when(col("__cnc") > 0, round(
          col("__cyt").cast("double") - col("__cyc").cast("double") *
            (col("__cnt").cast("double") / col("__cnc")), 6))
          .as("cum_uplift"))
  }

  /** McNemar's test — the PAIRED model comparison: are two classifiers
    * evaluated on the SAME examples actually different, judged only by
    * the discordant pairs (`b` = A right & B wrong, `c` = A wrong & B
    * right; the examples both get right or both get wrong carry no
    * signal). One row `(n, b, c, z, p, acc_a, acc_b)` with the
    * continuity-corrected `z = (|b−c|−1)/√(b+c)` signed by `b−c`, and
    * the two-sided normal p via the shared A&S erf (null when no
    * discordant pairs). The right test when "model B beats A by 0.3%"
    * needs a verdict — pair-level, not two independent accuracies.
    * Integer counts ⇒ exact.
    *
    * Shape at 100 TB: ONE conditional-count aggregate — four longs of
    * state, no join, no sort. */
  def mcNemar(df: DataFrame, labelCol: String, predACol: String,
      predBCol: String): DataFrame = {
    val l = col(labelCol).cast("long")
    val pa = col(predACol).cast("long")
    val pb = col(predBCol).cast("long")
    val rightA = pa === l
    val rightB = pb === l
    df.filter(l.isNotNull && pa.isNotNull && pb.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(rightA && !rightB, 1L).otherwise(0L)).as("b"),
        sum(when(!rightA && rightB, 1L).otherwise(0L)).as("c"),
        sum(when(rightA, 1L).otherwise(0L)).as("__ra"),
        sum(when(rightB, 1L).otherwise(0L)).as("__rb"))
      .select({
        val disc = (col("b") + col("c")).cast("double")
        val z = signum(col("b") - col("c")).cast("double") *
          (abs(col("b") - col("c")).cast("double") - 1) / sqrt(disc)
        Seq(col("n"), col("b"), col("c"),
          when(disc > 0, round(z, 6)).as("z"),
          when(disc > 0, round(twoSidedP(z), 6)).as("p"),
          round(col("__ra").cast("double") / col("n"), 6).as("acc_a"),
          round(col("__rb").cast("double") / col("n"), 6).as("acc_b"))
      }: _*)
  }

  /** Mann-Kendall trend test per series — [[trendTest]]'s sibling for
    * LEVELS instead of proportions: `S = Σ_{i<j} sign(x_j − x_i)` with
    * the tie-corrected variance
    * `(n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))/18` and the continuity-
    * corrected `z` (null when all values tie). One row per key:
    * `(keys…, n, s, z, p)` with the two-sided normal p via the shared
    * A&S erf. Distribution-free — the standard "is this metric
    * drifting" test that needs no linearity assumption.
    *
    * Shape at 100 TB: the pair sum is a per-key self-join — O(n²) in
    * SERIES LENGTH, which is calendar-bounded by construction (pass a
    * resampled daily/hourly series, the cusum contract), never
    * corpus-bounded; ties and totals are one aggregate each, all
    * integer-exact. */
  def mannKendall(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val base = df.filter(col(valueCol).isNotNull &&
        col(orderCol).isNotNull)
      .select((keys.map(col) :+ col(orderCol).cast("long").as("__t") :+
        col(valueCol).cast("double").as("__x")): _*)
    val left = keys.foldLeft(base)((d, k) =>
      d.withColumnRenamed(k, s"${k}_l"))
      .withColumnRenamed("__t", "__t1").withColumnRenamed("__x", "__x1")
    val pairCond = keys.map(k => col(s"${k}_l") === col(k))
      .reduce(_ && _) && col("__t1") < col("__t")
    val sRel = left.join(base, pairCond)
      .groupBy(keys.map(col): _*)
      .agg(sum(signum(col("__x") - col("__x1")).cast("long")).as("s"))
    val ties = base.groupBy((keys.map(col) :+ col("__x")): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("long").as("__distinct"),
        sum(col("__c")).as("n"),
        sum(col("__c") * (col("__c") - 1) * (col("__c") * 2 + 5))
          .as("__tiesum"))
    val joined = sRel.join(ties, keys)
    val n = col("n").cast("double")
    val varS = (n * (n - 1) * (lit(2.0) * n + 5) -
      col("__tiesum").cast("double")) / 18.0
    val zNum = when(col("s") > 0, col("s").cast("double") - 1)
      .when(col("s") < 0, col("s").cast("double") + 1)
      .otherwise(lit(0.0))
    val z = zNum / sqrt(varS)
    joined.select((keys.map(col) ++ Seq(
      col("n"), col("s"),
      when(varS > 0, round(z, 6)).as("z"),
      when(varS > 0, round(twoSidedP(z), 6)).as("p"))): _*)
  }

  /** Benjamini-Hochberg step-up FDR adjustment over a p-value relation:
    * appends `rank` (ascending p, ties broken by `idCols`),
    * `q = min_{j ≥ rank}(p_j · m / j)` clamped to 1 (6-dp), and
    * `reject = q ≤ alpha`. Null p rows are dropped. The q-values are
    * computed from the (already 6-dp) p inputs by set-insensitive
    * window mins, so the whole adjustment replays bit-for-bit.
    *
    * The input is a TEST-LEVEL relation (one row per hypothesis —
    * segments, features, experiment arms), bounded by construction;
    * the global rank window is the intended single-task plan
    * ([[graft.util.BoundedWindow]] audit). */
  def fdrAdjust(df: DataFrame, idCols: Seq[String], pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(idCols.nonEmpty, "need at least one id column")
    require(alpha > 0 && alpha < 1, s"alpha in (0, 1), got $alpha")
    // bounded by construction: one row per TEST, never per data row
    val wRank = graft.util.BoundedWindow.global(
      col(pCol).asc +: idCols.map(col(_).asc): _*)
    val wSuffix = wRank.rowsBetween(Window.currentRow,
      Window.unboundedFollowing)
    val wAll = graft.util.BoundedWindow.globalUnordered()
    df.filter(col(pCol).isNotNull)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("q", round(least(lit(1.0),
        min(col(pCol) * col("__m") / col("rank")).over(wSuffix)), 6))
      .withColumn("reject", col("q") <= alpha)
      .drop("__m")
  }

  /** Wilson score confidence interval for a 0/1 rate per group:
    * `(group…, n, successes, rate, lo, hi)`, 6-dp — the interval that
    * behaves at extreme rates and small groups where the normal
    * approximation fails (never exits [0,1]). `z` defaults to 1.96
    * (95%). ONE group-keyed aggregate; the interval arithmetic is a
    * projection. */
  def wilsonRates(df: DataFrame, groupCols: Seq[String],
      successCol: String, z: Double = 1.96): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val s = col(successCol).cast("long")
    df.filter(s.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(s).as("successes"))
      .select({
        val n = col("n").cast("double")
        val p = col("successes").cast("double") / n
        val z2 = lit(z * z)
        val center = (p + z2 / (lit(2.0) * n)) / (lit(1.0) + z2 / n)
        val half = (lit(z) * sqrt(p * (lit(1.0) - p) / n +
          z2 / (lit(4.0) * n * n))) / (lit(1.0) + z2 / n)
        groupCols.map(col) ++ Seq(col("n"), col("successes"),
          round(p, 6).as("rate"),
          round(center - half, 6).as("lo"),
          round(center + half, 6).as("hi"))
      }: _*)
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * annotation columns: `κ = (p_o − p_e)/(1 − p_e)` with observed
    * agreement `p_o` and chance agreement `p_e = Σ_c P_a(c)·P_b(c)`.
    * Returns one row `(kappa, po, pe, n)`, 6-dp rounded; null kappa on
    * perfect chance agreement (p_e = 1). Rows with a null on either
    * side are excluded (they are non-annotations, not disagreements).
    *
    * Shape at 100 TB: ONE aggregate to the (a, b) cell relation
    * (labels² rows — the [[Analytics.association]] bound), marginals
    * and the agreement sum all aggregate that bounded relation; the
    * corpus is scanned once. The cell relation is checkpointed for the
    * same reason association's is: three consumers, one pass. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(eager = true)
    val n = cells.agg(sum("__o").as("__n"))
    val agree = cells.filter(col("__a") === col("__b"))
      .agg(coalesce(sum("__o"), lit(0L)).as("__agree"))
    // chance agreement from the two marginal distributions — joined on
    // the label, both label-count-sized
    val ma = cells.groupBy(col("__a").as("__c")).agg(sum("__o").as("__ca"))
    val mb = cells.groupBy(col("__b").as("__c")).agg(sum("__o").as("__cb"))
    val pe = ma.join(mb, "__c")
      .agg(sum(col("__ca").cast("double") * col("__cb")).as("__pesum"))
    val po = col("__agree").cast("double") / col("__n")
    val peN = col("__pesum") / (col("__n").cast("double") * col("__n"))
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(pe))
      .select(
        when(peN < 1.0,
          round((po - peN) / (lit(1.0) - peN), 6)).as("kappa"),
        round(po, 6).as("po"),
        round(peN, 6).as("pe"),
        col("__n").as("n"))
  }

  /** Multi-class per-class metrics from ONE (actual, predicted) cell
    * aggregate: for every class in the union of both sides,
    * `(n_actual, n_pred, tp, precision, recall, f1)` — guarded nulls
    * where a class was never predicted / never occurred; macro-averages
    * fold trivially off the output. Rows with a null on either side are
    * excluded.
    *
    * Shape at 100 TB: the corpus collapses to the labels² cell relation
    * in one map-side-combined pass (the [[cohenKappa]] /
    * [[Analytics.association]] bound); marginals and the diagonal are
    * label-sized re-aggregates of the checkpointed cells. */
  def multiclassMetrics(df: DataFrame, actualCol: String,
      predCol: String): DataFrame = {
    val cells = df
      .filter(col(actualCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(actualCol).cast("string").as("__a"),
        col(predCol).cast("string").as("__p"))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(eager = true)
    val actual = cells.groupBy(col("__a").as("class"))
      .agg(sum("__o").as("n_actual"))
    val pred = cells.groupBy(col("__p").as("class"))
      .agg(sum("__o").as("n_pred"))
    val diag = cells.filter(col("__a") === col("__p"))
      .groupBy(col("__a").as("class")).agg(sum("__o").as("tp"))
    val rate = (num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column) =>
      when(den > 0, round(num.cast("double") / den, 6))
    actual.join(pred, Seq("class"), "full")
      .join(diag, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("class"), col("n_actual"), col("n_pred"), col("tp"),
        rate(col("tp"), col("n_pred")).as("precision"),
        rate(col("tp"), col("n_actual")).as("recall"),
        when(col("n_pred") + col("n_actual") > 0,
          round(lit(2.0) * col("tp") /
            (col("n_pred") + col("n_actual")), 6)).as("f1"))
  }

  /** Per-group confusion + fairness metrics at ONE threshold, with a
    * rollup total row (null group = overall): `(group…, n, tp, fp, fn,
    * tn, tpr, fpr, precision, base_rate)`, rates 6-dp and null-guarded.
    * Equalized-odds / demographic-parity gaps read directly off the
    * per-group tpr/fpr/base_rate columns against the total row.
    *
    * Shape at 100 TB: ONE `rollup` aggregate — Spark expands each row
    * to its group + total grouping sets (×2 narrow fan-out, map-side
    * combined), so per-group AND overall metrics cost a single corpus
    * pass; post-aggregate state is groups+1 rows. */
  def groupConfusion(df: DataFrame, scoreCol: String, labelCol: String,
      groupCols: Seq[String], threshold: Double): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val s = col(scoreCol).cast("double")
    val pos = col(labelCol).cast("long") === 1L
    val pred = s >= threshold
    val cnt = (c: org.apache.spark.sql.Column) =>
      sum(when(c, 1L).otherwise(0L))
    val rate = (num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column) =>
      when(den > 0, round(num.cast("double") / den, 6))
    df.filter(s.isNotNull && col(labelCol).isNotNull)
      .rollup(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        cnt(pred && pos).as("tp"), cnt(pred && !pos).as("fp"),
        cnt(!pred && pos).as("fn"), cnt(!pred && !pos).as("tn"))
      .select(groupCols.map(col) ++ Seq(
        col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        rate(col("tp"), col("tp") + col("fn")).as("tpr"),
        rate(col("fp"), col("fp") + col("tn")).as("fpr"),
        rate(col("tp"), col("tp") + col("fp")).as("precision"),
        rate(col("tp") + col("fn"), col("n")).as("base_rate")): _*)
  }

  /** Proper scoring rules over probabilistic predictions: one row
    * `(brier, logloss, n)` — `brier = mean((s − l)²)`,
    * `logloss = mean(−[l·ln s′ + (1−l)·ln(1−s′)])` with the score
    * clamped to `[eps, 1−eps]` (the standard guard: a confident-wrong
    * 0/1 prediction otherwise yields ±∞). Both 6-dp rounded (aggregate
    * means + libm ln — the two engine-drift sources the repo's float
    * discipline rounds). ONE map-side-combined aggregate; state is two
    * running sums. */
  def scoringRules(df: DataFrame, scoreCol: String, labelCol: String,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 0.5, s"eps in (0, 0.5), got $eps")
    val s = col(scoreCol).cast("double")
    val l = col(labelCol).cast("double")
    val sc = greatest(lit(eps), least(lit(1.0 - eps), s))
    df.filter(s.isNotNull && l.isNotNull)
      .agg(
        round(avg((s - l) * (s - l)), 6).as("brier"),
        round(avg(-(l * log(sc) + (lit(1.0) - l) * log(lit(1.0) - sc))), 6)
          .as("logloss"),
        count(lit(1)).as("n"))
  }

  /** Per-series autocorrelation function at lags `1..maxLag`: one row
    * per (key, lag) with the standard full-series-denominator estimator
    * `r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)²`, expanded
    * algebraically so the mean never needs a second corpus pass:
    * `num_k = c_k − x̄(a_k+b_k) + n_k·x̄²` over the lagged co-products
    * `c_k = Σ x_t·x_{t−k}`, paired sums `a_k`/`b_k`, and pair count
    * `n_k`. Constant series (zero variance) get null `acf`; series
    * shorter than a lag get null at that lag (no pairs). Ordering must
    * be total per key (pass a resampled/bucketed series, the cusum
    * contract). With integral values every sum is exact, so the 6-dp
    * rounded ratio replays bit-for-bit in any engine.
    *
    * Shape at 100 TB: ONE per-key window sort (all `maxLag` lag columns
    * share it) into ONE map-side-combined aggregate whose state is
    * `3+4·maxLag` doubles per key; the lag axis explodes AFTER
    * aggregation, over keys×maxLag rows. The corpus is never globally
    * sorted, joined, or re-scanned per lag. */
  def acf(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, maxLag: Int = 7): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(maxLag >= 1 && maxLag <= 100, s"maxLag in [1, 100], got $maxLag")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val lagged = (1 to maxLag).foldLeft(
      df.filter(col(valueCol).isNotNull)
        .withColumn("__x", col(valueCol).cast("double")))((d, k) =>
      d.withColumn(s"__l$k", lag(col("__x"), k).over(w)))
    val aggs = Seq(count(lit(1)).as("__n"), sum(col("__x")).as("__s"),
      sum(col("__x") * col("__x")).as("__ss")) ++
      (1 to maxLag).flatMap { k => Seq(
        sum(col("__x") * col(s"__l$k")).as(s"__c$k"),
        sum(when(col(s"__l$k").isNotNull, col("__x"))).as(s"__a$k"),
        sum(col(s"__l$k")).as(s"__b$k"),
        count(col(s"__l$k")).as(s"__np$k"))
      }
    val g = lagged.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val m = col("__s") / col("__n")
    val den = col("__ss") - col("__n") * m * m
    val lagRows = explode(array((1 to maxLag).map { k =>
      struct(lit(k).as("lag"),
        (col(s"__c$k") - m * (col(s"__a$k") + col(s"__b$k")) +
          col(s"__np$k") * m * m).as("num"),
        col(s"__np$k").as("np"))
    }: _*))
    g.select(keys.map(col) ++ Seq(col("__n"), col("__s"), col("__ss"),
        lagRows.as("__lr")): _*)
      .select(keys.map(col) ++ Seq(
        col("__n").as("n"),
        col("__lr.lag").as("lag"),
        when(den > 0, round(col("__lr.num") / den, 6)).as("acf"),
        col("__lr.np").as("n_pairs")): _*)
  }

  /** Best single changepoint per series (binary-segmentation step): the
    * split AFTER which a new mean regime explains the data best —
    * argmin over cut positions `t` of `SSE_left(1..t) + SSE_right(t+1..n)`,
    * all candidate cuts evaluated from ONE cumulative pass via
    * `SSE = Σx² − (Σx)²/n` on prefix/suffix sums. One row per key:
    * `(keys…, n, split_at, sse_total, sse_split, gain, mean_left,
    * mean_right)` — `split_at` is the `orderCol` value of the LAST row
    * of the left segment, `gain` the SSE reduction (the CUSUM alarm
    * says "something drifted", this says WHERE). Ties on SSE break to
    * the earliest cut. Single-row series have no valid cut and are
    * omitted. Ordering must be total per key (the cusum contract).
    * With integral values the prefix sums are exact and every per-row
    * SSE is one deterministic IEEE expression, so the argmin row — and
    * the 6-dp rounded stats — replay identically in any engine.
    *
    * Shape at 100 TB: one per-key window sort carries the cumulative
    * AND whole-partition frames; the argmin is a second in-partition
    * sort (same exchange) + row_number filter. No join, no collect, no
    * per-candidate rescan — the classic O(n²) segment sweep is O(n)
    * per key. */
  def changepoint(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val pKeys = keys.map(col)
    val wCum = Window.partitionBy(pKeys: _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(pKeys: _*)
    val x = col(valueCol).cast("double")
    val cum = df.filter(x.isNotNull)
      .withColumn("__x", x)
      .withColumn("__cn", count(lit(1)).over(wCum).cast("double"))
      .withColumn("__cs", sum(col("__x")).over(wCum))
      .withColumn("__css", sum(col("__x") * col("__x")).over(wCum))
      .withColumn("__tn", count(lit(1)).over(wAll).cast("double"))
      .withColumn("__ts", sum(col("__x")).over(wAll))
      .withColumn("__tss", sum(col("__x") * col("__x")).over(wAll))
    val rn = col("__tn") - col("__cn")
    val rs = col("__ts") - col("__cs")
    val rss = col("__tss") - col("__css")
    val scored = cum.filter(col("__cn") < col("__tn"))
      .withColumn("__sse",
        (col("__css") - col("__cs") * col("__cs") / col("__cn")) +
          (rss - rs * rs / rn))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(pKeys: _*)
          .orderBy(col("__sse").asc, col(orderCol).asc)))
    scored.filter(col("__rk") === 1)
      .select(pKeys ++ Seq(
        col("__tn").cast("long").as("n"),
        col(orderCol).as("split_at"),
        round(col("__tss") - col("__ts") * col("__ts") / col("__tn"), 6)
          .as("sse_total"),
        round(col("__sse"), 6).as("sse_split"),
        round((col("__tss") - col("__ts") * col("__ts") / col("__tn")) -
          col("__sse"), 6).as("gain"),
        round(col("__cs") / col("__cn"), 6).as("mean_left"),
        round(rs / rn, 6).as("mean_right")): _*)
  }

  /** Cumulative Poisson(1) thresholds on the 60-bit md5 scale:
    * `T_k = floor(P(W ≤ k) · 2^60)` for k = 0..7 — the weight of a row
    * in replicate r is `#{k : hash60(id:r) ≥ T_k}` (≤ 8). Tabulated in
    * Scala once so the Spark expression and the oracle SQL compare
    * against identical integer literals. */
  private[graft] val PoissonT: Seq[Long] = {
    val scale = math.pow(2.0, 60)
    val probs = (0 to 7).scanLeft(0.0) { (acc, k) =>
      acc + math.exp(-1.0) / (1 to k).map(_.toDouble).product
    }.tail // cumulative P(W<=k), k=0..7 (0! product over empty = 1)
    probs.map(c => math.floor(c * scale).toLong)
  }

  /** Percentile-bootstrap confidence interval for the mean of
    * `valueCol`, via the DETERMINISTIC one-pass Poisson(1) bootstrap:
    * row i's multiplicity in replicate r is Poisson-distributed with
    * the randomness drawn from `md5(id:r)` — fully engine-replayable
    * (the repo's md5-rank sampling discipline), no RNG state, no
    * resampled copies of the data. Returns ONE row
    * `(mean, ci_lo, ci_hi, se_rel, n, replicates)`: the exact overall
    * mean, the `alpha/2`/`1−alpha/2` order statistics of the replicate
    * means, and the RELATIVE standard error (replicate-mean std-dev /
    * |mean|, 6-dp rounded — the ratio is the engine-portable form;
    * see the seRel comment). With integral values (the fixture
    * passes cents) every weighted sum is exact, so the replicate means
    * — and therefore the CI endpoints — are bit-identical in any
    * engine.
    *
    * Shape at 100 TB: ONE corpus scan computing all `2·R` weighted
    * sums as map-side-combined aggregate expressions — the corpus is
    * never exploded ×R, never shuffled, and the post-aggregate state
    * is one row of 2R numbers; the CI finish sorts the R-row replicate
    * relation (bounded by construction). The R md5 evaluations per row
    * are embarrassingly parallel scan CPU. */
  def bootstrapMeanCI(df: DataFrame, valueCol: String, idCol: String,
      replicates: Int = 32, alpha: Double = 0.05): DataFrame = {
    require(replicates >= 8 && replicates <= 512,
      s"replicates in [8, 512], got $replicates")
    require(alpha > 0 && alpha < 0.5, s"alpha in (0, 0.5), got $alpha")
    val x = col(valueCol).cast("double")
    val base = df.filter(x.isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"), x.as("__x"))
    def weight(r: Int) = {
      val v = graft.functions.GraftFunctions.md5_hash60(
        concat(col("__id"), lit(":"), lit(r.toString)))
      PoissonT.map(t => when(v >= t, 1L).otherwise(0L)).reduce(_ + _)
    }
    val aggs = Seq(sum(col("__x")).as("__sx"),
      count(lit(1)).as("__n")) ++
      (0 until replicates).flatMap { r => Seq(
        sum(weight(r) * col("__x")).as(s"__s$r"),
        sum(weight(r)).as(s"__w$r"))
      }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val reps = one.select(col("__sx"), col("__n"),
        explode(array((0 until replicates).map(r =>
          struct(lit(r).as("r"),
            when(col(s"__w$r") > 0, col(s"__s$r") / col(s"__w$r"))
              .as("m"))): _*)).as("__rep"))
      .select(col("__sx"), col("__n"), col("__rep.r").as("__r"),
        col("__rep.m").as("__m"))
      .filter(col("__m").isNotNull)
    // R-row relation: bounded by construction (≤ `replicates` rows) —
    // the single-task sort is the intended plan. The replicate index
    // breaks mean ties so the rank — and the rank-ordered cumulative
    // sums the std-dev derives from — is total and engine-replayable.
    val wRank = graft.util.BoundedWindow.global(col("__m"), col("__r"))
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, 0)
    val loIdx = math.max(1, math.ceil(alpha / 2 * replicates).toInt)
    val hiIdx = replicates + 1 - loIdx
    val ranked = reps
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__c1", sum(col("__m")).over(wCum))
      .withColumn("__c2", sum(col("__m") * col("__m")).over(wCum))
    val s1 = max_by(col("__c1"), col("__rk"))
    val s2 = max_by(col("__c2"), col("__rk"))
    val rr = count(lit(1)).cast("double")
    val meanCol = min(col("__sx") / col("__n"))
    // relative standard error: the std-dev of replicate means crosses
    // engines only to the last ulp (windowed sums associate differently
    // per engine), so the portable output is the RATIO to the mean,
    // where 6-dp rounding absorbs ulp drift at any data magnitude
    val seRel = when(meanCol =!= 0.0, round(sqrt(greatest(lit(0.0),
      (s2 - s1 * s1 / rr) / (rr - 1))) / abs(meanCol), 6))
    ranked.agg(
      meanCol.as("mean"),
      min(when(col("__rk") === loIdx, col("__m"))).as("ci_lo"),
      min(when(col("__rk") === hiIdx, col("__m"))).as("ci_hi"),
      seRel.as("se_rel"),
      min(col("__n")).as("n"),
      count(lit(1)).as("replicates"))
  }

  /** Per-series cross-correlation function between two co-sampled
    * series: for each lag `k ∈ [−maxLag, maxLag]`, the pairwise-complete
    * Pearson correlation of `x_t` with `y_{t−k}` (positive k ⇒ y LEADS
    * x by k steps; negative k ⇒ x leads y). The lead/lag attribution
    * tool: "which activity moves ahead of purchases, and by how many
    * days". One row per (key, lag): `(keys…, lag, ccf, n_pairs)`;
    * degenerate lags (no pairs or zero variance on either side) get
    * null `ccf`. All six moment sums are computed per lag under the
    * SAME pair mask, so the estimator is the textbook one on the
    * overlapping window. With integral values every sum is exact and
    * the closed-form correlation is one deterministic IEEE expression,
    * 6-dp rounded.
    *
    * Shape at 100 TB: ONE per-key window sort shared by all 2·maxLag+1
    * shifted columns, into ONE map-side-combined aggregate
    * (6·(2·maxLag+1) doubles of state per key); the lag axis explodes
    * post-aggregation. The [[acf]] discipline with a second column. */
  def ccf(df: DataFrame, keys: Seq[String], orderCol: String,
      xCol: String, yCol: String, maxLag: Int = 7): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(maxLag >= 1 && maxLag <= 60, s"maxLag in [1, 60], got $maxLag")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val lags = -maxLag to maxLag
    def nm(k: Int) = if (k < 0) s"m${-k}" else s"p$k"
    val shifted = lags.foldLeft(
      df.filter(col(xCol).isNotNull)
        .withColumn("__x", col(xCol).cast("double"))
        .withColumn("__y0", col(yCol).cast("double")))((d, k) =>
      d.withColumn(s"__y${nm(k)}",
        if (k == 0) col("__y0")
        else if (k > 0) lag(col("__y0"), k).over(w)
        else lead(col("__y0"), -k).over(w)))
    val aggs = lags.flatMap { k =>
      val y = col(s"__y${nm(k)}")
      val both = y.isNotNull
      def s(e: org.apache.spark.sql.Column) =
        sum(when(both, e).otherwise(lit(0.0)))
      Seq(
        sum(when(both, 1L).otherwise(0L)).as(s"__n${nm(k)}"),
        s(col("__x")).as(s"__sx${nm(k)}"),
        s(y).as(s"__sy${nm(k)}"),
        s(col("__x") * col("__x")).as(s"__sxx${nm(k)}"),
        s(y * y).as(s"__syy${nm(k)}"),
        s(col("__x") * y).as(s"__sxy${nm(k)}"))
    }
    val g = shifted.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val lagRows = explode(array(lags.map { k =>
      val n = col(s"__n${nm(k)}").cast("double")
      val vx = col(s"__sxx${nm(k)}") -
        col(s"__sx${nm(k)}") * col(s"__sx${nm(k)}") / n
      val vy = col(s"__syy${nm(k)}") -
        col(s"__sy${nm(k)}") * col(s"__sy${nm(k)}") / n
      val cxy = col(s"__sxy${nm(k)}") -
        col(s"__sx${nm(k)}") * col(s"__sy${nm(k)}") / n
      struct(lit(k).as("lag"),
        when(col(s"__n${nm(k)}") > 1 && vx > 0 && vy > 0,
          round(cxy / sqrt(vx * vy), 6)).as("ccf"),
        col(s"__n${nm(k)}").as("np"))
    }: _*))
    g.select(keys.map(col) :+ lagRows.as("__lr"): _*)
      .select(keys.map(col) ++ Seq(col("__lr.lag").as("lag"),
        col("__lr.ccf").as("ccf"), col("__lr.np").as("n_pairs")): _*)
  }

  /** Exact two-sample Kolmogorov-Smirnov test over RAW values (the
    * register-resolution sibling is [[Analytics.ksFromRegisters]]):
    * `D = max_s |ECDF_A(s) − ECDF_B(s)|` evaluated at every distinct
    * value, plus the value achieving it (ties → smallest) and the
    * normalized `z = D·√(n_A·n_B/(n_A+n_B))`. One row
    * `(d, at_value, z, n_a, n_b)`.
    *
    * Shape at 100 TB: ONE corpus aggregate to the distinct-value
    * relation with per-group counts, the SAME driver/binned cumulative
    * engine as [[auc]]/[[lorenzGini]] (finished on the driver under
    * `maxDistinctBroadcast`, else the 64×64 quantile-balanced bins with
    * parallel per-bin windows + broadcast offsets), the engine's
    * one-row totals, and a TakeOrdered(1) argmax finish — the corpus is
    * never globally sorted and the ECDF divisions are single IEEE ops
    * over exact integer cumulatives, so the result replays bit-for-bit
    * in any engine. */
  def ksExact(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String,
      maxDistinctBroadcast: Long = 100000): DataFrame = {
    val (out, counts) = ksExactPlan(df, valueCol, groupCol, groupA,
      groupB, maxDistinctBroadcast)
    val m = out.localCheckpoint(eager = true)
    graft.util.Materialize.release(counts)
    m
  }

  /** The unmaterialized [[ksExact]] plan plus the checkpointed counts
    * relation (the aucPlan pattern, for plan-shape tests). */
  private[graft] def ksExactPlan(df: DataFrame, valueCol: String,
      groupCol: String, groupA: String, groupB: String,
      maxDistinctBroadcast: Long): (DataFrame, DataFrame) = {
    val g = col(groupCol).cast("string")
    val labeled = df.filter(col(valueCol).isNotNull &&
        (g === groupA || g === groupB))
      .withColumn("__lab", when(g === groupA, 1L).otherwise(0L))
    val r = scoreRanked(labeled, valueCol, "__lab", maxDistinctBroadcast,
      "ksExact")
    // the engine's totals sum the counted relation, not the cumulative
    // output — summing that re-evaluated the entire cumulative engine
    // (binned path: bounds + windows + offsets join) a second time just
    // to sum columns the cumulative never changes (round 11, guide §1.2)
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val out = r.withTotals
      .withColumnRenamed("__total___p", "__na")
      .withColumnRenamed("__total___q", "__nb")
      .withColumn("__d", abs(
        (col("__below___p") + col("__p")).cast("double") / col("__na") -
          (col("__below___q") + col("__q")).cast("double") / col("__nb")))
      .orderBy(col("__d").desc, col("__s").asc).limit(1)
      .select(
        round(col("__d"), 6).as("d"),
        col("__s").cast("double").as("at_value"),
        round(col("__d") * sqrt(naD * nbD /
          (col("__na") + col("__nb")).cast("double")), 6).as("z"),
        col("__na").as("n_a"), col("__nb").as("n_b"))
    (out, r.counts)
  }

  /** Quantile normalization (distribution matching): the exact value
    * map that aligns the `target` slice's distribution onto the `ref`
    * slice's — each distinct target value `v` maps to the ref value at
    * nearest rank `ceil(ecdf_target(v) · n_ref)` (computed as the pure
    * integer `(cum·n_ref + n_target − 1) div n_target` — exact while
    * `n_ref · n_target < 2^63`). Returns the MAPPING relation
    * `(value, normalized, ref_rank)` — one row per distinct target
    * value; apply it with a value equi-join. The cross-source feature/
    * score alignment tool ("make source B's quality scores comparable
    * to source A's").
    *
    * Shape at 100 TB: ONE (side, value) counting aggregate ranked by the
    * SHARED driver/binned cumulative engine ([[auc]]'s) with the side as
    * its group. When both sides together have ≤ `maxDistinctBroadcast`
    * distinct values the ranked rows are on the driver and the mapping is
    * finished there: each target rank's ref value by binary search over
    * the ref side's rank intervals, handed back as a local relation (no
    * join, no broadcast job). Otherwise the rank lookup is a RANK-SPACE
    * bin equi-join (width `ceil(n_ref/4096)` — exact integer bins, no
    * approx quantiles): ref intervals explode across the ≤(distinct +
    * 4096) bins they cover, target ranks join their bin, and the interval
    * containment filter finishes. No corpus-sized sort, broadcast, or
    * nested-loop join anywhere. */
  def quantileNormalize(df: DataFrame, valueCol: String, groupCol: String,
      target: String, ref: String,
      maxDistinctBroadcast: Long = 100000): DataFrame = {
    val (plan, counts) = quantileNormalizePlan(df, valueCol, groupCol,
      target, ref, maxDistinctBroadcast)
    val out = plan.localCheckpoint(eager = true)
    graft.util.Materialize.release(counts)
    out
  }

  /** The unmaterialized [[quantileNormalize]] plan plus the counted
    * relation both sides share — to release
    * ([[graft.util.Materialize.release]]) after the plan is consumed (the
    * aucPlan pattern, for plan-shape tests). */
  private[graft] def quantileNormalizePlan(df: DataFrame, valueCol: String,
      groupCol: String, target: String, ref: String,
      maxDistinctBroadcast: Long): (DataFrame, DataFrame) = {
    val g = col(groupCol).cast("string")
    val vals = df.filter(col(valueCol).isNotNull &&
        (g === ref || g === target))
      .select(g.as("__g"), col(valueCol).cast("double").as("__s"))
    // ONE corpus aggregate for BOTH sides (round 10, guide §2.3/§1.2:
    // the previous per-side groupBy scanned the corpus twice), ranked with
    // the side as the group: one guarded collect, and each side's filter
    // (on the group key) pushes below the binned path's windows
    val r = CumulativeEngine.rank(
      vals.groupBy(col("__g"), col("__s")).agg(count(lit(1)).as("__c")),
      "__s", Seq("__c"), Seq("__g"), maxDistinctBroadcast,
      "quantileNormalize")
    if (r.onDriver)
      return (quantileMapOnDriver(r.withTotals, target, ref), r.counts)
    def side(s: String): DataFrame = r.withTotals.filter(col("__g") === s)
    val aBelow = side(ref).select(col("__s").as("__va"),
      col("__c").as("__ca"), col("__below___c").as("__ba"),
      col("__total___c").as("__na"))
    val bCum = side(target).select(col("__s").as("__vb"),
      (col("__below___c") + col("__c")).as("__cumb"),
      col("__total___c").as("__nb"))
    val aTot = r.totals.filter(col("__g") === ref)
      .select(col("__total___c").as("__na"))
    val w = greatest(lit(1L),
      ceil(col("__na").cast("double") / 4096.0).cast("long"))
    val aExploded = aBelow
      .withColumn("__w", w)
      .withColumn("__bin", explode(sequence(
        expr("__ba div __w"),
        expr("(__ba + __ca - 1) div __w"))))
    val bKeyed = bCum.crossJoin(broadcast(aTot))
      .withColumn("__ka",
        expr("(__cumb * __na + __nb - 1) div __nb"))
      .withColumn("__w", w)
      .withColumn("__bin", expr("(__ka - 1) div __w"))
    val out = bKeyed.join(aExploded.select("__bin", "__va", "__ca", "__ba"),
        Seq("__bin"))
      .filter(col("__ka") > col("__ba") &&
        col("__ka") <= col("__ba") + col("__ca"))
      .select(col("__vb").as("value"), col("__va").as("normalized"),
        col("__ka").as("ref_rank"))
    (out, r.counts)
  }

  /** [[quantileNormalizePlan]]'s driver finish over the LOCAL ranked
    * relation (columns `__g, __s, __c, __below___c, __total___c`, sorted
    * by side then value): the target's nearest ref rank by the plan's
    * integer formula (overflow raises, as the ANSI expression does), and
    * the ref value whose rank interval `(below, below + c]` holds it. */
  private def quantileMapOnDriver(ranked: DataFrame, target: String,
      ref: String): DataFrame = {
    val rows = ranked.collect() // a local relation: no job
    def side(s: String) = rows.filter(_.getAs[String]("__g") == s)
    def long(r: Row, c: String) = r.getAs[Long](c)
    val a = side(ref)
    val aBelow = a.map(long(_, "__below___c"))
    val out = if (a.isEmpty) Array.empty[Row] else {
      val na = long(a.head, "__total___c")
      side(target).map { b =>
        val nb = long(b, "__total___c")
        val cum = long(b, "__below___c") + long(b, "__c")
        val ka = Math.subtractExact(
          Math.addExact(Math.multiplyExact(cum, na), nb), 1L) / nb
        // the last ref row starting below ka: below is strictly increasing
        // from 0 and 1 <= ka <= na, so its interval holds ka
        var lo = 0
        var hi = a.length - 1
        while (lo < hi) {
          val mid = (lo + hi + 1) >>> 1
          if (aBelow(mid) < ka) lo = mid else hi = mid - 1
        }
        Row(b.getAs[Double]("__s"),
          a(lo).getAs[Double]("__s"), ka)
      }
    }
    ranked.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("value", DoubleType),
        StructField("normalized", DoubleType),
        StructField("ref_rank", LongType))))
  }

  /** Forecast-quality backtest per series: score the SEASONAL-NAIVE
    * forecast (`x̂_t = x_{t−season}`) against the naive-1 baseline
    * (`x̂_t = x_{t−1}`) over the rows where both are defined, one row
    * per key: `(keys…, n_eval, mae_season, rmse_season, mae_naive,
    * rmse_naive, skill)` with `skill = 1 − Σ|e_season|/Σ|e_naive|`
    * (positive ⇒ the seasonal structure helps; null when the naive
    * error is zero). The classic pre-model sanity check: if seasonal-
    * naive doesn't beat naive-1, the "seasonality" isn't there.
    * Integral values make every error sum exact, and the skill ratio is
    * computed from the RAW sums (never the rounded means), so the 6-dp
    * outputs replay in any engine. Ordering must be total per key (the
    * cusum contract — pass a resampled series).
    *
    * Shape at 100 TB: ONE per-key window sort (both lags share it) into
    * ONE map-side-combined aggregate — five doubles of state per key,
    * no join, no second pass. */
  def forecastBacktest(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, season: Int = 7): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(season >= 2, s"season >= 2, got $season (use cusum/acf lag 1)")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val x = col(valueCol).cast("double")
    val lagged = df.filter(x.isNotNull)
      .withColumn("__x", x)
      .withColumn("__fs", lag(col("__x"), season).over(w))
      .withColumn("__f1", lag(col("__x"), 1).over(w))
    val both = col("__fs").isNotNull && col("__f1").isNotNull
    def s(e: org.apache.spark.sql.Column) =
      sum(when(both, e).otherwise(lit(0.0)))
    val g = lagged.groupBy(keys.map(col): _*).agg(
      sum(when(both, 1L).otherwise(0L)).as("n_eval"),
      s(abs(col("__x") - col("__fs"))).as("__es"),
      s((col("__x") - col("__fs")) * (col("__x") - col("__fs")))
        .as("__ss"),
      s(abs(col("__x") - col("__f1"))).as("__e1"),
      s((col("__x") - col("__f1")) * (col("__x") - col("__f1")))
        .as("__s1"))
    g.filter(col("n_eval") > 0)
      .select(keys.map(col) ++ Seq(
        col("n_eval"),
        round(col("__es") / col("n_eval"), 6).as("mae_season"),
        round(sqrt(col("__ss") / col("n_eval")), 6).as("rmse_season"),
        round(col("__e1") / col("n_eval"), 6).as("mae_naive"),
        round(sqrt(col("__s1") / col("n_eval")), 6).as("rmse_naive"),
        when(col("__e1") > 0,
          round(lit(1.0) - col("__es") / col("__e1"), 6)).as("skill")): _*)
  }

  /** Scale-free forecast accuracy for the seasonal-naive backtest —
    * the metrics [[forecastBacktest]]'s absolute-error family can't
    * give: sMAPE (symmetric percentage error, comparable across series
    * of different magnitude), wMAPE (mass-weighted — the demand-planning
    * standard, robust to zero actuals), and pinball loss at a quantile
    * (the accuracy of the forecast read as a service-level quantile).
    *
    *   smape   = mean over eval points of 2|x−f| / (|x|+|f|)   (0 when both 0)
    *   wmape   = Σ|x−f| / Σ|x|
    *   pinball = mean of q·(x−f)⁺ + (1−q)·(f−x)⁺
    *
    * f is the lag-`season` value per key (same eval set as
    * forecastBacktest: points where the seasonal lag exists). ONE window
    * pass (partitioned by key — parallel, per-task state one key's
    * series) feeding ONE aggregate; outputs rounded 6 dp.
    *
    * Determinism: values are quantized to integer cents per row first,
    * so |x−f|, (x−f)⁺ and the wmape sums are exact integer sums; smape's
    * per-row ratio and pinball's final division are the only float steps
    * (the forecastBacktest rounding discipline). */
  def forecastAccuracy(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, season: Int = 7, quantile: Double = 0.9)
      : DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(season >= 1, s"season >= 1, got $season")
    require(quantile > 0 && quantile < 1,
      s"quantile in (0,1), got $quantile")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val xc = floor(col(valueCol).cast("double") * lit(100)).cast("long")
    val lagged = df.filter(col(valueCol).isNotNull)
      .withColumn("__x", xc)
      .withColumn("__f", lag(col("__x"), season).over(w))
      .filter(col("__f").isNotNull)
    val err = col("__x") - col("__f")
    val denom = abs(col("__x")) + abs(col("__f"))
    // pinball in exact integer milli-cent units: q quantized to /1000
    val qm = math.round(quantile * 1000)
    val pinballTerm = when(err > 0, err * lit(qm))
      .otherwise(-err * lit(1000 - qm))
    lagged.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("n_eval"),
        avg(when(denom > 0, lit(2.0) * abs(err) / denom)
          .otherwise(lit(0.0))).as("__smape"),
        sum(abs(err)).as("__ae"),
        sum(abs(col("__x"))).as("__ax"),
        sum(pinballTerm).as("__pb"))
      .select(keys.map(col) ++ Seq(
        col("n_eval"),
        round(col("__smape"), 6).as("smape"),
        when(col("__ax") > 0, round(col("__ae") / col("__ax"), 6))
          .as("wmape"),
        // milli-cents -> currency units: /1000 (q) /100 (cents) /n
        round(col("__pb") / lit(1000.0) / lit(100.0) / col("n_eval"), 6)
          .as("pinball")): _*)
  }

  /** Classical seasonal decomposition (the moving-average STL-lite:
    * trend = centered MA, seasonal = mean detrended value per phase,
    * residual = remainder) for a cents-quantized series:
    *
    *   trend_t    = mean(x_{t-h} .. x_{t+h}),  h = (season-1)/2
    *   seasonal_p = mean over full-window rows of (x_t − trend_t), p = t mod season
    *   residual_t = x_t − trend_t − seasonal_p
    *
    * Output per row: (keys…, orderCol, value, trend, seasonal, residual)
    * in the input's units, 6 dp; rows whose centered window is
    * incomplete (the first/last h per key) carry null trend/seasonal/
    * residual, exactly like statsmodels' boundary NaNs.
    *
    * Shape: ONE window sort per key carries the centered sum, the row
    * count, and the row number (three frames, one Sort); the seasonal
    * means are an aggregate over the (keys, phase) relation —
    * season-bounded — joined back broadcast-style. Per-task state is
    * one key's series.
    *
    * Determinism at 1000 executors: the input quantizes to integer
    * cents, the trend denominator is the CONSTANT `season`, so
    * detrended·season = cents·season − windowSum is an EXACT integer;
    * every emitted double is that integer through ≤2 single divisions —
    * bit-identical in any engine, no float summation order anywhere
    * (the phase means sum exact integers too). */
  def decompose(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, season: Int = 7): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(season >= 3 && season % 2 == 1,
      s"season must be odd and >= 3 (centered window), got $season")
    val h = (season - 1) / 2
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val wc = w.rowsBetween(-h, h)
    val cents = floor(col(valueCol).cast("double") * lit(100)).cast("long")
    val base = df.filter(col(valueCol).isNotNull)
      .withColumn("__x", cents)
      .withColumn("__ws", sum("__x").over(wc))
      .withColumn("__wn", count(lit(1)).over(wc))
      .withColumn("__phase",
        (row_number().over(w) - 1) % season)
      // detrended in exact integer "season-ths of a cent"
      .withColumn("__d", when(col("__wn") === season,
        col("__x") * season - col("__ws")))
    val seasonal = base.filter(col("__d").isNotNull)
      .groupBy((keys :+ "__phase").map(col): _*)
      .agg(sum("__d").as("__ds"), count(lit(1)).as("__dn"))
      // mean season-ths: one exact-integer division pair
      .withColumn("__seas", col("__ds") / col("__dn") / lit(season))
      .select((keys :+ "__phase").map(col) :+ col("__seas"): _*)
    base.join(seasonal, keys :+ "__phase", "left")
      .select(keys.map(col) ++ Seq(
        col(orderCol), col(valueCol),
        round(col("__ws") / lit(season) / lit(100.0), 6).as("trend"),
        round(col("__seas") / lit(100.0), 6).as("seasonal"),
        round((col("__d") / lit(season.toDouble) - col("__seas"))
          / lit(100.0), 6).as("residual")) :+
        when(col("__wn") === season, lit(true)).otherwise(lit(false))
          .as("full_window"): _*)
      .withColumn("trend",
        when(col("full_window"), col("trend")))
      .withColumn("seasonal",
        when(col("full_window"), col("seasonal")))
      .drop("full_window")
  }

  /** Per-row seasonal anomaly flags: [[decompose]]'s residuals judged
    * by the robust MAD rule (|residual − median(residual)| > k·MAD per
    * key — the madOutliers convention, low-median nearest-rank order
    * stats so any engine replays the exact cut). The metrics-monitoring
    * staple: "which days broke the weekly pattern", immune to the trend
    * and the seasonality itself.
    *
    * Output per full-window row: (keys…, orderCol, value, residual,
    * resid_median, resid_mad, is_outlier). The whole rule — medians,
    * MAD, and the flag — runs on decompose's 6-dp residual column:
    * those values are deterministic (exact rationals through a fixed
    * rounding), so the order statistics and the cut replay exactly in
    * any engine.
    *
    * Shape: decompose's one window sort + season-bounded join, then the
    * two per-key rank sorts of the MAD rule (key-bounded task state)
    * with groups-bounded broadcast join-backs — no corpus self-join. */
  def seasonalOutliers(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, season: Int = 7, k: Double = 3.0): DataFrame = {
    require(k > 0, s"k > 0, got $k")
    val gb = keys.map(col)
    val dec = decompose(df, keys, orderCol, valueCol, season)
      .filter(col("residual").isNotNull)
      .withColumn("__r", col("residual"))
    def medianOf(rel: DataFrame, vCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(gb: _*).orderBy(col(vCol).asc)
      val wAll = Window.partitionBy(gb: _*)
      rel.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wAll))
        .filter(col("__rn") ===
          greatest(lit(1L), ceil(col("__n") / 2.0).cast("long")))
        .select((keys.map(n => col(n).as(n + "_m")) :+
          col(vCol).as(out)): _*)
    }
    def joinBack(rel: DataFrame, med: DataFrame): DataFrame =
      rel.join(med, keys.map(c =>
        col(c) === col(c + "_m")).reduce(_ && _))
        .drop(keys.map(_ + "_m"): _*)
    val withMed = joinBack(dec, medianOf(dec, "__r", "__med"))
      .withColumn("__dev", abs(col("__r") - col("__med")))
    val withMad = joinBack(withMed, medianOf(withMed, "__dev", "__mad"))
    withMad.select(gb ++ Seq(
      col(orderCol), col(valueCol),
      col("residual"),
      round(col("__med"), 6).as("resid_median"),
      round(col("__mad"), 6).as("resid_mad"),
      (col("__dev") > lit(k) * col("__mad")).as("is_outlier")): _*)
  }

  // ---- search / recommendation ranking metrics ---------------------------

  /** Quantization scale for the ranking metrics: per-item contributions
    * are integers in units of 2^-20, so every per-query and corpus-wide
    * sum is exact and order-independent (the AUC ½-multiple discipline,
    * extended to irrational DCG discounts by tabulating them once). */
  private[graft] val RankQ: Long = 1L << 20

  /** Integer DCG discount table for ranks 1..k:
    * `round(2^20 / log2(r+1))`. Tabulated in Scala ONCE so the Spark
    * expression and the generated oracle SQL share identical constants —
    * libm `log` never runs inside either engine. */
  private[graft] def dcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(r => Math.round(
      RankQ.toDouble / (Math.log(r + 1.0) / Math.log(2.0))))

  /** Integer reciprocal-rank table for ranks 1..k: `round(2^20 / r)`. */
  private[graft] def rrTable(k: Int): Seq[Long] =
    (1 to k).map(r => Math.round(RankQ.toDouble / r))

  /** Per-query integer ranking statistics at cutoff `k` — the shared
    * machinery behind [[rankingPerQuery]] / [[rankingMetrics]]. Output
    * per query: `__dcg`/`__idcg` (integer DCG at the tabulated 2^-20
    * discounts, score-order and ideal relevance-order), `__rr` (integer
    * reciprocal rank of the first relevant hit in the top k, 0 when
    * none), `__apnum` (Σ over relevant hits of
    * `floor(cumrel·2^20 / rank)` — quantized precision-at-hit), `n_rel`,
    * `n_items`. Ties on score break by ascending item id, so ranking is
    * total and the oracle replays it; ties on ideal relevance need no
    * break (equal gains ⇒ equal contribution).
    *
    * Shape at 100 TB: ONE exchange hash-partitioned by query, two
    * in-partition sorts (score order — shared by the cumulative-hit
    * frame — and ideal order), then one map-side-combined aggregate to
    * per-query rows. A task holds one query's candidate list — the
    * standard per-entity bound shared with sessionize/cusum. The corpus
    * is never globally sorted and nothing is collected; all integer
    * magnitudes are capped by `k·maxRel·2^20`. */
  private def rankingInts(df: DataFrame, queryCol: String, itemCol: String,
      scoreCol: String, relCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"cutoff k in [1, 1000], got $k")
    val s = col(scoreCol).cast("double")
    val base = df
      .filter(col(queryCol).isNotNull && col(itemCol).isNotNull &&
        s.isNotNull && col(relCol).isNotNull)
      .select(col(queryCol).as("__q"), col(itemCol).as("__i"),
        s.as("__s"), col(relCol).cast("long").as("__r"))
    val wScore = Window.partitionBy(col("__q"))
      .orderBy(col("__s").desc, col("__i").asc)
    val wIdeal = Window.partitionBy(col("__q"))
      .orderBy(col("__r").desc, col("__i").asc)
    val wCum = wScore.rowsBetween(Window.unboundedPreceding, 0)
    val dTab = array(dcgDiscounts(k).map(lit): _*)
    val rTab = array(rrTable(k).map(lit): _*)
    base // the two score-ordered windows stay adjacent → ONE shared sort
      .withColumn("__rs", row_number().over(wScore))
      .withColumn("__cumrel",
        sum(when(col("__r") > 0, 1L).otherwise(0L)).over(wCum))
      .withColumn("__ri", row_number().over(wIdeal))
      .groupBy(col("__q"))
      .agg(
        sum(when(col("__rs") <= k,
          col("__r") * element_at(dTab, col("__rs").cast("int")))
          .otherwise(0L)).as("__dcg"),
        sum(when(col("__ri") <= k,
          col("__r") * element_at(dTab, col("__ri").cast("int")))
          .otherwise(0L)).as("__idcg"),
        max(when(col("__rs") <= k && col("__r") > 0,
          element_at(rTab, col("__rs").cast("int")))
          .otherwise(0L)).as("__rr"),
        sum(when(col("__rs") <= k && col("__r") > 0,
          floor(col("__cumrel").cast("double") * RankQ /
            col("__rs").cast("double")).cast("long"))
          .otherwise(0L)).as("__apnum"),
        sum(when(col("__r") > 0, 1L).otherwise(0L)).as("n_rel"),
        count(lit(1)).as("n_items"))
  }

  /** Per-query ranking quality at cutoff `k` over a candidate relation
    * `(query, item, score, relevance)`: one row per query with
    * `ndcg` (graded, linear gains at the tabulated discounts), `rr`
    * (reciprocal rank of the first relevant hit in the top k; 0 when a
    * query has relevant items but none ranked in the top k) and `ap`
    * (average precision at k, denominator `min(n_rel, k)`), plus
    * `n_rel`/`n_items`. Queries with NO relevant items get null metrics
    * (undefined, not zero). All three doubles derive from exact integer
    * statistics by a single deterministic division, 6-dp rounded. */
  def rankingPerQuery(df: DataFrame, queryCol: String, itemCol: String,
      scoreCol: String, relCol: String, k: Int = 10): DataFrame =
    rankingInts(df, queryCol, itemCol, scoreCol, relCol, k)
      .select(col("__q").as(queryCol),
        when(col("n_rel") > 0,
          round(col("__dcg").cast("double") / col("__idcg"), 6)).as("ndcg"),
        when(col("n_rel") > 0,
          round(col("__rr").cast("double") / RankQ, 6)).as("rr"),
        when(col("n_rel") > 0,
          round(col("__apnum").cast("double") /
            least(col("n_rel"), lit(k.toLong)) / RankQ, 6)).as("ap"),
        col("n_rel"), col("n_items"))

  /** Corpus-level ranking metrics at cutoff `k`: ONE row
    * `(ndcg, mrr, map, n_queries, n_scored)` — the mean NDCG@k / MRR@k /
    * MAP@k over the `n_scored` queries that have at least one relevant
    * item (queries with none are excluded from all three means, the
    * standard convention). Per-query values are quantized to 2^-20
    * integers BEFORE averaging (`floor(dcg·2^20/idcg)` etc. — every
    * input is exactly representable and the division is a single IEEE
    * op), so the corpus-wide sums are order-independent and the oracle
    * replays them bit-for-bit; quantization error is ≤ 2^-20 per query,
    * far under the 6-dp rounding.
    *
    * Shape at 100 TB: [[rankingInts]] (one exchange by query, per-query
    * windows) plus a one-row finish aggregate. Exactness holds to
    * ~2^32 scored queries (sums reach 2^52); beyond that, shard by
    * query segment. */
  def rankingMetrics(df: DataFrame, queryCol: String, itemCol: String,
      scoreCol: String, relCol: String, k: Int = 10): DataFrame = {
    val pq = rankingInts(df, queryCol, itemCol, scoreCol, relCol, k)
    val scored = col("n_rel") > 0
    val qd = lit(RankQ.toDouble)
    pq.agg(
      sum(when(scored, floor(col("__dcg").cast("double") * RankQ /
          col("__idcg").cast("double")).cast("long")).otherwise(0L))
        .as("__sndcg"),
      sum(when(scored, col("__rr")).otherwise(0L)).as("__srr"),
      sum(when(scored, floor(col("__apnum").cast("double") /
          least(col("n_rel"), lit(k.toLong)).cast("double")).cast("long"))
        .otherwise(0L)).as("__sap"),
      count(lit(1)).as("n_queries"),
      sum(when(scored, 1L).otherwise(0L)).as("n_scored"))
      .select(
        when(col("n_scored") > 0, round(
          col("__sndcg") / (qd * col("n_scored")), 6)).as("ndcg"),
        when(col("n_scored") > 0, round(
          col("__srr") / (qd * col("n_scored")), 6)).as("mrr"),
        when(col("n_scored") > 0, round(
          col("__sap") / (qd * col("n_scored")), 6)).as("map"),
        col("n_queries"), col("n_scored"))
  }

  /** One-sided CUSUM changepoint statistic per key:
    * `s_i = max(0, s_{i−1} + (x_i − target − slack))`, alarm when
    * `s_i > h`. The recursion LOOKS sequential, but has the closed form
    * `s_i = P_i − min(0, min_{j ≤ i} P_j)` over the deviation prefix
    * sums `P` — so it is TWO frames over ONE per-key window sort
    * (cumulative sum + running min), never an iterative loop or UDF
    * fold. With integral values and targets the arithmetic is exact.
    * Ordering must be total per key (`orderCol` unique within key — for
    * event data pass a bucketed/resampled series).
    *
    * Shape at 100 TB: one window sort partitioned by key — a task holds
    * one key's series, the standard per-entity bound shared with
    * sessionize/decayedValue. */
  def cusum(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, target: Double, slack: Double,
      h: Double, out: String = "cusum"): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(h > 0, s"alarm threshold h > 0, got $h")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val dev = col(valueCol).cast("double") - lit(target) - lit(slack)
    df.withColumn("__p", sum(dev).over(w))
      .withColumn(out, col("__p") - least(lit(0.0), min(col("__p")).over(w)))
      .withColumn("alarm", col(out) > h)
      .drop("__p")
  }

  /** Per-key EWMA (full-horizon exponential smoothing) as an EXACT
    * integer recurrence: values floor-quantize to `scale` units and
    * `s₁ = x₁·scale`, `sₜ = sₜ₋₁ + ((xₜ·scale − sₜ₋₁) · alphaNum) >> k`
    * with α = alphaNum/2^k — the arithmetic shift is floor division by
    * a power of two in BOTH Spark (`shiftright`) and ANSI engines
    * (`>>`), so every step replays bit-for-bit anywhere, unlike a
    * float recurrence whose ulps compound per step. Unlike
    * [[graft.relational.Analytics.decayedValue]] (a windowed last-N
    * approximation with a (1−α)^N tail error), this is the true
    * infinite-horizon EWMA; it is also the batch twin of a streaming
    * scorer whose ENTIRE per-key state is one long. Returns one row
    * per input event: `(keys…, orderCol, valueCol, ewma_units, ewma)`
    * with `ewma = round(units/scale, 6)` (power-of-two scaling — the
    * division is exact binary).
    *
    * A true sequential fold has no window closed form (floor rounding
    * kills the cusum trick), so each key's series is collected sorted
    * and folded in ONE O(n) pass — a JVM fold over the entity-bounded
    * array, the documented UDF escape hatch, chosen deliberately: the
    * `aggregate` HOF's array-concat accumulator copies the prefix every
    * step (O(n²) per key — measured unusable at thousands of events per
    * entity), while the fold is pure integer arithmetic with no
    * engine-variant operation in it. Per-entity-bounded contract shared
    * with sessionize/packSequences/goldenRecord (series length bounded
    * per entity; resample first if not). Rows with null order/value are
    * dropped. Overflow bound: |x|·scale·alphaNum < 2^63 — defaults
    * allow |x| up to ~2^35.
    *
    * Shape at 100 TB: one key-partitioned aggregation (the sort is
    * per-key, inside the agg buffer) and one explode back — no joins,
    * no iteration, no driver state. */
  def ewma(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, alphaNum: Int = 1, k: Int = 2,
      scale: Long = 1L << 20): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(k >= 1 && k <= 16, s"need 1 <= k <= 16, got $k")
    require(alphaNum >= 1 && alphaNum <= (1 << k),
      s"need 1 <= alphaNum <= 2^k, got $alphaNum")
    require(scale >= 1 && (scale & (scale - 1)) == 0,
      s"scale must be a power of two, got $scale")
    val pKeys = keys.map(col)
    val series = df
      .select((pKeys :+ col(orderCol).cast("long").as("__o") :+
        col(valueCol).cast("double").as("__x")): _*)
      .filter(col("__o").isNotNull && col("__x").isNotNull &&
        !isnan(col("__x")))
      .withColumn("__xq", floor(col("__x") * scale).cast("long"))
      .groupBy(pKeys: _*)
      .agg(sort_array(collect_list(
        struct(col("__o"), col("__xq"), col("__x")))).as("__s"))
    // Scala >> on Long is Spark's shiftright (arithmetic) — the same
    // floor division by 2^k the oracle's `>>` performs
    val foldUdf = udf((arr: Seq[org.apache.spark.sql.Row]) => {
      var init = false
      var s = 0L
      val out = new Array[Long](arr.length)
      var i = 0
      arr.foreach { r =>
        val xq = r.getLong(1) // (__o, __xq, __x) struct field order
        s = if (!init) { init = true; xq }
            else s + (((xq - s) * alphaNum) >> k)
        out(i) = s
        i += 1
      }
      out
    })
    val folded = series.withColumn("__e", foldUdf(col("__s")))
    folded
      .select((pKeys :+
        explode(arrays_zip(col("__s"), col("__e"))).as("__z")): _*)
      .select((pKeys :+
        col("__z.__s.__o").as(orderCol) :+
        col("__z.__s.__x").as(valueCol) :+
        col("__z.__e").as("ewma_units") :+
        round(col("__z.__e").cast("double") / scale, 6).as("ewma")): _*)
  }

  /** Generated EWMA oracle: the identical integer recurrence as a
    * recursive CTE from the same (alphaNum, k, scale). `srcCte` must
    * yield columns (key, o, x); ties in `o` break on (xq, x) exactly
    * like the Spark side's full-struct `sort_array`. */
  def ewmaSql(srcCte: String, alphaNum: Int = 1, k: Int = 2,
      scale: Long = 1L << 20): String = {
    s"""WITH RECURSIVE src AS ($srcCte),
       |q AS (
       |  SELECT key, o, x,
       |    CAST(floor(x * $scale) AS BIGINT) AS xq,
       |    row_number() OVER (
       |      PARTITION BY key
       |      ORDER BY o, CAST(floor(x * $scale) AS BIGINT), x) AS rn
       |  FROM src
       |  WHERE o IS NOT NULL AND x IS NOT NULL AND NOT isnan(x)),
       |r AS (
       |  SELECT key, rn, o, x, xq AS s FROM q WHERE rn = 1
       |  UNION ALL
       |  SELECT q.key, q.rn, q.o, q.x,
       |    r.s + (((q.xq - r.s) * $alphaNum) >> $k)
       |  FROM r JOIN q ON q.key = r.key AND q.rn = r.rn + 1)
       |SELECT key, o, x, CAST(s AS BIGINT) AS ewma_units,
       |  round(CAST(s AS DOUBLE) / $scale, 6) AS ewma
       |FROM r""".stripMargin
  }
}
