package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Credit-scorecard-style model-building statistics: weight of evidence
  * (WOE) encoding, information-value (IV) feature ranking, decision-stump
  * best-split search, and mixture-SPRT always-valid A/B testing.
  *
  * These are the "feature screening" ops a modelling team runs before any
  * training job (the reference's FrequencyEncoder / target-mean family,
  * dfpipeline/FrequencyEncoder.py, stops at raw frequencies — WOE/IV is
  * the supervised extension of the same per-category statistics table).
  *
  * 100-TB shape shared by every op here: ONE corpus aggregate keyed by the
  * category/feature (map-side combined), then all remaining arithmetic
  * runs on the category/threshold relation, which is bounded by the
  * vocabulary — never by the corpus. Nothing in this file rescans or
  * sorts the corpus twice.
  */
object Scorecard {

  /** Per-category weight of evidence over a binary label, with the
    * standard ±0.5 Laplace smoothing so single-class categories stay
    * finite:
    *
    *   woe(c)  = ln( ((neg_c + 0.5)/neg_tot) / ((pos_c + 0.5)/pos_tot) )
    *   iv(c)   = (neg_c/neg_tot − pos_c/pos_tot) · woe(c)
    *
    * Output: (catCol, n, n_pos, n_neg, woe, iv_term), woe/iv rounded to
    * 6 dp (ln() is the only libm call; everything upstream of it is
    * integer counts and single IEEE divisions, identical cross-engine).
    *
    * Shape: one corpus aggregate on the category; totals come from a
    * second aggregate over the CATEGORY relation (≤ |categories| rows),
    * broadcast back by a 1-row cross join — the corpus is scanned once.
    */
  def woeTable(df: DataFrame, catCol: String, labelCol: String)
      : DataFrame = {
    val cats = df
      .groupBy(col(catCol))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
    val totals = cats.agg(sum("n_pos").as("__pt"), sum("n_neg").as("__nt"))
    val rawWoe = log(((col("n_neg") + lit(0.5)) / col("__nt")) /
      ((col("n_pos") + lit(0.5)) / col("__pt")))
    cats
      .crossJoin(broadcast(totals))
      .withColumn("woe", round(rawWoe, 6))
      .withColumn("iv_term", round(
        (col("n_neg") / col("__nt") - col("n_pos") / col("__pt")) * rawWoe,
        6))
      .drop("__pt", "__nt")
  }

  /** Information-value ranking over several categorical features:
    * (feature, n_categories, iv) with iv = Σ_c iv_term(c), rounded 6 dp.
    * The conventional read: iv < 0.02 useless, 0.1–0.3 medium, > 0.3
    * strong (Siddiqi 2006). One corpus aggregate PER FEATURE (the same
    * contract as miRanking) — each bounded by that feature's vocabulary;
    * the per-feature IV sums run on those bounded relations. The final
    * union is |features| single-row frames.
    *
    * iv sums the UNROUNDED per-category terms (ln ulps are the only
    * cross-engine noise; they sit 10 orders below the 6-dp output
    * rounding). */
  def informationValue(df: DataFrame, catCols: Seq[String],
      labelCol: String): DataFrame = {
    require(catCols.nonEmpty, "informationValue needs >= 1 feature")
    catCols.map { c =>
      val cats = df
        .groupBy(col(c))
        .agg(count(lit(1)).as("n"),
          sum(col(labelCol).cast("long")).as("n_pos"))
        .withColumn("n_neg", col("n") - col("n_pos"))
      val totals = cats.agg(sum("n_pos").as("__pt"), sum("n_neg").as("__nt"))
      cats.crossJoin(broadcast(totals))
        .agg(count(lit(1)).as("n_categories"),
          round(sum(
            (col("n_neg") / col("__nt") - col("n_pos") / col("__pt")) *
              log(((col("n_neg") + lit(0.5)) / col("__nt")) /
                ((col("n_pos") + lit(0.5)) / col("__pt")))), 6).as("iv"))
        .select(lit(c).as("feature"), col("n_categories"), col("iv"))
    }.reduce(_.unionByName(_))
  }

  /** WOE-encode `catCol` into `outCol`: the fit is [[woeTable]] over this
    * frame; the transform is one equi-join of the bounded WOE relation
    * back onto the rows (AQE broadcasts it — the table is
    * vocabulary-sized). Unseen categories cannot occur in fit-transform;
    * a persisted deployment would join with `coalesce(woe, 0.0)` — 0 is
    * WOE's no-information point, the same neutral-default contract as
    * FrequencyEncoder's unseen→0. */
  def woeEncode(df: DataFrame, catCol: String, labelCol: String,
      outCol: String): DataFrame = {
    val table = woeTable(df, catCol, labelCol)
      .select(col(catCol), col("woe").as(outCol))
    df.join(table, Seq(catCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(0.0)))
  }

  /** Decision-stump search: for each numeric feature, the threshold t
    * minimizing weighted Gini impurity of the split `x <= t | x > t`
    * against a binary label — the one-level tree that screens features
    * and seeds monotone binning.
    *
    * Output per feature: (feature, threshold, n_left, pos_left, n_right,
    * pos_right, gain) where gain = parent Gini − weighted child Gini,
    * rounded 6 dp. Ties on the split score break toward the SMALLEST
    * threshold (total order — replay-exact).
    *
    * Shape: one corpus aggregate per feature onto (feature, value)
    * counts, unioned into ONE threshold relation; the cumulative
    * pos/count sweep is a window PARTITIONED BY FEATURE (parallel across
    * features; per-task state = one feature's distinct values — the
    * caller bins continuous features first, e.g. QuantileBinner or
    * `floor`, exactly like the binned percentile engines). The argmax is
    * a row_number over the same partition. The corpus is scanned once
    * per feature and never sorted.
    *
    * Determinism: every score is built from integer counts via single
    * IEEE divisions and one addition — bit-identical cross-engine (no
    * libm), so the argmax ordering cannot flip. The score maximized is
    *   Σ_side (pos_s² + neg_s²) / n_s
    * which is an affine transform of negated weighted Gini. */
  def bestSplits(df: DataFrame, featureCols: Seq[String],
      labelCol: String): DataFrame = {
    require(featureCols.nonEmpty, "bestSplits needs >= 1 feature")
    val perFeature = featureCols.map { f =>
      df.select(lit(f).as("feature"), col(f).cast("double").as("v"),
        col(labelCol).cast("long").as("__y"))
    }.reduce(_.unionByName(_))
    val counts = perFeature
      .groupBy("feature", "v")
      .agg(count(lit(1)).as("__n"), sum("__y").as("__p"))
    val wCum = Window.partitionBy("feature").orderBy("v")
    val wAll = Window.partitionBy("feature")
    val swept = counts
      .withColumn("__nl", sum("__n").over(wCum))
      .withColumn("__pl", sum("__p").over(wCum))
      .withColumn("__nt", sum("__n").over(wAll))
      .withColumn("__pt", sum("__p").over(wAll))
      .filter(col("__nl") < col("__nt")) // right side must be non-empty
    def side(p: Column, n: Column): Column = {
      val q = n - p
      (p * p + q * q) / n
    }
    val score = side(col("__pl"), col("__nl")) +
      side(col("__pt") - col("__pl"), col("__nt") - col("__nl"))
    val parent = lit(1.0) -
      (col("__pt") / col("__nt")) * (col("__pt") / col("__nt")) -
      ((col("__nt") - col("__pt")) / col("__nt")) *
        ((col("__nt") - col("__pt")) / col("__nt"))
    val wPick = Window.partitionBy("feature")
      .orderBy(col("__score").desc, col("v").asc)
    swept
      .withColumn("__score", score)
      .withColumn("__rk", row_number().over(wPick))
      .filter(col("__rk") === 1)
      .select(col("feature"), col("v").as("threshold"),
        col("__nl").as("n_left"), col("__pl").as("pos_left"),
        (col("__nt") - col("__nl")).as("n_right"),
        (col("__pt") - col("__pl")).as("pos_right"),
        round(parent - (lit(1.0) - col("__score") / col("__nt")), 6)
          .as("gain"))
  }

  /** Mixture sequential probability ratio test (mSPRT, Johari et al.
    * 2017): the always-valid p-value for "group mean ≠ theta0" under a
    * N(theta0, tau²) mixture over effect sizes, valid at EVERY sample
    * size — the test a metrics platform runs continuously instead of a
    * fixed-horizon t-test (which inflates false positives under optional
    * stopping).
    *
    *   Λ_n = sqrt(s² / (s² + n·τ²)) · exp( n²τ²(x̄ − θ0)² / (2s²(s² + nτ²)) )
    *   p   = min(1, 1/Λ_n)
    *
    * with s² the group sample variance (ddof=1). Output per group:
    * (groupCols…, n, mean, var, lambda, p_value) — mean/var/lambda/p
    * rounded 6 dp.
    *
    * Shape: ONE corpus aggregate (n, Σv, Σv² — map-side combined); the
    * formula runs on the group relation. Determinism: the value column
    * should be integer-quantized by the caller (cents) so Σv/Σv² are
    * exact integer sums; the remaining ops are single IEEE
    * divisions/multiplies plus one exp(), covered by the 6-dp rounding. */
  def msprt(df: DataFrame, groupCols: Seq[String], valueCol: String,
      tau: Double, theta0: Double): DataFrame = {
    require(tau > 0, s"mixture scale tau must be > 0, got $tau")
    val g = df
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("long")).as("__s"),
        sum(col(valueCol).cast("long") * col(valueCol).cast("long"))
          .as("__ss"))
    val n = col("n").cast("double")
    val mean = col("__s") / n
    val variance = (col("__ss") - col("__s") * mean) / (n - 1)
    val t2 = lit(tau * tau)
    val dev = mean - lit(theta0)
    val lam = sqrt(col("__v") / (col("__v") + n * t2)) *
      exp(n * n * t2 * dev * dev /
        (lit(2.0) * col("__v") * (col("__v") + n * t2)))
    g.filter(col("n") >= 2)
      .withColumn("__v", variance)
      .filter(col("__v") > 0)
      .withColumn("lambda", lam)
      .select(groupCols.map(col) :+ col("n") :+
        round(mean, 6).as("mean") :+ round(col("__v"), 6).as("var") :+
        round(col("lambda"), 6).as("lambda") :+
        round(least(lit(1.0), lit(1.0) / col("lambda")), 6)
          .as("p_value"): _*)
  }

  /** Monotonic (isotonic-pooled) WOE binning of a NUMERIC feature
    * against a binary label — the scorecard "coarse classing" step:
    * equal-width pre-bins over the 2^20-quantized feature, the
    * closed-minimax isotonic fit of the per-bin event rate (the
    * [[graft.relational.Eval.isotonicCalibration]] engine over the
    * same bounded bin relation), then ADJACENT pre-bins sharing a
    * fitted rate pool into one final bin. Output per pool:
    * `(pool, bin_lo, bin_hi, n, n_pos, iso_rate, woe)` with
    * `iso_rate` non-decreasing in bin order by construction (set
    * `decreasing = true` to fit the reversed order for features whose
    * risk falls as the value rises) and WOE under the same ±0.5
    * smoothing as [[woeTable]] (rate-ordered up to the smoothing's
    * sub-ulp effect on unequal pool sizes).
    *
    * Determinism: bin membership is integer arithmetic on quantized
    * values (truncating div on nonnegative operands — engine-identical),
    * the isotonic fit is min/max over identical IEEE divisions, and
    * pooling compares those bit-identical doubles — the whole fit
    * replays anywhere.
    *
    * Shape at 100 TB: one bounded min/max aggregate, ONE corpus
    * aggregate to ≤ nPreBins rows (map-side combined), and everything
    * after runs on that bin relation (the ≤ nPreBins³ minimax join is
    * dictionary-sized — the isotonicCalibration bound). */
  def monotonicBins(df: DataFrame, featureCol: String, labelCol: String,
      nPreBins: Int = 32, decreasing: Boolean = false): DataFrame = {
    require(nPreBins >= 2 && nPreBins <= 256,
      s"need 2 <= nPreBins <= 256 (the bins^3 minimax bound), got " +
        s"$nPreBins")
    val scale = 1L << 20
    val x = col(featureCol).cast("double")
    val q = graft.util.Materialize.shared(df
      .filter(x.isNotNull && !isnan(x) && col(labelCol).isNotNull)
      .select(floor(x * scale).cast("long").as("__xq"),
        col(labelCol).cast("long").as("__y")))
    val mm = q.agg(min("__xq").as("lo"), max("__xq").as("hi")).head()
    val lo = mm.getAs[Long]("lo")
    val range = mm.getAs[Long]("hi") - lo + 1L
    // same Long-overflow bound as histogramOutliers (ADVICE r7): the
    // (__xq − lo) · nPreBins product must not wrap — Spark wraps
    // silently, a SQL oracle errors, and the two would diverge instead
    // of failing together
    require(range <= Long.MaxValue / nPreBins,
      s"$featureCol: quantized range $range × nPreBins=$nPreBins " +
        "overflows Long bin arithmetic — rescale the feature or reduce " +
        "nPreBins")
    val bins = q
      .groupBy(expr(s"((__xq - ${lo}L) * ${nPreBins}L) div ${range}L")
        .as("bin"))
      .agg(count(lit(1)).as("n"), sum("__y").as("n_pos"))
      .withColumn("ord",
        if (decreasing) -col("bin") else col("bin"))
      .localCheckpoint(true) // <= nPreBins rows feeding four consumers
    graft.util.Materialize.release(q)
    // prefix sums + closed minimax over the bounded bin relation
    val wc = graft.util.BoundedWindow.global(col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .withColumn("__cn", sum(col("n")).over(wc))
      .withColumn("__cp", sum(col("n_pos")).over(wc))
    val loR = cum.select(col("ord").as("__bi"),
      (col("__cn") - col("n")).as("__cni"),
      (col("__cp") - col("n_pos")).as("__cpi"))
    val hiR = cum.select(col("ord").as("__bj"), col("__cn").as("__cnj"),
      col("__cp").as("__cpj"))
    val seg = loR.join(hiR, col("__bi") <= col("__bj"))
      .select(col("__bi"), col("__bj"),
        ((col("__cpj") - col("__cpi")).cast("double") /
          (col("__cnj") - col("__cni")).cast("double")).as("__avg"))
    val iso = seg
      .join(bins.select(col("ord").as("__k")),
        col("__bi") <= col("__k") && col("__bj") >= col("__k"))
      .groupBy(col("__k"), col("__bi")).agg(min(col("__avg")).as("__mn"))
      .groupBy(col("__k")).agg(max(col("__mn")).as("__iso"))
    // pool adjacent pre-bins sharing a fitted value (bit-identical
    // doubles from identical minimax arithmetic — safe equality)
    val wo = graft.util.BoundedWindow.global(col("ord"))
    val pooled = bins.join(iso, col("ord") === col("__k"))
      .withColumn("__chg",
        when(lag(col("__iso"), 1).over(wo).isNull ||
          col("__iso") =!= lag(col("__iso"), 1).over(wo), 1L)
          .otherwise(0L))
      .withColumn("pool", sum(col("__chg"))
        .over(wo.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val g = pooled.groupBy("pool")
      .agg(min("bin").as("bin_lo"), max("bin").as("bin_hi"),
        sum("n").as("n"), sum("n_pos").as("n_pos"),
        max("__iso").as("__iso"))
      .withColumn("n_neg", col("n") - col("n_pos"))
    val totals = g.agg(sum("n_pos").as("__pt"), sum("n_neg").as("__nt"))
    g.crossJoin(broadcast(totals))
      .select(col("pool"), col("bin_lo"), col("bin_hi"), col("n"),
        col("n_pos"),
        round(col("__iso"), 6).as("iso_rate"),
        round(log(((col("n_neg") + lit(0.5)) / col("__nt")) /
          ((col("n_pos") + lit(0.5)) / col("__pt"))), 6).as("woe"))
  }
}
