package graft.relational

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / analytical relational operators: grouped OLS regression,
  * categorical-association scoring (chi-squared + mutual information),
  * conversion attribution, incremental JOIN maintenance, and Pareto
  * frontiers. Every operator is a single declarative plan — one or two
  * keyed aggregates plus broadcast-scale joins — so Catalyst keeps the
  * map-side combines and AQE sizes the exchanges; nothing here windows
  * over an unbounded partition or collects to the driver. */
object Analytics {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Grouped simple linear regression `y ~ x` via the exact moment
    * aggregates: per group `(n, slope, intercept, r2)`, 6-dp rounded
    * (aggregate-derived doubles — the repo's cross-engine float
    * discipline). Uses the SQL-standard `regr_*` aggregates, which both
    * Spark and external SQL engines implement from the same closed-form
    * moments, so the oracle is the literal same query. One map-side
    * combined shuffle keyed by `groupCols`; state per group is five
    * doubles — fitting a regression per key over 100 TB costs exactly
    * one aggregate pass. Rows where either side is null are skipped
    * (the `regr_*` contract); a zero-variance x yields null slope in
    * both engines. */
  def groupedOls(df: DataFrame, groupCols: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val x = col(xCol).cast("double")
    df.groupBy(groupCols.map(col): _*)
      .agg(
        regr_count(y, x).cast("long").as("n"),
        round(regr_slope(y, x), 6).as("slope"),
        round(regr_intercept(y, x), 6).as("intercept"),
        round(regr_r2(y, x), 6).as("r2"))
  }

  /** Association between two categorical columns: one row
    * `(n, cells, dof, chi2, mi)` — Pearson chi-squared over the FULL
    * `distinct(a) × distinct(b)` contingency table and mutual
    * information in nats over the observed cells, both 6-dp.
    *
    * Zero-observed cells contribute `(0-e)²/e = e` to chi-squared and
    * the expected counts sum to N over the full table, so
    * `chi2 = N + Σ_observed ((o-e)²/e − e)` — the full-table statistic
    * WITHOUT materializing the cross product. Null categories are
    * dropped (a null is "unknown", not a level).
    *
    * Shape at 100 TB: ONE corpus shuffle (the (a,b) cell counts);
    * marginals re-aggregate the cells relation (cells-sized, not
    * corpus-sized) and join back broadcast-scale; the finish is a
    * single global sum over cells. */
  def association(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // checkpoint the cells relation (levels² rows — bounded): marginals,
    // total, dof, and the chi/mi pass all consume it, and without the
    // materialization each consumer re-runs the corpus aggregate (the
    // plan showed 10 scans of the base table — ReuseExchange does not
    // collapse them across the differing aliases)
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(eager = true)
    val rowTot = cells.groupBy("__a").agg(sum("__o").as("__ra"))
    val colTot = cells.groupBy("__b").agg(sum("__o").as("__cb"))
    val total = cells.agg(sum("__o").as("__n"))
    val e = col("__ra").cast("double") * col("__cb").cast("double") /
      col("__n").cast("double")
    val o = col("__o").cast("double")
    cells.join(rowTot, "__a").join(colTot, "__b")
      .crossJoin(broadcast(total))
      .select(col("__n"),
        ((o - e) * (o - e) / e - e).as("__chi_part"),
        // marginals cast to double BEFORE multiplying: __ra * __cb as
        // long*long silently wraps past 2^63 (both marginals > ~3e9 rows
        // — plausible at 100 TB); chi2's `e` already casts (ADVICE r6)
        (o / col("__n") * log(o * col("__n") /
          (col("__ra").cast("double") * col("__cb").cast("double"))))
          .as("__mi_part"))
      .agg(
        max("__n").as("n"),
        count(lit(1)).as("cells"),
        round(max("__n") + sum("__chi_part"), 6).as("chi2"),
        round(sum("__mi_part"), 6).as("mi"))
      .crossJoin(broadcast(cells.agg(
        ((countDistinct("__a") - 1) * (countDistinct("__b") - 1))
          .as("dof"))))
      .select("n", "cells", "dof", "chi2", "mi")
  }

  /** First- and last-touch conversion attribution over an event log.
    * For every `convType` event, the LAST non-conversion event strictly
    * before it (by `(orderCol, tieCol)`) is its last-touch channel and
    * the FIRST non-conversion event ever before it its first-touch;
    * conversions with no preceding touch are unattributed and dropped.
    * Output: `(channel, model ∈ {first, last}, conversions, value)` with
    * the summed conversion value 6-dp rounded.
    *
    * Shape at 100 TB: windows partition by the entity — parallelism is
    * the user count, per-task state one user's history (the same bound
    * as [[Relational.sessionize]]); then one cells-sized groupBy. */
  def attribution(events: DataFrame, userCol: String, orderCol: String,
      tieCol: String, typeCol: String, valueCol: String,
      convType: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(orderCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol) =!= convType, col(typeCol))
    val attributed = events
      .withColumn("__last", last(touch, ignoreNulls = true).over(w))
      .withColumn("__first", first(touch, ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType && col("__last").isNotNull)
    attributed
      .select(explode(array(
        struct(col("__last").as("channel"), lit("last").as("model")),
        struct(col("__first").as("channel"), lit("first").as("model"))))
        .as("__t"), col(valueCol))
      .select(col("__t.channel"), col("__t.model"), col(valueCol))
      .groupBy("channel", "model")
      .agg(count(lit(1)).as("conversions"),
        round(sum(col(valueCol)), 6).as("value"))
  }

  /** Incremental JOIN maintenance — the join sibling of
    * [[Relational.aggState]]/[[Relational.aggMerge]]: the rows a delta
    * batch APPENDS to a maintained inner equi-join, under insert-only
    * CDC on both sides:
    * `ΔJ = ΔL ⋈ (R ∪ ΔR)  ∪  L ⋈ ΔR`
    * (new-left against the whole new right, old-left against new-right —
    * each (l, r) pair lands in exactly one term). `maintained ∪ ΔJ` is
    * row-identical to re-joining the unioned sides, so the oracle IS the
    * full recompute.
    *
    * Shape at 100 TB: both terms are delta-against-full — the full sides
    * are scanned but the shuffle/broadcast work is delta-driven (AQE
    * broadcasts the delta side when it is actually small; with bucketed
    * base tables ([[Relational.writeBucketed]]) even the scan-side
    * exchange disappears). The 100-TB maintained join itself is never
    * re-shuffled. */
  def joinDelta(leftOld: DataFrame, leftDelta: DataFrame,
      rightOld: DataFrame, rightDelta: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String]): DataFrame = {
    def on(l: DataFrame, r: DataFrame): Column =
      leftKeys.zip(rightKeys).map { case (lk, rk) => l(lk) === r(rk) }
        .reduce(_ && _)
    val newRight = rightOld.unionByName(rightDelta)
    leftDelta.join(newRight, on(leftDelta, newRight))
      .unionByName(leftOld.join(rightDelta, on(leftOld, rightDelta)))
  }

  /** Per-key exponentially-decayed value: after every event, the decayed
    * sum `Σ_{j=0..lastN-1} v_{i−j} · α·(1−α)^j` over the key's last
    * `lastN` events in `(orderCol, tieCol)` order (older events beyond
    * the horizon truncated — the (1−α)^lastN tail is the documented
    * error, and the bound is what keeps the computation windowed). The
    * recency-weighted activity score behind feature freshness and decay
    * ranking. Null values contribute zero.
    *
    * Exactness: with α an inverse power of two (default 0.5) every
    * weight is a power of two, so each product is exact IEEE scaling
    * and the fixed left-to-right sum is bit-identical in any engine —
    * the oracle needs no rounding. One per-key window sort evaluates
    * all `lastN` lags; no self-join, no collect. */
  def decayedValue(df: DataFrame, keys: Seq[String], orderCol: String,
      tieCol: String, valueCol: String, out: String,
      alpha: Double = 0.5, lastN: Int = 8): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    require(lastN >= 1, s"lastN >= 1, got $lastN")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol), col(tieCol))
    val terms = (0 until lastN).map { j =>
      coalesce(lag(col(valueCol), j).over(w), lit(0.0)) *
        lit(alpha * math.pow(1 - alpha, j))
    }
    df.withColumn(out, terms.reduceLeft(_ + _))
  }

  /** Time-bounded conversion funnel: like [[Relational.funnel]] but each
    * step must land within `windowUs` of the PREVIOUS step (the
    * "clicked within an hour of viewing" product question — the
    * unbounded funnel overcounts stale journeys). Same shape: per-step
    * min-aggregates folded left, persisted accumulators, user-bounded
    * state — one aggregate per step, never a per-user sort. */
  def funnelWithin(df: DataFrame, userCol: String, orderCol: String,
      typeCol: String, steps: Seq[String], windowUs: Long): DataFrame = {
    require(steps.size >= 2, s"need >= 2 steps, got ${steps.size}")
    require(windowUs > 0, s"windowUs > 0, got $windowUs")
    val first = df.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(orderCol).as("step_1"))
    steps.tail.zipWithIndex.foldLeft(first) { case (acc0, (s, i)) =>
      // eager checkpoint, not persist: each fold step supersedes the
      // previous user-sized accumulator, and a persist here outlives the
      // call (never unpersisted — ADVICE r6); checkpoints are released
      // by the ContextCleaner once the superseding step drops them
      val acc = acc0.localCheckpoint(eager = true)
      val prev = s"step_${i + 1}"
      val outC = s"step_${i + 2}"
      val carried = acc.columns.toSeq
      df.filter(col(typeCol) === s)
        .select(col(userCol), col(orderCol).as("__o"))
        .join(acc, Seq(userCol), "right")
        .groupBy(carried.map(col): _*)
        .agg(min(when(col("__o") > col(prev) &&
          col("__o") <= col(prev) + windowUs, col("__o"))).as(outC))
    }
  }

  /** Top user journeys: gap-sessionize the event log (new session when
    * the gap between consecutive events exceeds `gapUs`, order
    * `(orderCol, tieCol)`), render each session's first `maxSteps` event
    * types as a `"a->b->c"` path, and return the `topN` most frequent
    * paths with their session counts (ties broken path-ascending — a
    * total order both engines replay).
    *
    * Shape at 100 TB: one per-entity window sort (lag + running sum — the
    * sessionize bound: a task holds one user's history), one
    * per-session aggregate whose state is the session's events capped in
    * RENDERING at `maxSteps` (session length itself is gap-bounded by
    * construction of real event streams; a runaway key degrades to one
    * big list row, not a job failure), then a path count and a bounded
    * TakeOrdered top-N — the full path relation never sorts globally. */
  def topSessionPaths(events: DataFrame, userCol: String, orderCol: String,
      tieCol: String, typeCol: String, gapUs: Long, maxSteps: Int,
      topN: Int): DataFrame = {
    require(gapUs > 0 && maxSteps >= 1 && topN >= 1,
      s"bad args: gapUs=$gapUs maxSteps=$maxSteps topN=$topN")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(orderCol), col(tieCol))
    val prev = lag(col(orderCol), 1).over(w)
    val sessioned = events
      .withColumn("__new",
        when(prev.isNull || col(orderCol) - prev > gapUs, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(w))
    val paths = sessioned
      .groupBy(col(userCol), col("__sid"))
      .agg(sort_array(collect_list(struct(col(orderCol), col(tieCol),
        col(typeCol).as("__t")))).as("__evs"))
      .select(concat_ws("->",
        slice(col("__evs.__t"), 1, maxSteps)).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topN)
  }

  /** Population stability index between a reference and a current
    * snapshot of a numeric column — THE production drift gate for fitted
    * pipelines (PSI < 0.1 stable, > 0.25 shifted). Bins are the caller's
    * explicit `edges` (bin = #edges ≤ v, so both tails are open);
    * fractions are Laplace-smoothed `(c + 0.5) / (n + 0.5·nbins)` —
    * deterministic arithmetic, no epsilon tuning, zero-count bins
    * contribute finitely. Returns one row
    * `(n_ref, n_cur, psi)`, 6-dp.
    *
    * Shape at 100 TB: each side is ONE map-side-combined bin-count
    * aggregate (≤ edges+1 rows out); the finish joins two
    * bins-sized relations. Edges should come from reference quantiles —
    * [[Sketches.qQuantile]] gives them from registers without a second
    * corpus pass. */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String,
      edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted,
      "edges must be non-empty and ascending")
    val nb = edges.size + 1
    def binCounts(df: DataFrame, out: String): DataFrame = {
      val v = col(valueCol).cast("double")
      val bin = edges.map(e => when(v >= e, 1).otherwise(0))
        .reduce(_ + _)
      df.filter(v.isNotNull).groupBy(bin.as("__bin"))
        .agg(count(lit(1)).as(out))
    }
    val r = binCounts(ref, "__cr")
    val c = binCounts(cur, "__cc")
    // the joined bin relation is ≤ nbins rows; materialize it once
    // (localCheckpoint, eager) so the totals pass and the PSI sum don't
    // each re-run the two corpus scans
    val binsRel = r.join(c, Seq("__bin"), "full")
      .select(coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))
      .localCheckpoint(eager = true)
    val totals = binsRel.agg(sum("__cr").as("__nr"),
      sum("__cc").as("__nc"))
    val p = (col("__cr") + 0.5) / (col("__nr") + lit(0.5) * nb)
    val q = (col("__cc") + 0.5) / (col("__nc") + lit(0.5) * nb)
    binsRel.crossJoin(broadcast(totals))
      .agg(max("__nr").as("n_ref"), max("__nc").as("n_cur"),
        round(sum((p - q) * log(p / q)), 6).as("psi"))
  }

  /** Cohort value (LTV) curve: users grouped by first-active period,
    * value summed per (cohort, offset = period − cohort), plus the
    * running cumulative per cohort — the revenue sibling of
    * [[Relational.retention]] (which counts users; this sums value).
    * Output `(cohort, offset, value, cum_value)`, both sums 6-dp
    * (aggregate-derived; the cumulative sums the ALREADY-rounded
    * per-offset values so the running total replays cross-engine).
    *
    * Shape at 100 TB: one min-aggregate for cohorts (user-bounded), a
    * broadcast-scale join back, one (cohort, offset) aggregate; the
    * cumulative window partitions by cohort over ≤ #periods rows —
    * calendar-bounded, never data-bounded. */
  def cohortValue(events: DataFrame, userCol: String, periodCol: String,
      valueCol: String): DataFrame = {
    val cohorts = events
      .groupBy(col(userCol)).agg(min(col(periodCol)).as("cohort"))
    val per = events.join(cohorts, Seq(userCol))
      .groupBy(col("cohort"),
        (col(periodCol) - col("cohort")).as("offset"))
      .agg(round(sum(col(valueCol)), 6).as("value"))
    // bounded: <= #periods rows per cohort (calendar-bounded)
    val w = Window.partitionBy(col("cohort")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.withColumn("cum_value", round(sum(col("value")).over(w), 6))
  }

  /** Mutual-information feature ranking: MI (nats, 6-dp) between EVERY
    * listed categorical feature and the label, in ONE corpus pass — the
    * feature-selection sibling of [[Relational.corrMatrix]] (one scan
    * for the whole ranking, not a job per feature). Output one row per
    * feature `(feature, n, mi)`; rows with a null feature value or null
    * label are skipped per feature (n is that feature's non-null pair
    * count).
    *
    * Shape at 100 TB: the melt is a narrow explode (rows × features,
    * carrying only (feature, value, label)); the (feature, value,
    * label) cell count is the ONE shuffle; marginals re-aggregate the
    * cells relation and join back at cells scale, exactly as
    * [[association]]. */
  def miRanking(df: DataFrame, featureCols: Seq[String],
      labelCol: String): DataFrame = {
    require(featureCols.nonEmpty, "no feature columns given")
    val melted = df
      .filter(col(labelCol).isNotNull)
      .select(explode(array(featureCols.map(f =>
        struct(lit(f).as("__f"),
          col(f).cast("string").as("__v"))): _*)).as("__fv"),
        col(labelCol).cast("string").as("__l"))
      .select(col("__fv.__f").as("__f"), col("__fv.__v").as("__v"),
        col("__l"))
      .filter(col("__v").isNotNull)
    // same cells checkpoint as [[association]]: one melted corpus pass
    // feeds marginals, totals, and the MI sum
    val cells = melted.groupBy("__f", "__v", "__l")
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(eager = true)
    val rowTot = cells.groupBy("__f", "__v").agg(sum("__o").as("__ra"))
    val colTot = cells.groupBy("__f", "__l").agg(sum("__o").as("__cb"))
    val total = cells.groupBy("__f").agg(sum("__o").as("__n"))
    val o = col("__o").cast("double")
    cells.join(rowTot, Seq("__f", "__v"))
      .join(colTot, Seq("__f", "__l"))
      .join(total, Seq("__f"))
      .select(col("__f"), col("__n"),
        // double-cast the marginals before multiplying — same 2^63
        // overflow guard as [[association]] (ADVICE r6)
        (o / col("__n") * log(o * col("__n") /
          (col("__ra").cast("double") * col("__cb").cast("double"))))
          .as("__mi_part"))
      .groupBy(col("__f").as("feature"))
      .agg(max("__n").cast("long").as("n"),
        round(sum("__mi_part"), 6).as("mi"))
  }

  /** Day-of-week seasonality profile over a (keys, day, value) relation
    * (e.g. the daily volumes a resample/aggregate produced): per
    * `(keys…, dow)` the mean value, days observed, and the seasonal
    * `index = dow mean / key's overall mean` (1.0 = flat). `dayCol` is
    * an integral epoch-day; dow = `day mod 7` (epoch-relative — the
    * labels don't matter for drift, the SHAPE does). Integral values
    * make both averages exact single divisions, so the index replays
    * deterministically.
    *
    * Shape at 100 TB: two aggregates of the ALREADY-AGGREGATED daily
    * relation (keys × days rows) + a keys-sized join — the raw corpus
    * is not touched here at all. */
  def seasonality(df: DataFrame, keys: Seq[String], dayCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val byDow = df
      .groupBy(keys.map(col) :+ pmod(col(dayCol), lit(7)).as("dow"): _*)
      .agg(avg(col(valueCol)).as("__m"), count(lit(1)).as("n_days"))
    val overall = df.groupBy(keys.map(col): _*)
      .agg(avg(col(valueCol)).as("__o"))
    byDow.join(overall, keys)
      .select(keys.map(col) ++ Seq(col("dow").cast("long").as("dow"),
        col("n_days"),
        round(col("__m"), 6).as("mean_value"),
        round(col("__m") / col("__o"), 6).as("index")): _*)
  }

  /** Per-feature profile in ONE melted corpus pass: for every listed
    * feature, `(n, n_distinct, entropy, top_share)` — non-null count,
    * cardinality, Shannon entropy (nats) of the value distribution, and
    * the most-frequent value's share. The feature-quality triage table:
    * near-zero entropy or top_share ≈ 1 flags a constant column,
    * n_distinct ≈ n flags an id masquerading as a feature.
    *
    * Shape at 100 TB: the [[miRanking]] melt — a narrow ×|features|
    * explode into ONE (feature, value) count aggregate (map-side
    * combined, shuffle bounded by the combined vocabularies); the
    * entropy/top-share finish re-aggregates the checkpointed cells
    * relation. Entropy terms are libm `ln` over order-sensitive sums →
    * 6-dp rounded (the MI discipline). */
  def featureAudit(df: DataFrame, featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "no feature columns given")
    val cells = df
      .select(explode(array(featureCols.map(f =>
        struct(lit(f).as("__f"),
          col(f).cast("string").as("__v"))): _*)).as("__fv"))
      .select(col("__fv.__f").as("__f"), col("__fv.__v").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("__f", "__v")
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = true)
    val totals = cells.groupBy("__f")
      .agg(sum("__c").as("__n"), count(lit(1)).as("__d"),
        max("__c").as("__top"))
    val p = col("__c").cast("double") / col("__n")
    cells.join(totals, Seq("__f"))
      .groupBy(col("__f").as("feature"))
      .agg(max("__n").as("n"),
        max("__d").as("n_distinct"),
        round(sum(-p * log(p)), 6).as("entropy"),
        round(max(col("__top")).cast("double") / max(col("__n")), 6)
          .as("top_share"))
  }

  /** Categorical PSI for EVERY listed feature in one melted pass per
    * snapshot — [[psiCategorical]] swept across a feature list the way
    * [[miRanking]] sweeps MI: per feature `(n_ref, n_cur, n_categories,
    * psi)` with the same (c+0.5)/(n+0.5·nbins) Laplace smoothing, nbins
    * = that feature's category union. The drift dashboard row: one
    * corpus pass per side audits a 100-feature table, not 100 passes.
    *
    * Shape at 100 TB: two melted (feature, value) count aggregates
    * (each map-side combined, vocabulary-bounded), a full join at
    * vocabulary scale, a features-sized totals join — the finish never
    * touches the corpus. */
  def psiSweep(ref: DataFrame, cur: DataFrame,
      featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "no feature columns given")
    def counts(df: DataFrame, out: String): DataFrame =
      df.select(explode(array(featureCols.map(f =>
        struct(lit(f).as("__f"),
          col(f).cast("string").as("__v"))): _*)).as("__fv"))
        .select(col("__fv.__f").as("__f"), col("__fv.__v").as("__v"))
        .filter(col("__v").isNotNull)
        .groupBy("__f", "__v")
        .agg(count(lit(1)).as(out))
    val binsRel = counts(ref, "__cr")
      .join(counts(cur, "__cc"), Seq("__f", "__v"), "full")
      .select(col("__f"),
        coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))
      .localCheckpoint(eager = true)
    val totals = binsRel.groupBy("__f").agg(sum("__cr").as("__nr"),
      sum("__cc").as("__nc"), count(lit(1)).as("__nb"))
    val p = (col("__cr") + 0.5) / (col("__nr") + lit(0.5) * col("__nb"))
    val q = (col("__cc") + 0.5) / (col("__nc") + lit(0.5) * col("__nb"))
    binsRel.join(totals, Seq("__f"))
      .groupBy(col("__f").as("feature"))
      .agg(max("__nr").as("n_ref"), max("__nc").as("n_cur"),
        max("__nb").as("n_categories"),
        round(sum((p - q) * log(p / q)), 6).as("psi"))
  }

  /** Categorical PSI: [[psi]] with the observed category values as the
    * bins (union of both snapshots' categories; nulls dropped). Same
    * Laplace smoothing with nbins = distinct categories across both
    * sides, so newly-appearing and disappearing categories contribute
    * finitely instead of blowing up the log. Returns one row
    * `(n_ref, n_cur, n_categories, psi)`, 6-dp. Two map-side-combined
    * value counts; the finish is categories-sized. */
  def psiCategorical(ref: DataFrame, cur: DataFrame, catCol: String)
      : DataFrame = {
    def counts(df: DataFrame, out: String): DataFrame =
      df.filter(col(catCol).isNotNull)
        .groupBy(col(catCol).cast("string").as("__c"))
        .agg(count(lit(1)).as(out))
    val binsRel = counts(ref, "__cr")
      .join(counts(cur, "__cc"), Seq("__c"), "full")
      .select(coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))
      .localCheckpoint(eager = true)
    val totals = binsRel.agg(sum("__cr").as("__nr"),
      sum("__cc").as("__nc"), count(lit(1)).as("__nb"))
    val p = (col("__cr") + 0.5) / (col("__nr") + lit(0.5) * col("__nb"))
    val q = (col("__cc") + 0.5) / (col("__nc") + lit(0.5) * col("__nb"))
    binsRel.crossJoin(broadcast(totals))
      .agg(max("__nr").as("n_ref"), max("__nc").as("n_cur"),
        max("__nb").as("n_categories"),
        round(sum((p - q) * log(p / q)), 6).as("psi"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic FROM QUANTILE REGISTERS
    * ([[Sketches.qSketch]] relations over the same (lo, hi, bins)
    * geometry): per group, `max |ECDF_A − ECDF_B|` evaluated at the bin
    * edges. Register-resolution exact — the true KS over raw values
    * differs by at most the within-bin mass; both sides compute
    * identical integer cumulative counts and single IEEE divisions, so
    * the oracle replays with no rounding. Registers are write-once,
    * mergeable, and ≤ bins rows per group: drift between any two
    * archived snapshots costs ZERO corpus rescans. The cumulative
    * window runs over ≤ bins rows per group — bounded by geometry. */
  def ksFromRegisters(regA: DataFrame, regB: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val gb = groupCols.map(col)
    val a = regA.groupBy((groupCols :+ "bin").map(col): _*)
      .agg(sum("cnt").as("__ca"))
    val b = regB.groupBy((groupCols :+ "bin").map(col): _*)
      .agg(sum("cnt").as("__cb"))
    val joined = a.join(b, groupCols :+ "bin", "full")
      .select(gb :+ col("bin") :+
        coalesce(col("__ca"), lit(0L)).as("__ca") :+
        coalesce(col("__cb"), lit(0L)).as("__cb"): _*)
    val w = (if (groupCols.isEmpty)
        graft.util.BoundedWindow.globalUnordered()
      // bounded: joined is <= bins rows per group by register geometry
      else Window.partitionBy(gb: _*))
      .orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = (if (groupCols.isEmpty)
        graft.util.BoundedWindow.globalUnordered()
      else Window.partitionBy(gb: _*))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // a group present in only ONE register relation has total 0 on the
    // other side — guard the division so its ks is a clean null, not a
    // silent 0/0 NaN (ADVICE r6)
    def ecdf(c: String) = {
      val tot = sum(c).over(wAll)
      when(tot > 0, sum(c).over(w).cast("double") / tot)
    }
    joined
      .withColumn("__da", ecdf("__ca"))
      .withColumn("__db", ecdf("__cb"))
      .groupBy(gb: _*)
      .agg(max(abs(col("__da") - col("__db"))).as("ks"))
  }

  /** Functional-dependency audit `detCols → depCol`: the determinant
    * values that VIOLATE the dependency (more than one distinct
    * dependent value), with their distinct-dependent and row counts —
    * empty output means the FD holds and `detCols` is a candidate key
    * for `depCol`. Null dependents are ignored (unknown, not a value);
    * null determinants group as their own value, SQL-style.
    *
    * Shape at 100 TB: ONE keyed aggregate with a partial distinct
    * (Expand + two-phase agg — map-side combined), no join, no window;
    * the violation filter prunes before anything leaves the aggregate.
    * This is the profiling primitive behind key discovery and
    * dimension-integrity checks on raw landed data. */
  def fdViolations(df: DataFrame, detCols: Seq[String], depCol: String)
      : DataFrame =
    df.groupBy(detCols.map(col): _*)
      .agg(countDistinct(col(depCol)).as("n_dep_values"),
        count(lit(1)).as("n_rows"))
      .filter(col("n_dep_values") > 1)

  /** Per-group 2-D Pareto frontier (skyline), both dimensions MAXIMIZED
    * (negate a column to minimize): keeps rows not strictly dominated —
    * dominated means another row in the group is ≥ on both dims and >
    * on at least one. Exact-tie rows (equal on both dims) all survive.
    *
    * Never all-pairs: the frontier is computed on the DISTINCT
    * (d1, d2) pairs — (1) per d1 keep only max d2 (keyed aggregate),
    * (2) one ordered window over the ≤ distinct(d1) survivors per group
    * keeps pairs whose d2 strictly exceeds the running max over larger
    * d1 — then the corpus joins back on (group, d1, d2). The window
    * partition is bounded by distinct d1 values per group; quantize d1
    * first if it is continuous corpus-cardinality. */
  def skyline2(df: DataFrame, groupCols: Seq[String], d1: String,
      d2: String): DataFrame = {
    val gb = groupCols.map(col)
    val bestPerX = df
      .filter(col(d1).isNotNull && col(d2).isNotNull)
      .groupBy(gb :+ col(d1): _*)
      .agg(max(col(d2)).as("__y"))
    val w = (if (groupCols.isEmpty)
        graft.util.BoundedWindow.globalUnordered()
      else Window.partitionBy(gb: _*))
      .orderBy(col(d1).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bestPerX
      .withColumn("__prevmax", max(col("__y")).over(w))
      .filter(col("__prevmax").isNull || col("__y") > col("__prevmax"))
      .select(gb :+ col(d1) :+ col("__y").as(d2): _*)
    df.join(frontier, groupCols :+ d1 :+ d2, "leftsemi")
  }

  /** Robust per-group outlier flags via the MAD rule: one row per group
    * `(groups…, n, median, mad, n_outliers, outlier_share)` where an
    * outlier has `|x − median| > k · mad` (both statistics exact
    * nearest-rank order stats, so a 51%-outlier batch cannot mask
    * itself the way mean/stddev rules allow). Zero-MAD groups (over
    * half the rows identical) flag everything not equal to the median
    * — the conservative documented degenerate case. With integral
    * values all statistics are exact; the share is one 6-dp division.
    *
    * Shape at 100 TB: two per-group rank sorts (values, then absolute
    * deviations — the second reuses the key exchange) with a
    * groups-bounded broadcast join-back of each statistic, then ONE
    * counting aggregate. */
  def madOutliers(df: DataFrame, groupCols: Seq[String],
      valueCol: String, k: Double = 3.0): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(k > 0, s"k > 0, got $k")
    val gb = groupCols.map(col)
    val x = col(valueCol).cast("double")
    val base = df.filter(x.isNotNull)
      .select((gb :+ x.as("__x")): _*)
    def medianOf(rel: DataFrame, vCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(gb: _*).orderBy(col(vCol).asc)
      val wAll = Window.partitionBy(gb: _*)
      rel.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wAll))
        .filter(col("__rn") ===
          greatest(lit(1L), ceil(col("__n") / 2.0).cast("long")))
        .select((groupCols.map(n => col(n).as(n + "_m")) :+
          col(vCol).as(out)): _*)
    }
    // groups-bounded: AQE broadcasts the one-row-per-group medians
    def joinBack(rel: DataFrame, med: DataFrame): DataFrame =
      rel.join(med, groupCols.map(c =>
        col(c) === col(c + "_m")).reduce(_ && _))
        .drop(groupCols.map(_ + "_m"): _*)
    val withMed = joinBack(base, medianOf(base, "__x", "__med"))
      .withColumn("__dev", abs(col("__x") - col("__med")))
    val withMad = joinBack(withMed,
      medianOf(withMed, "__dev", "__mad"))
    withMad.groupBy(gb: _*).agg(
      count(lit(1)).as("n"),
      min(col("__med")).as("median"),
      min(col("__mad")).as("mad"),
      sum(when(col("__dev") > lit(k) * col("__mad"), 1L).otherwise(0L))
        .as("n_outliers"),
      round(sum(when(col("__dev") > lit(k) * col("__mad"), 1L)
        .otherwise(0L)).cast("double") / count(lit(1)), 6)
        .as("outlier_share"))
  }

  /** Period-over-period rank movers — the "what's suddenly hot"
    * dashboard: rank every entity within each period by a measure,
    * then report the rank change vs the PREVIOUS period the entity
    * appeared in. One row per (entity, period) after the first:
    * `(keys…, period, value, rank, prev_rank, rank_delta)` — negative
    * delta = climbed. Ranks are dense within period with a total
    * (value DESC, entity ASC) order, so ties replay in any engine.
    *
    * Shape at 100 TB: one per-period window sort for the ranks (period
    * count is calendar-bounded; within-period entity count bounds the
    * task) + one per-entity window for the previous rank — two
    * exchanges total, no self-join. */
  def rankMovers(df: DataFrame, keys: Seq[String], periodCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val pKeys = keys.map(col)
    val agg = df.filter(col(periodCol).isNotNull)
      .groupBy((pKeys :+ col(periodCol).cast("long").as("period")): _*)
      .agg(sum(col(valueCol).cast("long")).as("value"))
    val wRank = Window.partitionBy(col("period"))
      .orderBy(col("value").desc +: keys.map(col(_).asc): _*)
    val wPrev = Window.partitionBy(pKeys: _*).orderBy(col("period"))
    agg.withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("prev_rank", lag(col("rank"), 1).over(wPrev))
      .filter(col("prev_rank").isNotNull)
      .withColumn("rank_delta", col("rank") - col("prev_rank"))
  }

  /** Covariate balance sweep — the pre-experiment sanity check: for
    * every listed numeric feature, the standardized mean difference
    * between groups `a` and `b`,
    * `SMD = (x̄_a − x̄_b) / √((s²_a + s²_b)/2)` (ddof=1 variances;
    * |SMD| ≲ 0.1 is the usual "balanced" bar). One row per feature:
    * `(feature, n_a, n_b, mean_a, mean_b, smd)`, null smd when either
    * variance is degenerate. All moments come from ONE melted pass —
    * never a job per feature (the featureAudit discipline); outputs
    * are aggregate-derived doubles, 6-dp rounded per the repo's
    * cross-engine float rule. */
  def balanceSweep(df: DataFrame, featureCols: Seq[String],
      groupCol: String, a: String, b: String): DataFrame = {
    require(featureCols.nonEmpty, "no feature columns given")
    val g = col(groupCol).cast("string")
    val melted = df.filter(g === a || g === b)
      .select(explode(array(featureCols.map(f =>
        struct(lit(f).as("__f"), col(f).cast("double").as("__v")))
        : _*)).as("__fv"), g.as("__g"))
      .select(col("__fv.__f").as("feature"), col("__fv.__v").as("__v"),
        col("__g"))
      .filter(col("__v").isNotNull)
    def side(s: String, tag: String) = Seq(
      sum(when(col("__g") === s, 1L).otherwise(0L)).as(s"__n$tag"),
      sum(when(col("__g") === s, col("__v")).otherwise(0.0))
        .as(s"__s$tag"),
      sum(when(col("__g") === s, col("__v") * col("__v"))
        .otherwise(0.0)).as(s"__ss$tag"))
    val aggs = side(a, "a") ++ side(b, "b")
    melted.groupBy(col("feature"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("__na") > 1 && col("__nb") > 1)
      .select({
        def mean(t: String) = col(s"__s$t") / col(s"__n$t")
        def v(t: String) = (col(s"__ss$t") -
          col(s"__s$t") * col(s"__s$t") / col(s"__n$t")) /
          (col(s"__n$t") - 1)
        val pooled = sqrt((v("a") + v("b")) / 2.0)
        Seq(col("feature"), col("__na").as("n_a"), col("__nb").as("n_b"),
          round(mean("a"), 6).as("mean_a"),
          round(mean("b"), 6).as("mean_b"),
          when(pooled > 0,
            round((mean("a") - mean("b")) / pooled, 6)).as("smd"))
      }: _*)
  }

  /** Directly standardized rate comparison — the Simpson's-paradox
    * guard: compare groups `a` and `b` on a 0/1 outcome BOTH crude and
    * adjusted to a shared stratum mix (weights = each stratum's share
    * of the POOLED population). One row `(rate_a, rate_b, crude_diff,
    * adj_rate_a, adj_rate_b, adj_diff, n_a, n_b, n_strata)` — when
    * crude and adjusted diffs disagree in sign, the stratum mix (not
    * the treatment) was driving the crude read. Strata where either
    * group is EMPTY are excluded from the adjusted rates (their
    * stratum rate is undefined); both adjusted rates renormalize over
    * the same included mass, so they stay comparable. All inputs are
    * integer counts; every output is a ratio of exact sums, 6-dp.
    *
    * Shape at 100 TB: ONE stratum-keyed conditional-count aggregate
    * (four longs per stratum) + a strata-relation fold — no join, no
    * sort. */
  def standardizedRates(df: DataFrame, strataCol: String,
      groupCol: String, successCol: String, a: String, b: String)
      : DataFrame = {
    val s = col(successCol).cast("long")
    val g = col(groupCol).cast("string")
    val cells = df.filter(s.isNotNull && (g === a || g === b) &&
        col(strataCol).isNotNull)
      .groupBy(col(strataCol))
      .agg(sum(when(g === a, s).otherwise(0L)).as("__xa"),
        sum(when(g === a, 1L).otherwise(0L)).as("__na"),
        sum(when(g === b, s).otherwise(0L)).as("__xb"),
        sum(when(g === b, 1L).otherwise(0L)).as("__nb"))
    val both = col("__na") > 0 && col("__nb") > 0
    val w = (col("__na") + col("__nb")).cast("double")
    cells.agg(
      sum("__xa").as("__XA"), sum("__na").as("__NA"),
      sum("__xb").as("__XB"), sum("__nb").as("__NB"),
      count(lit(1)).as("n_strata"),
      sum(when(both, w * (col("__xa").cast("double") / col("__na"))))
        .as("__wa"),
      sum(when(both, w * (col("__xb").cast("double") / col("__nb"))))
        .as("__wb"),
      sum(when(both, w)).as("__W"))
      .select({
        val ra = col("__XA").cast("double") / col("__NA")
        val rb = col("__XB").cast("double") / col("__NB")
        val aa = col("__wa") / col("__W")
        val ab = col("__wb") / col("__W")
        Seq(round(ra, 6).as("rate_a"), round(rb, 6).as("rate_b"),
          round(ra - rb, 6).as("crude_diff"),
          round(aa, 6).as("adj_rate_a"), round(ab, 6).as("adj_rate_b"),
          round(aa - ab, 6).as("adj_diff"),
          col("__NA").as("n_a"), col("__NB").as("n_b"),
          col("n_strata"))
      }: _*)
  }

  /** RFM segmentation — the marketing-analytics classic, exact at any
    * scale: per entity the Recency (last active time — higher is
    * better, like F and M), Frequency (order count) and Monetary
    * (integer-cent revenue) dimensions, each scored 1..5 against the
    * population's EXACT nearest-rank quintile boundaries
    * (`score = 1 + #{boundaries strictly below the value}`), plus the
    * concatenated `segment` code ("555" = best). One row per entity:
    * `(key, last_active, frequency, monetary, r_score, f_score,
    * m_score, segment)`. All-integer comparisons against exact data
    * values — nothing to round, ties score identically by
    * construction.
    *
    * Shape at 100 TB: ONE entity aggregate, then the quintile
    * boundaries via [[graft.operators.ExactStats.orderStats]]
    * (distributed range-narrowing — four shared-scan passes over the
    * ENTITY relation, never a global sort), embedded as literals in a
    * scan-shaped scoring projection. The entity relation is the only
    * thing re-scanned; the corpus is read once. */
  def rfmSegments(df: DataFrame, keyCol: String, dateCol: String,
      amountCol: String): DataFrame = {
    val cust = Materialize.shared(df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(max(col(dateCol).cast("long")).as("last_active"),
        count(lit(1)).as("frequency"),
        sum(floor(col(amountCol) * 100).cast("long")).as("monetary")))
    val dims = Seq("last_active", "frequency", "monetary")
    // all 12 quintile edges (4 ranks × 3 dims) from ONE shared narrowing
    // session — the engine batches ranks per histogram scan, so this
    // costs the same corpus scans as a single rank (VERDICT r6 #6: the
    // previous per-quantile loop ran four sessions)
    val boundaries: Seq[Seq[Long]] = graft.operators.ExactStats
      .orderStatsBatch(cust, dims,
        n => Seq(0.2, 0.4, 0.6, 0.8).map(p => math.ceil(p * n).toLong - 1))
      .map(_.map(_.getOrElse(sys.error(s"empty relation for RFM")).toLong))
    def score(c: String, bs: Seq[Long]) =
      bs.map(b => when(col(c) > b, 1).otherwise(0)).reduce(_ + _) + 1
    val out = cust.select(
      col(keyCol),
      col("last_active"), col("frequency"), col("monetary"),
      score("last_active", boundaries(0)).as("r_score"),
      score("frequency", boundaries(1)).as("f_score"),
      score("monetary", boundaries(2)).as("m_score"))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
      .localCheckpoint(eager = true)
    Materialize.release(cust)
    out
  }

  /** Point-in-time-correct churn labels — the temporal-leakage-guarded
    * training-set builder: split the event axis at
    * `cutoff = max(orderCol) − horizon`, compute every feature from
    * events AT OR BEFORE the cutoff only, and the label from the
    * `(cutoff, cutoff+horizon]` outcome window. One row per key seen
    * before the cutoff: `(keys…, n_before, first_seen, last_seen,
    * recency, active_after)` — `recency = cutoff − last_seen` in the
    * axis's own units, `active_after` the 0/1 label. Keys first seen
    * inside the outcome window are EXCLUDED (they have no observation
    * history — including them leaks the label). All-integer outputs.
    *
    * Shape at 100 TB: a one-row broadcast max (the cutoff) + ONE
    * key-aggregate with conditional counts — no window, no join beyond
    * the scalar, no second pass. */
  def churnLabels(df: DataFrame, keys: Seq[String], orderCol: String,
      horizon: Long): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(horizon > 0, s"horizon > 0, got $horizon")
    val t = col(orderCol).cast("long")
    val base = df.filter(t.isNotNull)
      .select((keys.map(col) :+ t.as("__t")): _*)
    val cut = base.agg((max("__t") - horizon).as("__cutoff"))
    base.crossJoin(broadcast(cut))
      .groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("__t") <= col("__cutoff"), 1L).otherwise(0L))
          .as("n_before"),
        min(when(col("__t") <= col("__cutoff"), col("__t")))
          .as("first_seen"),
        max(when(col("__t") <= col("__cutoff"), col("__t")))
          .as("last_seen"),
        max(col("__cutoff")).as("__cut"),
        max(when(col("__t") > col("__cutoff"), 1L).otherwise(0L))
          .as("active_after"))
      .filter(col("n_before") > 0)
      .select(keys.map(col) ++ Seq(col("n_before"), col("first_seen"),
        col("last_seen"), (col("__cut") - col("last_seen")).as("recency"),
        col("active_after")): _*)
  }

  /** Audience overlap matrix — how much do two behaviors share users:
    * for every pair of `groupCol` values, the exact Jaccard and
    * containment of their distinct-`idCol` audiences. One row per
    * unordered pair `(group_a, group_b, n_a, n_b, n_both, jaccard,
    * containment)` with `containment = |∩| / min(|A|,|B|)` and a
    * `group_a < group_b` canonical order. The cross-sell / funnel-
    * design readback ("do purchasers also search?").
    *
    * Shape at 100 TB: one distinct (group, id) aggregate, an id-keyed
    * self-join whose per-id fan-out is bounded by the GROUP count
    * (≤ groups²/2 pairs per id — df-independent, the sourceOverlap
    * discipline), a pair count, and a groups-bounded broadcast join of
    * the per-group sizes. Never an audience×audience product. */
  def audienceOverlap(df: DataFrame, groupCol: String, idCol: String)
      : DataFrame = {
    val pres = df.filter(col(groupCol).isNotNull && col(idCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(idCol).as("__id"))
      .distinct()
    val sizes = pres.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val pairs = pres.as("l")
      .join(pres.as("r"), col("l.__id") === col("r.__id") &&
        col("l.__g") < col("r.__g"))
      .groupBy(col("l.__g").as("group_a"), col("r.__g").as("group_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(sizes.select(col("__g").as("__ga"),
        col("__n").as("n_a"))), col("group_a") === col("__ga"))
      .join(broadcast(sizes.select(col("__g").as("__gb"),
        col("__n").as("n_b"))), col("group_b") === col("__gb"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("n_both"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"),
        round(col("n_both").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("containment"))
  }

  /** Market-basket affinity: support / confidence / lift for every
    * UNORDERED item pair co-occurring in at least `minPairs` baskets —
    * the hardened successor of [[Relational.marketBasketPairs]] (which
    * asks callers to cap degenerate baskets upstream; this caps
    * in-operator with logged drops and keeps every reported count
    * consistent with the capped relation).
    * Output one row per pair `(item_a, item_b)` with `item_a < item_b`:
    * `(item_a, item_b, n_ab, n_a, n_b, n_baskets, support,
    * confidence_ab, confidence_ba, lift)` — integral counts plus 6-dp
    * ratios of those counts (the repo's cross-engine float discipline;
    * marginals cast to double BEFORE multiplying, the [[association]]
    * overflow rule).
    *
    * Baskets holding more than `maxBasket` distinct items are truncated
    * to their `maxBasket` SMALLEST items (deterministic under any
    * evaluation order) with the drop count logged loudly — the
    * [[graft.text.Dedup]] capBuckets contract: a pathological basket
    * (a crawler touching every item) would otherwise contribute O(k²)
    * pairs. All counts (pairs, marginals, basket total) derive from the
    * SAME capped relation, so the reported ratios stay mutually
    * consistent.
    *
    * Shape at 100 TB: distinct (basket, item) → a spill-safe per-basket
    * rank window → ONE basket-keyed aggregate whose collect_list buffer
    * is ≤ maxBasket entries BY CONSTRUCTION (over-cap rows arrive as
    * nulls, which collect_list skips — a collect_set-then-slice would
    * build the full degenerate basket in an unspillable buffer first).
    * The capped relation is localCheckpoint'ed once, and the basket total
    * and the cap audit's count are observed on that same job
    * ([[graft.util.Materialize.checkpoint]]) — the total enters the plan as
    * a literal; the pair explode and the item marginals read the
    * checkpoint instead of re-aggregating the corpus. The pair explode
    * is ≤ maxBasket²/2 rows per basket into one map-side-combined pair
    * count; the marginal joins run at pair scale against an
    * item-cardinality relation (AQE broadcasts dictionary-sized sides).
    * Never all-pairs across baskets, never a corpus re-scan. */
  def basketAffinity(df: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Int = 256, minPairs: Long = 1L): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    // cap BEFORE any aggregation buffer forms: a collect_set + slice
    // would build the FULL distinct-item array in an unspillable agg
    // buffer first — a degenerate 10M-item basket OOMs the executor
    // before the cap ever runs. The rank window sorts (spill-safe) and
    // the collect_list sees nulls for over-cap rows (nulls are skipped),
    // so the per-basket buffer is ≤ maxBasket entries by construction.
    val wb = Window.partitionBy(col(basketCol)).orderBy(col(itemCol))
    // the basket and capped-basket counts are observed on the job that
    // checkpoints the baskets — no count action, no one-row aggregate
    val baskets = Materialize.checkpoint(df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol), col(itemCol)).distinct()
      .withColumn("__rn", row_number().over(wb))
      .groupBy(col(basketCol))
      .agg(
        sort_array(collect_list(
          when(col("__rn") <= maxBasket, col(itemCol)))).as("__items"),
        (max(col("__rn")) > maxBasket).as("__capped")),
      count(lit(1)).as("n_baskets"),
      sum(when(col("__capped"), 1L).otherwise(0L)).as("n_capped"))
    val items = baskets.df
    val nCapped = baskets("n_capped")
    if (nCapped > 0)
      logger.warn(s"basketAffinity: $nCapped basket(s) over the " +
        s"$maxBasket-item cap were truncated to their $maxBasket " +
        "smallest items; pairs beyond the cap were not counted (raise " +
        "maxBasket to restore coverage)")
    val singles = items
      .select(explode(col("__items")).as("__item"))
      .groupBy(col("__item")).agg(count(lit(1)).as("__ci"))
    val pairs = items
      .select(explode(flatten(transform(col("__items"), (x, i) =>
        transform(slice(col("__items"), i + lit(2), size(col("__items"))),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
      .groupBy(col("__p.a").as("item_a"), col("__p.b").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairs)
    val dAb = col("n_ab").cast("double")
    pairs
      .join(singles.select(col("__item").as("__ia"), col("__ci").as("n_a")),
        col("item_a") === col("__ia"))
      .join(singles.select(col("__item").as("__ib"), col("__ci").as("n_b")),
        col("item_b") === col("__ib"))
      .withColumn("n_baskets", lit(baskets("n_baskets")))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_baskets"),
        round(dAb / col("n_baskets"), 6).as("support"),
        round(dAb / col("n_a"), 6).as("confidence_ab"),
        round(dAb / col("n_b"), 6).as("confidence_ba"),
        round(dAb * col("n_baskets").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("lift"))
  }

  /** Grouped Theil–Sen robust trend: per group, the LOWER MEDIAN of the
    * pairwise slopes `(y_j − y_i)/(x_j − x_i)` over a deterministic
    * sample of at most `maxN` points — the outlier-resistant slope
    * (~29% breakdown point vs 0% for OLS, Theil 1950 / Sen 1968) that
    * monitoring dashboards want when one bad batch would swing a
    * least-squares fit — plus the classic intercept completion, the
    * lower median of per-point residuals `y − slope·x` over the same
    * sample. Equal-`x` pairs are skipped (standard Theil–Sen);
    * groups with fewer than two distinct sampled `x` values have no
    * slope and are absent from the output.
    *
    * Determinism, both across retries and across engines: the sample is
    * the `maxN` points with SMALLEST `x` (ties → lower `idCol`) via the
    * bounded-heap [[graft.functions.CollectTopK]] aggregate — map-side
    * partial heaps, never a whole hot group through one task; the median
    * is the element at rank `⌊(m+1)/2⌋` ordered by `(slope, id_i, id_j)`
    * — an ELEMENT PICK, not an average, so the value replays bit-exact
    * (slopes are per-row IEEE arithmetic on identical inputs; no
    * rounding needed). `idCol` must be integral and unique within its
    * group (it keys the sample join-back, together with the group).
    *
    * Shape at 100 TB: two corpus scans — the heap-capped aggregate
    * (shuffle carries `partitions × maxN` candidates per group) and the
    * (group, id)-keyed sample join-back (the [[Relational.topKPerGroup]]
    * contract: ids are the narrow thing to shuffle; AQE broadcasts the
    * sample side). After the cap everything is sample-sized: a
    * group-local pair join bounded by `maxN²/2` rows per group and
    * rank windows over the bounded pair and residual relations.
    * Output: (groupCol, n_used, n_pairs, slope, intercept). */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, idCol: String, maxN: Int = 64): DataFrame = {
    require(maxN >= 2, s"maxN must be >= 2, got $maxN")
    val capped = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(graft.functions.TopK.collect_top_k(
        struct((-col(xCol)).cast("double").as("score"),
          col(idCol).cast("long").as("id")), maxN).as("__top"))
    val ids = capped.select(col(groupCol),
      explode(col("__top.id")).as("__id"))
    val pts = ids.join(
      df.select(col(groupCol), col(idCol).cast("long").as("__id"),
        col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y")),
      Seq(groupCol, "__id"))
    val nUsed = pts.groupBy(col(groupCol)).agg(count(lit(1)).as("n_used"))
    val right = pts.select(col(groupCol), col("__id").as("__j"),
      col("__x").as("__xj"), col("__y").as("__yj"))
    val pairs = pts
      .join(right, Seq(groupCol.toString))
      .filter(col("__id") < col("__j") && col("__x") =!= col("__xj"))
      .select(col(groupCol), col("__id"), col("__j"),
        ((col("__yj") - col("__y")) / (col("__xj") - col("__x")))
          .as("__s"))
    val w = Window.partitionBy(col(groupCol))
    val slopes = pairs
      .withColumn("__rn",
        row_number().over(w.orderBy(col("__s"), col("__id"), col("__j")))
          .cast("long"))
      .withColumn("n_pairs", count(lit(1)).over(w))
      .filter(col("__rn") ===
        ((col("n_pairs") + lit(1L)) / lit(2L)).cast("long"))
      .join(nUsed, Seq(groupCol.toString))
      .select(col(groupCol), col("n_used"), col("n_pairs"),
        col("__s").as("slope"))
    // intercept: the classic Theil–Sen completion — the LOWER MEDIAN of
    // per-point residuals y − slope·x over the SAME sample (element pick
    // ordered by (residual, id): replays bit-exact like the slope). The
    // residual window spans ≤ maxN sample rows per group.
    val res = pts
      .join(slopes.select(col(groupCol), col("n_used"), col("n_pairs"),
        col("slope")), Seq(groupCol.toString))
      .withColumn("__r", col("__y") - col("slope") * col("__x"))
    res
      .withColumn("__rrn",
        row_number().over(w.orderBy(col("__r"), col("__id")))
          .cast("long"))
      .filter(col("__rrn") ===
        ((col("n_used") + lit(1L)) / lit(2L)).cast("long"))
      .select(col(groupCol), col("n_used"), col("n_pairs"),
        col("slope"), col("__r").as("intercept"))
  }

  /** ABC / Pareto classification: rank entities by total value within
    * each group, cumulate the value share, and label the head that
    * carries ≤ `aPct`% of group value `A`, the next tier up to `bPct`%
    * `B`, and the tail `C` — the inventory/revenue concentration screen
    * ("which 20% of SKUs carry 80% of revenue") in its standard
    * cumulative-share form.
    *
    * Exactness: `valueCol` is cast to long (quantize money upstream,
    * e.g. `floor(x*100)` cents — the repo's money discipline), so the
    * ordered cumulative and the group total are INTEGER sums — exact
    * under any evaluation order and engine (no float windowed sums, the
    * DuckDB-segment-tree trap) — and the tier test is the integer
    * cross-multiplication `cum*100 ≤ total*pct`: no ratio doubles
    * anywhere. Ordering is (value DESC, entity ASC) — total, so ranks
    * and cumulatives replay exactly. Values are assumed non-negative
    * (negative value makes a cumulative share non-monotone; the labels
    * would still be deterministic, just not a Pareto reading). Keep
    * `total × 100` under 2^63 — at cents that allows ~9×10^16 dollars
    * per group.
    *
    * Shape at 100 TB: ONE map-side-combined (group, entity) aggregate
    * reduces the corpus to the entity relation; the rank/cumulative
    * windows partition by group over entity-cardinality rows (the
    * RFM-table argument). With `groupCols` empty the windows are global
    * over the entity relation and route through
    * [[graft.util.BoundedWindow]] — bounded by the aggregate above, the
    * same contract as every entity-table global window in the repo.
    * Output: (groupCols…, entityCol, value, rank_in_group, cum_value,
    * abc_class). */
  def abcClasses(df: DataFrame, groupCols: Seq[String], entityCol: String,
      valueCol: String, aPct: Int = 80, bPct: Int = 95): DataFrame = {
    require(0 < aPct && aPct < bPct && bPct < 100,
      s"need 0 < aPct < bPct < 100, got ($aPct, $bPct)")
    val ent = df
      .filter(col(entityCol).isNotNull)
      .groupBy((groupCols :+ entityCol).map(col): _*)
      .agg(sum(col(valueCol).cast("long")).as("value"))
    val (wRank, wAll) =
      if (groupCols.nonEmpty)
        (Window.partitionBy(groupCols.map(col): _*)
          .orderBy(col("value").desc, col(entityCol)),
          Window.partitionBy(groupCols.map(col): _*))
      else
        // bounded: one row per distinct entity, produced by the
        // aggregate above — the entity-table global-window contract
        (graft.util.BoundedWindow.global(col("value").desc,
          col(entityCol)),
          graft.util.BoundedWindow.globalUnordered())
    ent
      .withColumn("rank_in_group", row_number().over(wRank).cast("long"))
      .withColumn("cum_value", sum(col("value")).over(
        wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__total", sum(col("value")).over(wAll))
      .select(groupCols.map(col) ++ Seq(col(entityCol), col("value"),
        col("rank_in_group"), col("cum_value"),
        when(col("cum_value") * 100 <= col("__total") * aPct, "A")
          .when(col("cum_value") * 100 <= col("__total") * bPct, "B")
          .otherwise("C").as("abc_class")): _*)
  }

  /** Concentration profile of a value distribution over entities, per
    * group: the Herfindahl–Hirschman index `HHI = Σ share_i²` (the
    * antitrust/market-concentration standard; 1/n = perfectly even,
    * 1 = monopoly), its inverse `effective_n` (the "effective number
    * of players"), and the Shannon entropy of the share distribution
    * (nats, via the `ln(total) − Σ v·ln v / total` identity shared
    * with [[graft.text.Ranking.tokenEntropy]]) — the scalar companions
    * to [[abcClasses]]' per-entity tiers: track supplier/customer/
    * source concentration over time in one row per group.
    *
    * `valueCol` is cast to long (quantize money upstream — the repo's
    * money discipline); zero/negative rows are dropped (a share needs
    * positive mass). All three statistics are aggregate-derived doubles
    * — round them (6 dp) at the query layer per the cross-engine float
    * discipline.
    *
    * Shape at 100 TB: ONE map-side-combined (group, entity) aggregate
    * reduces the corpus to the entity relation, then one group
    * aggregate finishes — two exchanges, no windows, no joins. Output:
    * (groupCols…, n_entities, total, hhi, effective_n, entropy). */
  def concentration(df: DataFrame, groupCols: Seq[String],
      entityCol: String, valueCol: String): DataFrame = {
    val ent = df
      .filter(col(entityCol).isNotNull)
      .groupBy((groupCols :+ entityCol).map(col): _*)
      .agg(sum(col(valueCol).cast("long")).as("__v"))
      .filter(col("__v") > 0L)
    val v = col("__v").cast("double")
    val total = sum(col("__v"))
    ent.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_entities"),
        total.as("total"),
        (sum(v * v) / (total.cast("double") * total.cast("double")))
          .as("hhi"),
        ((total.cast("double") * total.cast("double")) / sum(v * v))
          .as("effective_n"),
        (log(total.cast("double")) - sum(v * log(v)) /
          total.cast("double")).as("entropy"))
  }

  /** k-anonymity audit over quasi-identifier columns — the privacy
    * gate a dataset must pass before release: ONE row
    * `(k, n_rows, n_groups, min_group_size, violating_groups,
    * violating_rows, violating_share, unique_rows)` where a violating
    * group has fewer than `k` rows sharing the same QI combination and
    * `unique_rows` counts perfectly re-identifiable rows (group size
    * 1). Null QI values count as their own level (the conservative
    * reading — null patterns identify too).
    *
    * Shape at 100 TB: ONE map-side-combined QI-keyed count + a
    * groups-relation fold — no join, no sort, nothing driver-side;
    * integral counts make every output exact (the share is one 6-dp
    * division). */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Long = 5)
      : DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k >= 2, got $k")
    val g = df.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("__c"))
    g.agg(
      lit(k).as("k"),
      sum("__c").as("n_rows"),
      count(lit(1)).as("n_groups"),
      min("__c").as("min_group_size"),
      sum(when(col("__c") < k, 1L).otherwise(0L)).as("violating_groups"),
      sum(when(col("__c") < k, col("__c")).otherwise(0L))
        .as("violating_rows"),
      round(sum(when(col("__c") < k, col("__c")).otherwise(0L))
        .cast("double") / sum("__c"), 6).as("violating_share"),
      sum(when(col("__c") === 1, 1L).otherwise(0L)).as("unique_rows"))
  }

  /** l-diversity audit — k-anonymity's companion: a QI group can be
    * large yet still leak if everyone in it shares the sensitive value.
    * ONE row `(l, n_groups, min_distinct, violating_groups,
    * violating_rows, violating_share)` where a violating group has
    * fewer than `l` DISTINCT sensitive values. Same one-aggregate
    * shape as [[kAnonymity]] with an exact distinct per group. */
  def lDiversity(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, l: Long = 2): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, s"l >= 2, got $l")
    val g = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("__c"),
        countDistinct(col(sensitiveCol)).as("__d"))
    g.agg(
      lit(l).as("l"),
      count(lit(1)).as("n_groups"),
      min("__d").as("min_distinct"),
      sum(when(col("__d") < l, 1L).otherwise(0L)).as("violating_groups"),
      sum(when(col("__d") < l, col("__c")).otherwise(0L))
        .as("violating_rows"),
      round(sum(when(col("__d") < l, col("__c")).otherwise(0L))
        .cast("double") / sum("__c"), 6).as("violating_share"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    * rung of the re-identification ladder after [[kAnonymity]] and
    * [[lDiversity]]: a QI group can be large AND diverse yet still leak
    * if its sensitive-value DISTRIBUTION differs from the table's (the
    * "everyone in this zip code skews high-risk" disclosure). Per QI
    * group, the Earth Mover's Distance between the group's distribution
    * over the ORDERED sensitive values and the global one —
    * `EMD = (1/(m-1)) · Σᵢ |Σ_{j≤i} (p_j − q_j)|` over the m global
    * values in sort order (the ordered-attribute EMD of the paper §4.2;
    * for a nominal attribute order is still applied lexicographically
    * and the metric degrades to a cumulative variational distance —
    * document the column you pass). One row
    * `(t, n_groups, m_values, max_emd, violating_groups,
    * violating_rows, violating_share)`; a group violates when its
    * 6-dp-rounded EMD exceeds `t`.
    *
    * Determinism: every float enters through a division of exact
    * integer counts and every accumulation is an ORDERED window cumsum
    * (fixed left-to-right order — bit-identical in any engine), never a
    * free-order aggregate; the violation predicate compares the
    * 6-dp-ROUNDED EMD, so ulps cannot flip a group across `t`.
    *
    * Shape at 100 TB: the global value relation is m rows (sensitive
    * cardinality — bin continuous attributes first), broadcast onto the
    * group relation; the grid is groups × m with two degree-bounded
    * per-group window passes and one final fold — no global sort, no
    * driver state. */
  def tCloseness(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, t: Double = 0.2): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(t > 0.0 && t < 1.0, s"need 0 < t < 1, got $t")
    val pKeys = qiCols.map(col)
    val sv = col(sensitiveCol).cast("string")
    val rows = df.select((pKeys :+ sv.as("__v")): _*)
      .filter(col("__v").isNotNull)
    val vals = rows.groupBy("__v").agg(count(lit(1)).as("__cg"))
    val g = rows.groupBy(pKeys: _*).agg(count(lit(1)).as("__n"))
    val gv = rows.groupBy((pKeys :+ col("__v")): _*)
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(pKeys: _*).orderBy(col("__v"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val grid = g.crossJoin(broadcast(
        vals.crossJoin(vals.agg(sum("__cg").as("__tot"),
          count(lit(1)).as("__mv")))))
      .join(gv, qiCols :+ "__v", "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val emd = grid
      .withColumn("__diff",
        sum("__c").over(wCum).cast("double") / col("__n") -
          sum("__cg").over(wCum).cast("double") / col("__tot"))
      .withColumn("__rn", row_number().over(wOrd))
      // Σ_{i=1..m-1} |cumdiff_i| as an ordered running sum read at
      // row m-1 — the free-order agg would break cross-engine replay
      .withColumn("__cumabs", sum(abs(col("__diff"))).over(wCum))
      // m = 1 (a single sensitive value): every group's distribution
      // equals the global one, EMD = 0 by definition — read the single
      // grid row per group instead of the (nonexistent) row m-1, which
      // reported n_groups = 0 / NULL max_emd (ADVICE r7)
      .filter(col("__rn") === greatest(col("__mv") - 1, lit(1)))
      .select((pKeys :+ col("__n") :+
        when(col("__mv") === 1, lit(0.0))
          .otherwise(
            round(col("__cumabs") / (col("__mv") - 1).cast("double"), 6))
          .as("__emd") :+ col("__mv") :+ col("__tot")): _*)
    emd.agg(
      lit(t).as("t"),
      count(lit(1)).as("n_groups"),
      max("__mv").as("m_values"),
      max("__emd").as("max_emd"),
      sum(when(col("__emd") > t, 1L).otherwise(0L))
        .as("violating_groups"),
      sum(when(col("__emd") > t, col("__n")).otherwise(0L))
        .as("violating_rows"),
      round(sum(when(col("__emd") > t, col("__n")).otherwise(0L))
        .cast("double") / max("__tot"), 6).as("violating_share"))
  }

  /** Histogram-based outlier scoring (HBOS, Goldstein & Dengel 2012) —
    * the linear-time unsupervised anomaly detector: each feature is
    * equal-width binned, a row's score is the PRODUCT of its bins'
    * occupancy counts (HBOS sums log-densities; the product is the same
    * ranking with no transcendental in the decision path), and the
    * `topN` LOWEST-density rows come back as
    * `(idCol, score, bin_<feature>…)` ordered `(score ASC, id ASC)`.
    *
    * Determinism: features floor-quantize to 2^20 units, bin =
    * `((xq−min)·nBins) div range` is pure integer arithmetic (truncating
    * `div` on nonnegative operands ⇒ identical in any engine), counts
    * are integers, and the score multiplies the per-feature counts in
    * FEATURE-NAME order (a fixed-order fold, exact in double up to 2^53
    * — the bound `nRows^nFeatures < 2^53` is the documented domain;
    * above it, pre-aggregate or sample). Input magnitude is bounded
    * too: the quantized per-feature spread must satisfy
    * `range ≤ 2^63 / nBins` (≈ raw spread 2^31 at nBins = 4096 after
    * the 2^20 quantization) — enforced with a `require`, because Spark
    * would wrap the bin product silently while a SQL oracle errors.
    * Ties cannot reorder the cut:
    * the sort key is (score, id), both exact. Rows with a null/NaN
    * feature are dropped (outlier scoring needs complete vectors).
    *
    * Shape at 100 TB: one bounded global min/max aggregate (2F values
    * to the driver), ONE (feature, bin)-keyed count shuffle whose
    * result is F·nBins rows — bounded by GEOMETRY, so it collects into
    * per-feature literal maps (the encoder literal-map contract,
    * capped at F·nBins ≤ 65536) — and scoring is a single
    * `element_at` projection over the binned relation into a
    * TakeOrdered heap. No id-keyed regroup, no corpus-sized join-back:
    * the first cut of this operator joined the 2×-corpus long format
    * back to the row relation and measured ~40× at a ×16 stress — the
    * map-literal form is the fix. */
  def histogramOutliers(df: DataFrame, idCol: String,
      featureCols: Seq[String], nBins: Int = 32, topN: Int = 100)
      : DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    require(nBins >= 2 && nBins <= 4096, s"2 <= nBins <= 4096, got $nBins")
    require(topN >= 1, s"topN >= 1, got $topN")
    // literal-map budget check FIRST — failing it after the corpus scan,
    // quantize, persist and checkpoint had already run wasted all of that
    // work (ADVICE r7)
    require(featureCols.size * nBins <= 65536,
      s"histogram literal-map budget: features×nBins <= 65536, got " +
        s"${featureCols.size * nBins}")
    val scale = 1L << 20
    val complete = featureCols
      .map(c => col(c).isNotNull && !isnan(col(c).cast("double")))
      .reduce(_ && _)
    val q = Materialize.shared(
      df.filter(complete && col(idCol).isNotNull)
        .select((col(idCol).as("__id") +:
          featureCols.map(c =>
            floor(col(c).cast("double") * scale).cast("long").as(s"__q_$c")))
          : _*))
    val mm = q.agg(
      featureCols.flatMap(c => Seq(min(s"__q_$c").as(s"lo_$c"),
        max(s"__q_$c").as(s"hi_$c"))).head,
      featureCols.flatMap(c => Seq(min(s"__q_$c").as(s"lo_$c"),
        max(s"__q_$c").as(s"hi_$c"))).tail: _*).head()
    // every row filtered out (all-null/NaN features): min/max are NULL —
    // short-circuit to an empty result with the output schema instead of
    // unboxing nulls to 0 and crashing on the empty histogram map
    // (ADVICE r7)
    if (mm.isNullAt(mm.fieldIndex(s"lo_${featureCols.head}"))) {
      Materialize.release(q)
      return q.limit(0).select(
        col("__id").as(idCol) +:
          featureCols.map(c => lit(0L).as(s"bin_$c")) :+
          lit(0.0).as("score"): _*)
    }
    featureCols.foreach { c =>
      val range = mm.getAs[Long](s"hi_$c") - mm.getAs[Long](s"lo_$c") + 1L
      // (__q - lo) * nBins must stay within Long: Spark wraps silently
      // (garbage negative bins) while the SQL oracle errors on BIGINT
      // overflow — fail together, loudly, instead (ADVICE r7). With the
      // 2^20 quantization this bounds raw feature spread to ~2^63/(2^20·
      // nBins) — e.g. ~2^31 units at nBins = 4096.
      require(range <= Long.MaxValue / nBins,
        s"feature $c: quantized range $range × nBins=$nBins overflows " +
          "Long bin arithmetic — rescale the feature or reduce nBins")
    }
    val binned = featureCols.foldLeft(q) { (d, c) =>
      val lo = mm.getAs[Long](s"lo_$c")
      val range = mm.getAs[Long](s"hi_$c") - lo + 1L
      d.withColumn(s"bin_$c",
        expr(s"((`__q_$c` - ${lo}L) * ${nBins}L) div ${range}L"))
    }.select(col("__id") +: featureCols.map(c => col(s"bin_$c")): _*)
      .localCheckpoint(true)
    Materialize.release(q)
    val hist = binned.select(explode(array(
        featureCols.map(c =>
          struct(lit(c).as("__f"), col(s"bin_$c").as("__b"))): _*))
        .as("__e"))
      .groupBy(col("__e.__f").as("__f"), col("__e.__b").as("__b"))
      .agg(count(lit(1)).as("__cnt"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (f, rows) =>
        f -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
      }
    // fixed multiply order (feature-name ASC) — the fold both engines
    // replay; counts are exact integers so the double product is exact
    // below 2^53
    val score = featureCols.sorted
      .map(c => element_at(typedLit(hist(c)), col(s"bin_$c"))
        .cast("double"))
      .reduce(_ * _)
    binned.withColumn("score", score)
      .withColumnRenamed("__id", idCol)
      .orderBy(col("score").asc, col(idCol).asc)
      .limit(topN)
  }

  /** Per-series completeness audit over an integer period axis (days,
    * hours — resample first): one row per key with
    * `(first_p, last_p, span, observed, completeness, max_missing_run)`
    * — span = last−first+1 periods, completeness = observed/span
    * (6-dp), and the longest interior run of MISSING periods (0 when
    * gapless). The "is this series trustworthy" gate before any
    * seasonal/changepoint read. Duplicate periods per key are
    * tolerated (counted once).
    *
    * Shape at 100 TB: one per-key window sort (the lag gap) into one
    * aggregate — the sessionize per-entity bound; all-integer outputs
    * except the one rounded division. */
  def seriesCompleteness(df: DataFrame, keys: Seq[String],
      periodCol: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val pKeys = keys.map(col)
    val distinctP = df.filter(col(periodCol).isNotNull)
      .select((pKeys :+ col(periodCol).cast("long").as("__p")): _*)
      .distinct()
    val w = Window.partitionBy(pKeys: _*).orderBy(col("__p"))
    distinctP
      .withColumn("__gap", col("__p") - lag(col("__p"), 1).over(w))
      .groupBy(pKeys: _*)
      .agg(
        min("__p").as("first_p"), max("__p").as("last_p"),
        (max("__p") - min("__p") + 1).as("span"),
        count(lit(1)).as("observed"),
        round(count(lit(1)).cast("double") /
          (max("__p") - min("__p") + 1), 6).as("completeness"),
        coalesce(greatest(max(col("__gap")) - 1, lit(0L)), lit(0L))
          .as("max_missing_run"))
  }

  /** Inter-arrival profile per key — the engagement/churn readback:
    * event gaps `t_i − t_{i−1}` per key, summarized as one row
    * `(keys…, n_events, median_gap, p90_gap, max_gap, last_gap)` with
    * exact nearest-rank gap percentiles and the most recent gap (the
    * churn signal: `last_gap >> median_gap` means gone quiet). Gaps are
    * in `orderCol`'s own units (pass epoch micros); single-event keys
    * have no gaps and are omitted. All outputs are exact integers —
    * nothing to round.
    *
    * Shape at 100 TB: one exchange by key, two in-partition sorts
    * (event order for the lag, gap order for the percentiles), ONE
    * aggregate. The per-entity discipline shared with sessionize. */
  def interArrival(df: DataFrame, keys: Seq[String], orderCol: String)
      : DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val pKeys = keys.map(col)
    val wEvt = Window.partitionBy(pKeys: _*).orderBy(col(orderCol))
    val gapped = df.filter(col(orderCol).isNotNull)
      .withColumn("__t", col(orderCol).cast("long"))
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(wEvt))
      .withColumn("__nev",
        count(lit(1)).over(Window.partitionBy(pKeys: _*)))
      .filter(col("__gap").isNotNull)
    val wGap = Window.partitionBy(pKeys: _*).orderBy(col("__gap").asc)
    val wAll = Window.partitionBy(pKeys: _*)
    val ranked = gapped
      .withColumn("__rn", row_number().over(wGap))
      .withColumn("__ng", count(lit(1)).over(wAll))
    def at(p: Double) = max(when(col("__rn") ===
      greatest(lit(1L), ceil(lit(p) * col("__ng")).cast("long")),
      col("__gap")))
    ranked.groupBy(pKeys: _*).agg(
      max(col("__nev")).as("n_events"),
      at(0.5).as("median_gap"),
      at(0.9).as("p90_gap"),
      max(col("__gap")).as("max_gap"),
      // (t, gap) tie-break: equal max timestamps pick the larger gap —
      // total, so the choice replays in any engine
      max_by(col("__gap"), struct(col("__t"), col("__gap")))
        .as("last_gap"))
  }

  /** Effective sample size of a weighted relation (Kish):
    * `ESS = (Σw)² / Σw²`, one row `(n, ess, ess_ratio)` — how many
    * equal-weight rows the weighted set is worth; the health gauge for
    * temperature-mixed / importance-weighted corpora (ratio → 0 means
    * a few rows dominate the mixture). Null/non-positive weights are
    * excluded. ONE map-side-combined aggregate (three numbers of
    * state); with integral weights both sums are exact and the single
    * division is 6-dp rounded. */
  def effectiveSampleSize(df: DataFrame, weightCol: String): DataFrame = {
    val w = col(weightCol).cast("double")
    df.filter(w.isNotNull && w > 0)
      .agg(count(lit(1)).as("n"), sum(w).as("__s"),
        sum(w * w).as("__ss"))
      .select(col("n"),
        round(col("__s") * col("__s") / col("__ss"), 6).as("ess"),
        round(col("__s") * col("__s") / col("__ss") / col("n"), 6)
          .as("ess_ratio"))
  }

  /** Exact percentile bands per group — the latency-dashboard query:
    * one row per group with the nearest-rank order statistics
    * `value at rank max(1, ceil(p·n))` for every requested percentile,
    * all from ONE per-group sort. Output `(groups…, n, p25, p50, …)`
    * with raw (unrounded) values — order statistics are exact data
    * values, so there is nothing to round. Percentiles must be in
    * (0, 1] and land on whole percents (the column is named `p<pct>`).
    * Ties need no break: equal values at the boundary rank yield the
    * same statistic whatever their order.
    *
    * Shape at 100 TB: one per-group window sort (rank + count frames
    * share it) → ONE map-side-combined aggregate with a conditional
    * max per percentile — never a job, scan, or sort per percentile,
    * and exact where `percentile_approx` is not. Per-group bound is
    * the sessionize discipline. */
  def percentileBands(df: DataFrame, groupCols: Seq[String],
      valueCol: String,
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(ps.nonEmpty && ps == ps.sorted && ps.distinct == ps,
      "percentiles must be sorted and distinct")
    require(ps.forall(p => p > 0 && p <= 1), s"percentiles in (0,1]: $ps")
    require(ps.forall(p => (p * 100) == math.rint(p * 100)),
      s"whole percents only (column naming), got $ps")
    val gb = groupCols.map(col)
    val x = col(valueCol).cast("double")
    val w = Window.partitionBy(gb: _*).orderBy(x.asc)
    val wAll = Window.partitionBy(gb: _*)
    val bands = ps.map { p =>
      val k = greatest(lit(1L), ceil(lit(p) * col("__n")).cast("long"))
      max(when(col("__rn") === k, col("__x")))
        .as(s"p${math.rint(p * 100).toInt}")
    }
    df.filter(x.isNotNull)
      .withColumn("__x", x)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .groupBy(gb: _*)
      .agg(max(col("__n")).as("n"), bands: _*)
  }

  /** Exact WEIGHTED percentiles per group — "the median document by
    * TOKEN mass", not by document count: value at the first rank whose
    * cumulative weight reaches `p·W`. One row per group:
    * `(groups…, w_total, wp25, wp50, …)`. Qualification of a value is
    * decided by its tie-block's closing cumulative weight, so equal
    * values need no tie-break and the result is engine-deterministic;
    * with integral weights the cumulative is exact and the `p·W`
    * thresholds are single IEEE products.
    *
    * Shape at 100 TB: one per-group value sort (cumulative-weight +
    * whole-partition frames share it) → ONE aggregate with a
    * conditional min per percentile — the [[percentileBands]]
    * discipline with mass instead of count. */
  def weightedPercentiles(df: DataFrame, groupCols: Seq[String],
      valueCol: String, weightCol: String,
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(ps.nonEmpty && ps == ps.sorted && ps.distinct == ps,
      "percentiles must be sorted and distinct")
    require(ps.forall(p => p > 0 && p <= 1), s"percentiles in (0,1]: $ps")
    require(ps.forall(p => (p * 100) == math.rint(p * 100)),
      s"whole percents only (column naming), got $ps")
    val gb = groupCols.map(col)
    val x = col(valueCol).cast("double")
    val wt = col(weightCol).cast("long")
    val wCum = Window.partitionBy(gb: _*).orderBy(x.asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(gb: _*)
    val bands = ps.map { p =>
      min(when(col("__cw").cast("double") >=
        lit(p) * col("__W").cast("double"), col("__x")))
        .as(s"wp${math.rint(p * 100).toInt}")
    }
    df.filter(x.isNotNull && wt.isNotNull && wt > 0)
      .withColumn("__x", x)
      .withColumn("__cw", sum(wt).over(wCum))
      .withColumn("__W", sum(wt).over(wAll))
      .groupBy(gb: _*)
      .agg(max(col("__W")).as("w_total"), bands: _*)
  }

  /** Exact trimmed mean per group: drop the `floor(trim·n)` smallest
    * and largest values by rank, average the rest. One row per group:
    * `(groups…, n, n_used, trimmed_mean, mean)` — the robust center
    * next to the plain one, both 6-dp rounded. Equal values are
    * interchangeable under rank trimming (any rank order of ties keeps
    * the same multiset), so no tie-break column is needed and the
    * result is engine-deterministic; with integral values the kept-sum
    * is exact. `trim = 0` degrades to the plain mean; `trim` must stay
    * below 0.5.
    *
    * Shape at 100 TB: one per-group window sort (rank + whole-partition
    * count share it) → filter → ONE map-side-combined aggregate. The
    * per-group bound is the sessionize/cusum discipline; no join, no
    * collect, no second scan. Heavily skewed group sizes inherit the
    * usual remedy (salt the groups upstream if one group IS the
    * corpus). */
  def trimmedMean(df: DataFrame, groupCols: Seq[String],
      valueCol: String, trim: Double = 0.1): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(trim >= 0 && trim < 0.5, s"trim in [0, 0.5), got $trim")
    val gb = groupCols.map(col)
    val x = col(valueCol).cast("double")
    val w = Window.partitionBy(gb: _*).orderBy(x.asc)
    val wAll = Window.partitionBy(gb: _*)
    val k = floor(lit(trim) * col("__n")).cast("long")
    df.filter(x.isNotNull)
      .withColumn("__x", x)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__keep", col("__rn") > k && col("__rn") <= col("__n") - k)
      .groupBy(gb: _*)
      .agg(
        max(col("__n")).as("n"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_used"),
        round(sum(when(col("__keep"), col("__x")).otherwise(lit(0.0))) /
          sum(when(col("__keep"), 1L).otherwise(0L)), 6)
          .as("trimmed_mean"),
        round(sum(col("__x")) / count(lit(1)), 6).as("mean"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker: "Improving the
    * Sensitivity of Online Controlled Experiments by Utilizing
    * Pre-Experiment Data", WSDM 2013) — the standard experimentation
    * technique: adjust each unit's metric `y` by its pre-experiment
    * covariate `x`, `y_adj = y − θ·(x − x̄)` with `θ = cov(x,y)/var(x)`
    * fitted on ALL units, so per-variant adjusted means keep the
    * treatment effect unbiased while shedding the covariate's variance.
    * Input: ONE ROW PER UNIT (pre-aggregate events to units first) with
    * integer-unit metric/covariate columns (quantize money to cents
    * upstream — the [[Privacy]]/[[Scorecard]] cents discipline). Output:
    * one row per variant,
    * `(variantCol, n_units, mean_metric, mean_covariate, mean_adjusted,
    * theta)`, doubles rounded 6 dp.
    *
    * Determinism: every sum is an exact free-order LONG sum of the
    * integer units; θ and the adjusted means are a fixed sequence of
    * long→double conversions, multiplies and divides (IEEE-identical in
    * any engine), so the whole readback replays bit-for-bit — no
    * moment-aggregate rounding needed. θ is 0 by definition when the
    * covariate is constant (var(x) = 0).
    *
    * Shape at 100 TB: ONE map-side-combined global aggregate (six longs
    * to the driver — the fitted-scalar contract) and ONE per-variant
    * aggregate with θ inlined as a literal; no join, no window, no
    * second scan of the unit relation beyond those two passes. The
    * long-product terms bound the domain: n·Σxy and n·Σx² must stay
    * within double's 2^53 exactness only for REPORTING precision — the
    * conversions are deterministic either way — but Σx²-style per-unit
    * magnitudes must not overflow the LONG sums (require'd). */
  def cuped(df: DataFrame, variantCol: String, metricCol: String,
      covariateCol: String): DataFrame = {
    val y = col(metricCol).cast("long")
    val x = col(covariateCol).cast("long")
    val units = df
      .filter(col(variantCol).isNotNull && y.isNotNull && x.isNotNull)
      .select(col(variantCol).cast("string").as("__v"), y.as("__y"),
        x.as("__x"))
    val g = units.agg(
      count(lit(1)).as("n"),
      sum("__x").as("sx"), sum("__y").as("sy"),
      sum(col("__x") * col("__x")).as("sxx"),
      sum(col("__x") * col("__y")).as("sxy")).head()
    val n = g.getAs[Long]("n")
    require(n >= 2, s"CUPED needs >= 2 units, got $n")
    val sx = g.getAs[Long]("sx"); val sy = g.getAs[Long]("sy")
    val sxx = g.getAs[Long]("sxx"); val sxy = g.getAs[Long]("sxy")
    // fixed-order IEEE arithmetic over the exact longs — the oracle SQL
    // repeats these expressions verbatim
    val varX = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
    val theta =
      if (varX == 0.0) 0.0
      else (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) / varX
    val meanXg = sx.toDouble / n.toDouble
    units.groupBy(col("__v").as(variantCol))
      .agg(count(lit(1)).as("n_units"),
        sum("__y").as("__syv"), sum("__x").as("__sxv"))
      .select(col(variantCol), col("n_units"),
        round(col("__syv").cast("double") / col("n_units"), 6)
          .as("mean_metric"),
        round(col("__sxv").cast("double") / col("n_units"), 6)
          .as("mean_covariate"),
        round(col("__syv").cast("double") / col("n_units") -
          lit(theta) * (col("__sxv").cast("double") / col("n_units") -
            lit(meanXg)), 6).as("mean_adjusted"),
        round(lit(theta), 6).as("theta"))
  }
}
