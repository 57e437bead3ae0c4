package graft.streaming

import graft.util.Materialize
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface (SURVEY §2.10 / P6 extension — the reference
  * has no streaming; this is the natural serving path for fitted pipelines).
  *
  * A fitted `PipelineModel`'s state is frozen training statistics (encoder
  * dictionaries, group aggregates) applied as stateless Column expressions /
  * broadcast joins — so `model.transform` composes directly onto a streaming
  * DataFrame with no extra state store: scoring a stream IS the batch plan
  * over an unbounded source. Transform-time-statistics operators (Imputer
  * mean, MinorityTransformer, RangeTransformer stat rules) are the
  * exception: they aggregate the transform input and are rejected on
  * streams by Spark's unsupported-operation check — freeze them at fit time
  * into constants before streaming (SURVEY §7.4, flagged).
  */
object Streaming {

  /** Score an unbounded stream with a fitted pipeline (stateless). */
  def score(model: PipelineModel, stream: DataFrame): DataFrame =
    model.transform(stream)

  /** Watermarked tumbling-window aggregate over the events shape
    * (`ts: timestamp, event_type: string, value: double`). */
  def windowedStats(
      events: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup: fingerprint the content column and keep the
    * first arrival per fingerprint inside the watermark horizon.
    * `dropDuplicatesWithinWatermark` bounds the state store by event time —
    * a plain `dropDuplicates` would keep every fingerprint ever seen, which
    * at 100 TB/day of documents is an unbounded state store; dedup across a
    * longer horizon belongs in a periodic batch compaction over the sink. */
  def dedupExact(
      stream: DataFrame, textCol: String, tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    stream
      .withColumn("__fp", graft.text.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Freeze a reference corpus into its MinHash band buckets — the STATIC
    * side of streaming near-dup detection, fitted once (owned state,
    * persisted and materialized; free it with
    * [[graft.util.Materialize.release]] when retired). Hot buckets
    * over `maxBucket` docs are dropped at freeze time with a logged
    * warning, same guard as the batch dedup paths: one degenerate
    * boilerplate bucket would otherwise multiply every matching stream row
    * by the bucket size on every micro-batch. */
  def freezeNearDupCorpus(
      corpus: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    // shared BEFORE capBuckets: the shingle+minhash pass over the whole
    // corpus otherwise runs twice (once for the counts aggregate, once for
    // the surviving-buckets join) — same guard as lshTopK's dataBuckets;
    // persisted, so a lost block of the frozen state is recomputable
    val buckets = Materialize.shared(graft.text.Dedup
      .bandBuckets(corpus, textCol, idCol, numHashes, bands, shingleK)
      .withColumnRenamed(idCol, "corpus_id"), recomputable = true)
    val frozen = Materialize.persist(graft.text.Dedup
      .capBuckets(buckets, maxBucket, "freezeNearDupCorpus")
      .select("corpus_id", "band", "bucket"))
    graft.text.Dedup.reportDrops(frozen.stats, maxBucket,
      "freezeNearDupCorpus")
    Materialize.release(buckets)
    frozen.df
  }

  /** Near-duplicate candidates of a live stream against a frozen corpus:
    * the stream's band buckets stream-static-join the frozen bucket
    * relation — a stateless equi-join per micro-batch, no streaming state.
    * Emits `(idCol, corpus_id)` candidate pairs (one per agreeing band;
    * dedup/verify downstream — an in-stream `dropDuplicates` on the pair
    * would grow state unboundedly). */
  def nearDupCandidates(
      stream: DataFrame, textCol: String, idCol: String,
      frozenCorpus: DataFrame,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3): DataFrame =
    graft.text.Dedup
      .bandBuckets(stream, textCol, idCol, numHashes, bands, shingleK)
      .join(frozenCorpus, Seq("band", "bucket"))
      .filter(col(idCol) =!= col("corpus_id"))
      .select(col(idCol), col("corpus_id"))

  /** Streaming interval join — the unbounded twin of
    * [[graft.relational.Relational.rangeJoin]], built on Spark's NATIVE
    * stream-stream join: with watermarks on both sides and a time-range
    * join condition, Structured Streaming bounds each side's state store
    * to the window + watermark horizon and emits inner matches as they
    * form (no custom state code — this is exactly the workload the
    * built-in join was designed for, so we use it rather than
    * flatMapGroupsWithState). Matches right rows with
    * `right.ts ∈ [left.ts − lookbackSec, left.ts]` on equal `keys`.
    * Column names must be disjoint apart from `keys`. */
  def rangeJoinStream(
      left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String,
      keys: Seq[String], lookbackSec: Long,
      watermark: String = "10 minutes"): DataFrame = {
    val collisions = left.columns.toSet
      .intersect(right.columns.toSet) -- keys
    require(collisions.isEmpty,
      s"rename non-key columns shared by both sides: $collisions")
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTsCol) >= l(leftTsCol) - expr(s"INTERVAL $lookbackSec SECONDS") &&
      r(rightTsCol) <= l(leftTsCol)
    keys.foldLeft(l.join(r, cond, "inner"))((d, k) => d.drop(r(k)))
  }

  /** Input to [[asofStream]]: left rows (`is_right = false`) are matched,
    * right rows (`is_right = true`) are remembered. */
  case class TaggedEvent(
    user_id: Long, ts_us: Long, is_right: Boolean, value: Double,
    event_id: Long)
  case class AsofMatch(
    event_id: Long, user_id: Long, ts_us: Long,
    right_value: Option[Double], right_ts_us: Option[Long])
  case class RightBuffer(tsValues: List[(Long, Double)])

  /** Streaming backward as-of join (Flink-style temporal join): each left
    * event matches the most recent right event of the same key with
    * `right.ts <= left.ts` — the streaming twin of
    * [[graft.relational.Relational.asofJoin]]. Per-key state is a bounded
    * buffer of the latest `maxBuffer` right events (ts-sorted); within a
    * micro-batch events process in (ts, right-first) order, so equal-ts
    * rights match their lefts like batch ASOF. Exact whenever the matching
    * right arrives no later than the micro-batch of its left and within the
    * buffer horizon; a right arriving in a LATER batch than a left it
    * should have matched is missed (append mode emits each left once) —
    * the same trade every streaming temporal join makes; re-run the batch
    * asofJoin over the sink where perfect late-data handling matters. */
  def asofStream(
      events: Dataset[TaggedEvent],
      maxBuffer: Int = 64): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[TaggedEvent],
         state: GroupState[RightBuffer]) =>
          // rights sort before lefts at equal ts (ties match, like DuckDB)
          val batch = it.toVector.sortBy(e => (e.ts_us, !e.is_right))
          var buf = state.getOption.map(_.tsValues).getOrElse(Nil)
          val out = Vector.newBuilder[AsofMatch]
          batch.foreach { e =>
            if (e.is_right) {
              // ordered insert into the ts-sorted buffer (no full re-sort);
              // placing the new entry AFTER its ts-equals makes the
              // newest-arrived equal-ts right win the match — the tie is
              // 'unspecified order' in the batch twin's contract, pinned
              // here to latest-arrival for state-like semantics
              val (lo, hi) = buf.partition(_._1 <= e.ts_us)
              buf = (lo ::: (e.ts_us, e.value) :: hi).takeRight(maxBuffer)
            } else {
              val m = buf.filter(_._1 <= e.ts_us).lastOption
              out += AsofMatch(e.event_id, uid, e.ts_us,
                m.map(_._2), m.map(_._1))
            }
          }
          state.update(RightBuffer(buf))
          out.result().iterator
      }
  }

  case class SessionEvent(user_id: Long, ts_us: Long, event_id: Long)
  case class SessionAssign(
    event_id: Long, user_id: Long, ts_us: Long, session_index: Long)
  case class SessionState(lastTsUs: Long, index: Long)

  /** Streaming sessionization — the unbounded twin of
    * [[graft.relational.Relational.sessionize]]: per key, a new session
    * opens when the gap since the key's previous event exceeds
    * `gapSeconds`. State per key is two longs (last timestamp + session
    * counter); within a micro-batch events process in (ts, event_id)
    * order. Matches the batch operator whenever events arrive
    * time-ordered per key across batches (the same contract as
    * [[asofStream]]; late events would extend a session the batch twin
    * would split). */
  def sessionizeStream(
      events: Dataset[SessionEvent], gapSeconds: Long): Dataset[SessionAssign] = {
    import events.sparkSession.implicits._
    require(gapSeconds > 0, "gapSeconds must be > 0") // same as batch twin
    val gapUs = gapSeconds * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          val batch = it.toVector.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, -1L))
          val out = Vector.newBuilder[SessionAssign]
          batch.foreach { e =>
            val fresh =
              st.index < 0 || e.ts_us - st.lastTsUs > gapUs
            st = SessionState(e.ts_us, if (fresh) st.index + 1 else st.index)
            out += SessionAssign(e.event_id, uid, e.ts_us, st.index)
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class UserEvent(user_id: Long, value: Double)
  case class UserRunning(user_id: Long, n: Long, total: Double)

  /** Custom per-key state: running count/sum per user via
    * `mapGroupsWithState` — the KeyValueGroupedDataset state API the
    * reference has no analog for. */
  def runningPerUser(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val next = it.foldLeft(prev)((acc, e) =>
            UserRunning(uid, acc.n + 1, acc.total + e.value))
          state.update(next)
          next
      }
  }

  case class AttributionEvent(user_id: Long, tsu: Long, event_id: Long,
    event_type: String, value: Double)
  case class TouchState(first: Option[String], last: Option[String])
  case class Attribution(user_id: Long, event_id: Long, value: Double,
    first_touch: String, last_touch: String)

  /** Streaming first-/last-touch attribution — the stateful twin of
    * [[graft.relational.Analytics.attribution]]: per user, two strings
    * of state (the first and latest non-conversion channel); every
    * `convType` event emits its attribution row the moment it arrives.
    * Events are processed in `(tsu, event_id)` order WITHIN a
    * micro-batch (the iterator is sorted); cross-batch order is arrival
    * order, the streaming contract — feed an ordered source or accept
    * late-touch skew, exactly like sessionizeStream. Unattributed
    * conversions (no touch yet) are dropped, matching the batch op.
    * State per user never grows with history — two channel strings. */
  def attributionStream(events: Dataset[AttributionEvent],
      convType: String): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[AttributionEvent],
            state: GroupState[TouchState]) =>
          var st = state.getOption.getOrElse(TouchState(None, None))
          val out = scala.collection.mutable.ArrayBuffer[Attribution]()
          it.toSeq.sortBy(e => (e.tsu, e.event_id)).foreach { e =>
            if (e.event_type != convType)
              st = TouchState(st.first.orElse(Some(e.event_type)),
                Some(e.event_type))
            else st.last.foreach { lt =>
              out += Attribution(uid, e.event_id, e.value,
                st.first.get, lt)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class MetricPoint(series: String, t: Long, value: Double)
  case class CusumState(prefix: Double, minPrefix: Double)
  case class CusumPoint(series: String, t: Long, value: Double,
    cusum: Double, alarm: Boolean)

  /** Streaming CUSUM drift monitor — the stateful twin of
    * [[graft.relational.Eval.cusum]]: per series, TWO doubles of state
    * (the deviation prefix sum and its running minimum), emitting
    * `s = P − min(0, min P)` and the alarm flag for every point as it
    * arrives. Identical closed form to the batch operator, so an
    * in-order feed reproduces the batch output exactly (asserted in
    * StreamingSpec). Points are processed in `t` order WITHIN a
    * micro-batch (iterator sorted); cross-batch order is arrival order
    * — the sessionizeStream contract. State never grows with stream
    * history: the 100-TB-of-metrics monitor holds 16 bytes per series. */
  def cusumStream(points: Dataset[MetricPoint], target: Double,
      slack: Double, h: Double): Dataset[CusumPoint] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[MetricPoint],
            state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0.0, 0.0))
          val out = it.toSeq.sortBy(_.t).map { p =>
            val prefix = st.prefix + (p.value - target - slack)
            val minP = math.min(st.minPrefix, prefix)
            st = CusumState(prefix, minP)
            val s = prefix - math.min(0.0, minP)
            CusumPoint(series, p.t, p.value, s, s > h)
          }
          state.update(st)
          out.iterator
      }
  }

  case class HllEvent(group: String, key: String)
  case class HllRegister(group: String, bucket: Int, rho: Int)

  /** Streaming HyperLogLog registers per group — live approximate
    * distinct counts over an unbounded stream with BOUNDED state: per
    * group a ≤ m (= [[graft.relational.Sketches.M]], 256) entry
    * bucket→rho map, folded incrementally. Register max is
    * order-insensitive and the bucket/rho derivation is the exact
    * Scala twin of the batch md5 expressions, so after any prefix the
    * emitted registers are register-for-register IDENTICAL to
    * [[graft.relational.Sketches.hllSketch]] over the same events
    * (asserted in HllStreamSpec) — feed them straight into
    * `hllEstimate` / `hllMerge` / set algebra alongside batch-built
    * registers. Emits the group's full (bounded) register set each
    * micro-batch in Update mode; downstream takes max(rho) per
    * (group, bucket) — idempotent, so replays are harmless. */
  def hllStream(events: Dataset[HllEvent]): Dataset[HllRegister] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (group: String, it: Iterator[HllEvent],
            state: GroupState[Map[Int, Int]]) =>
          var regs = state.getOption.getOrElse(Map.empty[Int, Int])
          it.foreach { e =>
            val (b, r) = graft.relational.Sketches.bucketRho(e.key)
            if (r > regs.getOrElse(b, 0)) regs = regs.updated(b, r)
          }
          state.update(regs)
          regs.iterator.map { case (b, r) => HllRegister(group, b, r) }
      }
  }

  case class QEvent(group: String, value: Double)
  case class QRegister(group: String, bin: Long, cnt: Long)

  /** Streaming binned quantile registers per group — the
    * [[hllStream]] pattern applied to
    * [[graft.relational.Sketches.qSketch]]: state is a ≤ `bins`-entry
    * bin→count map per group, folded incrementally with the SAME
    * per-row IEEE bin arithmetic as the batch SQL expression
    * (`clamp(floor((v − lo)/(hi − lo)·bins))` — identical double ops,
    * identical truncation), and counts are exact integers, so after
    * any prefix the emitted registers EQUAL batch `qSketch` over the
    * same events count-for-count (asserted in QSketchStreamSpec) and
    * feed `qMerge`/`qQuantile` unchanged. Values are assumed finite
    * (the batch op only drops SQL nulls, which a Double field cannot
    * carry). Emits the group's full register set each micro-batch in
    * Update mode — downstream takes max(cnt) per (group, bin)
    * (monotone, so replays are harmless). */
  def qSketchStream(events: Dataset[QEvent], lo: Double, hi: Double,
      bins: Int = graft.relational.Sketches.QBins): Dataset[QRegister] = {
    require(hi > lo, s"empty sketch range [$lo, $hi)")
    require(bins >= 1, s"bins must be >= 1, got $bins")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (group: String, it: Iterator[QEvent],
            state: GroupState[Map[Long, Long]]) =>
          var regs = state.getOption.getOrElse(Map.empty[Long, Long])
          it.foreach { e =>
            val raw = math.floor((e.value - lo) / (hi - lo) * bins).toLong
            val b = math.min(math.max(raw, 0L), (bins - 1).toLong)
            regs = regs.updated(b, regs.getOrElse(b, 0L) + 1L)
          }
          state.update(regs)
          regs.iterator.map { case (b, c) => QRegister(group, b, c) }
      }
  }

  case class MsprtEvent(group: String, value: Long)
  case class MsprtState(n: Long, s: Long, ss: Long)
  case class MsprtResult(group: String, n: Long, mean: Double,
    variance: Double, lambda: Double, p_value: Double)

  /** Streaming mSPRT monitor — the always-valid sequential test
    * ([[graft.relational.Scorecard.msprt]]) folded incrementally: state
    * is THREE exact integer scalars per group (n, Σv, Σv² of the
    * cents-quantized values), and the emitted statistics run the
    * IDENTICAL double formula as the batch aggregate (same exact
    * integer inputs, same java.lang.Math sqrt/exp), so after any prefix
    * the stream equals batch msprt over the same events bit for bit
    * (MsprtStreamSpec). This is the test mSPRT exists for: peeking at
    * every micro-batch is VALID by construction — no fixed horizon,
    * no alpha spending. Groups with n < 2 or zero variance emit
    * nothing, like the batch filters. */
  def msprtStream(events: Dataset[MsprtEvent], tau: Double,
      theta0: Double): Dataset[MsprtResult] = {
    require(tau > 0, s"mixture scale tau must be > 0, got $tau")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (group: String, it: Iterator[MsprtEvent],
            state: GroupState[MsprtState]) =>
          var st = state.getOption.getOrElse(MsprtState(0L, 0L, 0L))
          it.foreach { e =>
            st = MsprtState(st.n + 1, st.s + e.value,
              st.ss + e.value * e.value)
          }
          state.update(st)
          if (st.n < 2) Iterator.empty
          else {
            // the batch expression tree, operation for operation
            val n = st.n.toDouble
            val mean = st.s / n
            val v = (st.ss - st.s * mean) / (n - 1)
            if (!(v > 0)) Iterator.empty
            else {
              val t2 = tau * tau
              val dev = mean - theta0
              val lam = math.sqrt(v / (v + n * t2)) *
                math.exp(n * n * t2 * dev * dev /
                  (2.0 * v * (v + n * t2)))
              Iterator.single(MsprtResult(group, st.n, mean, v, lam,
                math.min(1.0, 1.0 / lam)))
            }
          }
      }
  }

  case class EwmaEvent(key: String, o: Long, x: Double)
  case class EwmaState(init: Boolean, s: Long)
  case class EwmaPoint(key: String, o: Long, x: Double, ewma_units: Long,
    ewma: Double)

  /** Streaming EWMA — the stateful twin of
    * [[graft.relational.Eval.ewma]], and the reason that operator is an
    * integer recurrence at all: the ENTIRE per-key state is ONE long
    * (the smoothed value in `scale` units) plus an init flag, folded
    * with the identical arithmetic (`floor-quantize, then
    * s += ((xq − s)·alphaNum) >> k` — Scala's `>>` on Long IS Spark's
    * `shiftright`), so after any prefix of micro-batches the emitted
    * points EQUAL batch `ewma` over the same events, unit for unit
    * (EwmaStreamSpec). Events inside a micro-batch fold in the batch
    * side's exact sort order (o, xq, x); CROSS-batch order is the
    * arrival order, the streaming contract (feed in event order).
    * NaN values drop, matching the batch filter. Emits one point per
    * input event in Update mode. */
  def ewmaStream(events: Dataset[EwmaEvent], alphaNum: Int = 1,
      k: Int = 2, scale: Long = 1L << 20): Dataset[EwmaPoint] = {
    require(k >= 1 && k <= 16, s"need 1 <= k <= 16, got $k")
    require(alphaNum >= 1 && alphaNum <= (1 << k),
      s"need 1 <= alphaNum <= 2^k, got $alphaNum")
    require(scale >= 1 && (scale & (scale - 1)) == 0,
      s"scale must be a power of two, got $scale")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[EwmaEvent],
            state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(false, 0L))
          val pts = it.filter(e => !e.x.isNaN).toArray
            .sortBy(e => (e.o, math.floor(e.x * scale).toLong, e.x))
            .map { e =>
              val xq = math.floor(e.x * scale).toLong
              val sNew =
                if (!st.init) xq
                else st.s + (((xq - st.s) * alphaNum) >> k)
              st = EwmaState(init = true, sNew)
              // Spark round() is HALF_UP BigDecimal — replicate it so
              // the point is bit-equal to the batch column
              EwmaPoint(key, e.o, e.x, sNew,
                BigDecimal(sNew.toDouble / scale)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            }
          state.update(st)
          pts.iterator
      }
  }

  case class GrEvent(key: String, ts: Long, cat: String, value: Double,
    payload: String)
  case class GrState(catCounts: Map[String, Long], maxValue: Double,
    latestTs: Long, latestPayload: String, nRows: Long)
  case class GrRecord(key: String, n_rows: Long, cat: String,
    value: Double, payload: String)

  /** Streaming golden record — the stateful twin of
    * [[graft.relational.Relational.goldenRecord]]: per entity the state
    * is (category→count map, running max value, latest (ts, payload),
    * row count), folded with the SAME tie rules as the batch aggregates
    * (mode: higher count then SMALLEST category; latest: lexicographic
    * max of (ts, payload)), so after any prefix the emitted record
    * EQUALS batch goldenRecord over the same events field for field
    * (GoldenRecordStreamSpec). State is bounded by the category
    * vocabulary per entity plus three scalars — never by stream length.
    * Emits the entity's current record each micro-batch in Update
    * mode. */
  def goldenRecordStream(events: Dataset[GrEvent]): Dataset[GrRecord] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[GrEvent], state: GroupState[GrState]) =>
          var st = state.getOption.getOrElse(
            GrState(Map.empty, Double.NegativeInfinity, Long.MinValue,
              null, 0L))
          it.foreach { e =>
            val cc = st.catCounts.updated(e.cat,
              st.catCounts.getOrElse(e.cat, 0L) + 1L)
            val newer = st.latestPayload == null ||
              e.ts > st.latestTs ||
              (e.ts == st.latestTs &&
                (e.payload compareTo st.latestPayload) > 0)
            st = GrState(cc, math.max(st.maxValue, e.value),
              if (newer) e.ts else st.latestTs,
              if (newer) e.payload else st.latestPayload,
              st.nRows + 1L)
          }
          state.update(st)
          // mode: max count, ties to the SMALLEST category (the batch
          // min_by(-count, value) rule)
          val mode = st.catCounts.toSeq
            .sortBy { case (c, n) => (-n, c) }.head._1
          Iterator.single(GrRecord(key, st.nRows, mode, st.maxValue,
            st.latestPayload))
      }
  }

  case class CmsEvent(group: String, key: String)
  case class CmsRegister(group: String, row_j: Int, col: Long, cnt: Long)

  /** Streaming Count-Min registers per group — the frequency-sketch
    * member of the register-twin series ([[hllStream]],
    * [[qSketchStream]]): state is a ≤ d·w-entry (row, col)→count map
    * per group, folded with the SAME md5 counter-index arithmetic as
    * the batch [[graft.relational.Sketches.cmsSketch]] expression
    * (md5 of "j:key" UTF-8 bytes, top-60-bit parse, mod w — integer
    * ops, so stream and batch agree bit for bit), and counts are exact
    * integers: after any prefix the emitted registers EQUAL batch
    * cmsSketch over the same events count-for-count (CmsStreamSpec)
    * and feed cmsMerge/cmsEstimate/cmsJoinSize unchanged. State is
    * bounded at d·w longs per group regardless of stream length — the
    * 100-TB-of-events discipline of the series. Update mode emits the
    * group's touched registers each micro-batch; downstream takes
    * max(cnt) per (group, row, col) (counts are monotone, so replays
    * are harmless). */
  def cmsStream(events: Dataset[CmsEvent],
      d: Int = graft.relational.Sketches.CmsD,
      w: Int = graft.relational.Sketches.CmsW): Dataset[CmsRegister] = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2, got d=$d w=$w")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (group: String, it: Iterator[CmsEvent],
            state: GroupState[Map[(Int, Long), Long]]) =>
          var regs = state.getOption.getOrElse(Map.empty[(Int, Long), Long])
          it.foreach { e =>
            var j = 0
            while (j < d) {
              val c = graft.relational.Sketches.cmsIndex(j, e.key, w)
              regs = regs.updated((j, c), regs.getOrElse((j, c), 0L) + 1L)
              j += 1
            }
          }
          state.update(regs)
          regs.iterator.map { case ((j, c), n) =>
            CmsRegister(group, j, c, n) }
      }
  }

  case class ForecastState(ring: Seq[Double], absErrSum: Double,
    nScored: Long)
  case class ForecastPoint(series: String, t: Long, value: Double,
    forecast: Option[Double], absErr: Option[Double], mae: Option[Double])

  /** Streaming seasonal-naive forecast monitor — the stateful twin of
    * [[graft.relational.Eval.forecastBacktest]]'s seasonal side: per
    * series, state is a RING BUFFER of the last `season` values plus
    * the running absolute-error sum, emitting for every point the
    * lag-`season` forecast, its absolute error, and the running MAE.
    * The first `season` points of a series have no forecast (None
    * fields), exactly like the batch lag. An in-order feed reproduces
    * the batch seasonal errors point for point (asserted in
    * StreamingSpec). Points are processed in `t` order WITHIN a
    * micro-batch; cross-batch order is arrival order — the
    * sessionizeStream contract. State never grows with stream history:
    * `season` doubles + two scalars per series, the 100-TB-of-metrics
    * discipline shared with [[cusumStream]]. */
  def forecastMonitorStream(points: Dataset[MetricPoint], season: Int)
      : Dataset[ForecastPoint] = {
    require(season >= 1 && season <= 1024,
      s"season in [1, 1024], got $season")
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[MetricPoint],
            state: GroupState[ForecastState]) =>
          var st = state.getOption
            .getOrElse(ForecastState(Vector.empty, 0.0, 0L))
          val out = it.toSeq.sortBy(_.t).map { p =>
            val (fc, err) =
              if (st.ring.size >= season) {
                val f = st.ring.head
                (Some(f), Some(math.abs(p.value - f)))
              } else (None, None)
            val nextRing =
              (if (st.ring.size >= season) st.ring.tail else st.ring) :+
                p.value
            st = ForecastState(nextRing,
              st.absErrSum + err.getOrElse(0.0),
              st.nScored + (if (err.isDefined) 1L else 0L))
            ForecastPoint(series, p.t, p.value, fc, err,
              if (st.nScored > 0) Some(st.absErrSum / st.nScored)
              else None)
          }
          state.update(st)
          out.iterator
      }
  }

  // ---- streaming materialized-aggregate maintenance --------------------

  /** Streaming twin of [[graft.relational.Relational.aggMerge]]: every
    * micro-batch folds into a parquet-backed maintained aggregate table
    * via foreachBatch — a streaming materialized view over insert-only
    * data. Per batch the work is `aggState(batch)` (bounded by the
    * batch's keys) plus one merge against the current state relation
    * (bounded by distinct keys ever seen, never by stream history).
    *
    * EXACTLY-ONCE under replay: state versions are directories
    * `stateDir/v<batchId>` and a version only counts once its _SUCCESS
    * marker exists, so a batch replayed after a crash either (a) finds
    * its committed version and skips, or (b) finds a torn write and
    * mode-overwrite rewrites it from the same input — both converge.
    * Readers ([[readMaintainedAgg]]) always see the highest committed
    * version; old versions are pruned down to `keepVersions`. */
  def maintainAggStream(
      stream: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String, checkpointDir: String,
      keepVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        maintainAggBatch(batch.toDF(), batchId, keys, valueCol, stateDir,
          keepVersions)
      }
      .start()

  private def committedVersions(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.matches("v\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(_.getName.drop(1).toLong)

  /** One maintenance step (also the unit the spec drives directly):
    * idempotent on `batchId` — replaying a committed batch is a no-op. */
  def maintainAggBatch(
      batch: DataFrame, batchId: Long, keys: Seq[String], valueCol: String,
      stateDir: String, keepVersions: Int = 2): Unit =
    maintainBatch(batch, batchId, stateDir,
      b => graft.relational.Relational.aggState(b, keys, valueCol),
      (s, d) => graft.relational.Relational.aggMerge(s, d, keys),
      keepVersions)

  /** GENERIC mergeable-relation maintenance — the abstraction the whole
    * sketch suite plugs into: anything expressible as `sketch(batch)` +
    * an associative `merge(state, delta)` over relations (aggState/
    * aggMerge, HLL registers/max-merge, CMS counters/sum-merge, Bloom
    * positions/distinct-union) becomes a streaming materialized view
    * with the same versioned-commit replay safety. Per batch: one
    * sketch pass over the batch + one merge against the bounded state
    * relation — stream history is never re-read. */
  def maintainBatch(
      batch: DataFrame, batchId: Long, stateDir: String,
      sketch: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      keepVersions: Int = 2): Unit = {
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val versions = committedVersions(fs, root)
    if (versions.contains(batchId)) return // committed replay: done
    val delta = sketch(batch)
    val merged = versions.filter(_ < batchId).sorted.lastOption match {
      case Some(v) => merge(spark.read.parquet(s"$stateDir/v$v"), delta)
      case None => delta
    }
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    committedVersions(fs, root).sorted.dropRight(keepVersions).foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/v$v"), true))
  }

  /** [[maintainBatch]] wired to a stream: a maintained sketch table
    * (distinct users per window via HLL, per-key frequencies via CMS,
    * membership via Bloom …) over an unbounded source. */
  def maintainStream(
      stream: DataFrame, stateDir: String, checkpointDir: String,
      sketch: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      keepVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        maintainBatch(batch.toDF(), batchId, stateDir, sketch, merge,
          keepVersions)
      }
      .start()

  /** Current maintained state: the highest committed version (empty-state
    * reads are a caller error — check the stream has processed a batch). */
  def readMaintainedAgg(
      spark: org.apache.spark.sql.SparkSession, stateDir: String)
      : DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val versions =
      committedVersions(fs, new org.apache.hadoop.fs.Path(stateDir))
    require(versions.nonEmpty, s"no committed state under $stateDir")
    spark.read.parquet(s"$stateDir/v${versions.max}")
  }

  // ---- streaming materialized-JOIN maintenance -------------------------

  private def committedBatches(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(d => d.getName.matches("b\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
      .map(_.getName.drop(1).toLong)
  }

  private def readBatchesOrEmpty(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: Seq[Long],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (ids.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.parquet(ids.map(id => s"$dir/b$id"): _*)

  /** Streaming twin of [[graft.relational.Analytics.joinDelta]]: maintain
    * a materialized inner equi-join under insert-only CDC on BOTH sides,
    * APPEND-ONLY. Per batch the accumulated sides gain one committed
    * delta directory and the join gains exactly
    * `ΔJ = ΔL ⋈ (R ∪ ΔR) ∪ L ⋈ ΔR` — the maintained 100-TB state is
    * never rewritten, so maintenance cost scales with the delta and the
    * prior-side scan, not with the join output's history.
    *
    * Layout: `stateDir/{left,right,join}/b<batchId>/`, each directory
    * _SUCCESS-gated. Idempotent on `batchId`: a committed join delta is
    * skipped outright; a torn write (sides landed, join missing) is
    * overwritten from the replayed batch — both converge, because the
    * prior sides are selected by `id < batchId` and so never include the
    * torn batch's own partial output. */
  def maintainJoinBatch(
      leftDelta: DataFrame, rightDelta: DataFrame, batchId: Long,
      stateDir: String, leftKeys: Seq[String], rightKeys: Seq[String])
      : Unit = {
    val spark = leftDelta.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (committedBatches(fs, s"$stateDir/join").contains(batchId)) return
    val lPrev = readBatchesOrEmpty(spark, s"$stateDir/left",
      committedBatches(fs, s"$stateDir/left").filter(_ < batchId).sorted,
      leftDelta.schema)
    val rPrev = readBatchesOrEmpty(spark, s"$stateDir/right",
      committedBatches(fs, s"$stateDir/right").filter(_ < batchId).sorted,
      rightDelta.schema)
    val dJ = graft.relational.Analytics.joinDelta(
      lPrev, leftDelta, rPrev, rightDelta, leftKeys, rightKeys)
    // sides first, join LAST — the join dir's _SUCCESS is the batch's
    // commit point, so a crash anywhere earlier leaves an uncommitted
    // batch the replay rewrites whole. (The prior-side read plans were
    // resolved to explicit b<id> paths above, so landing this batch's
    // side dirs cannot leak into dJ's own inputs.)
    leftDelta.write.mode("overwrite").parquet(s"$stateDir/left/b$batchId")
    rightDelta.write.mode("overwrite")
      .parquet(s"$stateDir/right/b$batchId")
    dJ.write.mode("overwrite").parquet(s"$stateDir/join/b$batchId")
  }

  /** [[maintainJoinBatch]] wired to a single CDC stream carrying both
    * sides (the common one-topic shape); `split` projects a micro-batch
    * into its (left-rows, right-rows) halves. */
  def maintainJoinStream(
      stream: DataFrame, stateDir: String, checkpointDir: String,
      split: DataFrame => (DataFrame, DataFrame),
      leftKeys: Seq[String], rightKeys: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val (l, r) = split(batch.toDF())
        maintainJoinBatch(l, r, batchId, stateDir, leftKeys, rightKeys)
      }
      .start()

  /** The maintained join: the union of every committed join delta. */
  def readMaintainedJoin(
      spark: org.apache.spark.sql.SparkSession, stateDir: String)
      : DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val ids = committedBatches(fs, s"$stateDir/join").sorted
    require(ids.nonEmpty, s"no committed join state under $stateDir")
    spark.read.parquet(ids.map(id => s"$stateDir/join/b$id"): _*)
  }
}
