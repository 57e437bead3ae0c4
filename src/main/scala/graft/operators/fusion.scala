package graft.operators

import org.apache.spark.ml.{Estimator, PipelineModel, PipelineStage,
  Transformer}
import org.apache.spark.ml.graft.MLBridge
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Shared-scan fit fusion — the fit-time analog of Catalyst's shared-subplan
  * reuse, applied across pipeline stages.
  *
  * `Pipeline.fit` runs every estimator's fit as its own Spark job(s), each
  * against the frame as transformed by every earlier stage, so a
  * fraud-shaped pipeline (label encoder + frequency encoder + grouped
  * aggregate + target encoder + scaler + one-hot, all over the same few
  * keys — FraudDetection1.py:135-152) scans, shuffles and re-derives the
  * training frame once per stage. Here the stages are fitted in
  * '''batches''', and every batch's fusable statistics come from ONE
  * grouping-sets aggregate.
  *
  * '''Batch rule.''' A batch starts at an estimator; the frame at that point
  * (earlier stages applied) is the batch base. Walking on:
  *  - an estimator joins when none of its fit inputs is written by an
  *    earlier batch member (inputs read from the base are then the same
  *    values the sequential fit would see). Multi-column
  *    ComplementLabelEncoder / FrequencyEncoder / TargetEncoder / OneHot
  *    decompose into one part per input column;
  *  - a transformer joins when its analyzed plan over the batch frame is
  *    only `Project`s (it keeps every row); the attributes it adds, re-binds
  *    or drops — compared by exprId, not name — join the written set;
  *  - anything else ends the batch: a fit reading a batch output, a
  *    row-changing transformer (RowTransformer's filter), a transformer
  *    computing transform-time statistics (never probed: its `transform`
  *    runs jobs), an estimator whose inputs are not statically known, a
  *    fit whose grouping columns (one per key, one per fold) would take
  *    the batch past the 64 `grouping_id()` bits.
  * Members whose fit cannot be fused (robust Scaler, distributed
  * percentiles, a non-string grouped-aggregate key, a fit needing over 64
  * grouping columns by itself) still fit against the batch base — never
  * the deep frame — with their own jobs. So do `percentile`-based fits
  * (Winsorizer, QuantileBinner, global median) in a batch with keyed sets:
  * their value→count buffers merge in one task there, slower than their
  * own ExactStats fits; beside only `()` aggregates they fuse.
  *
  * '''One aggregate per batch.''' `groupingSets` over one set per distinct
  * key: a stringified column (shared by label-encoder vocabularies,
  * frequencies, one-hot categories and string-keyed grouped aggregates),
  * `(column, fold)` per target-encoded column, and `()` for Scaler stats,
  * global aggregates, Winsorizer/QuantileBinner percentiles and the target
  * prior. Each aggregate sees only its own set's rows
  * (`CASE WHEN grouping_id() = g THEN x END`). The result — vocabulary-sized
  * — is collected once through a `coalesce(1).limit(n)` guard (two jobs
  * under AQE: the shuffle map stage and the collect), `n` covering each
  * keyed set up to its readers' largest `maxCollect`, and every model is
  * built on the driver. A member with more groups in one of its sets than
  * its own `maxCollect` falls back to its per-stage fit on the batch base
  * (which then takes its distributed BigDict path); the others stay fused.
  *
  * '''Equivalence.''' Fused models equal per-stage fits exactly — same
  * stringification, null handling, lexicographic vocabulary order, and
  * the same per-partition aggregation order — with one documented
  * exception: a TargetEncoder's per-value target sums add the per-fold
  * partial sums in a different order than its own window sum, so on a
  * real-valued target its encodings may differ by ≤ 1e-12 relative (exact
  * on 0/1 or other integer targets). FusionSpec asserts all of it.
  *
  * Every batch logs one INFO line: its fused members, the grouping sets,
  * the members that fit alone with the reason (`not-fusable`,
  * `grouping-limit`, `percentile`, `single`, `overflow`, `empty-input`) and
  * what ended the batch (`reads-batch-output`, `row-changing-transformer`,
  * `transform-time-stats`, `not-fusable`, `grouping-limit`).
  */
object FitFusion {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private final case class Fold(idCol: String, nFolds: Int)
  /** One grouping set: a stringified key column, optionally with a
    * TargetEncoder fold; `GSet(None, None)` is the global set `()`. */
  private final case class GSet(key: Option[String], fold: Option[Fold]) {
    override def toString: String =
      (key.toSeq ++ fold.map(f => s"fold(${f.idCol} % ${f.nFolds})"))
        .mkString("(", ", ", ")")
  }
  private val Global = GSet(None, None)
  private def keyed(c: String) = GSet(Some(c), None)

  /** One aggregate a fit needs: `agg` over `in`, on `set`'s rows only. */
  private final case class Slot(set: GSet, in: Column, agg: Column => Column)

  /** A fusable fit: the grouping sets it reads only keys and counts of,
    * the aggregates it needs, the groups per keyed set it can take on the
    * driver, and its model builder. `percentile`: it aggregates through
    * `percentile` on `()` (Winsorizer, QuantileBinner, global median). */
  private final case class Fused(
      keySets: Seq[GSet], slots: Seq[Slot], guard: Long,
      build: Stats => Transformer, percentile: Boolean = false) {
    def sets: Seq[GSet] = (keySets ++ slots.map(_.set)).distinct
  }

  /** The grouping columns `sets` need: one per key, one per fold. */
  private def groupingCols(sets: Seq[GSet]): Seq[Any] =
    sets.flatMap(_.key).distinct ++ sets.flatMap(_.fold).distinct

  /** An estimator whose fit inputs and outputs are statically known
    * (`writes` None = output names depend on the fit, like one-hot's);
    * `alone` is why it fits on its own when `fused` is None. */
  private final case class Member(
      index: Int, stage: Estimator[_], reads: Set[String],
      writes: Option[Set[String]], fused: Option[Fused],
      alone: String = "not-fusable") {
    def name: String = s"${stage.getClass.getSimpleName}#$index"
  }

  /** One group (result row) of the batch aggregate. */
  private final case class Group(key: String, fold: Long, count: Long,
      row: Row)

  /** The batch aggregate as one fused stage sees it: its j-th slot is
    * result column `first + j`. */
  private final class Stats(val spark: SparkSession,
      bySet: Map[GSet, Seq[Group]], schema: StructType, first: Int) {
    def groups(s: GSet): Seq[Group] = bySet.getOrElse(s, Nil)
    /** Non-null-key groups of `s`. */
    def values(s: GSet): Seq[Group] = groups(s).filter(_.key != null)
    def slot(g: Group, j: Int): Any = g.row.get(first + j)
    def global(j: Int): Any = slot(bySet(Global).head, j)
    def slotType(j: Int): DataType = schema(first + j).dataType
  }

  private def memberOf(
      index: Int, st: Estimator[_], schema: StructType): Option[Member] = {
    def member(reads: Iterable[String], writes: Option[Iterable[String]],
        fused: Option[Fused]) =
      Some(Member(index, st, reads.toSet, writes.map(_.toSet), fused))
    st match {
      case e: ComplementLabelEncoder =>
        val (ins, outs0, maxCollect) = e.fuseInfo
        val outs = if (outs0.isEmpty) ins else outs0
        if (ins.isEmpty) None // _PARM_ALL: inputs resolve at fit time
        else member(ins, Some(outs), Some(Fused(ins.map(keyed), Nil,
          maxCollect, s => cleModel(ins, outs, s))))
      case e: FrequencyEncoder =>
        val (ins, outs, normalize, maxCollect) = e.fuseInfo
        member(ins, Some(outs), Some(Fused(ins.map(keyed), Nil, maxCollect,
          s => freqModel(ins, outs, normalize, s))))
      case e: OneHotEncoder =>
        val cols = e.fuseCols
        member(cols, None, Some(Fused(cols.map(keyed), Nil,
          ComplementLabelEncoder.DefaultMaxCollect,
          s => new OneHotEncoderModel(cols,
            cols.map(c => s.values(keyed(c)).map(_.key).distinct.sorted)))))
      case e: TargetEncoder =>
        val (ins, outs, target, idCol, _, _, _) = e.fuseInfo
        member(ins :+ target :+ idCol, Some(outs),
          Some(targetFused(e)))
      case e: Aggregator =>
        val (ins, outs, groupby, _) = e.fuseInfo
        val stringKeys = groupby.forall(k =>
          schema.fieldNames.contains(k) && schema(k).dataType == StringType)
        member(ins ++ groupby, Some(outs),
          if (groupby.isEmpty || stringKeys) Some(aggregatorFused(e))
          else None) // the fit groups by the RAW key; the scan by its string
      case e: Scaler =>
        val (ins, outs, strategy) = e.fuseInfo
        member(ins, Some(outs),
          if (strategy == "robust") None // quantile fit: multi-pass
          else Some(Fused(Nil, ins.flatMap(c => Scaler.statAggs.map(
              a => Slot(Global, col(c), a))), Long.MaxValue,
            s => new ScalerModel(ins, outs, strategy,
              Scaler.statsOf(s.global, ins.length)))))
      case e: Winsorizer =>
        val (ins, outs, lo, hi) = e.fuseInfo
        member(ins, Some(outs),
          if (e.isDistributed) None
          else Some(Fused(Nil, ins.map(c => Slot(Global, col(c),
              percentile(_, array(lit(lo), lit(hi))))), Long.MaxValue,
            s => new WinsorizerModel(ins, outs,
              WinsorizerModel.boundsOf(s.global, ins.length)),
            percentile = true)))
      case e: QuantileBinner =>
        val (ins, outs, ps) = e.fuseInfo
        member(ins, Some(outs),
          if (e.isDistributed) None
          else Some(Fused(Nil, ins.map(c => Slot(Global, col(c),
              percentile(_, array(ps.map(lit(_)): _*)))), Long.MaxValue,
            s => new QuantileBinnerModel(ins, outs,
              ins.indices.map(i => Option(s.global(i))
                .map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq))),
            percentile = true)))
      case _ => None
    }
  }

  private def cleModel(ins: Seq[String], outs: Seq[String],
      s: Stats): ComplementLabelEncoderModel = {
    val S = ComplementLabelEncoder.Sentinel
    new ComplementLabelEncoderModel(ins, outs, ins.map { c =>
      val vals = s.groups(keyed(c))
        .map(g => if (g.key == null) S else g.key).distinct.sorted
      val classes = if (vals.contains(S)) vals else vals :+ S
      val m = classes.zipWithIndex.toMap
      SmallDict(m, m(S))
    })
  }

  private def freqModel(ins: Seq[String], outs: Seq[String],
      normalize: Boolean, s: Stats): FrequencyEncoderModel =
    new FrequencyEncoderModel(ins, outs, normalize, ins.map { c =>
      val gs = s.values(keyed(c))
      val total = gs.map(_.count).sum
      SmallFreq(gs.map { g =>
        g.key -> (if (normalize) g.count / total.toDouble
                  else g.count.toDouble)
      }.toMap)
    })

  /** Slots: the target mean on `()` (the prior), then Σy and count(y) on
    * each input's `(column, fold)` set. A `(value, fold)` group whose rows
    * all have a null target (count 0) is dropped, as the own fit's
    * `y IS NOT NULL` filter drops it. */
  private def targetFused(e: TargetEncoder): Fused = {
    val (ins, outs, target, idCol, nFolds, smoothing, maxCollect) =
      e.fuseInfo
    val y = col(target).cast(DoubleType)
    val sets = ins.map(c => GSet(Some(c), Some(Fold(idCol, nFolds))))
    Fused(Nil,
      Slot(Global, y, avg) +: sets.flatMap(g =>
        Seq(Slot(g, y, sum), Slot(g, y, count))),
      maxCollect,
      s => {
        val prior = s.global(0).asInstanceOf[java.lang.Double].doubleValue
        new TargetEncoderModel(ins, outs, idCol, nFolds, prior,
          sets.zipWithIndex.map { case (g, i) =>
            val (sumJ, cntJ) = (1 + 2 * i, 2 + 2 * i)
            val partials = s.values(g)
              .filter(p => s.slot(p, cntJ).asInstanceOf[Long] > 0)
              .map(p => (p.key, p.fold, s.slot(p, sumJ).asInstanceOf[Double],
                s.slot(p, cntJ).asInstanceOf[Long]))
            TargetEncoder.smallState(partials, prior, smoothing)
          })
      })
  }

  /** Global aggregates ride `()`; grouped ones their key's set, one lookup
    * relation per distinct key like the own fit. */
  private def aggregatorFused(e: Aggregator): Fused = {
    val (ins, outs, groupby, func) = e.fuseInfo
    if (groupby.isEmpty)
      Fused(Nil, ins.map(c => Slot(Global, col(c), e.fuseAgg)),
        Long.MaxValue, s => new AggregatorModel(ins, outs, Nil, func,
          ins.indices.map(s.global), Nil), percentile = func == "median")
    else {
      val byKey = groupby.distinct.map { k =>
        k -> ins.zip(outs).zip(groupby).collect { case (io, `k`) => io }
      }
      val slots = byKey.flatMap { case (k, cols) =>
        cols.map { case (in, _) => Slot(keyed(k), col(in), e.fuseAgg) }
      }
      Fused(Nil, slots, Aggregator.CollectMax,
        s => {
          val offs = byKey.scanLeft(0)(_ + _._2.length)
          new AggregatorModel(ins, outs, groupby, func, Nil,
            byKey.zip(offs).map { case ((k, cols), off) =>
              val vOuts = cols.map(_._2)
              val schema = StructType(StructField("__agg_k", StringType) +:
                vOuts.zipWithIndex.map { case (o, j) =>
                  StructField(s"__agg_v_$o", s.slotType(off + j))
                })
              val rows = s.values(keyed(k)).map(g => Row.fromSeq(
                g.key +: vOuts.indices.map(j => s.slot(g, off + j))))
              AggLookup(k, vOuts,
                s.spark.createDataFrame(rows.asJava, schema),
                broadcastable = true)
            })
        })
    }
  }

  /** The attribute names `after` adds, re-binds or drops relative to
    * `before`, if `after`'s analyzed plan is only `Project`s over
    * `before`'s (so it keeps every row); None otherwise. */
  private def projectWrites(
      before: DataFrame, after: DataFrame): Option[Set[String]] = {
    val child = before.queryExecution.analyzed
    def onlyProjects(p: LogicalPlan): Boolean =
      (p eq child) || p == child || (p match {
        case Project(_, c) => onlyProjects(c)
        case _ => false
      })
    val plan = after.queryExecution.analyzed
    if (!onlyProjects(plan)) None
    else {
      val inIds = child.output.map(_.exprId).toSet
      val outIds = plan.output.map(_.exprId).toSet
      Some((plan.output.filterNot(a => inIds(a.exprId)) ++
        child.output.filterNot(a => outIds(a.exprId))).map(_.name).toSet)
    }
  }

  /** A batch: stages `from until until`; `members` are its estimators. */
  private final case class Batch(from: Int, until: Int,
      members: Seq[Member], end: Option[String])

  /** Most grouping columns one aggregate can take: `grouping_id()` has
    * one bit per column and is a Long (an Int under the legacy flag). */
  private def groupingLimit(spark: SparkSession): Int =
    if (spark.conf.get("spark.sql.legacy.integerGroupingId", "false")
        .toBoolean) 32 else 64

  /** Plan the batch starting at estimator `from` against `base`. */
  private def planBatch(stages: Array[PipelineStage], from: Int,
      lastEst: Int, base: DataFrame): Batch = {
    val limit = groupingLimit(base.sparkSession)
    val members = ArrayBuffer.empty[Member]
    var sets = Seq.empty[GSet] // the fused members' grouping sets
    var probe = base // the batch frame with absorbed transformers applied
    var written = Set.empty[String]
    var unknownWrites = false
    var end: Option[String] = None
    var done = false
    var j = from
    def stop(reason: String): Unit = {
      end = Some(s"${stages(j).getClass.getSimpleName}#$j:$reason")
      done = true
    }
    while (j <= lastEst && !done) {
      stages(j) match {
        case est: Estimator[_] =>
          memberOf(j, est, base.schema) match {
            case Some(m0) if m0.reads.intersect(written).isEmpty &&
                // after a writer of unknown names (one-hot's `col__cat`),
                // only inputs that cannot be such an output are safe
                (!unknownWrites || m0.reads.forall(!_.contains("__"))) =>
              val m = m0.fused match {
                case Some(f) if groupingCols(f.sets).length > limit =>
                  m0.copy(fused = None, alone = "grouping-limit")
                case _ => m0
              }
              // never true for the first member: alone it is within limit
              if (m.fused.exists(f =>
                  groupingCols(sets ++ f.sets).length > limit))
                stop("grouping-limit")
              else {
                members += m
                sets ++= m.fused.toSeq.flatMap(_.sets)
                m.writes match {
                  case Some(w) => written ++= w
                  case None => unknownWrites = true
                }
                j += 1
              }
            case Some(_) => stop("reads-batch-output")
            case None if members.isEmpty =>
              // unknown inputs and outputs: a batch of its own
              members += Member(j, est, Set.empty, None, None)
              j += 1
              done = true
            case None => stop("not-fusable")
          }
        case _: TransformTimeStats => stop("transform-time-stats")
        case t: Transformer =>
          val out = try Right(t.transform(probe).toDF())
            catch { case NonFatal(_) => Left("reads-batch-output") }
          out.flatMap(o => projectWrites(probe, o).map(o -> _)
              .toRight("row-changing-transformer")) match {
            case Right((o, w)) =>
              probe = o
              written ++= w
              j += 1
            case Left(reason) => stop(reason)
          }
        case other => throw new IllegalArgumentException(
          s"stage ${other.getClass.getName} is neither Estimator nor " +
            "Transformer")
      }
    }
    Batch(from, j, members.toSeq, end)
  }

  /** Drop-in replacement for `Pipeline.fit` with fit fusion. Returns a
    * plain `PipelineModel`; interleaving semantics match Spark's (each fit
    * sees all earlier transforms; stages after the last estimator are not
    * executed at fit time). */
  def fitPipeline(
      stages: Array[PipelineStage], df: DataFrame): PipelineModel = {
    // same upfront schema-chain validation as Pipeline.fit
    stages.foldLeft(df.schema)((s, st) => st.transformSchema(s))
    val lastEst = stages.lastIndexWhere(_.isInstanceOf[Estimator[_]])
    val fitted = new Array[Transformer](stages.length)
    var cur = df
    var i = 0
    def advance(t: Transformer): Unit = {
      fitted(i) = t
      if (i < lastEst) cur = t.transform(cur).toDF()
      i += 1
    }
    while (i < stages.length) {
      stages(i) match {
        case _: Estimator[_] =>
          val batch = planBatch(stages, i, lastEst, cur)
          val models = fitBatch(batch, cur)
          while (i < batch.until) stages(i) match {
            case _: Estimator[_] => advance(models(i))
            case t: Transformer => advance(t)
          }
        case t: Transformer => advance(t)
        case other => throw new IllegalArgumentException(
          s"stage ${other.getClass.getName} is neither Estimator nor " +
            "Transformer")
      }
    }
    MLBridge.pipelineModel(fitted)
  }

  /** Fit every member of `batch` against `base`: the fused ones from one
    * grouping-sets aggregate, the rest one by one. */
  private def fitBatch(
      batch: Batch, base: DataFrame): Map[Int, Transformer] = {
    val (fusable, solo) = batch.members.partition(_.fused.isDefined)
    // percentile buffers merge single-threaded and grow with the distinct
    // values; beside keyed sets (whose final merge runs in one task) they
    // would slow the whole aggregate, so there they keep their own
    // ExactStats fits
    val keyed = fusable.exists(_.fused.get.sets.exists(_ != Global))
    val (pct, rest) = fusable.partition(keyed && _.fused.get.percentile)
    val alone = ArrayBuffer.empty[(Member, String)]
    solo.foreach(m => alone += m -> m.alone)
    pct.foreach(m => alone += m -> "percentile")
    val fusedModels: Seq[(Member, Transformer)] =
      if (rest.length < 2) {
        rest.foreach(m => alone += m -> "single")
        Nil
      } else {
        val (ok, over) = aggregate(base, rest)
        alone ++= over
        ok
      }
    val sets = fusedModels.flatMap(_._1.fused.get.sets).distinct
    log.info(s"FitFusion batch stages ${batch.from}-${batch.until - 1}: " +
      s"fused=${fusedModels.map(_._1.name).mkString("[", ", ", "]")} " +
      s"sets=${sets.mkString("[", ", ", "]")} " +
      s"alone=${alone.map { case (m, r) => s"${m.name}:$r" }
        .mkString("[", ", ", "]")} end=${batch.end.getOrElse("none")}")
    val own = alone.map { case (m, _) =>
      m -> m.stage.fit(base).asInstanceOf[Transformer]
    }
    (fusedModels ++ own).map { case (m, t) => m.index -> t }.toMap
  }

  /** One grouping-sets aggregate for all `ms`, collected once: the models
    * built from it, and the members that must fit alone with the reason
    * (`overflow`: one of its keyed sets has more groups than its guard;
    * `empty-input`: no rows, so no `()` group; `single`: the only member
    * left after the others overflowed a truncated collect).
    *
    * Each keyed set needs one row more than the largest guard among its
    * readers to show whether it overflows (`()` has one row); the collect
    * takes one row past the sum. Within the sum it holds every group, so
    * each member is judged on its own sets and the rest are built from the
    * same rows. Past it, the collect is truncated, but then some set is
    * over its limit, so its readers overflow and the others are aggregated
    * again without them. */
  private def aggregate(base: DataFrame, ms: Seq[Member])
      : (Seq[(Member, Transformer)], Seq[(Member, String)]) = {
    val parts = ms.map(_.fused.get)
    val sets = parts.flatMap(_.sets).distinct
    val keys = sets.flatMap(_.key).distinct
    val folds = sets.flatMap(_.fold).distinct
    val kName = keys.zipWithIndex.map { case (k, n) => k -> s"__ff_k$n" }.toMap
    val fName = folds.zipWithIndex.map { case (f, n) => f -> s"__ff_f$n" }
      .toMap
    val groupCols = keys.map(kName) ++ folds.map(fName)
    def members(s: GSet) = s.key.map(kName).toSet ++ s.fold.map(fName)
    // grouping_id(): bit (n-1-i) set when grouping column i is NOT in the set
    val gid = sets.map { s =>
      s -> groupCols.zipWithIndex.foldLeft(0L) { case (g, (c, i)) =>
        if (members(s)(c)) g else g | (1L << (groupCols.length - 1 - i))
      }
    }.toMap
    val framed = base.select(col("*") +:
      (keys.map(k => col(k).cast(StringType).as(kName(k))) ++
        folds.map(f => TargetEncoder.foldOf(col(f.idCol), f.nFolds)
          .as(fName(f)))): _*)
    val slots = parts.flatMap(_.slots)
    val aggs = Seq(grouping_id().cast(LongType).as("__ff_g"),
        count(lit(1)).as("__ff_n")) ++
      slots.zipWithIndex.map { case (sl, j) =>
        sl.agg(when(grouping_id() === lit(gid(sl.set)), sl.in))
          .as(s"__ff_a$j")
      }
    val result = framed.groupingSets(
      sets.map(s => groupCols.filter(members(s)).map(col)),
      groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val need = sets.map { s =>
      if (s == Global) 1L
      else math.min(parts.filter(_.sets.contains(s)).map(_.guard).max,
        Int.MaxValue.toLong) + 1
    }.sum
    // one row past `need` tells a complete collect from a truncated one
    val limit = math.min(need + 1, Int.MaxValue - 1L).toInt
    // coalesce(1): the final reduce of a vocab-sized aggregate runs in one
    // task, so the guarded collect is exactly ONE job (executeTake would
    // otherwise probe the reduce partitions incrementally = several jobs)
    val rows = result.coalesce(1).limit(limit).collect()
    val nG = groupCols.length
    val setOf = gid.map(_.swap)
    val bySet = rows.toSeq.groupBy(_.getLong(nG)).map { case (g, rs) =>
      val s = setOf(g)
      val ki = s.key.map(keys.indexOf)
      val fi = s.fold.map(f => keys.length + folds.indexOf(f))
      s -> rs.map(r => Group(ki.map(r.getString).orNull,
        fi.fold(-1L)(r.getLong), r.getLong(nG + 1), r))
    }
    val (over, fit) = ms.partition(m => m.fused.get.sets.exists(s =>
      s != Global && bySet.get(s).exists(_.length > m.fused.get.guard)))
    val overflow = over.map(_ -> "overflow")
    if (rows.length == limit) { // truncated: the members in `fit` unjudged
      if (over.isEmpty) (Nil, ms.map(_ -> "overflow")) // only past Int.Max
      else if (fit.length < 2) (Nil, overflow ++ fit.map(_ -> "single"))
      else {
        val (ok, alone) = aggregate(base, fit)
        (ok, overflow ++ alone)
      }
    } else if (sets.contains(Global) && !bySet.contains(Global))
      (Nil, ms.map(_ -> "empty-input"))
    else {
      val firsts = parts.scanLeft(nG + 2)(_ + _.slots.length)
      val built = ms.zip(firsts).collect {
        case (m, first) if fit.contains(m) => m -> m.fused.get.build(
          new Stats(base.sparkSession, bySet, result.schema, first))
      }
      (built, overflow)
    }
  }
}
