package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD,
  SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

/** The one way graft materializes an intermediate relation and reads exact
  * counts off it, chosen by the relation's lifetime:
  *  - a CALL-SCOPED result (the output of `minHashLSH`, a ranking
  *    operator, …) is ONE eager local checkpoint job ([[checkpoint]]); the
  *    inputs several of its branches read are lazy local checkpoints
  *    ([[shared]]) that this job writes, released right after it;
  *  - OWNED state that a model or index serves after the call
  *    (MinHashIndex/IvfIndex relations, `Big*` lookups, frozen counts) is
  *    persisted ([[persist]]), and so are the inputs its lineage runs
  *    through (`shared(df, recomputable = true)`).
  * Counters ride the materializing job: every aggregate `observe`d anywhere
  * in its query (the caller's, or one a helper such as `Dedup.capBuckets`
  * put deeper in the plan) comes back in [[State.stats]], keyed by name;
  * those inside a persisted relation it reads were observed by the job
  * that persisted it, and are not read again.
  *
  * Shape at 100 TB: a local checkpoint keeps its blocks on the executors
  * that wrote them and cannot recompute a lost one, so only call-scoped
  * results use it; it also cuts the lineage, so nothing upstream is
  * recomputed. State that outlives the call is persisted
  * (`MEMORY_AND_DISK`) and keeps its lineage. Under AQE a persisted
  * relation costs a cache-materialization job before the job that reads
  * it; a local checkpoint is written by the reading job itself. */
object Materialize {

  /** The most rows any guarded driver finish brings to the driver: the
    * fitted encoders' and aggregators' collects, the ranking engine, the
    * graph loops and the union-find of duplicate components. */
  val DriverMaxRows = 1000000L

  /** The guard of the graph loops, BPE and grouped `Aggregator` fits:
    * [[DriverMaxRows]] unless a caller on this thread rebinds it, as the
    * specs do to pin either path. */
  private[graft] val driverMaxRows = new DynamicVariable[Long](DriverMaxRows)

  /** A materialized relation with the counters observed on the job that
    * built it (a sum over no rows reads 0). */
  final case class State(df: DataFrame, stats: Map[String, Long]) {
    def apply(counter: String): Long = stats(counter)
    def +(counter: (String, Long)): State = copy(stats = stats + counter)
  }

  /** `df` materialized by ONE eager `localCheckpoint` job, with `counters`
    * and every counter observed deeper in its plan read off that same job.
    * The metrics are read off the checkpointed query itself, not through
    * an `Observation`: that would start the session's observation manager,
    * which the session then fails to serialize (Spark ML closures capture
    * the session). */
  def checkpoint(df: DataFrame, counters: Column*): State = {
    val observed = observe(df, counters)
    State(observed.localCheckpoint(eager = true),
      observedCounters(observed.queryExecution.executedPlan))
  }

  /** `df` persisted (`MEMORY_AND_DISK`) and materialized by one action,
    * with the counters observed on it: for owned state only. Free it with
    * [[release]] when its owner retires. */
  def persist(df: DataFrame, counters: Column*): State = {
    val cached = observe(df, counters).persist(StorageLevel.MEMORY_AND_DISK)
    cached.foreachPartition((_: Iterator[Row]) => ())
    State(cached, observedCounters(CollectMetricsExec.collectFirst(
      cached.queryExecution.executedPlan) {
        case s: InMemoryTableScanExec => s.relation.cachedPlan }.get))
  }

  /** `df` for the several reads of one call, computed once by the first
    * job that reads it (no job of its own); [[release]] it when the call
    * has materialized its result. A lazy local checkpoint, or a lazy
    * persist when `recomputable`: when the call's result is owned state or
    * a lazy plan whose lineage runs through `df`. */
  def shared(df: DataFrame, recomputable: Boolean = false): DataFrame =
    if (recomputable) df.persist(StorageLevel.MEMORY_AND_DISK)
    else df.localCheckpoint(eager = false)

  /** Frees the blocks `df` holds now rather than when the context cleaner
    * notices: those of the local checkpoint it IS (a `localCheckpoint`
    * result, eager or not; freed without `RDD.unpersist`'s WARN that its
    * lineage is truncated), else its cache entry. */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    df.queryExecution.logical match {
      case r: LogicalRDD =>
        org.apache.spark.sql.graft.Bridge.unpersist(r.rdd, blocking = false)
      case _ => df.unpersist(blocking = false)
    }
  }

  /** All rows of `rdd` (an executed plan of `df`), in partition order,
    * when it has at most `n`. ONE job reads every partition in parallel: a
    * partition sends its rows when it holds at most about twice its even
    * share of `n`; past that it stops reading and sends only that it
    * stopped. When the stopped ones leave the total undecided, a second job
    * counts their rows, and a third fetches them once the total is known to
    * fit: at most about `2n` rows reach the driver, `n` when they fit. */
  private def collectUpTo(df: DataFrame, rdd: RDD[InternalRow], n: Long)
      : Option[Array[InternalRow]] = {
    // each partition's rows when it has at most `cap` and `keep` holds,
    // else its row count, read up to `cap + 1`
    def run(which: Seq[Int], cap: Long, keep: Boolean) =
      if (which.isEmpty) Array.empty[Either[Long, Array[InternalRow]]]
      else SQLExecution.withNewExecutionId(df.queryExecution,
          Some("guardedCollect"))(
        rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
          val kept = ArrayBuffer[InternalRow]()
          var seen = 0L
          while (it.hasNext && seen <= cap) {
            val row = it.next()
            if (keep) kept += row.copy()
            seen += 1
          }
          if (keep && seen <= cap) Right(kept.toArray) else Left(seen)
        }: Either[Long, Array[InternalRow]], which))
    val cap = math.min(n + 1,
      2 * (n + 1) / math.max(rdd.getNumPartitions, 1) + 1)
    val first = run(0 until rdd.getNumPartitions, cap, keep = true)
    val stopped = first.indices.filter(first(_).isLeft)
    val known = first.collect { case Right(rs) => rs.length.toLong }.sum
    // a stopped partition holds at least `cap + 1` rows, so with the total
    // at most `n` none holds more than `room`
    val room = n - known - (stopped.size - 1) * (cap + 1)
    if (known + stopped.size * (cap + 1) > n || known + run(stopped, room,
        keep = false).collect { case Left(c) => c }.sum > n) None
    else {
      val whole = stopped.zip(run(stopped, room, keep = true)).toMap
      val all = first.indices.map(i => whole.getOrElse(i, first(i)))
      Option.when(all.forall(_.isRight))(all.flatMap(_.toOption.get).toArray)
    }
  }

  /** The guarded driver finish: `df` (not yet materialized) collected when
    * it has at most `guard` rows — `Right(rows)`, sorted by `order` with
    * the ordering Spark's own sort uses (nulls first, NaN last, -0.0 equal
    * to 0.0, strings in UTF-8 byte order) — else `Left` of a relation with
    * its rows. A local relation (after optimization) needs no job, and
    * `Left` is `df` itself. Otherwise [[collectUpTo]] decides, and `Left`
    * reads the rows its first job computed: `df`'s last stage runs again
    * on the shuffle outputs that job left, so nothing before it is
    * recomputed and no checkpoint is stored (on a multi-million-row input,
    * storing one cost more than that re-read); `df` must be deterministic.
    * `guard` must be below `Int.MaxValue`. */
  def guardedCollect(df: DataFrame, guard: Long, order: Column*)
      : Either[DataFrame, Array[Row]] = {
    require(guard >= 0 && guard < Int.MaxValue, s"guard $guard")
    val (rows, over) = df.queryExecution.optimizedPlan match {
      case local: LocalRelation =>
        (Some(local.data.toArray).filter(_.length <= guard), df)
      case _ =>
        val rdd = df.queryExecution.toRdd
        (collectUpTo(df, rdd, guard),
          org.apache.spark.sql.graft.Bridge.relation(df, rdd))
    }
    rows.map { rs =>
      val sorted = if (order.isEmpty) rs else rs.sorted(RowOrdering.create(
        df.orderBy(order: _*).queryExecution.analyzed
          .collectFirst { case s: Sort => s.order }.get,
        df.queryExecution.analyzed.output))
      sorted.map(ExpressionEncoder(df.schema).resolveAndBind()
        .createDeserializer())
    }.toRight(over)
  }

  private def observe(df: DataFrame, counters: Seq[Column]): DataFrame =
    if (counters.isEmpty) df
    else df.observe(s"materialize-${java.util.UUID.randomUUID}",
      counters.head, counters.tail: _*)

  /** Every counter `plan` observed, keyed by name; an observation that
    * appears twice in the plan (a self-join) counts once. */
  private def observedCounters(plan: SparkPlan): Map[String, Long] = {
    val named = CollectMetricsExec.collectWithSubqueries(plan) {
      case c: CollectMetricsExec => c.name -> c.collectedMetrics
    }.toMap.values.toSeq.flatMap { row =>
      row.schema.fieldNames.indices.map(i => row.schema.fieldNames(i) ->
        (if (row.isNullAt(i)) 0L else row.getAs[Number](i).longValue))
    }
    val twice = named.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }
    require(twice.isEmpty,
      s"counter(s) observed twice in one query: ${twice.toSeq.sorted}")
    named.toMap
  }
}
