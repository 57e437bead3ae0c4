package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD,
  SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

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

  /** At most `n` rows of `df` in ONE job: `coalesce(1)` reads them in one
    * task (`executeTake` would probe the partitions incrementally, a job
    * per probe), and `order`, when given, sorts them in that task, after
    * the limit. */
  def collectAtMost(df: DataFrame, n: Int, order: Column*): Array[Row] = {
    val taken = df.coalesce(1).limit(n)
    (if (order.isEmpty) taken else taken.orderBy(order: _*)).collect()
  }

  /** All rows of `df` (whose rows are `rdd`), in partition order, when it
    * has at most `n`, in ONE job that reads every partition in parallel. A
    * partition sends its rows when it holds at most about twice its even
    * share of `n`; past that it stops reading and sends only that bound, so
    * at most about `2n` rows reach the driver. When the partitions that
    * stopped leave the total undecided, a second job reads them whole. */
  private def collectUpTo(df: DataFrame, rdd: RDD[InternalRow], n: Long)
      : Option[Array[Row]] = {
    val parts = rdd.getNumPartitions
    // each partition's rows when it has at most `cap`, else `cap + 1`
    def run(cap: Long, which: Seq[Int])
        : Array[Either[Long, Array[InternalRow]]] =
      if (which.isEmpty) Array.empty
      else SQLExecution.withNewExecutionId(df.queryExecution,
          Some("guardedCollect"))(
        rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
          val kept = ArrayBuffer[InternalRow]()
          while (it.hasNext && kept.length <= cap) kept += it.next().copy()
          if (kept.length <= cap) Right(kept.toArray)
          else Left(kept.length.toLong)
        }: Either[Long, Array[InternalRow]], which))
    def size(p: Either[Long, Array[InternalRow]]) =
      p.fold(identity, _.length.toLong)
    val first = run(math.min(n + 1, 2 * (n + 1) / math.max(parts, 1) + 1),
      0 until parts)
    val all =
      if (first.map(size).sum > n) first
      else {
        val stopped = first.indices.filter(first(_).isLeft)
        val whole = stopped.zip(run(n, stopped)).toMap
        first.indices.map(i => whole.getOrElse(i, first(i))).toArray
      }
    if (all.exists(_.isLeft) || all.map(size).sum > n) None
    else {
      val decode = ExpressionEncoder(df.schema).resolveAndBind()
        .createDeserializer()
      Some(all.flatMap(_.toSeq.flatten).map(decode))
    }
  }

  /** The guarded driver finish: `df` (not yet materialized) collected when
    * it has at most `guard` rows — `Right(rows)`, sorted by `order` —
    * else `Left` of `df` for the distributed path. A local relation (after
    * optimization) needs no job: its rows are on the driver already, and
    * `Left` is `df` itself. Otherwise ONE job decides. Without an `order`
    * it reads every partition in parallel ([[collectUpTo]]), and `Left` is
    * a relation over the rows that job computed: reading it runs `df`'s
    * last stage again on the shuffle outputs the job left, so nothing
    * before that stage is recomputed, and no checkpoint is stored (on a
    * multi-million-row input, storing one cost more than that re-read);
    * `df` must be deterministic. With an `order`, [[collectAtMost]] reads
    * `guard + 1` rows in one sorting task, and `Left` is the lazy local
    * checkpoint that job wrote, which Spark completes in a job of its own.
    * `guard` must be below `Int.MaxValue`. */
  def guardedCollect(df: DataFrame, guard: Long, order: Column*)
      : Either[DataFrame, Array[Row]] = {
    require(guard >= 0 && guard < Int.MaxValue, s"guard $guard")
    df.queryExecution.optimizedPlan match {
      case local: LocalRelation if order.isEmpty =>
        if (local.data.length > guard) Left(df) else Right(df.collect())
      case _ if order.isEmpty =>
        val rdd = df.queryExecution.toRdd
        collectUpTo(df, rdd, guard).toRight(
          org.apache.spark.sql.graft.Bridge.relation(df, rdd))
      case _ =>
        val cached = shared(df)
        val rows = collectAtMost(cached, (guard + 1).toInt, order: _*)
        if (rows.length > guard) Left(cached)
        else { release(cached); Right(rows) }
    }
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
