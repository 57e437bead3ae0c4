package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The one loop runner of the iterative operators (PageRank, BFS,
  * k-core, label propagation, distributed duplicate components), laid out
  * like Pregel/GraphX: the edges are persisted ONCE, hash-partitioned on
  * the key that RECEIVES messages ([[edges]]); each round joins them with
  * the node state broadcast through the counted gate ([[Round.broadcast]]),
  * a second join of the same broadcast bringing a node its own state (a
  * co-partitioned join would break when AQE coalesces partitions). The
  * round's aggregates on the receiving key then need NO exchange: a round
  * is its `localCheckpoint` job plus the broadcast, and its counters are
  * `observe`d on that job ([[checkpoint]]) — no count/isEmpty action, and
  * every gate decision on an EXACT count. Over the threshold the joins
  * shuffle, with bit-identical results. One INFO line per loop records
  * its rounds, how it stopped, the gate decisions and the counters. */
object Fixpoint {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `df` persisted, hash-partitioned on `key` (and deduplicated when
    * `dedup`: `distinct` groups on every column, which the key
    * partitioning already satisfies, so it adds no second exchange). The
    * shuffle runs once, inside the first job that reads the relation. */
  def edges(df: DataFrame, key: String, dedup: Boolean = true): DataFrame = {
    val p = df.repartition(col(key))
    (if (dedup) p.distinct() else p).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** A loop relation with the counters observed on the job that built it
    * (a sum over no rows reads 0). */
  final case class State(df: DataFrame, stats: Map[String, Long]) {
    def apply(counter: String): Long = stats(counter)
    def +(counter: (String, Long)): State = copy(stats = stats + counter)
  }

  /** `df` materialized by ONE eager `localCheckpoint` job (which also cuts
    * the iterative lineage), with the named aggregates `counters`
    * collected on that same job. The metrics are read off the checkpointed
    * query itself, not through an `Observation`: that would start the
    * session's observation manager, which the session then fails to
    * serialize (Spark ML closures capture the session). */
  def checkpoint(df: DataFrame, counters: Column*): State = {
    val name = s"fixpoint-${java.util.UUID.randomUUID}"
    val observed = df.observe(name, counters.head, counters.tail: _*)
    val out = observed.localCheckpoint(eager = true)
    val row = observed.queryExecution.observedMetrics(name)
    State(out, row.schema.fieldNames.zipWithIndex.map { case (k, i) =>
      k -> (if (row.isNullAt(i)) 0L else row.getAs[Number](i).longValue)
    }.toMap)
  }

  /** Frees the blocks `df` holds now rather than when the context cleaner
    * notices: those of the local checkpoint it IS (a `localCheckpoint`
    * result, eager or not; freed without `RDD.unpersist`'s WARN that its
    * lineage is truncated), else its cache entry. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD =>
      org.apache.spark.sql.graft.Bridge.unpersist(r.rdd, blocking = false)
    case _ => df.unpersist(blocking = false); ()
  }

  /** At most `n` rows of `df` in ONE job: `coalesce(1)` reads them in one
    * task (`executeTake` would probe the partitions incrementally, a job
    * per probe), and `order`, when given, sorts them in that task, after
    * the limit. */
  def collectAtMost(df: DataFrame, n: Int, order: Column*): Array[Row] = {
    val taken = df.coalesce(1).limit(n)
    (if (order.isEmpty) taken else taken.orderBy(order: _*)).collect()
  }

  /** The guarded driver finish: `df` (not yet materialized) collected when
    * it has at most `guard` rows — `Right(rows)`, sorted by `order` —
    * else `Left` of `df` as a lazy local checkpoint for the distributed
    * path. One job ([[collectAtMost]] of `guard + 1` rows) decides, and it
    * also writes the checkpoint (a persist would cost a separate
    * cache-materialization job under AQE), so the over-guard path never
    * recomputes `df`. Under the guard the checkpoint is released at once.
    * `guard` must be below `Int.MaxValue`. */
  def guardedCollect(df: DataFrame, guard: Long, order: Column*)
      : Either[DataFrame, Array[Row]] = {
    require(guard >= 0 && guard < Int.MaxValue, s"guard $guard")
    val cached = df.localCheckpoint(eager = false)
    val rows = collectAtMost(cached, (guard + 1).toInt, order: _*)
    if (rows.length > guard) Left(cached)
    else { release(cached); Right(rows) }
  }

  /** Round `index` (1-based) of a loop, stepping from `state`. */
  final class Round private[Fixpoint] (val index: Int, val state: State,
      gates: ArrayBuffer[String]) {
    /** `df` through the counted broadcast gate ([[Joins.maybeBroadcast]]);
      * the decision goes into the loop's log line. */
    def broadcast(df: DataFrame, rows: Long): DataFrame = {
      val taken = rows <= Joins.threshold.value
      gates += s"${if (taken) "taken" else "skipped"}:$rows"
      Joins.maybeBroadcast(df, rows)
    }
  }

  /** Steps from `seed` until `done` holds on the current state or
    * `maxRounds` steps ran; returns the last state. The persisted `edges`
    * are released at the end: every state a step returns must already be
    * materialized (a [[checkpoint]], or a union of them). */
  def iterate(name: String, edges: DataFrame, seed: State, maxRounds: Int)
      (done: State => Boolean)(step: Round => State): State = {
    var (state, rounds) = (seed, 0)
    val (stats, gates) = (ArrayBuffer(seed.stats), ArrayBuffer[String]())
    try while (rounds < maxRounds && !done(state)) {
      rounds += 1
      state = step(new Round(rounds, state, gates))
      stats += state.stats
    } finally edges.unpersist(blocking = false)
    val stop = if (done(state)) "converged" else s"maxRounds=$maxRounds hit"
    log.info(s"Fixpoint $name: rounds=$rounds $stop " +
      s"gate=${gates.mkString("[", ", ", "]")} " +
      s"threshold=${Joins.threshold.value} counters=" + stats.map(
        _.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("{", ",", "}"))
        .mkString("[", ", ", "]"))
    state
  }
}
