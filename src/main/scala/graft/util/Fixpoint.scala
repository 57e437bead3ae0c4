package graft.util

import graft.util.Materialize.State
import org.apache.spark.sql.DataFrame
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
  * `observe`d on that job ([[Materialize.checkpoint]]) — no count/isEmpty
  * action, and every gate decision on an EXACT count. Over the threshold
  * the joins shuffle, with bit-identical results. One INFO line per loop
  * records its rounds, how it stopped, the gate decisions and the
  * counters. */
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
    * materialized (a [[Materialize.checkpoint]], or a union of them). */
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
