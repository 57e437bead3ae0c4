package graft.util

import graft.util.Materialize.State
import org.apache.spark.sql.{DataFrame, Row}
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
  * the joins shuffle, with bit-identical results.
  *
  * A graph loop whose edges fit on the driver skips all of that: one job
  * collects them ([[onDriver]]) and [[local]] steps a plain-Scala state
  * with the same stopping rule and counters (COST: for a graph that fits
  * in memory, one thread beats the cluster). One INFO line per loop, on
  * either path, records its rounds, how it stopped, the gate decisions,
  * the counters and the path with its edge count and guard. */
object Fixpoint {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A graph loop's normalized edges (or BFS sources), not yet
    * materialized, through the guard: `Right(rows)` when there are at
    * most [[Materialize.driverMaxRows]] of them, else `Left` for the
    * distributed path: `df` itself when it is a local relation, whose rows
    * no job reads, else a relation over the rows the collect's job
    * computed ([[Materialize.guardedCollect]]). */
  def onDriver(df: DataFrame): Either[DataFrame, Array[Row]] =
    Materialize.guardedCollect(df, Materialize.driverMaxRows.value)

  /** The loop line's path field for a distributed loop over the guard. */
  def overGuard(what: String = "edges"): String = {
    val guard = Materialize.driverMaxRows.value
    s"path=distributed $what>$guard guard=$guard"
  }

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
    * materialized (a [[Materialize.checkpoint]], or a union of them).
    * `path`, when given, ends the loop's log line. */
  def iterate(name: String, edges: DataFrame, seed: State, maxRounds: Int,
      path: String = "")(done: State => Boolean)(step: Round => State)
      : State = {
    val gates = ArrayBuffer[String]()
    try loop(name, seed, maxRounds, (_: State).stats,
        s"gate=${gates.mkString("[", ", ", "]")} " +
          s"threshold=${Joins.threshold.value} ", path)(done)(
        (i, s) => step(new Round(i, s, gates)))
    finally edges.unpersist(blocking = false)
  }

  /** The driver twin of [[iterate]] for a loop over `edges` collected
    * rows ([[onDriver]]): the same stopping rule, counters and log line,
    * stepping a plain-Scala state. */
  def local[S](name: String, seed: S, maxRounds: Int, edges: Int)
      (stats: S => Map[String, Long])(done: S => Boolean)
      (step: (Int, S) => S): S =
    loop(name, seed, maxRounds, stats, "",
      s"path=driver edges=$edges guard=${Materialize.driverMaxRows.value}")(
      done)(step)

  private def loop[S](name: String, seed: S, maxRounds: Int,
      stats: S => Map[String, Long], detail: => String, path: String)
      (done: S => Boolean)(step: (Int, S) => S): S = {
    var (state, rounds) = (seed, 0)
    val seen = ArrayBuffer(stats(seed))
    while (rounds < maxRounds && !done(state)) {
      rounds += 1
      state = step(rounds, state)
      seen += stats(state)
    }
    val stop = if (done(state)) "converged" else s"maxRounds=$maxRounds hit"
    log.info(s"Fixpoint $name: rounds=$rounds $stop ${detail}counters=" +
      seen.map(_.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("{", ",", "}")).mkString("[", ", ", "]") +
      (if (path.isEmpty) "" else s" $path"))
    state
  }
}
