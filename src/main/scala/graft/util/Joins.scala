package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Broadcast gating for relations whose EXACT row count the caller
  * already holds — the iterative-loop sibling of the SmallDict/BigDict
  * fit-time decision.
  *
  * The iterative operators (PageRank, BFS, k-core, label propagation,
  * distributed components) join a persisted EDGE relation against a
  * node-sized relation once per round. Left to the planner, that join
  * shuffles the edge relation every round (sort-merge or shuffled-hash
  * — both sides exchange), even though the node side is usually tiny
  * and its size is KNOWN exactly: every loop already runs a `count()`
  * or carries one from its convergence check. Guide §3.1: size
  * estimates are often badly wrong — use an explicit broadcast when
  * you know a side is small; §2.4: a broadcast join removes the
  * shuffle of the large side outright.
  *
  * `maybeBroadcast` applies the hint only when the counted rows are at
  * or under the threshold, so the decision is scale-adaptive, not a
  * local-mode constant: at 100 TB a node set past the threshold falls
  * back to the planner's shuffle join unchanged. Join strategy never
  * changes results — outputs are bit-identical either way (the 341
  * oracle queries pin this).
  */
object Joins {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Row threshold when `SPARK_GRAFT_BCAST_MAX_ROWS` is unset or invalid:
    * 1M rows ≈ tens of MB for the (string node, long) relations the loops
    * carry — comfortably under the guide's "few hundred MB is usually
    * fine" and far under the 8 GB / 512M-row broadcast hard cap. */
  private val FallbackMaxRows = 1000000L

  /** Max rows to broadcast-hint; env-overridable for cluster tuning
    * (`SPARK_GRAFT_BCAST_MAX_ROWS`, see [[maxRowsOf]]). */
  val DefaultMaxRows: Long =
    maxRowsOf(sys.env.get("SPARK_GRAFT_BCAST_MAX_ROWS"))

  /** The threshold a raw env value selects: unset → the fallback; a value
    * that is not a positive decimal integer (`"1e6"`, `"-5"`, `""`) → the
    * fallback plus a warning, never an initializer error. */
  def maxRowsOf(raw: Option[String]): Long = raw match {
    case None => FallbackMaxRows
    case Some(v) =>
      v.trim.toLongOption.filter(_ > 0).getOrElse {
        log.warn(s"SPARK_GRAFT_BCAST_MAX_ROWS='$v' is not a positive " +
          s"integer; using $FallbackMaxRows")
        FallbackMaxRows
      }
  }

  /** Broadcast-hint `df` iff its exact `rows` count is ≤ `maxRows`. */
  def maybeBroadcast(df: DataFrame, rows: Long,
      maxRows: Long = DefaultMaxRows): DataFrame =
    if (rows <= maxRows) broadcast(df) else df
}
