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
  * and its size is KNOWN exactly: [[Fixpoint]] observes every loop
  * relation's row count on the job that materializes it, so the count
  * costs no action of its own. Guide §3.1: size
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

  /** The threshold [[maybeBroadcast]] applies by default: [[DefaultMaxRows]]
    * unless a caller on this thread rebinds it (`withValue`), as the specs
    * do to pin the over-threshold shuffle-join path. */
  private[graft] val threshold = new scala.util.DynamicVariable(DefaultMaxRows)

  /** Broadcast-hint `df` iff its exact `rows` count is ≤ the threshold. */
  def maybeBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= threshold.value) broadcast(df) else df
}
