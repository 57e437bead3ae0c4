package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression conversions,
  * so graft's custom Catalyst expressions (cosine similarity, hashes) can be
  * exposed as plain `Column`s without a per-session function-registry hop.
  * This is the standard extension-library pattern (same trick as frameless &
  * co.), plus one `private[spark]` call to free a local checkpoint's blocks;
  * nothing else in Spark's namespace is touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Frees `rdd`'s blocks as `RDD.unpersist` does, minus its WARN that a
    * locally checkpointed RDD cannot be recomputed afterwards: releasing a
    * local checkpoint nobody reads again is the intended use. */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
