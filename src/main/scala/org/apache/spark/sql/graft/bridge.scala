package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}

/** Minimal bridge into Spark's `private[sql]` Column↔Expression conversions,
  * so graft's custom Catalyst expressions (cosine similarity, hashes) can be
  * exposed as plain `Column`s without a per-session function-registry hop.
  * This is the standard extension-library pattern (same trick as frameless &
  * co.), plus one `private[spark]` call to free a local checkpoint's blocks
  * and one `private[sql]` call to read an executed plan's rows again as a
  * relation; nothing else in Spark's namespace is touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Frees `rdd`'s blocks as `RDD.unpersist` does, minus its WARN that a
    * locally checkpointed RDD cannot be recomputed afterwards: releasing a
    * local checkpoint nobody reads again is the intended use. */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)

  /** The rows `rdd` (an executed plan of `like`) computes, as a relation
    * with `like`'s schema: a query over it reads `rdd` itself, so the
    * shuffle map stages `rdd` already ran are not run again. */
  def relation(like: DataFrame, rdd: RDD[InternalRow]): DataFrame =
    like.sparkSession.asInstanceOf[SparkSession]
      .internalCreateDataFrame(rdd, like.schema)
}
