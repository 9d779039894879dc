package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal package-scoped bridge: `Dataset.ofRows` (the only public-in-
  * bytecode way to wrap a custom LogicalPlan as a DataFrame) is
  * `private[sql]`, so the one-line accessor lives in this package. Used
  * by [[graft.ops.AsOfJoin.asOfNative]] to hand the analyzer an
  * [[graft.plans.AsOfJoinPlan]] node.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `SparkSession.sessionUUID` is `private[sql]` — the stable, never-
    * reused session identity [[graft.ops.SlateStore]] keys its artifact
    * cache on (an identity hash can be recycled after a session is GC'd).
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** `internalCreateDataFrame(isStreaming = true)` is the seam a v1
    * streaming Source's getBatch must hand its plan through (the
    * FileStreamSource recipe) — `private[sql]`, so the accessor lives
    * here. Used by [[graft.streaming.ChangefeedSource]].
    */
  def internalCreateDataFrame(spark: SparkSession,
                              rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                              schema: org.apache.spark.sql.types.StructType,
                              isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  /** Catalyst expression ⇄ Column (`classic.ExpressionUtils`, `private[sql]`):
    * the DataFrame operators build graft's native expressions directly
    * through these, so they never depend on the session's function
    * registry (`spark.sql.extensions` serves only SQL text).
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
