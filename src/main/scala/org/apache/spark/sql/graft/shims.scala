package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` helpers — the established connector pattern
  * for APIs Spark keeps semi-public (the reference's Flink connector does
  * the same for Flink internals). */
/** Public face of the `private[sql]` V2TableWithV1Fallback trait (the
  * integration shape Delta-on-Spark's own catalog uses). */
trait V1FallbackTable extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback

object Shims {
  /** Column → Catalyst Expression (Spark 4 removed the public `.expr`). */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Catalyst Expression → Column. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Column → EAGERLY converted Catalyst tree. [[expression]] returns a
    * lazy `ColumnNodeExpression` leaf whose internals are opaque to
    * Catalyst tree traversal (foreach/transform see ONE node); use this
    * when the caller needs to inspect or split the actual tree. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** LogicalPlan → DataFrame (private[sql] Dataset.ofRows). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
    : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Rebind a sink-side streaming micro-batch as a writable batch
    * DataFrame (the incoming frame is tagged streaming and cannot be
    * written directly — the standard V1 sink pattern). */
  def materializeBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
