package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Bridge into the `private[sql]` Column ⇄ Expression converters
 * (`classic.ExpressionUtils`) — the standard extension-library idiom for
 * exposing a custom Catalyst expression as a user-facing `Column`
 * (Spark 4 moved the constructors behind the sql package boundary) —
 * and the `LogicalRDD` wrap `graft.core.Share` needs. Nothing else from
 * the private surface is touched.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df` as one `LogicalRDD` leaf over `rows` (its rows, stored): the
    * wrap-up of `classic.Dataset.checkpoint`, keeping `df`'s output
    * partitioning, ordering and statistics. */
  def overRows(df: DataFrame, rows: RDD[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }
}
