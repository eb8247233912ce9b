package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into the `private[sql]` Column <-> Expression
  * converters — the standard pattern for third-party Catalyst
  * expressions on Spark 4 (the classic converters are package
  * private) — and into the frame constructor `Dataset.checkpoint`
  * uses. Nothing else from the internal API is touched.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A frame over `rows`, the internal rows `origin` computes, with
    * `origin`'s output attributes, size statistics and partitioning:
    * the frame `Dataset.checkpoint` builds over its checkpointed rows,
    * here over rows the caller persisted.
    */
  def rowsFrame(rows: RDD[InternalRow], origin: DataFrame): DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }
}
