package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for graft's custom Catalyst expressions.
  * Spark 4 moved these conversions behind `private[sql]`
  * (classic.ExpressionUtils); a same-package shim is the standard
  * pattern Spark extension libraries use to construct Columns from
  * custom Expressions.
  */
object GraftSqlBridge {
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The pinned RDD behind a `Dataset.localCheckpoint` result (its
    * analyzed plan is a `LogicalRDD` leaf — `private[sql]`, hence this
    * shim). graft's iterative loops use it to unpersist each
    * superseded round's checkpoint blocks as soon as the next round
    * has read them (r14 — dead intermediates no longer idle in the
    * block manager until DfMemo.clear()). */
  def checkpointRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: execution.LogicalRDD => lr.rdd
    }
}
