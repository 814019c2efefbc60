package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface: Column ⇄ Expression for
  * registering graft's native Catalyst expressions. Placed under
  * `org.apache.spark.sql` (the standard pattern for Spark extension
  * libraries) so the rest of graft stays on public API. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** The listener bus is `private[spark]`; this accessor lets a
  * measurement wait until every posted event has been delivered, instead
  * of sleeping a fixed time before reading listener state. */
object BusBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** `Dataset.ofRows` is `private[sql]`: the Dataset-from-LogicalPlan
  * factory that lets [[graft.operators.Lineage]] re-wrap a checkpoint's
  * `LogicalRDD` with the statistics and partitioning it really has. */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
