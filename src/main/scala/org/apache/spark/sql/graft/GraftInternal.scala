package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The three doorways the engine needs into Spark's internals, reached
  * from a file under `org.apache.spark.sql` (the access pattern every
  * Spark extension library uses, not an internal API copy):
  *   - `Dataset.ofRows`, turning a custom [[LogicalPlan]] node into a
  *     user-facing DataFrame;
  *   - `ExpressionUtils.column`, wrapping a Catalyst [[Expression]] as a
  *     [[Column]], so a DataFrame can reuse the arithmetic an optimizer
  *     rule builds;
  *   - the listener bus's drain: listener events arrive asynchronously,
  *     so [[graft.Ledger]] reads a query's task totals only after every
  *     event the query caused has been delivered.
  * Everything else the engine does goes through the public
  * DataFrame/SessionExtensions surface.
  */
object GraftInternal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
