package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package bridge to the `private[sql]` Column ⇄ Expression converters —
  * the standard pattern for Spark extension libraries that define native
  * Catalyst expressions (Spark 4 moved Column onto ColumnNode, so plain
  * `new Column(expr)` no longer exists). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a logical plan (`Dataset.ofRows` is private[sql]).
    * Lets the engine apply plan rewrites at the ANALYZED stage — before
    * constant folding — where an optimizer-batch rule would run too
    * late (see graft.plans.EmptyGroupingSetsRule). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Blocks until every listener has seen every event posted so far
    * (`listenerBus` is private[spark]). Listener events arrive
    * asynchronously: an action can return before its job-end event is
    * delivered. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The query execution a SQL execution's end event carries
    * (private[sql]); null when the execution has none. */
  def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd): execution.QueryExecution =
    e.qe
}
