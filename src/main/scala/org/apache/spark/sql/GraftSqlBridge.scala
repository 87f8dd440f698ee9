package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's package-private surface. This is the ONLY member of
  * the graft codebase living outside the `graft` package, and it exists
  * solely for the two members below — the standard extension-library
  * technique (same access pattern as spark-connector bridges).
  */
object GraftSqlBridge {

  /** Building a DataFrame from a raw `LogicalPlan` is how a library hands
    * Catalyst a custom operator node (the same door Spark's own DSL
    * methods use); `Dataset.ofRows` is `private[sql]`.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Blocks until every posted listener event has been delivered: query
    * execution and scheduler listeners run on the `private[spark]`
    * listener bus, asynchronously to the action that posted the event.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
