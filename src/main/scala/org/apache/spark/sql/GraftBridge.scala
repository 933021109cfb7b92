package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Dataset factory — the standard pattern
  * Spark extension libraries use to materialize a DataFrame from a custom
  * LogicalPlan (Dataset.ofRows is not public API).
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A Catalyst expression as a `Column`, and back — how graft's kernels
    * enter a plan without a session function-registry name.
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Ensure the driver-side StateStoreCoordinator RPC endpoint exists.
    * Streaming queries create it on start; a BATCH `transformWithState`
    * loads a state store without one and dies with
    * RpcEndpointNotFoundException — bootstrapping it here makes batch
    * execution of state-v2 operators self-contained.
    */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    execution.streaming.state.StateStoreCoordinatorRef.forDriver(
      org.apache.spark.SparkEnv.get,
      spark.asInstanceOf[classic.SparkSession].sessionState.conf)
}
