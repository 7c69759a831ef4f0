package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 decoupled `Column` from catalyst `Expression`; the conversion
  * lives in `private[sql]` ExpressionUtils. This bridge (placed inside the
  * org.apache.spark.sql package, the standard pattern for Spark-extension
  * libraries) re-exports just the two conversions the graft engine needs to
  * register custom Catalyst expressions as user-facing Columns.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Force-create the driver-side StateStoreCoordinator RPC endpoint.
    * Streaming queries create it on start; BATCH execution of stateful
    * operators (`transformWithState` on a batch Dataset) still loads a
    * state store on the executors, whose provider asks this endpoint for
    * location info — without a prior streaming query in the session the
    * lookup dies with RpcEndpointNotFoundException. The coordinator is
    * held in a lazy val on the session's StreamingQueryManager
    * (`private[sql]`, hence this bridge), so touching it is idempotent.
    */
  def ensureStateStoreCoordinator(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .streams.stateStoreCoordinator

  /** Wrap a (possibly custom) resolved LogicalPlan as a DataFrame —
    * `Dataset.ofRows` is `private[sql]`; every Spark-extension library
    * providing whole-operator plan nodes needs this one hop.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
