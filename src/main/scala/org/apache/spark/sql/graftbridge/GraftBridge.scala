package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkStrategy}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Minimal accessors for the `private[sql]`/`private[spark]` seams an
  * extension library needs: materializing a DataFrame over a custom
  * LogicalPlan (`Dataset.ofRows`), injecting a planner strategy at runtime
  * (`experimental.extraStrategies`), draining the listener bus and reading
  * a stream's last trigger plan. Lives
  * under `org.apache.spark.sql` only to satisfy the access qualifiers;
  * contains no engine logic.
  */
object GraftBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column → catalyst Expression (pre-analysis tree; `private[sql]` in
    * Spark 4's column-node API, hence bridged here). Converts EAGERLY via
    * the classic converter — `ExpressionUtils.expression` would wrap the
    * column-node tree in one opaque lazy leaf, invisible to tree traversal.
    */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** catalyst Expression → Column (inverse of [[expression]]). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Block until Spark's listener bus has delivered every event posted so
    * far — job starts and `QueryExecutionListener` callbacks included. The
    * bus is `private[spark]`.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The last trigger's `IncrementalExecution` of a started streaming query;
    * None when no trigger has run. Throws a MatchError on a query that is
    * not a local `StreamingQueryWrapper`, so an audit never passes a stream
    * whose plan it could not read.
    */
  def lastExecution(q: StreamingQuery): Option[QueryExecution] = q match {
    case w: StreamingQueryWrapper => Option(w.streamingQuery.lastExecution)
  }

  /** Idempotently append a planner strategy to the session. */
  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(strategy)) {
        exp.extraStrategies = exp.extraStrategies :+ strategy
      }
    }
  }
}
