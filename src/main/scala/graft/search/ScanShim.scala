package org.apache.spark.sql.graftshim

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SQLExecution, SparkStrategy}

/** The Spark internals a segment scan needs, re-exported from inside
  * Spark's package (the `private[sql]` / `private[spark]` members below):
  * wrapping a logical plan as a DataFrame or collecting it as rows, the
  * session's planner strategies, a task's input metrics and the listener
  * bus.
  */
object ScanShim {

  private def session(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** `plan` as a DataFrame (`Dataset.ofRows`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session(spark), plan)

  /** Runs `plan` and returns its rows straight off the physical plan, with
    * no deserializer, under a SQL execution id so that listeners see the
    * query as they see `Dataset.collect`.
    */
  def collect(spark: SparkSession, plan: LogicalPlan): Array[InternalRow] = {
    val qe = session(spark).sessionState.executePlan(plan)
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Adds `strategy` to the session's planner strategies unless present. */
  def installStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val ex = session(spark).experimental
    if (!ex.extraStrategies.contains(strategy)) ex.extraStrategies = strategy +: ex.extraStrategies
  }

  /** Adds to the running task's input metrics, as Spark's file scans do. */
  def addInput(ctx: TaskContext, records: Long, bytes: Long): Unit = {
    val in = ctx.taskMetrics().inputMetrics
    in.incRecordsRead(records)
    in.incBytesRead(bytes)
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
