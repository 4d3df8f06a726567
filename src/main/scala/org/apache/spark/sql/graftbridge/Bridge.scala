package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's `private[sql]` Column <-> Expression and
  * DataFrame <-> LogicalPlan converters, needed to expose custom
  * Catalyst expressions (e.g. [[graft.functions.DotProduct]]) and
  * custom logical operators (e.g. graft.plans.LocalTopKPerGroup) as
  * user-facing API on Spark 4.x, where `Column` wraps a ColumnNode
  * rather than an Expression directly.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The error Spark's `/` raises on a zero divisor under ANSI mode. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** The analyzed logical plan behind a DataFrame. */
  def plan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Block until every listener has seen every event posted so far
    * (`waitUntilEmpty` is `private[spark]`), so a listener's counts
    * cover each job and stage that already ended. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Wrap a logical plan (possibly containing custom nodes) back into
    * a DataFrame — runs the analyzer, so unresolved expressions inside
    * custom nodes resolve like any built-in operator's. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
