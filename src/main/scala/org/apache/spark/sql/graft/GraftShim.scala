package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. Spark 4 moved Column onto ColumnNode and made the
  * Expression⇄Column conversions `private[sql]`; this shim (in the
  * org.apache.spark.sql namespace, the standard pattern for Spark
  * extension libraries) re-exposes exactly the two conversions. */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Drain the listener bus (private[spark]): QueryExecutionListener
    * callbacks are asynchronous, so metric collectors must flush before
    * their per-query readings are attributed. waitUntilEmpty throws
    * TimeoutException after its internal 10 s budget — a backlogged bus
    * must degrade the metric, never abort the caller's run. */
  def waitListeners(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Spark's JVM-wide codegen counters (private[spark]): generated
    * classes compiled so far, and their compile time so far in ns. A
    * class served from the generated-code cache counts in neither. */
  def codegenCounters: (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Whether `key` was EXPLICITLY set on this session (RuntimeConfig
    * .getOption cannot tell: it returns the registered default for any
    * built-in conf). Lets a per-call conf fallback respect a session
    * that deliberately configured the key — set or unset — instead of
    * stomping it on every query. */
  def confExplicitlySet(spark: SparkSession, key: String): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.contains(key)

  /** Register a function builder on a live session's FunctionRegistry
    * (sessionState is private[sql]; config-time registration goes through
    * graft.GraftExtensions instead). */
  def registerFunction(spark: SparkSession,
                       ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)
}
