package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The two Spark-internal reads the benchmark needs, kept in one place:
  * draining the listener bus (so every event of a traced op has been
  * delivered before the next op starts) and the JVM-wide codegen
  * counters. */
object SparkInternals {
  def waitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (generated classes compiled so far, compile time so far in ns). */
  def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
