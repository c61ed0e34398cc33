package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The `private[spark]` readings the traced run needs, in one place. */
object Internals {

  /** Block until every listener has seen every event posted so far, so
    * counters read after an action include that action.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Janino compile time since JVM start, in nanoseconds. */
  def compileNanos: Long = CodeGenerator.compileTime

  /** Number of Janino compiles since JVM start. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
