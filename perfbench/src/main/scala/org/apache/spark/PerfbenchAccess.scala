package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark reads from outside the library:
  * draining the listener bus, so that every event of a key has been seen
  * before the next key starts, and the whole-stage codegen compile counter.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
