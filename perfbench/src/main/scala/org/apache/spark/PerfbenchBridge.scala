package org.apache.spark

/** The two `private[spark]` hooks the benchmark's tracing needs. */
object PerfbenchBridge {

  /** Blocks until every posted listener event has been delivered, so the
    * counters read after an operation include that operation's events.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage / expression classes compiled by Janino so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
