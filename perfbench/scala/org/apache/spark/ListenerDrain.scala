package org.apache.spark

/** Reads Spark internals the benchmark needs that have no public API,
  * hence this package. */
object ListenerDrain {
  /** Blocks until every queued listener event has been delivered, so a
    * listener's totals are complete when the benchmark reads them. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage codegen compilations so far in this JVM (cache misses). */
  def codegenCompiles: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
