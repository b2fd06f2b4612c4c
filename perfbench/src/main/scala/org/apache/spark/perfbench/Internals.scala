package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two package-private Spark readings the benchmark needs: a bounded
  * wait for the listener bus to drain, and the janino compile counter. */
object Internals {

  /** True when every queued listener event was delivered within
    * `timeoutMs`; false when the wait timed out. */
  def drained(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
