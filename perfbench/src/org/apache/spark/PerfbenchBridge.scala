package org.apache.spark

/** The one Spark-internal call the benchmark needs: a bounded wait for
  * the listener bus to deliver every queued event, so listener totals
  * are complete before they are read. Throws
  * `java.util.concurrent.TimeoutException` when the bound is hit. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
