package org.apache.spark

/** Reaches the package-private listener bus so the benchmark can drain it
  * before reading or resetting its counters, instead of sleeping and
  * hoping the asynchronous queues have caught up. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
