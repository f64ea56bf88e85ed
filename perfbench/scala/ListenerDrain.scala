package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * per-job-group counters are complete before they are read. The bus
  * is `private[spark]`; this one-line shim lives in Spark's package. */
object PerfbenchListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
