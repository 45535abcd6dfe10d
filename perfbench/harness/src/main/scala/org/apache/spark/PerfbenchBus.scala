package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced run's job and query records are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
