package org.apache.spark

/** Test-only access to the SparkContext's listener bus: listener events
  * arrive asynchronously, and a spec that counts them must wait for the
  * bus to empty before reading its counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
