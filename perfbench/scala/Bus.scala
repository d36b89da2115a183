package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * per-operation counters are complete before they are written. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
