package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener can be removed without losing the tail of what it traced. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
