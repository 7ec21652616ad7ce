package org.apache.spark

/** The listener bus is package-private; the benchmark's trace needs to
  * wait until every queued event has reached its listener before it
  * summarises a pass. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
