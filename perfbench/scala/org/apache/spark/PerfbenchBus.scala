package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads the counters its listeners accumulated. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
