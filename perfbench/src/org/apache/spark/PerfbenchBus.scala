package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads its counters. `listenerBus` is Spark-internal, hence
  * this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
