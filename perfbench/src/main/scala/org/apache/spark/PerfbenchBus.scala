package org.apache.spark

/** Reaches the listener bus, which is private to Spark's package, so the
  * benchmark can wait for queued listener events before reading counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
