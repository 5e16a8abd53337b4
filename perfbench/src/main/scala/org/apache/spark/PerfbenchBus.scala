package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait until
  * it has delivered a pass's events before reading its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
