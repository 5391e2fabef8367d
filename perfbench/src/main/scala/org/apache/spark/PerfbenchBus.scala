package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads its listener's counters, so no event of a finished pass is missed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
