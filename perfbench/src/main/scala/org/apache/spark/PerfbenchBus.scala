package org.apache.spark

/** The listener bus is private to Spark; this drains it so the tracer reads
  * its counters only after every posted event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
