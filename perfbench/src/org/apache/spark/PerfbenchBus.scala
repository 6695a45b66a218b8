package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark reads complete listener counters (the bus is private to
  * Spark's package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
