package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it after
  * each timed call so that every event of that call has been delivered
  * before its counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
