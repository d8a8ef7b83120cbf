package org.apache.spark

/** The listener bus's drain is private to Spark; the traced run needs it so
  * that every task-end and query event has been counted before spans are
  * aggregated.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
