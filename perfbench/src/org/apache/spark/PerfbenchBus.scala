package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it before it
  * reads the task metrics its listener collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
