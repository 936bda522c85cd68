package org.apache.spark

/** The listener bus is private to Spark; specs that assert on events their
  * listener collected drain it first. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
