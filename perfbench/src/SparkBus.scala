package org.apache.spark

/** The listener bus is private to Spark; the trace needs to wait until
  * every event of the iteration it just ran has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
