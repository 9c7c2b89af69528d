package org.apache.spark

/** The listener bus is private to Spark; specs that count events wait
  * until every event of the block they ran has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
