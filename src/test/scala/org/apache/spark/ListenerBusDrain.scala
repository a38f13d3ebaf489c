package org.apache.spark

/** The listener bus is private to Spark; specs that assert on listener
  * events wait here until every posted event has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
