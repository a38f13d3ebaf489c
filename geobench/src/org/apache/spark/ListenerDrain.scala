package org.apache.spark

/** The listener bus is private to Spark; the benchmark must wait for it to
  * deliver every task-end event before it reads the per-span task metrics. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
