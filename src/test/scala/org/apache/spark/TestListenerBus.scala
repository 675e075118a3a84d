package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs or read
  * executed plans wait for it to empty so every event has arrived. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
