package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait
  * for it to empty so counters read after a run are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
