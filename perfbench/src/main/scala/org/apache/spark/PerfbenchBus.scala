package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark needs it so
  * every event of a measured window is counted before the window closes. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
