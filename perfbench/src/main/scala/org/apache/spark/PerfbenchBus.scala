package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so counters read after a timing window include every event
  * of that window.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
