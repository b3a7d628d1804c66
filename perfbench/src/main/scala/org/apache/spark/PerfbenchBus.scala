package org.apache.spark

/** The listener bus drain is spark-private; the benchmark needs it so that
  * every task event of a measured region has reached its listener before
  * the region's counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
