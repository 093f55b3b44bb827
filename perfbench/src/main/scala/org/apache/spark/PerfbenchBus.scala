package org.apache.spark

/** Drains Spark's listener bus, so every job, task and query event of
  * a run has reached the benchmark's listeners before they are read
  * (the bus is private to Spark, hence this package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
