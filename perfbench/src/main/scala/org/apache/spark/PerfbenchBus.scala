package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to drain before it
  * reads its listeners' totals; the bus is only visible inside Spark's
  * own package. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
