package org.apache.spark

/** The listener bus is asynchronous and its drain is package-private:
  * this is the one call the benchmark needs from inside Spark's
  * package, so per-layer counters are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
