package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * waits for every queued event before it reads its listener's counters.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
