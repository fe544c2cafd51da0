package org.apache.spark

/** Waits until every event posted so far has reached the benchmark's
  * listener, so a layer's counters are complete when its call returns.
  * The listener bus is private to Spark; this is its one use.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
