package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * the benchmark's listener counters are complete when read. */
object PerfbenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
