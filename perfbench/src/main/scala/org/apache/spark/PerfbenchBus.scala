package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's counters read after a call include all of that call's tasks.
  * Lives in this package because the bus is Spark-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
