package org.apache.spark

/** The benchmark reads its listener's totals only after every queued
  * event is delivered; the listener bus is private to Spark. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
