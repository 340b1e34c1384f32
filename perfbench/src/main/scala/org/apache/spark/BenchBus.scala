package org.apache.spark

/** Access to the driver's listener bus, which is private to Spark. Counters
  * are read only after every posted event has reached the listeners. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
