package org.apache.spark

/** Access to the scheduler's listener bus, so window counters are read
  * after every posted event has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
