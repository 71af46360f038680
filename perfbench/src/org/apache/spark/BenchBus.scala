package org.apache.spark

/** Lets the benchmark read its listener only once every posted event
  * has been delivered (the listener bus is private to Spark).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
