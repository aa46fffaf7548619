package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event of the
  * traced pass (the listener bus is asynchronous and package-private). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
