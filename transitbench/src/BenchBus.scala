package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all events of a measured window. The
  * bus is package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
