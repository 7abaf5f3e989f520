package org.apache.spark

/** The listener bus is private to Spark; the traced run must drain it
  * before reading what its listeners recorded. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
