package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so counters read after an operation include all of its events. The
  * bus is private to the `org.apache.spark` package, hence this file. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
