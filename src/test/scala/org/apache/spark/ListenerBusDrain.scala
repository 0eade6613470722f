package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so a listener read after an operation has seen all of its events.
  * The bus is private to the `org.apache.spark` package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
