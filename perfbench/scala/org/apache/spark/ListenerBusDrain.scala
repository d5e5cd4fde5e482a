package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's `SparkListener` has seen all jobs of an operation before the
  * record is written. `listenerBus` is package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
