package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far (the bus is `private[spark]`, hence this package), so a listener
  * removed right after a rep has still seen all of the rep's jobs. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
