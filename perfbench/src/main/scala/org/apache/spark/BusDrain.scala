package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run reads complete task statistics. Lives in this package because
  * the bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
