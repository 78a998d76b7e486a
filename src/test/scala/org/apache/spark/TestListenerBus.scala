package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; specs that count
  * jobs or tasks with a `SparkListener` drain the bus through this. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
