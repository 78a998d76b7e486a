package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; this helper lives
  * in the `org.apache.spark` package only to reach it. Draining the bus
  * before reading listener counts makes them complete: listener events are
  * delivered asynchronously, so an un-drained read can miss the last job,
  * task or streaming-progress event of an op. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
