package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; specs that count
  * jobs or tasks with a `SparkListener` drain the bus through this. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Runs `body`, returning its result and the jobs and tasks it ran. */
  def counting[T](sc: SparkContext)(body: => T): (T, Int, Int) = {
    drain(sc)
    val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, jobs.get, tasks.get)
    } finally sc.removeSparkListener(listener)
  }
}
