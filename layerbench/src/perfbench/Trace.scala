package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans around the public calls a workload makes. Each span
  * carries its op id and its parent span, so a layer's self time is its
  * span minus its children. Spans are recorded only while `on` is set and
  * are written out once, when the run ends. One client thread records. */
object Trace {
  final case class Span(op: Long, id: Int, parent: Int, name: String,
      t0: Long, t1: Long)

  /** The span around the benchmark's own directory walks (file and byte
    * counts), which are not work of the program under test. */
  val Walk = "bench.walk_ms"

  @volatile var on: Boolean = false
  var op: Long = -1L
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private val stack = ArrayBuffer.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) -1 else stack.last
      stack += id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.remove(stack.length - 1)
        spans += Span(op, id, parent, name, t0, t1)
      }
    }

  /** Extra per-op counters a workload measures itself (files written,
    * bytes on disk), recorded only while tracing. */
  val counters: mutable.Map[(Long, String), Double] = mutable.Map.empty

  def count(name: String, v: Double): Unit =
    if (on) counters((op, name)) = counters.getOrElse((op, name), 0.0) + v
}

/** Spark scheduler counts attributed to ops through the `perfbench.op`
  * job property. Events arrive on the listener bus thread; read `byOp`
  * only after draining the bus. */
final class OpListener extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, inputBytes, shuffleBytes, spillBytes = 0L
    val jobSpans: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
  }

  val byOp: mutable.Map[Long, Agg] = mutable.Map.empty
  private val stageOp = mutable.Map.empty[Int, Long]
  private val jobOp = mutable.Map.empty[Int, (Long, Long)]

  private def agg(op: Long): Agg = byOp.getOrElseUpdate(op, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key)))
      .map(_.toLong).foreach { op =>
        agg(op).jobs += 1
        jobOp(e.jobId) = (op, e.time)
        e.stageInfos.foreach(s => stageOp(s.stageId) = op)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      agg(op).jobSpans += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => agg(op).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = agg(op)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object OpListener {
  val Key = "perfbench.op"
}

/** Streaming triggers per op, attributed through the query name
  * `perfbench-op-<id>` that the workload gives each query it starts. */
final class TriggerListener extends StreamingQueryListener {
  val triggers: mutable.Map[Long, Long] = mutable.Map.empty

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    Option(e.progress.name).filter(_.startsWith(TriggerListener.Prefix))
      .map(_.stripPrefix(TriggerListener.Prefix).toLong).foreach { op =>
        triggers(op) = triggers.getOrElse(op, 0L) + 1
      }
  }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object TriggerListener {
  val Prefix = "perfbench-op-"
}
