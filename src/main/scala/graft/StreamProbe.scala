package graft

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev utility (r17 task #8): put NUMBERS under the "streaming keys sit
  * at the micro-batch scheduling floor" claim. Attaches a
  * StreamingQueryListener while the named declared queries run and
  * prints, per trigger, Spark's own duration breakdown
  * (triggerExecution total vs addBatch = the actual work, plus
  * latestOffset/getBatch/queryPlanning/walCommit/commitOffsets =
  * scheduling + bookkeeping overhead), then a per-query summary. Floor
  * = sum(triggerExecution - addBatch) + gaps between triggers.
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.StreamProbe q205_... */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q205_eq_delete_upsert", "q206_cdf_update_images",
        "q184_lake_change_stream", "q178_cdc_lake_upsert")
    val spark = GraftSession.local("graft-streamprobe")

    final case class Trig(batchId: Long, durations: Map[String, Long])
    val trigs = ListBuffer.empty[Trig]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        import scala.jdk.CollectionConverters._
        trigs.synchronized {
          trigs += Trig(e.progress.batchId,
            e.progress.durationMs.asScala.view
              .mapValues(_.longValue()).toMap)
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    names.foreach { name =>
      trigs.synchronized(trigs.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      ops.Scratch.release(spark)
      val snap = trigs.synchronized(trigs.toList)
      println(s"[streamprobe] ===== $name wall=${f"$wall%.3f"} s, " +
        s"${snap.size} triggers =====")
      snap.foreach { t =>
        val d = t.durations
        def g(k: String) = d.getOrElse(k, 0L)
        println(f"[streamprobe] batch=${t.batchId}%3d " +
          f"trigger=${g("triggerExecution")}%5d ms " +
          f"addBatch=${g("addBatch")}%5d " +
          f"latestOffset=${g("latestOffset")}%4d " +
          f"getBatch=${g("getBatch")}%4d " +
          f"plan=${g("queryPlanning")}%4d " +
          f"wal=${g("walCommit")}%4d " +
          f"commit=${g("commitOffsets")}%4d")
      }
      val tot = snap.map(_.durations.getOrElse("triggerExecution", 0L)).sum
      val add = snap.map(_.durations.getOrElse("addBatch", 0L)).sum
      println(f"[streamprobe] $name SUMMARY wall=$wall%.3f s " +
        f"triggerExecution=${tot / 1e3}%.3f s addBatch=${add / 1e3}%.3f s " +
        f"scheduling+bookkeeping=${(tot - add) / 1e3}%.3f s " +
        f"outside-stream=${wall - tot / 1e3}%.3f s")
    }
    spark.streams.removeListener(listener)
    spark.stop()
  }
}
