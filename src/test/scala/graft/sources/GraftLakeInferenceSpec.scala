package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Inference census: on a table whose manifest records its schema, a
  * snapshot read, a copy-on-write DELETE and `CALL compact` run no
  * `mergeSchema` footer-inference job. A job is named by its last
  * stage (the ROADMAP census's call-site unit); a footer-merge job is
  * `parquet at <file>:<line>` over a driver-parallelized list of
  * footers (a `ParallelCollectionRDD`) — data writes named
  * `parquet at ...` run over the table's scan instead. */
class GraftLakeInferenceSpec extends SparkSpec {

  /** (last stage name, runs over a parallelized driver list?) of
    * every job `body` runs. */
  private def jobs(body: => Unit): Seq[(String, Boolean)] = {
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    val seen = new ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.stageInfos.maxBy(_.stageId).name,
          e.stageInfos.exists(_.rddInfos.exists(
            _.name == "ParallelCollectionRDD"))))
    }
    sc.addSparkListener(listener)
    try { body; TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  private def inference(js: Seq[(String, Boolean)]): Seq[String] =
    js.collect { case (name, true) if name.startsWith("parquet at ") =>
      name }

  test("read, copy-on-write DELETE and compact infer no schema") {
    val (cat, root) = freshCatalog()
    val dir = s"$root/t"
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $cat.t SELECT id, cast(id AS STRING) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    assert(LakeSchema.fromMeta(VersionedTable.snapshotOf(spark, dir,
      VersionedTable.headVersion(spark, dir).get).meta).isDefined)

    val read = jobs {
      assert(VersionedTable.read(spark, dir).count() === 400L)
      assert(VersionedTable.read(spark, dir).where(col("k") < 150)
        .count() === 150L)
    }
    assert(inference(read).isEmpty, s"read jobs: $read")

    val delete = jobs(spark.sql(s"DELETE FROM $cat.t WHERE k < 50"))
    assert(inference(delete).isEmpty, s"DELETE jobs: $delete")
    assert(delete.nonEmpty, "the delete ran no job at all")

    val compact = jobs(spark.sql(
      s"CALL $cat.system.compact(table => 't', target_files => 1)"))
    assert(inference(compact).isEmpty, s"compact jobs: $compact")
    assert(spark.table(s"$cat.t").count() === 350L)
  }
}
