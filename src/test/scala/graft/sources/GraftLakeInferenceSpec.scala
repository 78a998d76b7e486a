package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Inference census: on a table whose manifest records its schema, a
  * snapshot read, `CALL compact`, and the commits that publish files
  * Spark wrote (DELETE, UPDATE, MERGE, a streaming-sink trigger) run
  * no `mergeSchema` footer-inference job: a commit records the schema
  * it wrote, which must equal what the files' footers say. A job is
  * named by its last
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

  test("DELETE, UPDATE, MERGE and a streaming-sink trigger infer no schema") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    def noInference(what: String)(body: => Unit): Unit = {
      val js = jobs(body)
      assert(js.nonEmpty, s"the $what ran no job at all")
      assert(inference(js).isEmpty, s"$what jobs: $js")
    }
    noInference("DELETE")(spark.sql(s"DELETE FROM $cat.t WHERE k < 50"))
    noInference("UPDATE")(
      spark.sql(s"UPDATE $cat.t SET v = -1 WHERE k >= 390"))
    Seq((5L, 7L), (1000L, 8L)).toDF("k", "v")
      .createOrReplaceTempView("glinf_merge_src")
    noInference("MERGE")(spark.sql(
      s"""MERGE INTO $cat.t AS t USING glinf_merge_src AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |""".stripMargin))
    spark.catalog.dropTempView("glinf_merge_src")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)](
        implicitly[org.apache.spark.sql.Encoder[(Long, Long)]],
        spark.sqlContext)
    val q = ms.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation", s"$root/_ckpt")
      .toTable(s"$cat.t")
    try {
      ms.addData((2000L, 1L), (2001L, 2L))
      noInference("stream trigger")(q.processAllAvailable())
    } finally q.stop()
    assert(spark.sql(s"SELECT count(*), sum(v) FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((354L, (50L until 400L).map(k => if (k >= 390) -1L else k * 10)
        .sum + 7L + 8L + 1L + 2L)))
  }

  /** Name → type of every column the parquet footers of `files` hold,
    * converted the way Spark reads them. */
  private def footerUnion(files: Seq[String])
      : Map[String, org.apache.spark.sql.types.DataType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val conv = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf)
    files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try conv.convert(r.getFooter.getFileMetaData.getSchema).fields
        .map(c => c.name.toLowerCase -> c.dataType)
      finally r.close()
    }.toMap
  }

  /** The recorded schema of `dir`'s head next to the footer union of
    * the files its last commit added. */
  private def recordedVsFresh(dir: String) = {
    val v = VersionedTable.headVersion(spark, dir).get
    val cur = VersionedTable.snapshotOf(spark, dir, v)
    val prev = VersionedTable.snapshotOf(spark, dir, v - 1).dataFiles.toSet
    val fresh = cur.dataFiles.filterNot(prev)
    assert(fresh.nonEmpty, s"v$v added no file")
    val rec = LakeSchema.fromMeta(cur.meta).getOrElse(
      fail(s"v$v records no schema")).fields
      .map(c => c.name.toLowerCase -> c.dataType).toMap
    (rec, footerUnion(fresh))
  }

  test("the recorded schema equals the fresh files' footers after " +
      "DELETE, lineage UPDATE, partitioned MERGE and a stream append") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.d (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.d SELECT id, cast(id AS STRING) " +
      "FROM range(0, 100)")
    spark.sql(s"DELETE FROM $cat.d WHERE k < 10")
    val (dRec, dFresh) = recordedVsFresh(s"$root/d")
    assert(dRec === dFresh)

    spark.sql(s"CREATE TABLE $cat.l (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.row.lineage'='true')")
    spark.sql(s"INSERT INTO $cat.l SELECT id, id FROM range(0, 100)")
    spark.sql(s"UPDATE $cat.l SET v = 0 WHERE k < 10")
    val (lRec, lFresh) = recordedVsFresh(s"$root/l")
    assert(lRec === lFresh)
    assert(lRec.contains(LakeRowLineage.PhysRowId.toLowerCase),
      s"lineage columns unrecorded: $lRec")

    spark.sql(s"CREATE TABLE $cat.p (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.p SELECT id, 'a' FROM range(0, 100)")
    Seq((3L, "b"), (500L, "c")).toDF("k", "v")
      .createOrReplaceTempView("glinf_pmerge_src")
    spark.sql(
      s"""MERGE INTO $cat.p AS t USING glinf_pmerge_src AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |""".stripMargin)
    spark.catalog.dropTempView("glinf_pmerge_src")
    val (pRec, pFresh) = recordedVsFresh(s"$root/p")
    assert(pRec === pFresh)
    assert(!pRec.keys.exists(_.startsWith(LakePartitioning.PartColPrefix)))

    spark.sql(s"CREATE TABLE $cat.s (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.s VALUES (0, 0)")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)](
        implicitly[org.apache.spark.sql.Encoder[(Long, Long)]],
        spark.sqlContext)
    val q = ms.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation", s"$root/_ckpt_s")
      .toTable(s"$cat.s")
    try { ms.addData((1L, 1L)); q.processAllAvailable() }
    finally q.stop()
    val (sRec, sFresh) = recordedVsFresh(s"$root/s")
    assert(sRec === sFresh)
  }
}
