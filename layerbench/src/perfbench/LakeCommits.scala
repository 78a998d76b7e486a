package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{GraftLakeCatalog, VersionedTable}

/** The lakehouse write path: one cycle is INSERT, MERGE (upsert), DELETE of
  * the oldest key range, UPDATE, one AvailableNow streaming micro-batch,
  * compact + vacuum, and a VERSION AS OF read. After every commit the table
  * head is read and compared with an in-memory model of the rows; the
  * time-travel read is compared with the model as of that version. */
final class LakeCommits(spark: SparkSession, seed: Long) extends Workload {
  import LakeCommits._
  import ImageIo.{check, walk}

  private type Model = Map[Long, (String, Long)]

  private val cat = "perfbench_lake"
  private var root: File = _
  private var staging: File = _
  private var model: Model = Map.empty
  private val versions = mutable.Map.empty[Int, Model]
  private var nextKey = 0L
  private var nextStaged = 0
  private val rnd = new Random(seed)

  private def table: String = s"$cat.t"
  private def tableDir: File = new File(root, "t")

  def prepare(dir: File): Unit = {
    root = new File(dir, "lake")
    staging = new File(dir, "staging")
    staging.mkdirs()
    register(cat, root)
    spark.sql(s"CREATE TABLE $table (k BIGINT, v STRING, n BIGINT)")
    commit("sources.append_ms")(insert(Window))
  }

  private def register(name: String, at: File): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", at.getPath)
  }

  private def row(): (String, Long) =
    (rnd.alphanumeric.take(16 + rnd.nextInt(17)).mkString, rnd.nextLong() >>> 8)

  private def source(rows: Seq[(Long, (String, Long))]): Unit =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, (v, n)) => Row(k, v, n) }: _*),
      Schema).createOrReplaceTempView("perfbench_src")

  private def payload(rows: Iterable[(Long, (String, Long))]): Long =
    rows.iterator.map { case (_, (v, _)) => 16L + v.length }.sum

  /** New keys [nextKey, nextKey + n) with seeded values. */
  private def fresh(n: Int): Seq[(Long, (String, Long))] = {
    val rows = (nextKey until nextKey + n).map(k => k -> row())
    nextKey += n
    rows
  }

  private def insert(n: Int): Long = {
    val rows = fresh(n)
    source(rows)
    spark.sql(s"INSERT INTO $table SELECT k, v, n FROM perfbench_src")
    model ++= rows
    payload(rows)
  }

  /** Runs one commit under `span`, checks the head against the model,
    * records the version, and (while tracing) the files and bytes the
    * commit added, from walks of the table directory that run under their
    * own span so op-level times can leave them out. `body` returns the raw
    * bytes of the rows it wrote. */
  private def commit(span: String)(body: => Long): Unit = {
    val before = if (Trace.on) Trace.span(Trace.Walk)(walk(tableDir)).map(_.getPath).toSet
      else Set.empty[String]
    val userBytes = Trace.span(span)(body)
    if (Trace.on) {
      val added = Trace.span(Trace.Walk)(walk(tableDir)).filterNot(f => before(f.getPath))
      Trace.count("sources.files", added.size)
      Trace.count("sources.bytes", added.map(_.length).sum)
      Trace.count("sources.user_bytes", userBytes)
      Trace.count("sources.commits", 1)
    }
    Trace.span("sources.read_ms")(checkRows(spark.sql(s"SELECT k, v, n FROM $table").collect(), model, "head"))
    VersionedTable.latestVersion(spark, tableDir.getPath).foreach { v =>
      versions(v) = model
      versions.keys.filter(_ <= v - Keep).foreach(versions.remove)
    }
  }

  private def checkRows(rows: Array[Row], want: Model, what: String): Unit = {
    val got = rows.map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    check(rows.length == got.size && got == want,
      s"$what has ${rows.length} rows, model ${want.size}; " +
        s"${(got.toSet diff want.toSet).size} unexpected")
  }

  def cycle(c: Int): Seq[Op] = Seq(
    Op("insert", () => { commit("sources.append_ms")(insert(Batch)); "" }),
    Op("merge", () => {
      commit("sources.merge_ms") {
        val keys = model.keys.toIndexedSeq.sorted
        val old = (0 until Batch / 2).map(_ => keys(rnd.nextInt(keys.size))).distinct
          .map(k => k -> row())
        val rows = old ++ fresh(Batch / 2)
        source(rows)
        spark.sql(
          s"""MERGE INTO $table AS t USING perfbench_src AS s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
             |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)
             |""".stripMargin)
        model ++= rows
        payload(rows)
      }
      ""
    }),
    Op("delete", () => {
      commit("sources.delete_ms") {
        val below = nextKey - Window
        spark.sql(s"DELETE FROM $table WHERE k < $below")
        model = model.filter(_._1 >= below)
        0L
      }
      ""
    }),
    Op("update", () => {
      commit("sources.update_ms") {
        val (r, d) = (rnd.nextInt(UpdateModulus), 1 + rnd.nextInt(1000))
        spark.sql(s"UPDATE $table SET n = n + $d WHERE k % $UpdateModulus = $r")
        val rows = model.collect { case (k, (v, n)) if k % UpdateModulus == r => k -> ((v, n + d)) }
        model ++= rows
        payload(rows)
      }
      ""
    }),
    Op("stream", () => {
      commit("streaming.batch_ms") {
        val rows = fresh(Batch / 2)
        val lines = rows.map { case (k, (v, n)) => s"""{"k":$k,"v":"$v","n":$n}""" }
        Files.write(new File(staging, f"batch$nextStaged%06d.json").toPath,
          lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
        nextStaged += 1
        val q = spark.readStream.schema(Schema).json(staging.getPath)
          .writeStream.queryName(TriggerListener.Prefix + Trace.op)
          .option("checkpointLocation", new File(staging.getParentFile, "checkpoint").getPath)
          .trigger(Trigger.AvailableNow())
          .toTable(table)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        model ++= rows
        payload(rows)
      }
      ""
    }),
    Op("compact", () => {
      commit("sources.compact_ms") {
        spark.sql(s"CALL $cat.system.compact(table => 't', target_files => 1)").collect()
        spark.sql(s"CALL $cat.system.vacuum(table => 't', keep => $Keep, grace_ms => 0L)").collect()
        0L
      }
      ""
    }),
    Op("time_travel", () => {
      val recent = versions.keys.toSeq.sorted.takeRight(Keep - 1)
      val v = recent(rnd.nextInt(recent.size))
      Trace.span("sources.time_travel_ms")(checkRows(
        spark.sql(s"SELECT k, v, n FROM $table VERSION AS OF $v").collect(),
        versions(v), s"version $v"))
      ""
    }))

  def finish(): (Seq[String], Map[String, Double]) = {
    // every acknowledged write must be readable by a catalog that was not
    // part of the run: register a fresh one over the same root
    val reopened = "perfbench_lake_reopen"
    register(reopened, root)
    val failures =
      try {
        checkRows(spark.sql(s"SELECT k, v, n FROM $reopened.t").collect(), model, "reopened table")
        Seq.empty
      } catch { case e: Throwable => Seq(s"reopen: ${e.getMessage}") }
    Seq(cat, reopened).foreach { c =>
      spark.conf.unset(s"spark.sql.catalog.$c")
      spark.conf.unset(s"spark.sql.catalog.$c.root")
    }
    spark.catalog.dropTempView("perfbench_src")
    val files = walk(tableDir)
    (failures, Map("disk_bytes" -> files.map(_.length).sum.toDouble,
      "user_bytes" -> payload(model).toDouble, "files" -> files.size.toDouble))
  }
}

object LakeCommits {
  val Schema: StructType = StructType(Seq(StructField("k", LongType),
    StructField("v", StringType), StructField("n", LongType)))
  /** Rows per insert; merge and stream batches are half this. */
  val Batch = 200
  /** Live key window: each DELETE removes keys older than this. */
  val Window = 1000
  val UpdateModulus = 10
  /** Versions vacuum keeps: more than one cycle's commits. */
  val Keep = 8
}
