package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Query operators over the read-only star schema: one op builds one
  * query key, plans it, runs it and digests its rows. Each cycle runs every
  * key once, in an order drawn from the seed. The digests are compared,
  * after the run, with digests of the DuckDB oracle SQL's results. */
final class CorpusQueries(spark: SparkSession, seed: Long, dataDir: String)
    extends Workload {
  import CorpusQueries._

  def prepare(dir: File): Unit = {
    // the oracle SQL of the keys, for the golden digests computed after
    // the run, and the tables' schemas (file listing and footer reads)
    val sql = Keys.map(k => k -> SparkEntry.oracleSql(k)).toMap
    Files.write(new File(dir, "oracle_sql.json").toPath,
      Main.json(sql).getBytes(StandardCharsets.UTF_8))
    Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
  }

  def cycle(c: Int): Seq[Op] =
    new Random(seed * 1000003L + c).shuffle(Keys).map(k => Op(k, () => run(k)))

  private def run(key: String): String = {
    val df = Trace.span("ops.build_ms")(SparkEntry.queries(key)(spark, dataDir))
    Trace.span("ops.plan_ms")(df.queryExecution.executedPlan)
    val rows = Trace.span("ops.execute_ms")(df.collect())
    spark.catalog.clearCache()
    digest(df.schema, rows)
  }

  def finish(): (Seq[String], Map[String, Double]) = (Seq.empty, Map.empty)
}

object CorpusQueries {
  /** Relational, similarity and text keys whose per-op costs lie in one
    * band (see BENCHMARK.json). */
  val Keys: Seq[String] = Seq("q05_region_revenue", "q38_lsh_buckets",
    "q43_embedding_neardup", "q44_ann_probe", "q72_bm25")
  val Tables: Seq[String] = Seq("region", "nation", "customer", "orders",
    "lineitem", "embeddings", "documents")

  /** Order-insensitive digest: columns sorted by name, values rendered
    * engine-neutrally (floats quantised to 1e-6), rows sorted. `run.py`
    * renders DuckDB rows the same way. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map { r =>
      cols.map { case (_, i) => render(r.get(i)) }.mkString("\u001f")
    }.sorted
    val text = cols.map(_._1).mkString(",") + "\n" + lines.mkString("\n")
    MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => quantise(d)
    case f: Float => quantise(f.toDouble)
    case d: java.math.BigDecimal => quantise(d.doubleValue)
    case other => other.toString
  }

  private def quantise(d: Double): String = math.floor(d * 1e6 + 0.5).toLong.toString
}
