package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided star schema (see /root/repo/TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst predicate pushdown and
  * column pruning reach the file source untouched.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n        => spark.read.parquet(s"$dir/$n.parquet")
    }

  /** Read a table guaranteeing at least the session's default parallelism
    * of partitions. A Parquet row group is the minimum split unit, so a
    * small single-row-group file scans as ONE partition and pins every
    * downstream expression to one core — the harness's sf files are
    * exactly that shape. At production scale the scan already has ≥
    * parallelism row groups and this inserts NO shuffle; use it for
    * CPU-bound per-row work (hashing, shingling, signatures) where a
    * one-time round-robin of a small input is free relative to the
    * compute it unlocks. */
  def balanced(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** events.ts has shipped as parquet TIMESTAMP(NANOS,false) in some
    * harness drops and TIMESTAMP(MICROS,false) in others. Whatever the
    * physical type, normalize to ONE engine-parity time base:
    *   - ts:     int64 nanoseconds since epoch (downstream ops and the
    *             DuckDB oracles both do `ts DIV 1000` / `epoch_ns(ts)`,
    *             which agree on this base for either source type)
    *   - ts_us:  microseconds since epoch (matches DuckDB, which reads
    *             both physical types at microsecond precision)
    *   - ts_utc: a proper TimestampType column for time-window/streaming
    * The session time zone is pinned to UTC (GraftSession/SparkSpec), so
    * the NTZ→instant cast is the identity DuckDB's epoch functions use. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw
      .withColumn("ts", tsAsNanos(raw.schema("ts").dataType))
      .withColumn("ts_us", expr("ts DIV 1000"))
      .withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
  }

  /** Rewrite a `ts` column of any of the three observed physical types to
    * int64 nanos. Micros×1000 is exact in int64 until year 2262 — the
    * same bound the NANOS physical type itself has. */
  def tsAsNanos(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    dt match {
      case LongType            => col("ts") // legacy nanosAsLong read
      case _: TimestampNTZType =>
        unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
      case _: TimestampType    => unix_micros(col("ts")) * lit(1000L)
      case other => throw new IllegalStateException(
        s"unexpected events.ts physical type: ${other.catalogString}")
    }
  }
}
