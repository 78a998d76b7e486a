package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.EventOps

class StreamOpsSpec extends SparkSpec {

  test("streaming tumbling window matches the batch tumbling aggregate") {
    val stream = StreamOps.readEvents(spark, sf)
    // complete mode: append would hold back trailing windows still above
    // the watermark when the bounded stream ends
    val out = StreamOps.runToMemory(spark,
      StreamOps.tumblingCounts(stream), "tumbling_test", "complete")
      .select(unix_timestamp(col("window_start")).as("window_start"),
        col("event_type"), col("n"))
    val batch = EventOps.q25TumblingWindow(spark, sf)
      .select(col("window_start"), col("event_type"), col("n"))
    // batch q25 keys by epoch-second bucket starts — identical keys
    val a = out.orderBy("window_start", "event_type").collect().toSeq
    val b = batch.orderBy("window_start", "event_type").collect().toSeq
    assert(a == b, s"stream/batch mismatch: ${a.take(3)} vs ${b.take(3)}")
  }

  test("streaming session counts per user match batch sessionization") {
    val stream = StreamOps.readEvents(spark, sf)
    val sessions = StreamOps.runToMemory(spark,
      StreamOps.sessionCounts(stream), "session_test", "complete")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"))
    val batch = EventOps.q27Sessionize(spark, sf)
    val a = sessions.orderBy("user_id").collect().toSeq
    val b = batch.select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy("user_id").collect().toSeq
    assert(a == b)
  }

  test("stream-static enrichment join matches the batch join aggregate " +
      "and keeps exactly ONE stateful operator (the window agg — the " +
      "static side must add no state)") {
    val stream = StreamOps.readEvents(spark, sf)
    val dim = graft.Tables(spark, sf, "customer")
    val name = "static_enrich_test"
    val out = StreamOps.runToMemory(spark,
      StreamOps.staticEnrichedCounts(stream, dim), name, "complete")
      .select(unix_timestamp(col("window_start")).as("window_start"),
        col("c_mktsegment"), col("n"))
    val batch = graft.Tables(spark, sf, "events")
      .join(dim, col("user_id") === col("c_custkey"))
      .withColumn("window_start",
        (expr("ts DIV 300000000000") * 300).cast("long"))
      .groupBy(col("window_start"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val a = out.orderBy("window_start", "c_mktsegment").collect().toSeq
    val b = batch.orderBy("window_start", "c_mktsegment").collect().toSeq
    assert(a == b, s"stream/batch mismatch: ${a.take(3)} vs ${b.take(3)}")
    // one stateful operator only: the static join must not register state
    val p = StreamOps.lastProgressOf(name)
    assert(p.isDefined, "drain should record a last progress")
    assert(p.get.stateOperators.length == 1,
      s"static join added stream state: ${p.get.stateOperators.length} ops")
  }

  test("stream-stream interval join matches the batch interval join") {
    val stream = StreamOps.readEvents(spark, sf)
    val out = StreamOps.runToMemory(spark,
      StreamOps.clickPurchaseJoin(stream), "join_test")
      .select("user_id", "click_id", "purch_id", "delay_s")
    // batch form of the same interval join on the µs event table
    val e = graft.Tables(spark, sf, "events")
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts_us").as("c_us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purch_id"), col("user_id").as("p_user"),
        col("ts_us").as("p_us"))
    val batch = c.join(p, col("user_id") === col("p_user") &&
        col("p_us") >= col("c_us") &&
        col("p_us") <= col("c_us") + 600000000L)
      .select(col("user_id"), col("click_id"), col("purch_id"),
        (col("p_us") / 1000000).cast("long") -
          (col("c_us") / 1000000).cast("long") as "delay_s")
    val a = out.orderBy("user_id", "click_id", "purch_id").collect().toSeq
    val b = batch.orderBy("user_id", "click_id", "purch_id").collect().toSeq
    assert(a.nonEmpty && a == b, s"stream/batch mismatch: ${a.take(3)} vs ${b.take(3)}")
  }

  test("conversion funnel matches the batch funnel computation") {
    val stream = StreamOps.readEvents(spark, sf)
    val out = StreamOps.runToMemory(spark,
      StreamOps.conversionFunnel(spark, stream), "funnel_test")
    val e = graft.Tables(spark, sf, "events")
    val s = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("signup_us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_us").as("p_us"),
        floor(col("value") * 100).cast("long").as("c"))
    val batch = s.join(p, col("user_id") === col("p_user") &&
        col("p_us") >= col("signup_us"), "left")
      .groupBy(col("user_id"), col("signup_us"))
      .agg(count(col("p_us")).as("n_purch"),
        coalesce(sum(col("c")), lit(0L)).as("cents"))
    val a = out.select("user_id", "signup_us", "n_purch", "cents")
      .orderBy("user_id").collect().toSeq
    val b = batch.select("user_id", "signup_us", "n_purch", "cents")
      .orderBy("user_id").collect().toSeq
    assert(a.nonEmpty && a == b, s"stream/batch mismatch: ${a.take(3)} vs ${b.take(3)}")
  }

  test("stateful dedup keeps one row per (user, type)") {
    val stream = StreamOps.readEvents(spark, sf)
    val out = StreamOps.runToMemory(spark,
      StreamOps.dedupWithinWatermark(stream), "dedup_test")
    val keys = out.select("user_id", "event_type").distinct().count()
    assert(out.count() == keys)
    val batchKeys = EventOps.q28EventDedup(spark, sf).count()
    assert(keys == batchKeys)
  }

  test("RocksDB state-store provider: same stateful query, same results " +
      "as the default HDFS-backed provider; session conf restored") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(providerKey) // the session default
    assert(!before.exists(_.contains("RocksDB")))
    // q47 shape (stateful dedup) on both providers
    val rocks = StreamOps.runToMemory(spark,
      StreamOps.dedupWithinWatermark(StreamOps.readEvents(spark, sf)),
      "dedup_rocksdb",
      stateStoreProvider = Some(StreamOps.RocksDBProvider))
      .select("event_id").orderBy("event_id").collect().toSeq
    val default = StreamOps.runToMemory(spark,
      StreamOps.dedupWithinWatermark(StreamOps.readEvents(spark, sf)),
      "dedup_default")
      .select("event_id").orderBy("event_id").collect().toSeq
    assert(rocks.nonEmpty)
    assert(rocks == default)
    // the provider override did not leak into the session
    assert(spark.conf.getOption(providerKey) == before)
  }

  test("q159 processing-time timers: idle-key flush emits each key " +
      "exactly once with totals equal to the batch aggregate, " +
      "repeat-run deterministic on RocksDB") {
    // transformWithState timers NEED multiple column families, which
    // only RocksDB provides (the HDFS provider refuses with
    // STATE_STORE_MULTIPLE_COLUMN_FAMILIES) — so the parity pin here
    // is batch-equivalence + rerun determinism, not cross-provider.
    import graft.ops.EventOps
    val rocks = Some(StreamOps.RocksDBProvider)
    val run1 = EventOps.idleFlushCore(spark, sf, rocks).collect().toSeq
    val run2 = EventOps.idleFlushCore(spark, sf, rocks).collect().toSeq
    assert(run1.nonEmpty)
    assert(run1 == run2, "wall-clock timing must never change WHAT flushes")
    // exactly-once flush: one row per input key
    assert(run1.map(_.getLong(0)).distinct.size == run1.size)
    // the flushed totals are exactly the batch aggregate of the input
    val batch = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value*100) AS BIGINT)")).as("cents"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run1.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == batch)
  }

  test("RocksDB provider parity on a second state shape: session-window " +
      "aggregation matches the HDFS-backed provider row for row") {
    // session windows keep merge-able per-key window state — a different
    // state-store column-family layout than dedup's key-presence state,
    // so provider parity on the q47 shape alone doesn't cover it
    def run(name: String, provider: Option[String]) = {
      val df = StreamOps.runToMemory(spark,
        StreamOps.sessionCounts(StreamOps.readEvents(spark, sf)),
        name, "complete", stateStoreProvider = provider)
      df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq
    }
    val rocks = run("session_rocksdb", Some(StreamOps.RocksDBProvider))
    val default = run("session_default", None)
    assert(rocks.nonEmpty)
    assert(rocks == default)
  }

  test("RocksDB provider parity on join state: the left-outer stream join " +
      "(matched rows AND watermark-finalized null rows) matches HDFS") {
    // stream-stream join state is a third column-family layout (per-side
    // keyed row buffers + matched flags); the outer join additionally
    // exercises eviction-time null-row generation on both providers
    def run(name: String, provider: Option[String]) =
      StreamOps.runToMemory(spark,
        StreamOps.clickPurchaseLeftJoin(StreamOps.readEvents(spark, sf)),
        name, stateStoreProvider = provider)
        .select("user_id", "click_id", "purch_id", "delay_s")
        .orderBy("user_id", "click_id", "purch_id").collect().toSeq
    val rocks = run("outer_join_rocksdb", Some(StreamOps.RocksDBProvider))
    val default = run("outer_join_default", None)
    assert(rocks.nonEmpty)
    assert(rocks == default)
  }

  test("transformWithState funnel (Spark 4 StatefulProcessor, RocksDB " +
      "column-family state) matches the flatMapGroupsWithState funnel") {
    def run(df: org.apache.spark.sql.DataFrame, name: String,
        provider: Option[String]) =
      StreamOps.runToMemory(spark, df, name, stateStoreProvider = provider)
        .select("user_id", "signup_us", "n_purch", "cents")
        .orderBy("user_id").collect().toSeq
    val tws = run(
      StreamOps.funnelTws(spark, StreamOps.readEvents(spark, sf)),
      "funnel_tws", Some(StreamOps.RocksDBProvider))
    val fmgws = run(
      StreamOps.conversionFunnel(spark, StreamOps.readEvents(spark, sf)),
      "funnel_fmgws", None)
    assert(tws.nonEmpty)
    assert(tws == fmgws)
  }

  test("streaming ingest is exactly-once: batch replay overwrites " +
      "instead of double-appending, content matches the batch read") {
    val uri = freshDir("staged")
    val ckpt = freshDir("ckpt")
    val stream = StreamOps.readEvents(spark, sf)
    val q = StreamOps.ingestPlanes(stream, uri, ckpt)
    try q.processAllAvailable() finally q.stop()
    def fingerprint(): (Long, Long) = {
      val r = spark.read.parquet(uri)
        .agg(count(lit(1)), sum(col("event_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val afterRun = fingerprint()
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .agg(count(lit(1)), sum(col("event_id"))).head()
    assert(afterRun == ((batch.getLong(0), batch.getLong(1))))
    // simulate post-crash redelivery: the SAME batch id arrives again
    // (even with different partial content) — the overwrite layout keeps
    // the store consistent instead of double-appending
    val batchIds = new java.io.File(uri).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName)
    assert(batchIds.nonEmpty)
    val replayId = batchIds.head.stripPrefix("batch=").toLong
    val redelivered = spark.read.parquet(s"$uri/batch=$replayId").cache()
    assert(redelivered.count() > 0)
    StreamOps.idempotentBatchWriter(uri)(redelivered, replayId)
    redelivered.unpersist(blocking = false)
    assert(fingerprint() == afterRun)
  }

  test("checkpoint restart recovers dedup state: duplicates re-sent " +
      "after a stop/start cycle are suppressed by the RECOVERED state, " +
      "new keys still pass") {
    import spark.implicits._
    val src = freshDir("src")
    val ckpt = freshDir("ckpt")
    val out = freshDir("rows")
    val t0 = new java.sql.Timestamp(1700000000000L)
    Seq((1L, t0), (2L, t0), (3L, t0)).toDF("k", "ts_utc")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts_utc", "1 hour")
        .dropDuplicates("k")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // run 1: keys 1..3 pass, state records them, query STOPS
    // run 2 (fresh query object, same checkpoint): 2 and 3 are
    // redelivered alongside new key 4 — only recovered state can know
    // they were already emitted
    Seq((2L, t0), (3L, t0), (4L, t0)).toDF("k", "ts_utc")
      .coalesce(1).write.mode("append").parquet(src)
    drain()
    val got = spark.read.parquet(out).select(col("k"))
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L),
      s"restart must resume from checkpointed state, got $got")
  }

  test("watermark observability: a late row is dropped, counted in " +
      "numRowsDroppedByWatermark, and absent from the result") {
    import spark.implicits._
    // two parquet drops through one checkpointed query: batch 1 advances
    // the watermark past batch 2's late row — the engine must drop it
    // AND account for it (silent late-data loss is the #1 streaming
    // correctness incident; the metric is the only way to see it)
    val src = freshDir("src")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    Seq((1L, ts(1000)), (1L, ts(2000))).toDF("user_id", "ts_utc")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts_utc", "10 seconds")
      .groupBy(window(col("ts_utc"), "10 seconds"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("wm_drop_test")
      .outputMode("update").start()
    val dropped =
      try {
        q.processAllAvailable() // batch 1: watermark -> 2000s - 10s
        // late row at 100s, plus an on-time row that must still land
        Seq((1L, ts(100)), (1L, ts(2005))).toDF("user_id", "ts_utc")
          .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable() // batch 2: the 100s row is late
        q.recentProgress
          .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      } finally q.stop()
    assert(dropped == 1L,
      s"exactly the one late row must be counted dropped, got $dropped")
    val starts = spark.table("wm_drop_test")
      .select(unix_timestamp(col("window.start")).as("s"))
      .as[Long].collect().toSet
    assert(!starts.contains(100L),
      s"late row leaked into results: windows $starts")
    assert(starts.contains(2000L),
      s"on-time row of the same batch must land: windows $starts")
  }

  test("q174 streaming ExactSubstr: the drained stream screen equals " +
      "the q171 batch screen row-for-row") {
    val streamed = graft.ops.DedupOps.q174StreamSubstr(spark, sf)
      .collect().toSeq
    val batch = graft.ops.DedupOps.q171IncrementalSubstr(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty, "fixture must contain contaminated docs")
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
  }
}
