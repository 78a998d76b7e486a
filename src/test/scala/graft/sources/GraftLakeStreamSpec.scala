package graft.sources

import org.apache.spark.sql.functions.{col, max, sum}

import graft.SparkSpec

/** Manifest-derived lake streaming: version offsets, snapshot-then-
  * delta delivery, per-version append contract, and the streaming
  * CHANGE FEED (op-tagged row deltas including merge-on-read delete
  * content) — the composition of q166's batch diff with q182's
  * incremental delivery. */
class GraftLakeStreamSpec extends SparkSpec {

  private def drain(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val name = scratch().name("gls")
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("change feed emits op-tagged deltas incl. MoR delete content; folding reconstructs state") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    val dir = s"$root/t"
    // v0: initial load (two files)
    VersionedTable.commit(spark,
      (0 until 20).map(i => (i.toLong, s"v0-$i")).toDF("k", "s")
        .repartition(2), dir, carryForward = false)
    // v1: append
    VersionedTable.commit(spark,
      (20 until 25).map(i => (i.toLong, s"v1-$i")).toDF("k", "s"), dir)
    // v2: COW delete (rewrites touched files; k<3 removed)
    spark.sql(s"DELETE FROM $cat.t WHERE k < 3")
    // v3: MoR delete (masks only; k in [10,12) removed)
    VersionedTable.deleteWhereMergeOnRead(spark, dir,
      col("k") >= 10L && col("k") < 12L)
    val feed = drain(VersionedTable.changeFeedStream(spark, dir))
    assert(feed.columns.takeRight(2).toSeq ===
      Seq("_change_type", "_commit_version"))
    // MoR delete content surfaced with the right tag and version
    val morDeletes = feed
      .filter(col("_change_type") === "delete" &&
        col("_commit_version") === 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(morDeletes.toSeq === Seq((10L, "v0-10"), (11L, "v0-11")))
    // the COW rewrite emits the replaced file's rows as deletes and
    // its survivors as re-inserts at the same version
    assert(feed.filter(col("_commit_version") === 2 &&
      col("_change_type") === "delete").count() > 0)
    assert(feed.filter(col("_commit_version") === 2 &&
      col("_change_type") === "insert").count() > 0)
    // folding ops per key in version order reconstructs the final
    // state exactly (same-version insert+delete: insert wins — a
    // rewrite re-asserts the row)
    val latest = feed.withColumn("maxv",
      max(col("_commit_version"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("k")))
      .filter(col("_commit_version") === col("maxv"))
    val reconstructed = latest
      .groupBy(col("k"))
      .agg(max(org.apache.spark.sql.functions
        .when(col("_change_type") === "insert", col("s"))).as("s"))
      .filter(col("s").isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val actual = VersionedTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(reconstructed === actual)
    assert(actual.size === 20) // 25 - 3 (COW) - 2 (MoR)
  }

  test("cdc key: change feed pairs rewrite legs into update pre/post images") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, grp STRING, v BIGINT) " +
      "PARTITIONED BY (grp) " +
      "TBLPROPERTIES('graft.cdc.key'='k')")
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "b", 40L))
      .toDF("k", "grp", "v").createOrReplaceTempView("glsu_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM glsu_src") // v1
    // UPDATE rewrites only partition 'a' (group-filtered COW); with
    // the declared key the feed pairs its legs into update images
    spark.sql(s"UPDATE $cat.t SET v = v + 1000 WHERE grp = 'a'") // v2
    // MERGE: one matched update, one unmatched insert           // v3
    Seq((2L, "a", 9999L), (5L, "c", 50L)).toDF("k", "grp", "v")
      .createOrReplaceTempView("glsu_batch")
    spark.sql(s"MERGE INTO $cat.t AS t USING glsu_batch AS s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val feed = drain(VersionedTable.changeFeedStream(spark, s"$root/t"))
    val v2 = feed.filter(col("_commit_version") === 2)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        r.getString(feed.columns.indexOf("_change_type")))).sorted.toSeq
    assert(v2 === Seq((1L, 10L, "update_preimage"),
      (1L, 1010L, "update_postimage"),
      (2L, 20L, "update_preimage"),
      (2L, 1020L, "update_postimage")), s"v2 feed: $v2")
    // MERGE: matched key pairs, new key stays a plain insert
    val v3 = feed.filter(col("_commit_version") === 3)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        r.getString(feed.columns.indexOf("_change_type")))).sorted.toSeq
    assert(v3.contains((5L, 50L, "insert")), s"v3 feed: $v3")
    assert(v3.contains((2L, 9999L, "update_postimage")), s"v3 feed: $v3")
    assert(v3.contains((2L, 1020L, "update_preimage")), s"v3 feed: $v3")
    // subtract-then-add over the images reconstructs the final sum
    val folded = feed.collect().map { r =>
      val op = r.getString(feed.columns.indexOf("_change_type"))
      val sign = if (op == "insert" || op == "update_postimage") 1L else -1L
      sign * r.getLong(2)
    }.sum
    val actual = spark.sql(s"SELECT sum(v) FROM $cat.t")
      .collect()(0).getLong(0)
    assert(folded === actual, s"incremental fold $folded != $actual")
    // without the property the same history stays insert/delete
    val (cat2, root2) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat2.t (k BIGINT, grp STRING, v BIGINT) " +
      "PARTITIONED BY (grp)")
    spark.sql(s"INSERT INTO $cat2.t SELECT * FROM glsu_src")
    spark.sql(s"UPDATE $cat2.t SET v = v + 1000 WHERE grp = 'a'")
    val plain = drain(
      VersionedTable.changeFeedStream(spark, s"$root2/t"))
    val ops = plain.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSet
    assert(ops.subsetOf(Set("insert", "delete")), s"got ops $ops")
  }

  test("startingVersion replays per-version deltas, not a snapshot") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark, Seq((1L, "a")).toDF("k", "s"), dir)
    VersionedTable.commit(spark, Seq((2L, "b")).toDF("k", "s"), dir)
    VersionedTable.commit(spark, Seq((3L, "c")).toDF("k", "s"), dir)
    // replay from v1: v0's rows never appear
    val feed = drain(spark.readStream.format("graft-lake")
      .option("dir", dir).option("startingVersion", "1").load())
    assert(feed.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
  }

  test("a vacuumed version in the streamed range fails with the retention message") {
    import spark.implicits._
    val dir = freshDir()
    (0 until 4).foreach { i =>
      VersionedTable.commit(spark,
        Seq((i.toLong, s"r$i")).toDF("k", "s"), dir)
    }
    VersionedTable.vacuum(spark, dir, keep = 1, graceMs = 0L)
    val err = intercept[Exception] {
      drain(spark.readStream.format("graft-lake")
        .option("dir", dir).option("startingVersion", "0").load())
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(err).exists(_.contains("vacuumed")),
      s"expected retention error, got: ${msgs(err).mkString(" | ")}")
    // snapshot-mode start (no startingVersion) is unaffected: it pins
    // the CURRENT snapshot, which retention always keeps
    assert(drain(VersionedTable.readStream(spark, dir)).count() === 4)
  }

  test("native streaming sink: writeStream.toTable commits one version " +
      "per epoch; batch SQL and time travel read the streamed table") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)](
        implicitly[org.apache.spark.sql.Encoder[(Long, Long)]],
        spark.sqlContext)
    val q = ms.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation", s"$root/_ckpt")
      .toTable(s"$cat.t")
    try {
      ms.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable() // epoch 0 -> v1
      ms.addData((3L, 30L))
      q.processAllAvailable() // epoch 1 -> v2
      assert(spark.sql(s"SELECT sum(v) FROM $cat.t").collect()(0)
        .getLong(0) === 60L)
      // each epoch is a first-class version: time travel serves it
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
        .collect()(0).getLong(0) === 2L)
      assert(VersionedTable.latestVersion(spark, s"$root/t") === Some(2))
      // an empty epoch publishes nothing
      q.processAllAvailable()
      assert(VersionedTable.latestVersion(spark, s"$root/t") === Some(2))
    } finally q.stop()
    // the streamed table is a normal lake table: batch INSERT composes
    spark.sql(s"INSERT INTO $cat.t VALUES (4, 40)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 4L)
  }

  test("epoch replay publishes no duplicate version and no duplicate rows") {
    import org.apache.spark.sql.catalyst.InternalRow
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    val dir = s"$root/t"
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "replay-spec-query"
      override def schema(): org.apache.spark.sql.types.StructType =
        rowSchema
      override def options()
          : org.apache.spark.sql.util.CaseInsensitiveStringMap =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
    }
    val t = new GraftLakeTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "t"), dir, None)
    val sw = t.newWriteBuilder(info).build().toStreaming
    val phys = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }
    def commitEpoch(epoch: Long, values: Seq[Long]): Unit = {
      val f = sw.createStreamingWriterFactory(phys)
      val w = f.createWriter(0, epoch, epoch)
      values.foreach(v => w.write(InternalRow(v)))
      sw.commit(epoch, Array(w.commit()))
    }
    commitEpoch(7L, Seq(1L, 2L))
    val vAfter = VersionedTable.latestVersion(spark, dir)
    // the checkpoint lost our commit and the engine replays epoch 7:
    // the snapshot's epoch marker wins — same version, no extra rows
    commitEpoch(7L, Seq(1L, 2L))
    assert(VersionedTable.latestVersion(spark, dir) === vAfter)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 2L)
    // progress resumes on the NEXT epoch
    commitEpoch(8L, Seq(3L))
    assert(VersionedTable.latestVersion(spark, dir) ===
      vAfter.map(_ + 1))
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === 6L)
  }

  test("streaming into a clustered table range-shuffles each epoch " +
      "(RequiresDistributionAndOrdering on the streaming write)") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('graft.write.ordered-by'='k')")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long](
        implicitly[org.apache.spark.sql.Encoder[Long]],
        spark.sqlContext)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    // streaming queries pin confs at START — set before toTable
    spark.conf.set(coalesceKey, "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = ms.toDS().toDF("k").repartition(4).writeStream
      .option("checkpointLocation", s"$root/_ckpt")
      .toTable(s"$cat.t")
    try {
      ms.addData(scala.util.Random.shuffle((0L until 400L).toList): _*)
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.set(coalesceKey, prevCoalesce)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    val rs = VersionedTable.snapshotOf(spark, s"$root/t", v)
      .stats.values.filter(_.rowCount > 0)
      .map(st => (st.cols("k").min.get.asInstanceOf[Long],
        st.cols("k").max.get.asInstanceOf[Long])).toSeq.sortBy(_._1)
    assert(rs.size > 1, s"need multiple epoch files, got $rs")
    rs.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping epoch file ranges: $rs")
      case _ => ()
    }
  }

  test("end-to-end pipe: stream INTO the table (native sink), change " +
      "feed OUT — the drained feed folds back to the table's state") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long](
        implicitly[org.apache.spark.sql.Encoder[Long]],
        spark.sqlContext)
    val q = ms.toDS().toDF("k").writeStream
      .option("checkpointLocation", s"$root/_ckpt")
      .toTable(s"$cat.t")
    try {
      ms.addData(1L, 2L); q.processAllAvailable()
      ms.addData(3L); q.processAllAvailable()
    } finally q.stop()
    // a DELETE after ingestion, so the feed carries both ops
    spark.sql(s"DELETE FROM $cat.t WHERE k = 2")
    val feed = drain(VersionedTable.changeFeedStream(spark, s"$root/t",
      maxVersionsPerTrigger = 8))
    val live = feed.withColumn("maxv",
      max(col("_commit_version"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("k")))
      .filter(col("_commit_version") === col("maxv") &&
        col("_change_type") === "insert")
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
    assert(live === Seq(1L, 3L))
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === live)
  }

  test("live appends drain one version per trigger after the snapshot batch") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark, Seq((1L, 1L)).toDF("k", "v"), dir)
    val name = scratch().name("gls_inc")
    val q = VersionedTable.readStream(spark, dir)
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() === 1)
      VersionedTable.commit(spark, Seq((2L, 2L)).toDF("k", "v"), dir)
      VersionedTable.commit(spark, Seq((3L, 3L)).toDF("k", "v"), dir)
      q.processAllAvailable()
      assert(spark.table(name).count() === 3)
      // offsets advanced through BOTH live versions
      val progress = q.lastProgress
      assert(progress != null)
    } finally q.stop()
  }
}
