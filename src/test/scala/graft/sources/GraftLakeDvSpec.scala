package graft.sources

import graft.SparkSpec

/** Merge-on-read positional deletes (deletion vectors): zero-rewrite
  * DELETE via (file, row_index) masks, DV-applying reads on both the
  * facade and the catalog scan, carry-forward across appends, compact
  * as the materialize step, and loud refusal of every operation that
  * would resurrect masked rows. */
class GraftLakeDvSpec extends SparkSpec {

  test("facade MoR delete masks rows with zero data rewrite; deletes union") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 10).map(i => (i, s"r$i")).toDF("k", "v"), dir)  // v0
    VersionedTable.commit(spark,
      (100 until 110).map(i => (i, s"r$i")).toDF("k", "v"), dir) // v1
    val dataBefore = VersionedTable.filesOf(spark, dir, 1)
    VersionedTable.deleteWhereMergeOnRead(spark, dir,
      org.apache.spark.sql.functions.col("k") < 3)              // v2
    val s2 = VersionedTable.snapshotOf(spark, dir, 2)
    assert(s2.dataFiles === dataBefore, "data files were rewritten")
    assert(s2.deleteFiles.nonEmpty)
    assert(VersionedTable.read(spark, dir).count() === 17)
    // second delete UNIONS with the first
    VersionedTable.deleteWhereMergeOnRead(spark, dir,
      org.apache.spark.sql.functions.col("k") >= 105)           // v3
    val s3 = VersionedTable.snapshotOf(spark, dir, 3)
    assert(s3.dataFiles === dataBefore)
    assert(s3.deleteFiles.size > s2.deleteFiles.size)
    assert(VersionedTable.read(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("k")).collect()(0)
      .getLong(0) === ((3 until 10).sum + (100 until 105).sum))
    // pre-delete snapshots still serve everything
    assert(VersionedTable.read(spark, dir, Some(1)).count() === 20)
    // compact MATERIALIZES the masks: clean snapshot, same content
    VersionedTable.compact(spark, dir, 2)                       // v4
    val s4 = VersionedTable.snapshotOf(spark, dir, 4)
    assert(s4.deleteFiles.isEmpty)
    assert(VersionedTable.read(spark, dir).count() === 12)
  }

  test("COW-mode SQL DELETE over outstanding masks records masks") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    val dir = s"$root/t"
    VersionedTable.commit(spark,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), dir)   // v0
    VersionedTable.deleteWhereMergeOnRead(spark, dir,
      org.apache.spark.sql.functions.col("k") === 1)            // v1
    val s1 = VersionedTable.snapshotOf(spark, dir, 1)
    // no graft.delete.mode: the table is copy-on-write, but a rewrite
    // now would have to apply the masks first — the DELETE masks too
    spark.sql(s"DELETE FROM $cat.t WHERE k = 2")                // v2
    val s2 = VersionedTable.snapshotOf(spark, dir, 2)
    assert(s2.dataFiles === s1.dataFiles, "the DELETE rewrote data files")
    assert(s2.deleteFiles.size > s1.deleteFiles.size)
    assert(spark.sql(s"SELECT k FROM $cat.t").collect()
      .map(_.getInt(0)).toSeq === Seq(3))
    assert(VersionedTable.read(spark, dir).collect()
      .map(_.getInt(0)).toSeq === Seq(3))
  }

  test("catalog merge-on-read mode: SQL DELETE writes DVs, reads apply them") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('r', id) " +
      "FROM range(0, 20)")                                      // v1
    val dataBefore = VersionedTable.filesOf(spark, s"$root/t", 1)
    spark.sql(s"DELETE FROM $cat.t WHERE k < 10")               // v2
    val s2 = VersionedTable.snapshotOf(spark, s"$root/t", 2)
    assert(s2.dataFiles === dataBefore, "MoR delete rewrote data files")
    assert(s2.deleteFiles.nonEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 10L)
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === (10 until 20).sum)
    // filters still push and return masked-correct results
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 2").collect()
      .isEmpty)
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 13").collect()
      .map(_.getString(0)).toSeq === Seq("r13"))
    // time travel: pre-delete snapshot unmasked
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .collect()(0).getLong(0) === 20L)
    // footer-count aggregate pushdown must NOT bypass the mask
    val prior = spark.conf.get("spark.sql.parquet.aggregatePushdown",
      "false")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 10L)
    finally spark.conf.set("spark.sql.parquet.aggregatePushdown", prior)
    // appends CARRY the masks
    spark.sql(s"INSERT INTO $cat.t VALUES (1000, 'new')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 11L)
    // UPDATE on outstanding DVs reads LIVE rows through the DV scan
    // and publishes a fully MATERIALIZED clean snapshot (the rewrite
    // doubles as compaction) — masked rows must not resurrect
    spark.sql(s"UPDATE $cat.t SET v = 'x' WHERE k = 13")       // v4
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 11L)
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 13").collect()
      .map(_.getString(0)).toSeq === Seq("x"))
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 2").collect()
      .isEmpty, "masked row resurrected by the rewrite")
    val s4 = VersionedTable.snapshotOf(spark, s"$root/t", 4)
    assert(s4.deleteFiles.isEmpty, "rewrite did not materialize DVs")
    // versions metadata table reports LIVE rows per snapshot
    val meta = spark.sql(s"SELECT version, total_rows " +
      s"FROM $cat.t.versions ORDER BY version").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(meta === Seq((0, 0L), (1, 20L), (2, 10L), (3, 11L),
      (4, 11L)))
  }

  test("lake streaming source delivers commits incrementally; refuses DV tables") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      dir)                                                       // v0
    val name = scratch().name("glc_stream")
    val q = VersionedTable.readStream(spark, dir)
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"v").as("s"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() === 2)
      // a LIVE append surfaces on the next trigger — no restart
      VersionedTable.commit(spark,
        Seq((1L, 5L), (3L, 30L)).toDF("k", "v"), dir)            // v1
      q.processAllAvailable()
      assert(spark.table(name).orderBy($"k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((1L, 15L), (2L, 20L), (3L, 30L)))
      // a MoR delete is NOT append-only: the running plain stream
      // fails AT THAT VERSION'S batch (per-version contract check,
      // not just a creation-time glance at the latest snapshot)
      VersionedTable.deleteWhereMergeOnRead(spark, dir,
        org.apache.spark.sql.functions.col("k") === 2)             // v2
      val err = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(err).exists(_.contains("not append-only")),
        s"expected per-version refusal, got: ${msgs(err).mkString(" | ")}")
    } finally q.stop()
    // a FRESH stream on the DV table starts from the pinned snapshot
    // with masks APPLIED — deleted rows never enter the stream
    val name2 = scratch().name("glc_stream")
    val q2 = VersionedTable.readStream(spark, dir)
      .writeStream.format("memory").queryName(name2)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
        Seq((1L, 5L), (1L, 10L), (3L, 30L)))
    } finally q2.stop()
  }

  test("shallow clone preserves masks; vacuum keeps referenced DV files") {
    import spark.implicits._
    val dir = freshDir()
    val cloneDir = freshDir()
    VersionedTable.commit(spark,
      (0 until 10).map(i => (i.toLong, i.toLong)).toDF("k", "v"), dir)
    VersionedTable.deleteWhereMergeOnRead(spark, dir,
      org.apache.spark.sql.functions.col("k") < 4)              // v1
    // clone references BOTH data and delete files: same live view
    VersionedTable.shallowClone(spark, dir, cloneDir)
    assert(VersionedTable.read(spark, cloneDir).count() === 6)
    assert(VersionedTable.snapshotOf(spark, cloneDir, 0)
      .deleteFiles.nonEmpty, "clone dropped the masks")
    // append on the DV table carries masks forward
    VersionedTable.commit(spark, Seq((100L, 100L)).toDF("k", "v"), dir)
    assert(VersionedTable.read(spark, dir).count() === 7)
    assert(VersionedTable.snapshotOf(spark, dir, 2)
      .deleteFiles.nonEmpty, "append dropped the masks")
    // vacuum to the newest version only: DV files it references
    // survive, and the table still serves the masked view
    VersionedTable.vacuum(spark, dir, keep = 1, graceMs = 0L)
    assert(VersionedTable.read(spark, dir).count() === 7)
    assert(VersionedTable.read(spark, dir)
      .filter($"k" < 4).count() === 0)
  }

  test("SHOW TBLPROPERTIES surfaces the persisted delete mode") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT) " +
      "TBLPROPERTIES ('graft.delete.mode'='merge-on-read')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("graft.delete.mode") === Some("merge-on-read"))
  }

  test("DV partitions carry only their own file's delete positions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 40).map(i => (i.toLong, i * 2L)).toDF("k", "v")
        .repartition(4), dir)
    // hits rows spread over every file
    VersionedTable.deleteWhereMergeOnRead(spark, dir,
      org.apache.spark.sql.functions.col("k") % 4 === 0)
    val snap = VersionedTable.snapshotOf(spark, dir, 1)
    assert(snap.deleteFiles.nonEmpty)
    // ground truth straight from the delete files
    val truth: Map[String, Seq[Long]] = spark.read
      .parquet(snap.deleteFiles: _*).collect()
      .groupBy(r => new org.apache.hadoop.fs.Path(r.getString(0)).toString)
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).toSeq.sorted }
    val table = ParquetTable("dv_slice_test", spark,
      new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("mergeSchema", "true")),
      snap.dataFiles, None, classOf[ParquetFileFormat])
    val scan = new GraftLakeDvScanBuilder(table,
      spark.read.parquet(snap.dataFiles: _*).schema,
      snap.deleteFiles, CaseInsensitiveStringMap.empty()).build()
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.length === snap.dataFiles.size)
    parts.foreach { p =>
      val dv = p.asInstanceOf[DvInputPartition]
      val file = new org.apache.hadoop.fs.Path(
        dv.file.files.head.filePath.toString).toString
      // exactly this file's positions — nothing of any other file's
      assert(dv.mask.iterator.toSeq ===
        truth.getOrElse(file, Seq.empty[Long]),
        s"partition for $file must carry its own slice only")
    }
    // and the sliced read still serves the masked view
    assert(VersionedTable.read(spark, dir).count() === 30)
  }

  test("masked reads prune files STATICALLY from manifest min/max — " +
      "a range predicate drops the out-of-range commit's files " +
      "before any task launches") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    // two commits with DISJOINT key ranges
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(0, 100)")
    spark.sql(
      s"INSERT INTO $cat.t SELECT id, id FROM range(1000, 1100)")
    // a MoR delete leaves outstanding masks (the DV scan serves reads)
    spark.sql(s"DELETE FROM $cat.t WHERE k = 5 OR k = 1005")
    val q = spark.sql(
      s"SELECT count(*) AS n, sum(k) AS s FROM $cat.t WHERE k >= 1000")
    LakeReadScanBuilder.lastStatsPrune.set(-1L)
    val r = q.collect()(0)
    // masks applied AND the low-range files pruned
    assert(r.getLong(0) === 99L && r.getLong(1) ===
      (1000L until 1100L).sum - 1005L, s"got $r")
    val word = LakeReadScanBuilder.lastStatsPrune.get()
    assert(word >= 0, "static stats prune must fire under masks")
    val (kept, total) = ((word >> 32).toInt, word.toInt)
    assert(kept < total && kept >= 1,
      s"expected kept < total with survivors, got $kept/$total")
  }

  test("manifest blooms prune point lookups under masks too") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read', " +
      "'graft.bloom.columns'='k')")
    // two commits, interleaved keys (min/max cannot separate them)
    spark.sql(
      s"INSERT INTO $cat.t SELECT id * 2, id FROM range(0, 2000)")
    spark.sql(
      s"INSERT INTO $cat.t SELECT id * 2 + 1, id FROM range(0, 2000)")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 8") // masks outstanding
    val q = spark.sql(s"SELECT v FROM $cat.t WHERE k = 10")
    LakeReadScanBuilder.lastBloomPrune.set(-1L)
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(5L))
    val word = LakeReadScanBuilder.lastBloomPrune.get()
    assert(word >= 0, "bloom prune must fire under masks")
    val (kept, total) = ((word >> 32).toInt, word.toInt)
    assert(kept < total && kept >= 1, s"got $kept/$total")
  }

  test("DV scan reports LIVE row statistics from manifest totals") {
    import spark.implicits._
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 40).map(i => (i.toLong, i * 2L)).toDF("k", "v")
        .repartition(2), dir)
    VersionedTable.deleteWhereMergeOnRead(spark, dir, $"k" < 10L)
    val tbl = new GraftLakeTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "t"), dir, None)
    val scan = tbl.newScanBuilder(CaseInsensitiveStringMap.empty())
      .build()
    val st = scan.asInstanceOf[SupportsReportStatistics]
      .estimateStatistics()
    // planner sees the 30 LIVE rows, not the 40 on disk — broadcast
    // and CBO decisions follow the masked reality
    assert(st.numRows().isPresent && st.numRows().getAsLong === 30L)
    assert(st.sizeInBytes().isPresent && st.sizeInBytes().getAsLong > 0)
  }

  test("CDC spec shape still works on a copy-on-write table (mode default)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 1")
    // default mode: the delete was COW — no delete files in the snapshot
    val s = VersionedTable.snapshotOf(spark, s"$root/t", 2)
    assert(s.deleteFiles.isEmpty)
    assert(spark.sql(s"SELECT k FROM $cat.t").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
  }
}
