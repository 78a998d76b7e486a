package graft.sources

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** Manifest-embedded file statistics — the Delta/Iceberg commit-time
  * stats discipline: every commit persists per-file per-column
  * (min, max, nullCount) + rowCount INTO the manifest, so group
  * pruning, the `versions` metadata table, and CDC bounds probes read
  * stats from the snapshot they already hold instead of re-opening
  * parquet footers (O(files) sequential driver IO at 100 TB).
  * [[LakeFileStats.footerReads]] counts every footer open the lake
  * performs, so "zero footer IO" is pinned by counter, not by faith.
  * Also pins the round-13 hardening: loud non-graft TBLPROPERTIES
  * rejection, proper NonEmptyNamespaceException, and reserved-name
  * isolation in the MoR delete path. */
class GraftLakeStatsSpec extends SparkSpec {

  test("commit embeds per-file stats; carry-forward keeps them by reference") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 10).map(i => (i.toLong, s"r$i")).toDF("k", "v")
        .repartition(2), dir)                                      // v0
    val s0 = VersionedTable.snapshotOf(spark, dir, 0)
    assert(s0.dataFiles.forall(s0.stats.contains),
      "every committed file must carry manifest stats")
    assert(s0.stats.values.map(_.rowCount).sum === 10L)
    val ks = s0.stats.values.flatMap(_.cols.get("k")).toSeq
    assert(ks.flatMap(_.min).map(_.asInstanceOf[Long]).min === 0L)
    assert(ks.flatMap(_.max).map(_.asInstanceOf[Long]).max === 9L)
    // append: prior files' stats carry forward WITHOUT footer reads
    val before = LakeFileStats.footerReads.get()
    VersionedTable.commit(spark,
      Seq((100L, "x")).toDF("k", "v").coalesce(1), dir)            // v1
    val delta = LakeFileStats.footerReads.get() - before
    assert(delta === 1L,
      s"append must read only the delta's footer (1 new file), read $delta")
    val s1 = VersionedTable.snapshotOf(spark, dir, 1)
    assert(s1.dataFiles.forall(s1.stats.contains))
    assert(s1.stats.values.map(_.rowCount).sum === 11L)
  }

  test("group pruning on a stats-bearing table does ZERO footer reads") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('a', id) " +
      "FROM range(0, 100)")     // file(s) with k in [0, 100)
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('b', id) " +
      "FROM range(1000, 1100)") // file(s) with k in [1000, 1100)
    val dir = s"$root/t"
    val snap = VersionedTable.snapshotOf(spark, dir,
      VersionedTable.latestVersion(spark, dir).get)
    assert(snap.dataFiles.forall(snap.stats.contains))
    val builder = new LakeScanBuilder(snap.dataFiles,
      spark.table(s"$cat.t").schema, CaseInsensitiveStringMap.empty(),
      snap.stats)
    val before = LakeFileStats.footerReads.get()
    val residual = builder.pushFilters(
      Array(sources.EqualTo("k", 1050L)))
    assert(LakeFileStats.footerReads.get() === before,
      "group pruning must read stats from the manifest, not footers")
    // every filter stays residual (group semantics), but the selection
    // narrowed to the file(s) whose range can hold k=1050
    assert(residual.length === 1)
    assert(builder.selectedFiles.nonEmpty)
    assert(builder.selectedFiles.size < snap.dataFiles.size,
      "stats must prune the files that cannot contain the key")
    assert(builder.selectedFiles.forall { p =>
      val c = snap.stats(p).cols("k")
      c.min.get.asInstanceOf[Long] <= 1050L &&
        c.max.get.asInstanceOf[Long] >= 1050L
    })
  }

  test("SQL UPDATE on a stats-bearing table: footer IO = fresh files only") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'lo' FROM range(0, 50)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'hi' FROM range(1000, 1050)")
    val dir = s"$root/t"
    val vBefore = VersionedTable.latestVersion(spark, dir).get
    val filesBefore =
      VersionedTable.snapshotOf(spark, dir, vBefore).dataFiles.toSet
    val before = LakeFileStats.footerReads.get()
    spark.sql(s"UPDATE $cat.t SET v = 'touched' WHERE k = 1010")
    val reads = LakeFileStats.footerReads.get() - before
    val after = VersionedTable.snapshotOf(spark, dir, vBefore + 1)
    val fresh = after.dataFiles.filterNot(filesBefore.contains)
    assert(reads === fresh.size.toLong,
      s"UPDATE must only read the $fresh.size fresh files' footers " +
        s"(commit-time stats), performed $reads reads")
    // and the prune actually held: untouched low-range files carried
    assert(after.dataFiles.exists(filesBefore.contains),
      "files outside the key range must carry forward by reference")
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 1010").collect()
      .head.getString(0) === "touched")
  }

  test("versions metadata table reads counts from manifest stats, zero footers") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'a' FROM range(0, 30)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'b' FROM range(30, 40)")
    val before = LakeFileStats.footerReads.get()
    val rows = spark.sql(
      s"SELECT version, total_rows FROM $cat.t.versions ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(LakeFileStats.footerReads.get() === before,
      "versions table must read row counts from manifest stats")
    assert(rows === Seq((0, 0L), (1, 30L), (2, 40L)))
  }

  test("stats JSON round-trips typed values; long strings truncate conservatively") {
    import LakeFileStats._
    val long = "z" * 200
    val fs = FileStats(Map(
      "l" -> ColStats(Some(Long.MaxValue - 1), Some(Long.MaxValue),
        Some(0L)),
      "d" -> ColStats(Some(-1.5), Some(2.25), Some(3L)),
      "b" -> ColStats(Some(false), Some(true), None),
      "s" -> ColStats(Some("tab\there\nnl"), Some(long), Some(1L))),
      rowCount = 42L)
    val back = fromJson(toJson(fs)).get
    assert(back.rowCount === 42L)
    assert(back.cols("l") === fs.cols("l"), "long bounds must be exact")
    assert(back.cols("d") === fs.cols("d"))
    assert(back.cols("b") === fs.cols("b"))
    // strings: control chars survive escaping; the oversize max bound
    // truncates to something >= the original (conservative for pruning)
    assert(back.cols("s").min.get === "tab\there\nnl")
    val mx = back.cols("s").max.get.asInstanceOf[String]
    assert(mx.length <= 65 && mx.compareTo(long) >= 0,
      "truncated max must still dominate the true max")
    // a pruning decision on the truncated bound stays conservative
    assert(possible(sources.EqualTo("s", long), back))
    // pre-stats manifests / corrupt json parse to None, never throw
    assert(fromJson("not json").isEmpty)
    assert(fromJson("""{"cols":{}}""").isEmpty)
  }

  test("non-graft TBLPROPERTIES reject loudly; graft ones persist atomically") {
    val (cat, root) = freshCatalog()
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad (k INT) " +
        "TBLPROPERTIES ('delta.appendOnly'='true')")
    }
    assert(e.getMessage.contains("graft."),
      s"rejection must name the supported prefix, got: ${e.getMessage}")
    spark.sql(s"CREATE TABLE $cat.good (k INT) " +
      "TBLPROPERTIES ('graft.delete.mode'='merge-on-read')")
    val props = GraftLakeTable.readProperties(spark, s"$root/good")
    assert(props.get("graft.delete.mode") === "merge-on-read")
    // no stray tmp file left behind by the tmp+rename publish
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/good"))
      .exists(_.getPath.getName.startsWith("._properties.tmp")))
  }

  test("DROP NAMESPACE on non-empty namespace raises the proper analysis error") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.t (k INT)")
    // surfaces as a proper AnalysisException (Spark rewraps the
    // connector's NonEmptyNamespaceException into its error class),
    // not the bare IllegalStateException it used to be
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"DROP NAMESPACE $cat.ns")
    }
    assert(e.getCondition != null && e.getCondition.nonEmpty,
      "must carry a proper error class")
    spark.sql(s"DROP NAMESPACE $cat.ns CASCADE")
    assert(!spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .exists(_.getString(0) == "ns"))
  }

  test("TIMESTAMP AS OF with an empty manifest dir reports 'never published'") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    // simulate a crashed first commit: manifests exist but are swept
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(s"$root/t/_manifest")
    fs.listStatus(mdir).foreach(s => fs.delete(s.getPath, true))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t TIMESTAMP AS OF '1999-01-01'")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("no version was ever published")),
      s"expected the guarded message, got: ${messages(e).mkString(" | ")}")
  }

  test("MoR delete is isolated from user columns named file_path/row_index") {
    import spark.implicits._
    val dir = freshDir()
    // user schema COLLIDES with the delete-file output names
    VersionedTable.commit(spark,
      (0 until 10).map(i => (s"user/path/$i", i.toLong, i * 10))
        .toDF("file_path", "row_index", "v"), dir)
    // condition on the USER's row_index column — must match user data,
    // not the scan's metadata position
    VersionedTable.deleteWhereMergeOnRead(spark, dir,
      col("row_index") >= 7L && col("file_path").startsWith("user/"))
    val left = VersionedTable.read(spark, dir)
    assert(left.count() === 7L)
    assert(left.agg(org.apache.spark.sql.functions.max("row_index"))
      .collect().head.getLong(0) === 6L)
    // and the recorded delete file still uses the public schema
    val snap = VersionedTable.snapshotOf(spark, dir,
      VersionedTable.latestVersion(spark, dir).get)
    assert(snap.deleteFiles.nonEmpty)
    val delSchema = spark.read.parquet(snap.deleteFiles: _*).schema
    assert(delSchema.fieldNames.toSeq === Seq("file_path", "row_index"))
  }

  test("manifest blooms: point lookup on an unclustered key prunes files min/max cannot") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.bl (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.bloom.columns'='k')")
    // hash-distributed layout: every file spans ~the full key range,
    // so min/max stats keep every file for a point lookup
    (0L until 4000L).map(k => (k, k * 3))
      .toDF("k", "v").repartition(8, col("k") % 7)
      .createOrReplaceTempView("glbl_src")
    spark.sql(s"INSERT INTO $cat.bl SELECT * FROM glbl_src")
    val snap = VersionedTable.snapshotOf(spark, s"$root/bl",
      VersionedTable.latestVersion(spark, s"$root/bl").get)
    val bloomed = snap.dataFiles.filter(p =>
      snap.stats.get(p).exists(_.blooms.contains("k")))
    assert(bloomed.size >= 3, s"expected per-file blooms, " +
      s"got ${bloomed.size} of ${snap.dataFiles.size}")
    // point lookup: the bloom drops files the value provably misses
    LakeReadScanBuilder.lastBloomPrune.set(-1L)
    assert(spark.sql(s"SELECT v FROM $cat.bl WHERE k = 1234")
      .collect().map(_.getLong(0)).toSeq == Seq(3702L))
    val p1 = LakeReadScanBuilder.lastBloomPrune.get()
    assert(p1 >= 0 && (p1 >> 32).toInt < (p1 & 0xffffffffL).toInt,
      s"bloom prune should fire on a point lookup, got $p1")
    // absent key: every file provably misses it -> zero rows, and the
    // prune kept (almost) nothing
    LakeReadScanBuilder.lastBloomPrune.set(-1L)
    assert(spark.sql(s"SELECT v FROM $cat.bl WHERE k = 999999")
      .collect().isEmpty)
    val p2 = LakeReadScanBuilder.lastBloomPrune.get()
    assert(p2 >= 0 && (p2 >> 32).toInt < (p2 & 0xffffffffL).toInt)
    // IN probes prune too; results exact
    assert(spark.sql(
      s"SELECT sum(v) FROM $cat.bl WHERE k IN (10, 20, 999999)")
      .collect()(0).getLong(0) == 90L)
    // stats JSON round-trips the bitsets
    val fs = snap.stats(bloomed.head)
    val back = LakeFileStats.fromJson(LakeFileStats.toJson(fs)).get
    assert(back.blooms("k").toSeq == fs.blooms("k").toSeq)
    // STRING keys bloom through the engine-agnostic PolyHashMod
    spark.sql(s"CREATE TABLE $cat.sb (email STRING, v BIGINT) " +
      "TBLPROPERTIES('graft.bloom.columns'='email')")
    (0L until 3000L).map(i => (s"user$i@example.com", i))
      .toDF("email", "v").repartition(6, col("v") % 5)
      .createOrReplaceTempView("glbl_src2")
    spark.sql(s"INSERT INTO $cat.sb SELECT * FROM glbl_src2")
    LakeReadScanBuilder.lastBloomPrune.set(-1L)
    assert(spark.sql(
      s"SELECT v FROM $cat.sb WHERE email = 'user777@example.com'")
      .collect().map(_.getLong(0)).toSeq == Seq(777L))
    val ps = LakeReadScanBuilder.lastBloomPrune.get()
    assert(ps >= 0 && (ps >> 32).toInt < (ps & 0xffffffffL).toInt,
      s"string bloom prune should fire, got $ps")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.sb WHERE email = 'ghost@nowhere'")
      .collect()(0).getLong(0) == 0L)
    // a declared unsupported-type bloom column refuses at the first
    // commit (CREATE's schema carrier)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad (d DOUBLE) " +
        "TBLPROPERTIES('graft.bloom.columns'='d')")
    }
  }
}
