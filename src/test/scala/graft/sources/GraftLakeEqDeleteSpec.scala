package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read EQUALITY deletes (Iceberg's equality-delete files):
  * delete-by-key as an O(keys) WRITE with zero target-file reads,
  * key-scoped by sequence (a delete applies only to data files born
  * before it), applied at scan time on both the facade and the
  * catalog read path, folded away by compaction. The write-only CDC
  * upsert shape: positional deletes must READ matching files to
  * locate row positions; equality deletes never open them. */
class GraftLakeEqDeleteSpec extends SparkSpec {

  test("deleteByKeys masks by key with zero data rewrite; facade + catalog reads agree") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 10).map(i => (i.toLong, s"r$i")).toDF("k", "v"), dir) // v0
    val dataBefore = VersionedTable.filesOf(spark, dir, 0)
    VersionedTable.deleteByKeysMergeOnRead(spark, dir,
      Seq(2L, 5L).toDF("k"))                                        // v1
    val s1 = VersionedTable.snapshotOf(spark, dir, 1)
    assert(s1.dataFiles === dataBefore, "data files were rewritten")
    assert(s1.deleteFiles.nonEmpty &&
      s1.deleteFiles.forall(VersionedTable.isEqualityDelete))
    assert(VersionedTable.read(spark, dir).count() === 8)
    assert(VersionedTable.read(spark, dir)
      .agg(sum("k")).collect()(0).getLong(0) === (0L until 10L).sum - 7L)
    // time travel: v0 still serves every row
    assert(VersionedTable.read(spark, dir, Some(0)).count() === 10)
    // catalog (V2) read path applies the same mask
    val (cat, root) = freshCatalog()
    val d2 = s"$root/t"
    VersionedTable.commit(spark,
      (0 until 10).map(i => (i.toLong, s"r$i")).toDF("k", "v"), d2)
    VersionedTable.deleteByKeysMergeOnRead(spark, d2,
      Seq(1L, 3L, 9L).toDF("k"))
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t")
      .collect()(0).getLong(0) === 7L)
    assert(spark.sql(s"SELECT sum(k) AS s FROM $cat.t WHERE k < 5")
      .collect()(0).getLong(0) === 0L + 2L + 4L)
    // column pruning that drops the key column still masks (the scan
    // widens to read the key, then projects back down)
    assert(spark.sql(s"SELECT v FROM $cat.t ORDER BY v").collect()
      .map(_.getString(0)).toSeq ===
      Seq("r0", "r2", "r4", "r5", "r6", "r7", "r8"))
  }

  test("sequence scoping: an upsert's delete never eats its own batch") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      Seq((1L, "a", 1.0), (2L, "b", 1.0), (3L, "c", 1.0))
        .toDF("k", "name", "score"), dir)                 // v0
    // upsert: k=2 changes, k=4 is new — ONE atomic commit
    VersionedTable.upsertByKeysMergeOnRead(spark, dir,
      Seq((2L, "B2", 2.0), (4L, "d", 2.0)).toDF("k", "name", "score"),
      Seq("k"))                                           // v1
    val got = VersionedTable.read(spark, dir)
      .orderBy("k").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "a", 1.0), (2L, "B2", 2.0),
      (3L, "c", 1.0), (4L, "d", 2.0)))
    // a second upsert of the SAME key supersedes the first (its
    // delete applies to the v1 file, not to its own v2 file)
    VersionedTable.upsertByKeysMergeOnRead(spark, dir,
      Seq((2L, "B3", 3.0)).toDF("k", "name", "score"), Seq("k")) // v2
    val got2 = VersionedTable.read(spark, dir)
      .filter(col("k") === 2L).collect()
    assert(got2.length === 1 && got2(0).getString(1) === "B3")
    // time travel reconstructs every upsert state exactly
    assert(VersionedTable.read(spark, dir, Some(1))
      .filter(col("k") === 2L).collect()(0).getString(1) === "B2")
    assert(VersionedTable.read(spark, dir, Some(0))
      .filter(col("k") === 2L).collect()(0).getString(1) === "b")
  }

  test("the upsert write path never opens target data files") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 1000).map(i => (i.toLong, s"r$i")).toDF("k", "v"), dir)
    val dataBefore = VersionedTable.filesOf(spark, dir, 0).toSet
    // footerReads counts manifest-stat footer opens; target DATA file
    // opens on the upsert path would show up here (the batch's own
    // files and the eq file legitimately read once for their stats)
    LakeFileStats.footerReads.set(0L)
    VersionedTable.upsertByKeysMergeOnRead(spark, dir,
      (0 until 10).map(i => (i.toLong, s"u$i")).toDF("k", "v"),
      Seq("k"))
    val snap = VersionedTable.snapshotOf(spark, dir, 1)
    val fresh = snap.dataFiles.filterNot(dataBefore) ++
      snap.deleteFiles
    assert(LakeFileStats.footerReads.get() <= fresh.size + 1,
      s"upsert read ${LakeFileStats.footerReads.get()} footers for " +
        s"${fresh.size} fresh files — it touched target data files")
    assert(VersionedTable.read(spark, dir).count() === 1000)
    assert(VersionedTable.read(spark, dir)
      .filter(col("k") < 10L).agg(count(lit(1))).collect()(0)
      .getLong(0) === 10L)
  }

  test("compact folds equality deletes; streams apply them as masks / content deltas") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 20).map(i => (i.toLong, i * 10L)).toDF("k", "v"), dir)
    VersionedTable.upsertByKeysMergeOnRead(spark, dir,
      Seq((5L, 555L), (19L, 999L)).toDF("k", "v"), Seq("k"))
    // a plain stream's ORIGIN snapshot applies equality masks by
    // content: it delivers exactly the live view
    val drained = graft.streaming.StreamOps.runToMemory(spark,
      VersionedTable.readStream(spark, dir)
        .groupBy().agg(count(lit(1)).as("n"), sum("v").as("s")),
      scratch().name("eq_origin"), "complete").collect()(0)
    assert(drained.getLong(0) === 20L)
    assert(drained.getLong(1) ===
      (0 until 20).map(_ * 10L).sum - 50L - 190L + 555L + 999L)
    // the CHANGE FEED replays an upsert version as delete CONTENT
    // (the superseded rows, resolved from keys to rows) + inserts
    val feed = graft.streaming.StreamOps.runToMemory(spark,
      VersionedTable.changeFeedStream(spark, dir),
      scratch().name("eq_cdf"), "append")
    val v1 = feed.filter(col("_commit_version") === 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getString(feed.columns.indexOf("_change_type")))).sorted.toSeq
    assert(v1 === Seq((5L, 50L, "delete"), (5L, 555L, "insert"),
      (19L, 190L, "delete"), (19L, 999L, "insert")), s"v1 feed: $v1")
    val v = VersionedTable.compact(spark, dir, 2)
    val snap = VersionedTable.snapshotOf(spark, dir, v)
    assert(snap.deleteFiles.isEmpty,
      "compact must fold equality deletes away")
    val got = VersionedTable.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.length === 20)
    assert(got(5) === ((5L, 555L)) && got(19) === ((19L, 999L)))
    assert(got(4) === ((4L, 40L)))
  }

  test("cdc key: an equality upsert's change feed pairs into update images") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.u (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.cdc.key'='k')")
    spark.sql(s"INSERT INTO $cat.u VALUES (1, 10), (2, 20), (3, 30)")
    VersionedTable.upsertByKeysMergeOnRead(spark, s"$root/u",
      Seq((2L, 2222L), (4L, 40L)).toDF("k", "v"), Seq("k"))
    val feed = graft.streaming.StreamOps.runToMemory(spark,
      VersionedTable.changeFeedStream(spark, s"$root/u"),
      scratch().name("eq_upd"), "append")
    val vUp = feed.filter(col("_commit_version") === 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getString(feed.columns.indexOf("_change_type")))).sorted.toSeq
    assert(vUp === Seq((2L, 20L, "update_preimage"),
      (2L, 2222L, "update_postimage"), (4L, 40L, "insert")),
      s"upsert feed: $vUp")
  }

  test("row-level MERGE over an eq-masked table reads live rows and carries masks") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 10)")
    // eq-upsert kills k=3's original row in-place
    VersionedTable.upsertByKeysMergeOnRead(spark, s"$root/t",
      Seq((3L, 333L)).toDF("k", "v"), Seq("k"))
    // the `.files` metadata table labels the delete kinds
    val kinds0 = spark.sql(s"SELECT content, count(*) FROM " +
      s"$cat.t.files GROUP BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds0.contains("equality-delete"), s"kinds: $kinds0")
    // MERGE must see the LIVE view (333, not 30) and never resurrect
    Seq((3L, 1L), (4L, 1L)).toDF("k", "d")
      .createOrReplaceTempView("gleq_m")
    spark.sql(s"MERGE INTO $cat.t AS t USING gleq_m AS s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + s.d")
    val got = spark.sql(s"SELECT k, v FROM $cat.t WHERE k IN (3, 4)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === Seq((3L, 334L), (4L, 41L)), s"got $got")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t")
      .collect()(0).getLong(0) === 10L)
    // a full-rewrite MERGE (every file touched) correctly DROPS the
    // masks: the rewrite read the live view, nothing resurrects
    val afterMerge = VersionedTable.snapshotOf(spark, s"$root/t",
      VersionedTable.latestVersion(spark, s"$root/t").get)
    assert(afterMerge.deleteFiles.isEmpty)
    // compact; vacuum reclaims the superseded eq-delete files
    VersionedTable.compact(spark, s"$root/t", 1)
    val reclaimed = VersionedTable.vacuum(spark, s"$root/t", keep = 1,
      graceMs = 0L).size
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t").collect()(0)
      .getLong(0) === (0 until 10).map(_ * 10L).sum - 30 + 334 + 1)
    val live = VersionedTable.snapshotOf(spark, s"$root/t",
      VersionedTable.latestVersion(spark, s"$root/t").get)
    assert(live.deleteFiles.isEmpty)
    assert(reclaimed > 0, "vacuum should reclaim superseded files")
  }

  test("equality + positional masks compose; validation refuses bad keys") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 10).map(i => (i.toLong, i.toDouble)).toDF("k", "x"), dir)
    VersionedTable.deleteWhereMergeOnRead(spark, dir, col("k") === 0L)
    VersionedTable.deleteByKeysMergeOnRead(spark, dir, Seq(1L).toDF("k"))
    assert(VersionedTable.read(spark, dir).count() === 8)
    val (cat, root) = freshCatalog()
    val d2 = s"$root/m"
    VersionedTable.commit(spark,
      (0 until 10).map(i => (i.toLong, i.toDouble)).toDF("k", "x"), d2)
    VersionedTable.deleteWhereMergeOnRead(spark, d2, col("k") === 0L)
    VersionedTable.deleteByKeysMergeOnRead(spark, d2, Seq(1L).toDF("k"))
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.m")
      .collect()(0).getLong(0) === 8L)
    // not a table column
    intercept[IllegalArgumentException] {
      VersionedTable.deleteByKeysMergeOnRead(spark, dir,
        Seq(1L).toDF("nope"))
    }
    // type mismatch
    intercept[IllegalArgumentException] {
      VersionedTable.deleteByKeysMergeOnRead(spark, dir,
        Seq(1).toDF("k")) // INT vs BIGINT
    }
    // float keys refuse
    intercept[IllegalArgumentException] {
      VersionedTable.deleteByKeysMergeOnRead(spark, dir,
        Seq(1.0).toDF("x"))
    }
  }
}
