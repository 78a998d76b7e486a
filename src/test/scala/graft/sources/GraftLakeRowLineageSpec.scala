package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ROW LINEAGE ([[LakeRowLineage]], Iceberg v3 row lineage / Delta row
  * tracking): `_row_id` + `_last_updated_version` metadata columns —
  * manifest-assigned at commit (zero data IO), position-served on
  * clean files, MATERIALIZED through compaction and row-level
  * rewrites so ids are stable across the table's own maintenance. */
class GraftLakeRowLineageSpec extends SparkSpec {

  private def linTable(cat: String, extraProps: String = ""): Unit =
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('graft.row.lineage'='true'$extraProps)")

  private def idsByKey(cat: String): Map[Long, (Long, Int)] =
    spark.sql(s"SELECT k, _row_id, _last_updated_version FROM $cat.t")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap

  test("ids assign monotonically at commit — manifest arithmetic, zero data IO") {
    val (cat, root) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 20)")
    val ids1 = spark.sql(s"SELECT _row_id FROM $cat.t").collect()
      .map(_.getLong(0)).sorted
    assert(ids1.toSeq === (0L until 20L), s"got ${ids1.toSeq}")
    // second commit claims the NEXT contiguous range
    spark.sql(s"INSERT INTO $cat.t VALUES (100, 1000), (101, 1010)")
    val ids2 = spark.sql(s"SELECT _row_id FROM $cat.t").collect()
      .map(_.getLong(0)).sorted
    assert(ids2.toSeq === (0L until 22L), s"got ${ids2.toSeq}")
    // the watermark rides the snapshot meta; per-file bases ride stats
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    val snap = VersionedTable.snapshotOf(spark, s"$root/t", v)
    assert(snap.meta.get(LakeRowLineage.NextKey) === Some("22"))
    assert(snap.dataFiles.forall(p =>
      snap.stats.get(p).exists(_.firstRowId.isDefined)))
    // _last_updated_version = birth commit
    val lu = spark.sql(
      s"SELECT k, _last_updated_version FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(lu(0L) === 1 && lu(100L) === 2, s"got $lu")
  }

  test("_row_id is stable across compaction (materialized through the rewrite)") {
    val (cat, root) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 30)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(30, 60)")
    val before = idsByKey(cat)
    val filesBefore = spark.sql(s"SELECT DISTINCT _file FROM $cat.t")
      .collect().map(_.getString(0)).toSet
    spark.sql(s"CALL $cat.system.compact(table => 't', target_files => 1)")
    val after = idsByKey(cat)
    assert(after === before,
      "compaction changed row ids or last-updated versions")
    val filesAfter = spark.sql(s"SELECT DISTINCT _file FROM $cat.t")
      .collect().map(_.getString(0)).toSet
    assert(filesAfter.intersect(filesBefore).isEmpty &&
      filesAfter.size === 1, "compact did not rewrite the files")
    // the physical lineage columns are HIDDEN: not in the table schema
    assert(!spark.table(s"$cat.t").columns
      .exists(LakeRowLineage.isInternalCol))
  }

  test("UPDATE preserves _row_id and bumps _last_updated_version; copied rows carry both") {
    val (cat, root) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 10)")
    val before = idsByKey(cat)
    spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k >= 8")        // v2
    val after = idsByKey(cat)
    // every row keeps its id — updated or copied
    assert(after.view.mapValues(_._1).toMap ===
      before.view.mapValues(_._1).toMap,
      s"update changed row ids: $before -> $after")
    // updated rows re-stamp to the update's commit; copied rows keep
    (0L until 8L).foreach(k => assert(after(k)._2 === before(k)._2,
      s"copied row $k lost its last-updated version"))
    Seq(8L, 9L).foreach(k => assert(after(k)._2 === 2,
      s"updated row $k should stamp version 2, got ${after(k)._2}"))
    // and values actually updated
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 9")
      .collect()(0).getLong(0) === 91L)
  }

  test("MERGE: matched updates keep ids, inserted rows earn fresh ones") {
    val (cat, _) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 6)")
    val before = idsByKey(cat)
    val src = scratch().name("lin_merge_src")
    spark.sql(s"SELECT * FROM VALUES (4L, 444L), (100L, 1000L) " +
      "AS s(k, v)").createOrReplaceTempView(src)
    spark.sql(
      s"""MERGE INTO $cat.t AS t USING $src AS s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |""".stripMargin)
    val after = idsByKey(cat)
    // matched row kept its id (PRESERVE_ON_UPDATE)
    assert(after(4L)._1 === before(4L)._1)
    // untouched rows kept everything
    assert(after(0L) === before(0L) && after(5L) === before(5L))
    // the insert earned a FRESH id (PRESERVE_ON_REINSERT = false →
    // null → manifest fallback on the new file's range)
    val usedBefore = before.values.map(_._1).toSet
    assert(!usedBefore.contains(after(100L)._1),
      s"reinsert must not reuse an id: ${after(100L)._1} in $usedBefore")
    // ids stay globally distinct
    val all = after.values.map(_._1).toSeq
    assert(all.distinct.size === all.size, s"duplicate ids: $after")
  }

  test("COW DELETE preserves survivor ids through the file rewrite") {
    val (cat, _) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 10)")
    val before = idsByKey(cat)
    spark.sql(s"DELETE FROM $cat.t WHERE k = 3")
    val after = idsByKey(cat)
    assert(!after.contains(3L))
    assert(after === (before - 3L),
      s"survivors changed identity: $before -> $after")
  }

  test("update + compact: ids stable across BOTH (the lineage contract end-to-end)") {
    val (cat, _) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(0, 50)")
    val born = idsByKey(cat)
    spark.sql(s"UPDATE $cat.t SET v = -1 WHERE k % 10 = 0")
    spark.sql(s"CALL $cat.system.compact(table => 't', target_files => 2)")
    val finalIds = idsByKey(cat)
    assert(finalIds.view.mapValues(_._1).toMap ===
      born.view.mapValues(_._1).toMap,
      "row ids drifted across update + compact")
    // updated rows carry the update version THROUGH the compact
    assert(finalIds(10L)._2 === 2 && finalIds(11L)._2 === 1,
      s"last-updated versions drifted: ${finalIds(10L)} ${finalIds(11L)}")
  }

  test("lineage x column mapping: rename is metadata-only and ids keep serving") {
    val (cat, _) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 8)")
    val before = idsByKey(cat)
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO amount")
    val after = spark.sql(
      s"SELECT k, amount, _row_id, _last_updated_version FROM $cat.t")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3))))
      .toMap
    assert(after === before, "rename broke lineage serving")
  }

  test("lineage x spec evolution: partitioned + evolved table still serves ids") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.p (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('graft.row.lineage'='true')")
    spark.sql(s"INSERT INTO $cat.p SELECT id, id FROM range(0, 16)")
    val ids1 = spark.sql(s"SELECT k, _row_id FROM $cat.p").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids1.values.toSeq.distinct.size === 16)
    // evolve the spec; old generation keeps serving its ids
    spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES(" +
      "'graft.partitioning'='bucket(8, k)')")
    spark.sql(s"INSERT INTO $cat.p VALUES (100, 100)")
    val ids2 = spark.sql(s"SELECT k, _row_id FROM $cat.p").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids1.forall { case (k, id) => ids2(k) == id },
      "spec evolution changed existing ids")
    assert(ids2(100L) >= 16L, s"fresh row id must be fresh: ${ids2(100L)}")
    // partition pruning still fires on the lineage read: a point
    // lookup keeps its static file prune (file-granular, safe)
    val got = spark.sql(
      s"SELECT k, _row_id FROM $cat.p WHERE k = 5").collect()
    assert(got.length === 1 && got(0).getLong(1) === ids1(5L))
  }

  test("row-level DML on a mask-bearing lineage table proceeds — the " +
      "DV scan serves identity over masks, upsert then UPDATE keeps " +
      "ids stable end-to-end") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(0, 10)")
    val born = idsByKey(cat)
    // MoR upsert: k=3 re-inserts under a fresh id, masked by an
    // outstanding equality-delete file
    VersionedTable.upsertByKeysMergeOnRead(spark, s"$root/t",
      Seq((3L, 333L)).toDF("k", "v"), Seq("k"))
    // lineage READS work over the masks (DV scan: base + physical
    // position — mask-independent)
    val masked = idsByKey(cat)
    born.keys.filter(_ != 3L).foreach(k =>
      assert(masked(k)._1 === born(k)._1,
        s"masked read drifted for k=$k"))
    // UPDATE proceeds directly: the DV-applying rewrite carries the
    // identity columns through (and folds the masks as it rewrites)
    spark.sql(s"UPDATE $cat.t SET v = 1 WHERE k = 1")
    val head = VersionedTable.latestVersion(spark, s"$root/t").get
    val cleanSnap = VersionedTable.snapshotOf(spark, s"$root/t", head)
    assert(cleanSnap.deleteFiles.isEmpty,
      "the auto-fold must leave no outstanding masks")
    val after = idsByKey(cat)
    assert(after.size === 10 &&
      after.values.map(_._1).toSeq.distinct.size === 10)
    // every pre-existing row (except the re-inserted k=3) kept the id
    // it was born with, through upsert + fold + update
    born.keys.filter(_ != 3L).foreach { k =>
      assert(after(k)._1 === born(k)._1,
        s"id drifted for k=$k: born ${born(k)} now ${after(k)}")
    }
    // the updated row kept its id and stamps the UPDATE's commit
    assert(after(1L)._1 === born(1L)._1)
    assert(after(1L)._2 === head,
      s"updated row must stamp the update version: ${after(1L)}")
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 1")
      .collect()(0).getLong(0) === 1L)
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 3")
      .collect()(0).getLong(0) === 333L)
  }

  test("restore keeps the id watermark monotone: appends after a " +
      "rollback never recycle ids assigned by the rolled-back versions") {
    val (cat, root) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20)") // ids 0,1
    spark.sql(s"INSERT INTO $cat.t VALUES (3, 30), (4, 40)") // ids 2,3
    // roll back past the second insert, then append again
    spark.sql(s"CALL $cat.system.restore(table => 't', version => 1)")
    spark.sql(s"INSERT INTO $cat.t VALUES (5, 50)")
    val ids = idsByKey(cat)
    assert(ids.keySet === Set(1L, 2L, 5L))
    // the new row's id must be ABOVE every id ever assigned (0..3),
    // not a recycled 2 — ids 2,3 are still visible via time travel
    assert(ids(5L)._1 >= 4L,
      s"appends after restore recycled a rolled-back id: $ids")
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    val next = VersionedTable.snapshotOf(spark, s"$root/t", v)
      .meta(LakeRowLineage.NextKey).toLong
    assert(next >= 5L, s"watermark regressed to $next")
  }

  test("time travel below lineage rows serves the pre-assignment state") {
    val (cat, _) = freshCatalog()
    linTable(cat)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(0, 5)") // v1
    spark.sql(s"INSERT INTO $cat.t VALUES (9, 9)")                  // v2
    // v1 snapshot: only the first file's ids visible
    val v1 = spark.sql(
      s"SELECT _row_id FROM $cat.t VERSION AS OF 1").collect()
      .map(_.getLong(0)).sorted
    assert(v1.toSeq === (0L until 5L))
  }
}
