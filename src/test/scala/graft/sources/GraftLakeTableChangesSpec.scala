package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Batch incremental read ([[VersionedTable.tableChanges]], Delta's
  * `table_changes(from, to)`): per-version commit-log deltas as one
  * batch DataFrame, inclusive range bounds, stream-equal semantics. */
class GraftLakeTableChangesSpec extends SparkSpec {

  test("inclusive range bounds slice the feed by commit") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    val dir = s"$root/t"
    VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)            // v0
    VersionedTable.commit(spark,
      Seq((3L, "c")).toDF("k", "v"), dir)                       // v1
    spark.sql(s"DELETE FROM $cat.t WHERE k = 1")                // v2
    val full = VersionedTable.tableChanges(spark, dir, 0)
    val byV = full.collect()
      .groupBy(_.getInt(full.columns.indexOf("_commit_version")))
      .view.mapValues(_.map(r =>
        (r.getLong(0), r.getString(full.columns.indexOf("_change_type"))))
        .toSet).toMap
    assert(byV(0) === Set((1L, "insert"), (2L, "insert")))
    assert(byV(1) === Set((3L, "insert")))
    // COW delete: the touched file's live rows emit as deletes, its
    // survivors re-emit as inserts (rewrite churn — the CDF contract)
    assert(byV(2).contains((1L, "delete")))
    // range [1, 1]: exactly v1's delta
    val mid = VersionedTable.tableChanges(spark, dir, 1, Some(1))
    assert(mid.collect().map(r => (r.getLong(0),
      r.getString(mid.columns.indexOf("_change_type")))).toSet ===
      Set((3L, "insert")))
    // empty range past head refuses loudly
    intercept[IllegalArgumentException] {
      VersionedTable.tableChanges(spark, dir, 5, Some(4))
    }
  }

  test("merge-on-read deletes emit deleted CONTENT; feed folds back to state") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 10).map(i => (i.toLong, i * 10L)).toDF("k", "v"), dir)
    VersionedTable.deleteWhereMergeOnRead(spark, dir, col("k") < 3L)
    VersionedTable.upsertByKeysMergeOnRead(spark, dir,
      Seq((5L, 555L)).toDF("k", "v"), Seq("k"))
    val feed = VersionedTable.tableChanges(spark, dir, 0)
    // fold: inserts add, deletes subtract — must equal the live view
    val folded = feed.agg(sum(when(
      col("_change_type").isin("insert", "update_postimage"),
      col("v")).otherwise(-col("v")))).collect()(0).getLong(0)
    val actual = VersionedTable.read(spark, dir)
      .agg(sum("v")).collect()(0).getLong(0)
    assert(folded === actual, s"fold $folded != state $actual")
    // the MoR delete's content arrived as rows, not positions
    val deleted = feed.filter(col("_change_type") === "delete" &&
      col("_commit_version") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(deleted === Set((0L, 0L), (1L, 10L), (2L, 20L)))
  }

  test("lineage feed: change rows carry _row_id; update pre/post " +
      "images pair on the SAME id (Iceberg v3 changelog shape)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.row.lineage'='true', 'graft.cdc.key'='k')")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"UPDATE $cat.t SET v = 999 WHERE k = 2")
    val feed = VersionedTable.tableChanges(spark, s"$root/t", 0)
    assert(feed.columns.toSeq ===
      Seq("k", "v", "_row_id", "_last_updated_version",
        "_change_type", "_commit_version"),
      s"lineage feed schema: ${feed.columns.toSeq}")
    val rows = feed.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getInt(3), r.getString(4), r.getInt(5)))
    // inserts carry the fresh ids and their birth version
    val ins = rows.filter(_._5 == "insert").map(t => t._1 -> t._3).toMap
    assert(ins.values.toSeq.sorted === Seq(0L, 1L, 2L), s"got $rows")
    assert(rows.filter(_._5 == "insert").forall(_._4 == 1))
    // the update's pre and post images carry the SAME _row_id — the
    // idempotency key a downstream MERGE consumes
    val pre = rows.filter(t => t._5 == "update_preimage" && t._1 == 2L)
    val post = rows.filter(t => t._5 == "update_postimage" && t._1 == 2L)
    assert(pre.length == 1 && post.length == 1, s"got $rows")
    assert(pre.head._3 == post.head._3 && pre.head._3 == ins(2L),
      s"pre/post ids must match the original: $pre / $post")
    // preimage shows the OLD write version, postimage the update's
    assert(pre.head._4 == 1 && post.head._4 == 2, s"$pre / $post")
    assert(pre.head._2 == 20L && post.head._2 == 999L)
    // copied rows (rewrite churn) keep their ids and ORIGINAL
    // last-updated version (materialized through the rewrite)
    val copied = rows.filter(t =>
      t._5 == "update_postimage" && t._1 != 2L)
    copied.foreach { t =>
      assert(t._3 == ins(t._1) && t._4 == 1, s"copied row drifted: $t")
    }
  }

  test("lineage feed: fold-back by _row_id reconstructs the live " +
      "table, and the drained stream matches the batch feed") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.row.lineage'='true', 'graft.cdc.key'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 12)")
    spark.sql(s"UPDATE $cat.t SET v = -1 WHERE k IN (3, 4)")
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 10")
    spark.sql(s"INSERT INTO $cat.t VALUES (100, 1000)")
    val batch = VersionedTable.tableChanges(spark, s"$root/t", 0)
    // fold-back: last change per _row_id; survivors = non-deletes
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_row_id")
      .orderBy(col("_commit_version").desc,
        // within a version, the postimage supersedes the preimage
        when(col("_change_type").isin("insert", "update_postimage"), 1)
          .otherwise(0).desc)
    val folded = batch
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 &&
        col("_change_type").isin("insert", "update_postimage"))
      .select("k", "v", "_row_id")
    val state = spark.sql(
      s"SELECT k, v, _row_id FROM $cat.t")
    assert(folded.exceptAll(state).isEmpty &&
      state.exceptAll(folded).isEmpty,
      "feed fold-back by _row_id must reconstruct the live table")
    // drained stream carries the SAME lineage columns and rows
    val streamed = graft.streaming.StreamOps.runToMemory(spark,
      VersionedTable.changeFeedStream(spark, s"$root/t"),
      scratch().name("tc_lin"), "append")
      .select(batch.columns.map(col): _*)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "lineage batch feed diverged from the streamed feed")
  }

  test("batch feed equals the drained stream over identical commits") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 20).map(i => (i.toLong, i.toLong)).toDF("k", "v"), dir)
    VersionedTable.upsertByKeysMergeOnRead(spark, dir,
      Seq((7L, 777L), (100L, 100L)).toDF("k", "v"), Seq("k"))
    VersionedTable.deleteWhereMergeOnRead(spark, dir, col("k") >= 18L)
    val batch = VersionedTable.tableChanges(spark, dir, 0)
    val streamed = graft.streaming.StreamOps.runToMemory(spark,
      VersionedTable.changeFeedStream(spark, dir),
      scratch().name("tc_eq"), "append")
      .select(batch.columns.map(col): _*)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "batch table_changes diverged from the streamed feed")
  }
}
