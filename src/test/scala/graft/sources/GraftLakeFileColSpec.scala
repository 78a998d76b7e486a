package graft.sources

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** `_file` metadata column (Iceberg's `_file`): per-row data-file
  * lineage resolved only when referenced, on every snapshot; split
  * granularity and filter pushdown preserved on clean snapshots. */
class GraftLakeFileColSpec extends SparkSpec {

  test("_file groups rows by their manifest data file exactly") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(100)")   // v1
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(50)")    // v2
    val dir = s"$root/t"
    val v = VersionedTable.latestVersion(spark, dir).get
    val manifest = VersionedTable.filesOf(spark, dir, v)
      .filterNot(_.isEmpty).toSet
    val perFile = spark.sql(
      s"SELECT _file, count(*) AS n FROM $cat.t GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(perFile.map(_._2).sum === 150L)
    assert(perFile.map(_._1).toSet.subsetOf(manifest),
      s"_file values must be manifest paths:\n${perFile.toSeq}\n$manifest")
    // plain projection works and filters still prune rows
    val some = spark.sql(
      s"SELECT k, _file FROM $cat.t WHERE k < 3").collect()
    assert(some.forall(_.getString(1).contains("files-v")))
    assert(some.length === 6) // k in {0,1,2} twice
    // queries NOT referencing _file are untouched (stats-agg path)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 150L)
  }

  test("a DATA column named _file shadows the metadata column") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.s (k BIGINT, _file STRING)")
    spark.sql(s"INSERT INTO $cat.s VALUES (1, 'user-a'), (2, 'user-b')")
    // the user's column wins: values come from the data, not the scan
    assert(spark.sql(s"SELECT _file FROM $cat.s ORDER BY k").collect()
      .map(_.getString(0)).toSeq === Seq("user-a", "user-b"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.s").collect()(0)
      .getLong(0) === 2L)
    // a copy-on-write DELETE rewrites by file group, never by the
    // metadata column: the user's column is ordinary data to it
    spark.sql(s"DELETE FROM $cat.s WHERE k = 1")
    assert(spark.sql(s"SELECT k, _file FROM $cat.s").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "user-b")))
    // the merge-on-read delete locates rows by the metadata column:
    // with it shadowed the statement refuses rather than match the
    // user's values
    spark.sql(s"CREATE TABLE $cat.m (k BIGINT, _file STRING) " +
      "TBLPROPERTIES ('graft.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.m VALUES (1, 'user-a'), (2, 'user-b')")
    val e = intercept[Exception](
      spark.sql(s"DELETE FROM $cat.m WHERE k = 1"))
    assert(e.getMessage.contains("shadows"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.m").collect()(0)
      .getLong(0) === 2L)
  }

  test("_file = and IN drop whole files before the scan") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.p (k BIGINT)")
    // one file per insert
    (0 until 4).foreach(i => spark.sql(s"INSERT INTO $cat.p " +
      s"SELECT id FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)"))
    val files = spark.sql(s"SELECT DISTINCT _file FROM $cat.p").collect()
      .map(_.getString(0)).sorted
    assert(files.length === 4)
    val rel = VersionedTable.read(spark, s"$root/p")
    def tasks(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val (rows, _, n) = TestListenerBus.counting(spark.sparkContext)(
        df.select(col("k")).collect().length)
      (rows, n)
    }
    // one task per named file; the other files never launch
    assert(tasks(rel.where(col("_file") === files(1))) === ((10, 1)))
    assert(tasks(rel.where(col("_file").isin(files(0), files(3)))) ===
      ((20, 2)))
    // lineage-free positioned reads prune the same way
    assert(tasks(rel.where(col("_file") === files(2) && col("_pos") < 5))
      === ((5, 1)))
  }

  test("_file on masked snapshots: manifest paths, live rows per file") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.d (k BIGINT) " +
      s"TBLPROPERTIES('${GraftLakeTable.DeleteModeProp}'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.d SELECT id FROM range(10)")      // v1
    spark.sql(s"INSERT INTO $cat.d SELECT id FROM range(10, 25)")  // v2
    val dir = s"$root/d"
    def perFile(): Map[String, Long] = spark.sql(
      s"SELECT _file, count(*) FROM $cat.d GROUP BY _file")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the live rows of each file, counted from the data itself
    def expected(live: Set[Long]): Map[String, Long] = {
      val snap = VersionedTable.snapshotOf(spark, dir,
        VersionedTable.latestVersion(spark, dir).get)
      snap.dataFiles.map(p => p -> spark.read.parquet(p).as[Long]
        .collect().count(live).toLong).filter(_._2 > 0).toMap
    }
    // positionally masked
    spark.sql(s"DELETE FROM $cat.d WHERE k IN (3, 12, 13)")
    assert(VersionedTable.snapshotOf(spark, dir,
      VersionedTable.latestVersion(spark, dir).get).deleteFiles.nonEmpty)
    val pos = perFile()
    assert(pos === expected((0L until 25L).toSet -- Set(3L, 12L, 13L)))
    assert(pos.values.sum === 22L)
    // equality-masked on top
    VersionedTable.deleteByKeysMergeOnRead(spark, dir,
      Seq(0L, 1L, 20L).toDF("k"))
    assert(VersionedTable.snapshotOf(spark, dir,
      VersionedTable.latestVersion(spark, dir).get).deleteFiles
      .exists(VersionedTable.isEqualityDelete))
    val eq = perFile()
    assert(eq === expected(
      (0L until 25L).toSet -- Set(0L, 1L, 3L, 12L, 13L, 20L)))
    assert(eq.values.sum === 19L)
  }
}
