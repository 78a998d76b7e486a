package graft.sources

import graft.SparkSpec

/** `_file` metadata column (Iceberg's `_file`): per-row data-file
  * lineage resolved only when referenced; split granularity and
  * filter pushdown preserved; refused on DV-masked snapshots. */
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
  }

  test("_file is absent on DV-masked snapshots (loud, not wrong)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.d (k BIGINT) " +
      s"TBLPROPERTIES('${GraftLakeTable.DeleteModeProp}'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.d SELECT id FROM range(10)")
    spark.sql(s"DELETE FROM $cat.d WHERE k = 3")
    val e = intercept[Exception] {
      spark.sql(s"SELECT _file FROM $cat.d").collect()
    }
    assert(e.getMessage.contains("_file"))
    // data still reads fine without it
    assert(spark.sql(s"SELECT count(*) FROM $cat.d").collect()(0)
      .getLong(0) === 9L)
  }
}
