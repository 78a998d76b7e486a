package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** `_pos` metadata column (Iceberg's `_pos`): for every live row,
  * `(_file, _pos)` equals the row's V1 `_metadata.file_path` (decoded
  * to the manifest path form) and `_metadata.row_index`, on every
  * snapshot shape — the reference is read here, from the snapshot's
  * files, through Spark's own file source. */
class GraftLakePosSpec extends SparkSpec {

  /** key → (file, position) from V1 `_metadata` over every data file
    * of the head snapshot, masked rows included. */
  private def v1Positions(dir: String): Map[Long, (String, Long)] = {
    val snap = VersionedTable.snapshotOf(spark, dir,
      VersionedTable.headVersion(spark, dir).get)
    spark.read.parquet(snap.dataFiles: _*)
      .select(col("k"), col("_metadata.file_path"),
        col("_metadata.row_index"))
      .collect().map(r => r.getLong(0) ->
        (new Path(new java.net.URI(r.getString(1))).toString, r.getLong(2)))
      .toMap
  }

  /** key → (_file, _pos) of every row `df` returns. */
  private def served(df: DataFrame): Map[Long, (String, Long)] =
    df.select(col("k"), col("_file"), col("_pos")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  private def assertParity(dir: String, df: DataFrame,
      live: Set[Long]): Unit = {
    val got = served(df)
    assert(got.keySet === live)
    val ref = v1Positions(dir)
    got.foreach { case (k, fp) =>
      assert(fp === ref(k), s"key $k: served $fp, V1 ${ref(k)}")
    }
  }

  private def table(props: String = "", part: String = "")
      : (String, String) = {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) $part " +
      (if (props.isEmpty) "" else s"TBLPROPERTIES ($props)"))
    spark.sql(s"INSERT INTO $cat.t SELECT id, cast(id AS STRING) " +
      "FROM range(0, 40)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, cast(id AS STRING) " +
      "FROM range(40, 70)")
    (cat, s"$root/t")
  }

  private val all = (0L until 70L).toSet

  test("clean snapshot: SQL and facade reads, filtered and not") {
    val (cat, dir) = table()
    assertParity(dir, spark.table(s"$cat.t"), all)
    assertParity(dir, VersionedTable.read(spark, dir), all)
    // positions count the rows the filter drops
    assertParity(dir, spark.table(s"$cat.t").where(col("k") % 3 === 0),
      all.filter(_ % 3 == 0))
    assertParity(dir, VersionedTable.read(spark, dir)
      .where(col("k") >= 50), all.filter(_ >= 50))
  }

  test("positionally masked snapshot") {
    val (cat, dir) = table(
      s"'${GraftLakeTable.DeleteModeProp}'='merge-on-read'")
    spark.sql(s"DELETE FROM $cat.t WHERE k IN (1, 2, 41, 69)")
    val live = all -- Set(1L, 2L, 41L, 69L)
    assertParity(dir, spark.table(s"$cat.t"), live)
    assertParity(dir, spark.table(s"$cat.t").where(col("k") > 30),
      live.filter(_ > 30))
  }

  test("equality-masked snapshot") {
    import spark.implicits._
    val (cat, dir) = table()
    VersionedTable.deleteByKeysMergeOnRead(spark, dir,
      Seq(0L, 39L, 40L).toDF("k"))
    val live = all -- Set(0L, 39L, 40L)
    assertParity(dir, spark.table(s"$cat.t"), live)
    assertParity(dir, VersionedTable.read(spark, dir)
      .where(col("k") < 45), live.filter(_ < 45))
  }

  test("lineage-enabled snapshot: _pos rides with _row_id") {
    val (cat, dir) = table("'graft.row.lineage'='true'")
    assertParity(dir, spark.table(s"$cat.t"), all)
    val rows = spark.sql(s"SELECT k, _pos, _row_id FROM $cat.t")
      .collect()
    assert(rows.length === 70 && rows.forall(!_.isNullAt(2)))
  }

  test("column-mapped snapshot") {
    val (cat, dir) = table()
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w")
    val snap = VersionedTable.snapshotOf(spark, dir,
      VersionedTable.headVersion(spark, dir).get)
    assert(LakeColumnMapping.fromMeta(snap.meta).exists(!_.isIdentity))
    assertParity(dir, spark.table(s"$cat.t"), all)
    assertParity(dir, spark.table(s"$cat.t").where(col("w") === "7"),
      Set(7L))
  }

  test("partitioned snapshot") {
    val (cat, dir) = table(part = "PARTITIONED BY (bucket(4, k))")
    assert(VersionedTable.filesOf(spark, dir,
      VersionedTable.headVersion(spark, dir).get)
      .exists(_.contains(LakePartitioning.PartColPrefix)))
    assertParity(dir, spark.table(s"$cat.t"), all)
    assertParity(dir, spark.table(s"$cat.t").where(col("k") === 5L),
      Set(5L))
  }

  test("a DATA column named _pos shadows the metadata column") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.s (k BIGINT, _pos BIGINT)")
    spark.sql(s"INSERT INTO $cat.s VALUES (1, 100), (2, 200)")
    assert(spark.sql(s"SELECT _pos FROM $cat.s ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(100L, 200L))
    // `_file` still serves next to the shadowing column
    assert(spark.sql(s"SELECT _file, _pos FROM $cat.s").collect()
      .forall(_.getString(0).contains("files-v")))
  }
}
