package graft.sources

import graft.SparkSpec

/** DEFAULT column values ([[LakeDefaults]] — the third metadata-only
  * schema evolution next to rename/drop and type widening): `ALTER
  * TABLE ADD COLUMN d INT DEFAULT 7` is one property-only commit; old
  * files backfill at read, INSERTs that omit the column write it,
  * time travel below the add serves absence. */
class GraftLakeDefaultsSpec extends SparkSpec {

  test("ADD COLUMN DEFAULT is property-only; old rows backfill, new rows write") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 10)")
    val filesBefore = VersionedTable.filesOf(spark, s"$root/t", 1)
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN d INT DEFAULT 7")   // v2
    // property-only: identical data files, zero IO
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    assert(VersionedTable.filesOf(spark, s"$root/t", v) === filesBefore,
      "the defaulted add must not land a carrier file")
    // old rows serve the backfill
    assert(spark.sql(s"SELECT sum(d) FROM $cat.t").collect()(0)
      .getLong(0) === 70L)
    // an INSERT omitting the column writes the default (analyzer
    // CURRENT_DEFAULT); an explicit value and an explicit NULL stick
    spark.sql(s"INSERT INTO $cat.t (k, v) VALUES (100, 1)")
    spark.sql(s"INSERT INTO $cat.t VALUES (101, 1, 42)")
    spark.sql(s"INSERT INTO $cat.t VALUES (102, 1, NULL)")
    val got = spark.sql(
      s"SELECT k, d FROM $cat.t WHERE k >= 100 ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getInt(1)))
    assert(got.toSeq === Seq((100L, 7), (101L, 42), (102L, null)),
      s"got ${got.toSeq}")
    // filters see the backfilled values (pushdown-safe)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE d = 7")
      .collect()(0).getLong(0) === 11L)
    // time travel below the add serves ABSENCE
    assert(!spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
      .columns.map(_.toLowerCase).contains("d"))
  }

  test("facade read, DML conditions and compact all see the backfill") {
    import org.apache.spark.sql.functions._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 10)")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN tier STRING " +
      "DEFAULT 'standard'")
    // facade read serves the default
    assert(VersionedTable.read(spark, s"$root/t")
      .filter(col("tier") === "standard").count() === 10L)
    // a COW delete conditioned on the DEFAULT column hits old rows
    spark.sql(s"INSERT INTO $cat.t VALUES (100, 'gold')")
    spark.sql(s"DELETE FROM $cat.t WHERE tier = 'standard' AND k < 3")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 8L)
    // survivors of the rewrite MATERIALIZED the value; compact too
    spark.sql(s"CALL $cat.system.compact(table => 't')")
    val got = spark.sql(s"SELECT tier, count(*) FROM $cat.t GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("standard" -> 7L, "gold" -> 1L), s"got $got")
  }

  test("defaults x widening: widen re-types the backfill entry") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 5)")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN d INT DEFAULT 7")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN d TYPE BIGINT")
    val f = spark.table(s"$cat.t").schema("d")
    assert(f.dataType === org.apache.spark.sql.types.LongType)
    assert(spark.sql(s"SELECT sum(d) FROM $cat.t").collect()(0)
      .getLong(0) === 35L)
    spark.sql(s"INSERT INTO $cat.t VALUES (9, 5000000000)")
    assert(spark.sql(s"SELECT max(d) FROM $cat.t").collect()(0)
      .getLong(0) === 5000000000L)
  }

  test("defaults x column mapping: rename carries the entry, drop retires it") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(0, 5)")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN d INT DEFAULT 7")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN d TO score")
    assert(spark.sql(s"SELECT sum(score) FROM $cat.t").collect()(0)
      .getLong(0) === 35L)
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN score")
    assert(!spark.table(s"$cat.t").columns
      .map(_.toLowerCase).contains("score"))
    // re-adding the name serves the NEW default, not the retired one
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN score INT DEFAULT 1")
    assert(spark.sql(s"SELECT sum(score) FROM $cat.t").collect()(0)
      .getLong(0) === 5L)
  }

  test("defaults x spec evolution: partitioned table adds stay property-only") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.p (k BIGINT, r STRING) " +
      "PARTITIONED BY (r)")
    spark.sql(s"INSERT INTO $cat.p VALUES (1, 'east'), (2, 'west')")
    val filesBefore = VersionedTable.filesOf(spark, s"$root/p",
      VersionedTable.latestVersion(spark, s"$root/p").get)
    spark.sql(s"ALTER TABLE $cat.p ADD COLUMN w INT DEFAULT 3")
    val v = VersionedTable.latestVersion(spark, s"$root/p").get
    assert(VersionedTable.filesOf(spark, s"$root/p", v) === filesBefore)
    // partition pruning still fires with the default column selected
    val got = spark.sql(
      s"SELECT k, w FROM $cat.p WHERE r = 'east'").collect()
    assert(got.length === 1 && got(0).getInt(1) === 3)
    // evolve the spec afterwards; default keeps serving
    spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES(" +
      "'graft.partitioning'='bucket(4, k)')")
    spark.sql(s"INSERT INTO $cat.p (k, r) VALUES (3, 'north')")
    val sums = spark.sql(s"SELECT sum(w), count(*) FROM $cat.p")
      .collect()(0)
    assert(sums.getLong(0) === 9L && sums.getLong(1) === 3L)
  }

  test("CREATE TABLE with DEFAULT refuses loudly (ALTER-time evolution only)") {
    val (cat, _) = freshCatalog()
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad (k BIGINT, d INT DEFAULT 7)")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("ALTER TABLE"), s"got: $msgs")
  }
}
