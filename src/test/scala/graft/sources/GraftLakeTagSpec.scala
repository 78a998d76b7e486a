package graft.sources

import graft.SparkSpec

/** Tags: named immutable snapshot refs (Iceberg's tags) — addressable
  * time travel (`VERSION AS OF 'prod'`), retention pinning through
  * vacuum, SQL lifecycle via `CALL system.create_tag/drop_tag`, and
  * the `.refs` metadata table. */
class GraftLakeTagSpec extends SparkSpec {

  test("create_tag + VERSION AS OF '<tag>' + refs metadata table") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")         // v1
    spark.sql(s"CALL $cat.system.create_tag(table => 't', " +
      s"tag => 'prod')")                                      // pins v1
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (9)")          // v2
    // name resolves to the pinned snapshot, not latest
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t VERSION AS OF 'prod'")
      .collect()(0).getLong(0) === 3L)
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === 9L)
    // explicit-version tagging + the refs metadata table
    spark.sql(s"CALL $cat.system.create_tag(table => 't', " +
      s"tag => 'empty', version => 0)")
    assert(spark.sql(s"SELECT * FROM $cat.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq ===
      Seq(("empty", 0), ("prod", 1)))
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.t VERSION AS OF 'empty'")
      .collect()(0).getLong(0) === 0L)
  }

  test("tags are immutable, name-checked, and version-checked") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")
    spark.sql(s"CALL $cat.system.create_tag(table => 't', tag => 'a')")
    // duplicate loses the rename race
    val dup = intercept[IllegalStateException] {
      VersionedTable.createTag(spark, s"$root/t", "a", 0)
    }
    assert(dup.getMessage.contains("already exists"))
    // numeric and malformed names rejected (AS OF stays unambiguous)
    intercept[IllegalArgumentException] {
      VersionedTable.createTag(spark, s"$root/t", "123", 1)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.createTag(spark, s"$root/t", "../escape", 1)
    }
    // a tag must point at a published version
    intercept[IllegalArgumentException] {
      VersionedTable.createTag(spark, s"$root/t", "future", 99)
    }
    // unknown tag in AS OF is loud
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("no tag or branch 'nope'") ||
      Option(e.getCause).exists(
        _.getMessage.contains("no tag or branch 'nope'")))
  }

  test("vacuum retains tagged snapshots as pins; drop_tag releases") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")          // v1
    spark.sql(s"CALL $cat.system.create_tag(table => 't', " +
      s"tag => 'pin', version => 1)")
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (5)")          // v2
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (7)")          // v3
    spark.sql(s"CALL $cat.system.vacuum(table => 't', keep => 1, " +
      s"grace_ms => 0L)")
    // untagged v0/v2 manifests are gone; the tagged v1 still serves
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 2").collect()
    }
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t VERSION AS OF 'pin'")
      .collect()(0).getLong(0) === 3L)
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === 7L)
    // dropping the pin lets the next vacuum age it out
    val d = spark.sql(
      s"CALL $cat.system.drop_tag(table => 't', tag => 'pin')")
      .collect()(0)
    assert(d.getBoolean(0))
    spark.sql(s"CALL $cat.system.vacuum(table => 't', keep => 1, " +
      s"grace_ms => 0L)")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").collect()
    }
    assert(VersionedTable.tags(spark, s"$root/t").isEmpty)
    // dropping a missing tag reports false instead of failing
    assert(!spark.sql(
      s"CALL $cat.system.drop_tag(table => 't', tag => 'pin')")
      .collect()(0).getBoolean(0))
  }
}
