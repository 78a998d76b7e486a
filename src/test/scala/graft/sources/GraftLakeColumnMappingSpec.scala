package graft.sources

import graft.SparkSpec

/** COLUMN MAPPING ([[LakeColumnMapping]]): RENAME/DROP COLUMN without
  * touching committed data — logical↔physical name translation at the
  * scan and commit boundaries, snapshot-exact under time travel, with
  * the drop-then-re-add resurrection trap closed by fresh physical
  * names and the mixed-naming rewrite paths refused until compaction
  * re-earns identity naming. */
class GraftLakeColumnMappingSpec extends SparkSpec {

  test("RENAME COLUMN: zero data IO, reads/inserts/pushdown under the new name") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20), (3, 30)")
    val filesBefore = VersionedTable.snapshotOf(spark, s"$root/t",
      VersionedTable.latestVersion(spark, s"$root/t").get).dataFiles
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO amount")
    // manifest-only commit: the SAME files serve the renamed schema
    val after = VersionedTable.snapshotOf(spark, s"$root/t",
      VersionedTable.latestVersion(spark, s"$root/t").get)
    assert(after.dataFiles == filesBefore)
    assert(spark.sql(s"SELECT amount FROM $cat.t WHERE k = 2")
      .collect()(0).getLong(0) == 20L)
    // the old name is gone
    assert(intercept[Exception] {
      spark.sql(s"SELECT v FROM $cat.t").collect()
    }.getMessage.toLowerCase.contains("v"))
    // filter pushdown on the renamed column translates to physical
    assert(spark.sql(s"SELECT k FROM $cat.t WHERE amount > 15 ")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // appends after the rename land under the ORIGINAL physical name
    spark.sql(s"INSERT INTO $cat.t VALUES (4, 40)")
    assert(spark.sql(s"SELECT sum(amount) AS s FROM $cat.t")
      .collect()(0).getLong(0) == 100L)
    // time travel serves the PRE-RENAME names exactly
    val v1 = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "v"))
    assert(v1.collect().length == 3)
    // history labels the evolution
    assert(spark.sql(s"SELECT operation FROM $cat.t.versions " +
      "ORDER BY version").collect().map(_.getString(0))
      .contains("rename-column"))
  }

  test("metadata-only aggregates keep answering on renamed columns") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.m (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.m VALUES (1, 10), (2, 20), (7, 70)")
    spark.sql(s"ALTER TABLE $cat.m RENAME COLUMN v TO val")
    LakeFileStats.footerReads.set(0)
    val served = LakeStatsAggregate.served.get()
    val r = spark.sql(
      s"SELECT count(*) AS c, min(val) AS lo, max(val) AS hi FROM $cat.m")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 10L, 70L)))
    assert(LakeStatsAggregate.served.get() > served,
      "aggregate should be answered from manifest stats (logical names)")
    assert(LakeFileStats.footerReads.get() == 0)
  }

  test("DROP then re-ADD the same name never resurrects dropped data") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.d (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.d VALUES (1, 111), (2, 222)")
    spark.sql(s"ALTER TABLE $cat.d DROP COLUMN v")
    assert(spark.sql(s"SELECT * FROM $cat.d").columns.toSeq == Seq("k"))
    spark.sql(s"ALTER TABLE $cat.d ADD COLUMN v BIGINT")
    // old files' physical 'v' bytes must NOT surface under the new 'v'
    val rows = spark.sql(s"SELECT k, v FROM $cat.d ORDER BY k").collect()
    assert(rows.length == 2 && rows.forall(_.isNullAt(1)),
      s"dropped data resurrected: ${rows.mkString(", ")}")
    // the fresh physical name is suffixed, recorded in the mapping
    val meta = VersionedTable.snapshotOf(spark, s"$root/d",
      VersionedTable.latestVersion(spark, s"$root/d").get).meta
    assert(meta(LakeColumnMapping.MapMeta).contains("v:v__p"),
      s"expected suffixed physical for re-added v: $meta")
    // and writes land under it
    spark.sql(s"INSERT INTO $cat.d VALUES (3, 333)")
    val back = spark.sql(s"SELECT k, v FROM $cat.d ORDER BY k").collect()
    assert(back(2).getLong(1) == 333L && back(0).isNullAt(1))
  }

  test("rewrite paths refuse on a mapped table; compact re-earns identity naming") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.r (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.r VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE $cat.r RENAME COLUMN v TO w")
    intercept[UnsupportedOperationException] {
      spark.sql(s"UPDATE $cat.r SET w = 0 WHERE k = 1")
    }
    intercept[UnsupportedOperationException] {
      spark.sql(s"DELETE FROM $cat.r WHERE k = 1")
    }
    intercept[UnsupportedOperationException] {
      VersionedTable.deleteWhereMergeOnRead(spark, s"$root/r",
        org.apache.spark.sql.functions.col("k") === 1L)
    }
    intercept[UnsupportedOperationException] {
      VersionedTable.readStream(spark, s"$root/r")
    }
    // compact rewrites under logical names and CLEARS the mapping
    spark.sql(s"CALL $cat.system.compact(table => 'r', target_files => 1)")
    val meta = VersionedTable.snapshotOf(spark, s"$root/r",
      VersionedTable.latestVersion(spark, s"$root/r").get).meta
    assert(!meta.contains(LakeColumnMapping.MapMeta))
    // physical now IS logical: DML works again
    spark.sql(s"UPDATE $cat.r SET w = 99 WHERE k = 1")
    assert(spark.sql(s"SELECT w FROM $cat.r WHERE k = 1")
      .collect()(0).getLong(0) == 99L)
  }

  test("structural and validity guards") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.g (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.g VALUES (1, 10)")
    // the partition key routes every write: immutable
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $cat.g RENAME COLUMN k TO kk")
    }
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $cat.g DROP COLUMN k")
    }
    // non-structural columns still evolve on a partitioned table
    spark.sql(s"ALTER TABLE $cat.g RENAME COLUMN v TO w")
    assert(spark.sql(s"SELECT w FROM $cat.g").collect()(0).getLong(0) == 10L)
    // rename onto an existing name refuses (Spark's analyzer catches
    // it first; the catalog's own check also guards non-SQL callers)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.g RENAME COLUMN w TO k")
    }
    assert(spark.sql(s"SELECT w FROM $cat.g").collect()(0).getLong(0) == 10L)
    // dropping the last column refuses
    spark.sql(s"CREATE TABLE $cat.one (only BIGINT)")
    spark.sql(s"INSERT INTO $cat.one VALUES (1)")
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $cat.one DROP COLUMN only")
    }
  }

  test("INSERT OVERWRITE clears the mapping with fresh logical-named files") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.o (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.o VALUES (1, 10)")
    spark.sql(s"ALTER TABLE $cat.o RENAME COLUMN v TO w")
    spark.sql(s"INSERT OVERWRITE $cat.o VALUES (5, 50)")
    val meta = VersionedTable.snapshotOf(spark, s"$root/o",
      VersionedTable.latestVersion(spark, s"$root/o").get).meta
    assert(!meta.contains(LakeColumnMapping.MapMeta))
    assert(spark.sql(s"SELECT k, w FROM $cat.o").collect()(0)
      .toSeq == Seq(5L, 50L))
  }

  test("type widening: narrow files serve wide, appends land wide, time travel narrow") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.w (k INT, x FLOAT, s STRING)")
    spark.sql(s"INSERT INTO $cat.w VALUES " +
      "(1, CAST(1.5 AS FLOAT), 'a'), (2, CAST(2.5 AS FLOAT), 'b')")
    spark.sql(s"ALTER TABLE $cat.w ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.w ALTER COLUMN x TYPE DOUBLE")
    // schema is wide; old (narrow) rows serve through it
    val sch = spark.table(s"$cat.w").schema
    assert(sch("k").dataType == org.apache.spark.sql.types.LongType)
    assert(sch("x").dataType == org.apache.spark.sql.types.DoubleType)
    assert(spark.sql(s"SELECT sum(k) FROM $cat.w").collect()(0)
      .getLong(0) == 3L)
    // appends land wide: a value beyond int range round-trips
    spark.sql(s"INSERT INTO $cat.w VALUES (5000000000, 3.25, 'c')")
    assert(spark.sql(s"SELECT sum(k), round(sum(x), 2) FROM $cat.w")
      .collect()(0).toSeq == Seq(5000000003L, 7.25))
    // facade read agrees (mixed narrow/wide files, one wide schema)
    assert(VersionedTable.read(spark, s"$root/w")
      .agg(org.apache.spark.sql.functions.sum("k")).collect()(0)
      .getLong(0) == 5000000003L)
    // time travel below the widen commit serves the NARROW type
    val v0 = spark.sql(s"SELECT k FROM $cat.w VERSION AS OF 1")
    assert(v0.schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(v0.collect().map(_.getInt(0)).sum == 3)
    // the STREAM serves the wide schema too (pinned explicit — the
    // default mergeSchema inference refuses mixed widths)
    val streamed = graft.streaming.StreamOps.runToMemory(spark,
      VersionedTable.readStream(spark, s"$root/w")
        .groupBy().agg(org.apache.spark.sql.functions.sum("k").as("s")),
      scratch().name("glw"), "complete")
    assert(streamed.collect()(0).getLong(0) == 5000000003L)
    // compact rewrites everything wide and drops the override
    VersionedTable.compact(spark, s"$root/w", 1)
    val meta = VersionedTable.snapshotOf(spark, s"$root/w",
      VersionedTable.latestVersion(spark, s"$root/w").get).meta
    assert(!meta.contains(LakeTypeWidening.Meta),
      "compact must clear the widen override")
    assert(spark.sql(s"SELECT sum(k) FROM $cat.w").collect()(0)
      .getLong(0) == 5000000003L)
    assert(spark.table(s"$cat.w").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("type widening refuses narrowing, unrelated types and structural columns") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.r (k BIGINT, x DOUBLE, s STRING, " +
      "b INT) PARTITIONED BY (bucket(4, b))")
    spark.sql(s"INSERT INTO $cat.r VALUES (1, 1.0, 'a', 1)")
    intercept[Exception] { // narrowing
      spark.sql(s"ALTER TABLE $cat.r ALTER COLUMN k TYPE INT")
    }
    intercept[Exception] { // unrelated
      spark.sql(s"ALTER TABLE $cat.r ALTER COLUMN s TYPE BIGINT")
    }
    intercept[Exception] { // structural (partition key): a widening
      // of b would falsify every committed file's bucket claim
      spark.sql(s"ALTER TABLE $cat.r ALTER COLUMN b TYPE BIGINT")
    }
    // still intact
    assert(spark.sql(s"SELECT k FROM $cat.r").collect()(0)
      .getLong(0) == 1L)
  }
}
