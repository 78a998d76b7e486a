package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

import graft.SparkSpec

/** V2 TableCatalog over VersionedTable: native SQL DDL/DML/time-travel
  * — CREATE/CTAS/INSERT INTO/INSERT OVERWRITE/VERSION AS OF/TIMESTAMP
  * AS OF — all riding the facade's atomic manifest commits, plus the
  * full parquet pushdown stack on catalog reads. */
class GraftLakeCatalogSpec extends SparkSpec {

  /** Fresh catalog per test: catalog instances cache their root at
    * initialize and CatalogManager caches instances by name, so each
    * test gets a unique name -> unique root. */

  test("create + insert + overwrite + version-as-of round trip") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    // v0 is the empty created snapshot
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === 0)
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b')") // v1
    spark.sql(s"INSERT INTO $cat.t VALUES (3, 'c')")           // v2
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === 3)
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (9, 'z')")      // v3
    // latest is the overwrite
    assert(spark.sql(s"SELECT k FROM $cat.t").collect()
      .map(_.getInt(0)).toSeq === Seq(9))
    // every prior snapshot still serves, unchanged — snapshot isolation
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").count() === 0)
    assert(spark.sql(
      s"SELECT sum(k) FROM $cat.t VERSION AS OF 1").collect()(0)
      .getLong(0) === 3L)
    assert(spark.sql(
      s"SELECT sum(k) FROM $cat.t VERSION AS OF 2").collect()(0)
      .getLong(0) === 6L)
    assert(spark.sql(
      s"SELECT sum(k) FROM $cat.t VERSION AS OF 3").collect()(0)
      .getLong(0) === 9L)
  }

  test("CTAS creates and populates through the catalog") {
    val (cat, _) = freshCatalog()
    spark.range(5).createOrReplaceTempView("glc_ctas_src")
    spark.sql(
      s"CREATE TABLE $cat.c AS SELECT id, id * 2 AS dbl FROM glc_ctas_src")
    assert(spark.sql(s"SELECT sum(dbl) FROM $cat.c").collect()(0)
      .getLong(0) === 20L)
    spark.catalog.dropTempView("glc_ctas_src")
  }

  test("timestamp-as-of resolves the newest version published at-or-before") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")                // v0
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")              // v1
    spark.sql(s"INSERT INTO $cat.t VALUES (2)")              // v2
    // pin manifest publish times to known instants (UTC)
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z")
      .toEpochMilli
    Seq(0, 1, 2).foreach(v => fs.setTimes(
      new Path(s"$root/t/_manifest/$v.txt"), base + v * 60000L, -1))
    def sumAt(ts: String): Long =
      spark.sql(s"SELECT coalesce(sum(k), 0) FROM $cat.t " +
        s"TIMESTAMP AS OF '$ts'").collect()(0).getLong(0)
    assert(sumAt("2026-01-01 00:00:30") === 0L)  // only v0 published
    assert(sumAt("2026-01-01 00:01:00") === 1L)  // v1 exactly at-or-before
    assert(sumAt("2026-01-01 00:05:00") === 3L)  // newest = v2
    val err = intercept[Exception] { sumAt("2025-12-31 00:00:00") }
    assert(err.getMessage.contains("no version"))
  }

  test("writes to a time-travel snapshot are rejected") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")
    val catalog = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[TableCatalog]
    val snap = catalog.loadTable(Identifier.of(Array.empty, "t"), "0")
      .asInstanceOf[GraftLakeTable]
    val err = intercept[UnsupportedOperationException] {
      snap.newWriteBuilder(null)
    }
    assert(err.getMessage.contains("time-travel snapshot"))
  }

  test("catalog reads push filters and prune columns like any V2 parquet scan") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING, w STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1,'a','x'), (2,'b','y')")
    val df = spark.sql(s"SELECT v FROM $cat.t WHERE k = 2")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,2)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("w:"),
      s"column w not pruned:\n$plan")
    assert(df.collect().map(_.getString(0)).toSeq === Seq("b"))
  }

  test("aggregate pushdown reaches the catalog scan — stats-answered " +
      "from the manifest, parquet footer pushdown as fallback") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2), (3)")
    // the manifest-stats path intercepts ahead of parquet's own
    // footer aggregates: COUNT collapses to a driver-local row with
    // no conf required (GraftLakeAggPruneSpec pins the IO mechanics)
    val df = spark.sql(s"SELECT count(*) FROM $cat.t")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"),
      s"aggregate not answered from manifest stats:\n$plan")
    assert(df.collect()(0).getLong(0) === 3L)
    // a shape the stats refuse (sum) still runs correctly through the
    // delegated parquet stack with the conf on
    val prior = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === 6L)
    finally spark.conf.set("spark.sql.parquet.aggregatePushdown", prior)
  }

  test("commit history records operation labels (DESCRIBE HISTORY " +
      "shape) across every publish path") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.h (k INT) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.h VALUES (1), (2), (3)")
    spark.sql(s"ALTER TABLE $cat.h ADD COLUMN w STRING")
    spark.sql(s"DELETE FROM $cat.h WHERE k = 2") // merge-on-read mask
    spark.sql(s"TRUNCATE TABLE $cat.h")
    spark.sql(s"CALL $cat.system.restore(table => 'h', version => 1)")
    val hist = spark.sql(
      s"SELECT version, operation FROM $cat.h.versions ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(hist === Seq((0, "create"), (1, "append"), (2, "add-column"),
      (3, "delete"), (4, "truncate"), (5, "restore")))
    // a clone's borrowed first version is labeled at the fork
    spark.sql(s"CALL $cat.system.clone(source => 'h', target => 'h2')")
    assert(spark.sql(s"SELECT operation FROM $cat.h2.versions")
      .collect().map(_.getString(0)).toSeq === Seq("clone"))
  }

  test("list/rename/drop table and namespace surfaces") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.t1 (k INT)")
    spark.sql(s"CREATE TABLE $cat.ns.t2 (k INT)")
    assert(spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .map(_.getString(1)).sorted.toSeq === Seq("t1", "t2"))
    // RENAME TO takes a catalog-relative multipart name
    spark.sql(s"ALTER TABLE $cat.ns.t2 RENAME TO ns.t3")
    assert(spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .map(_.getString(1)).sorted.toSeq === Seq("t1", "t3"))
    spark.sql(s"DROP TABLE $cat.ns.t3")
    assert(spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .map(_.getString(1)).toSeq === Seq("t1"))
    val err = intercept[TableAlreadyExistsException] {
      spark.sql(s"CREATE TABLE $cat.ns.t1 (k INT)")
    }
    assert(err.getMessage.contains("t1"))
    val miss = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.ns.missing").collect()
    }
    assert(miss.getMessage.contains("missing"))
  }

  test("partitioning transforms persist; duplicate columns reject loudly") {
    val (cat, _) = freshCatalog()
    // identity/bucket transforms are supported, multi-level included
    // (GraftLakeSpjSpec covers behavior)
    spark.sql(s"CREATE TABLE $cat.p (k INT, d STRING) " +
      "PARTITIONED BY (d, bucket(4, k))")
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.p").collect()
      .exists(r => r.getString(0) == "graft.partitioning" &&
        r.getString(1) == "identity(d),bucket(4,k)"))
    // two transforms over the SAME column would double-route
    val err = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE $cat.p2 (k INT, d STRING) " +
        "PARTITIONED BY (k, bucket(4, k))")
    }
    assert(err.getMessage.contains("distinct columns"))
  }

  test("DELETE FROM removes matches, keeps NULL-condition rows, old snapshots intact") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1,'a'), (2,'b'), " +
      "(NULL,'n'), (5,'e')")                                   // v1
    spark.sql(s"DELETE FROM $cat.t WHERE k < 3")               // v2
    // k=NULL survives: `k < 3` is NULL there, and SQL DELETE removes
    // only TRUE-condition rows
    assert(spark.sql(s"SELECT v FROM $cat.t ORDER BY v").collect()
      .map(_.getString(0)).toSeq === Seq("e", "n"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .collect()(0).getLong(0) === 4L)
    // compound + IN conditions translate too
    spark.sql(s"DELETE FROM $cat.t WHERE k IN (5) AND v = 'e'") // v3
    assert(spark.sql(s"SELECT v FROM $cat.t").collect()
      .map(_.getString(0)).toSeq === Seq("n"))
  }

  test("DELETE is copy-on-write: untouched files carry forward by reference") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 10)")    // v1
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(100, 110)") // v2
    val before = VersionedTable.filesOf(spark, s"$root/t", 2)
    spark.sql(s"DELETE FROM $cat.t WHERE k = 105")                  // v3
    val after = VersionedTable.filesOf(spark, s"$root/t", 3)
    // v1's files (k<10: no matches) appear in v3's manifest verbatim;
    // of v2's files, exactly those containing k=105 are replaced by
    // rewritten survivors — the rest carry forward by reference too
    val v1Files = before.filter(_.contains("files-v1"))
    assert(v1Files.nonEmpty && v1Files.forall(after.contains),
      s"untouched files were rewritten:\nbefore=$before\nafter=$after")
    val replaced = before.filter(_.contains("files-v2"))
      .filterNot(after.contains)
    assert(replaced.nonEmpty, "no touched file was replaced")
    val touched105 = spark.read.parquet(before: _*)
      .filter(org.apache.spark.sql.functions.col("k") === 105)
      .select(org.apache.spark.sql.functions
        .col("_metadata.file_path")).distinct().collect()
      .map(r => new Path(r.getString(0)).toString).toSet
    assert(replaced.map(p => new Path(p).toString).toSet === touched105,
      s"rewrite set != files containing the match:\n" +
        s"replaced=$replaced\ntouched=$touched105")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 19L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
      .collect()(0).getLong(0) === 20L)
  }

  test("DELETE on an overlapping layout rewrites only the files " +
      "holding a match") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    // four files that each span k 0..99 — min/max stats rule none out
    spark.range(0, 100).selectExpr("CAST(id AS INT) AS k",
      "CAST(id AS STRING) AS v").repartition(4)
      .createOrReplaceTempView("glc_overlap_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM glc_overlap_src")
    val dir = s"$root/t"
    val v = VersionedTable.latestVersion(spark, dir).get
    val before = VersionedTable.filesOf(spark, dir, v)
    assert(before.count(_.contains(s"files-v$v")) === 4,
      s"want 4 overlapping files: $before")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 7")
    val after = VersionedTable.filesOf(spark, dir, v + 1)
    val replaced = before.filterNot(after.contains)
      .map(p => new Path(p).toString).toSet
    val touched = spark.read.parquet(before: _*)
      .filter(org.apache.spark.sql.functions.col("k") === 7)
      .select(org.apache.spark.sql.functions
        .col("_metadata.file_path")).distinct().collect()
      .map(r => new Path(r.getString(0)).toString).toSet
    assert(touched.size === 1)
    assert(replaced === touched,
      s"rewrite set != files containing the match:\n" +
        s"replaced=$replaced\ntouched=$touched")
    assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.t").collect()(0)
      .toSeq === Seq(99L, 4943L))
  }

  test("unconditional DELETE on a copy-on-write table empties it; " +
      "history serves") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1,'a'), (2,'b')") // v1
    spark.sql(s"DELETE FROM $cat.t")                         // v2
    val latest = spark.sql(s"SELECT * FROM $cat.t")
    assert(latest.count() === 0)
    assert(latest.columns.toSeq === Seq("k", "v"))
    spark.sql(s"INSERT INTO $cat.t VALUES (3,'c')")          // v3
    spark.sql(s"DELETE FROM $cat.t WHERE true")              // v4
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .collect()(0).getLong(0) === 2L)
    assert(spark.sql(s"SELECT k FROM $cat.t VERSION AS OF 3")
      .collect().map(_.getInt(0)).toSeq === Seq(3))
  }

  test("TRUNCATE TABLE empties via schema-preserving commit; history serves") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1,'a'), (2,'b')") // v1
    spark.sql(s"TRUNCATE TABLE $cat.t")                      // v2
    val latest = spark.sql(s"SELECT * FROM $cat.t")
    assert(latest.count() === 0)
    assert(latest.columns.toSeq === Seq("k", "v"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .collect()(0).getLong(0) === 2L)
  }

  test("untranslatable DELETE condition rides the row-level rewrite") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1,'a'), (2,'bb'), (3,'ccc')")
    // length(v) has no V1 filter form -> canDeleteWhere false -> Spark
    // falls back to the group-based copy-on-write rewrite
    spark.sql(s"DELETE FROM $cat.t WHERE length(v) > 1")
    assert(spark.sql(s"SELECT v FROM $cat.t").collect()
      .map(_.getString(0)).toSeq === Seq("a"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .collect()(0).getLong(0) === 3L)
  }

  test("UPDATE rewrites matches in place, old snapshots intact") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql(s"UPDATE $cat.t SET v = concat(v, '!') WHERE k >= 2")
    assert(spark.sql(s"SELECT v FROM $cat.t ORDER BY k").collect()
      .map(_.getString(0)).toSeq === Seq("a", "b!", "c!"))
    assert(spark.sql(s"SELECT v FROM $cat.t VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getString(0)).toSeq === Seq("a", "b", "c"))
  }

  test("UPDATE is copy-on-write: files without matches carry forward by reference") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 10)")    // v1
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(100, 110)") // v2
    val before = VersionedTable.filesOf(spark, s"$root/t", 2)
    spark.sql(s"UPDATE $cat.t SET k = k + 1000 WHERE k >= 100")     // v3
    val after = VersionedTable.filesOf(spark, s"$root/t", 3)
    val v1Files = before.filter(_.contains("files-v1"))
    assert(v1Files.nonEmpty && v1Files.forall(after.contains),
      s"match-free files were rewritten:\nbefore=$before\nafter=$after")
    assert(before.filter(_.contains("files-v2"))
      .exists(p => !after.contains(p)), "no touched file was replaced")
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === (0 until 10).sum + (1100 until 1110).sum)
  }

  test("MERGE INTO: matched update + not-matched insert, one commit") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1,'a'), (2,'b')") // v1
    import spark.implicits._
    Seq((2, "B"), (3, "C")).toDF("k", "v")
      .createOrReplaceTempView("glc_merge_src")
    spark.sql(
      s"""MERGE INTO $cat.t AS t USING glc_merge_src AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |""".stripMargin)                                   // v2
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "a"), (2, "B"), (3, "C")))
    // exactly one version committed, prior snapshot intact
    assert(VersionedTable.latestVersion(spark, s"$root/t") === Some(2))
    assert(spark.sql(s"SELECT v FROM $cat.t VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    spark.catalog.dropTempView("glc_merge_src")
  }

  test("MERGE with DELETE clause and NOT MATCHED BY SOURCE") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1,'a'), (2,'b'), (9,'z')")
    import spark.implicits._
    Seq((1, "keep"), (2, "del")).toDF("k", "cmd")
      .createOrReplaceTempView("glc_merge_src2")
    spark.sql(
      s"""MERGE INTO $cat.t AS t USING glc_merge_src2 AS s ON t.k = s.k
         |WHEN MATCHED AND s.cmd = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.cmd
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'orphan'
         |""".stripMargin)
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "keep"), (9, "orphan")))
    spark.catalog.dropTempView("glc_merge_src2")
  }

  test("CDC upsert shape: gated MERGE is latest-wins, per-batch versioned, replay-idempotent") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.state (k BIGINT, ts BIGINT, v STRING)")
    def mergeBatch(rows: String): Unit = {
      spark.sql(s"SELECT * FROM VALUES $rows AS t(k, ts, v)")
        .createOrReplaceTempView("glc_cdc_batch")
      spark.sql(
        s"""MERGE INTO $cat.state AS t USING glc_cdc_batch AS s
           |ON t.k = s.k
           |WHEN MATCHED AND s.ts > t.ts THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |""".stripMargin)
      ()
    }
    mergeBatch("(1L, 10L, 'a1'), (2L, 10L, 'b1')") // v1
    mergeBatch("(1L, 20L, 'a2'), (3L, 5L, 'c1')")  // v2: update 1, insert 3
    // out-of-order late batch: older ts for k=1 must NOT overwrite
    mergeBatch("(1L, 15L, 'aSTALE')")              // v3 (no-op content-wise)
    def state(): Seq[(Long, Long, String)] =
      spark.sql(s"SELECT k, ts, v FROM $cat.state ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val expected = Seq((1L, 20L, "a2"), (2L, 10L, "b1"), (3L, 5L, "c1"))
    assert(state() === expected)
    // one atomic version per batch: create=v0 + 3 merges
    assert(VersionedTable.latestVersion(spark, s"$root/state") === Some(3))
    // at-least-once delivery: REPLAY batch 2 verbatim -> state unchanged
    mergeBatch("(1L, 20L, 'a2'), (3L, 5L, 'c1')")
    assert(state() === expected)
    // every intermediate snapshot still serves (the ingest audit log)
    assert(spark.sql(s"SELECT v FROM $cat.state VERSION AS OF 1 " +
      "WHERE k = 1").collect().map(_.getString(0)).toSeq === Seq("a1"))
  }

  test("versions metadata table reports exact footer counts per snapshot") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")                    // v0
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 7)")  // v1
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(10, 15)") // v2
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 10")               // v3
    val meta = spark.sql(
      s"SELECT version, n_files, total_rows FROM $cat.t.versions " +
        "ORDER BY version").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(meta.map(_._1) === Seq(0, 1, 2, 3))
    assert(meta.map(_._3) === Seq(0L, 7L, 12L, 7L))
    assert(meta.forall(_._2 >= 1))
    // footer counts equal a real count(*) of each snapshot
    meta.foreach { case (v, _, n) =>
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF $v")
        .collect()(0).getLong(0) === n)
    }
    // a genuinely missing child still errors
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.t.nope").collect()
    }
    assert(err.getMessage.contains("nope"))
  }

  test("bounded MERGE carries forward files outside the key range by reference") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0L FROM range(0, 10)")    // v1
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0L FROM range(100, 110)") // v2
    val before = VersionedTable.filesOf(spark, s"$root/t", 2)
    // the q178 CDC shape: ON-clause key bounds are a target-only
    // conjunct the rewrite scan's phase-1 prune can act on — files
    // whose footer stats exclude [100, 105] never rewrite
    spark.sql(s"SELECT * FROM VALUES (100L, 7L), (105L, 7L) AS s(k, v)")
      .createOrReplaceTempView("glc_bounded_src")
    spark.sql(
      s"""MERGE INTO $cat.t AS t USING glc_bounded_src AS s
         |ON t.k = s.k AND t.k BETWEEN 100 AND 105
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)                                              // v3
    val after = VersionedTable.filesOf(spark, s"$root/t", 3)
    val v1Files = before.filter(_.contains("files-v1"))
    assert(v1Files.nonEmpty && v1Files.forall(after.contains),
      s"out-of-range files were rewritten:\nbefore=$before\nafter=$after")
    assert(before.filter(_.contains("files-v2"))
      .exists(p => !after.contains(p)), "no in-range file was replaced")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t").collect()(0)
      .getLong(0) === 14L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 20L)
    spark.catalog.dropTempView("glc_bounded_src")
  }

  test("ALTER TABLE ADD COLUMN widens additively; other alters reject") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")        // v1
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN extra STRING") // v2
    assert(spark.table(s"$cat.t").columns.toSeq === Seq("k", "extra"))
    // old rows surface NULL for the new column; inserts carry it
    spark.sql(s"INSERT INTO $cat.t VALUES (3, 'x')")         // v3
    assert(spark.sql(s"SELECT k, extra FROM $cat.t ORDER BY k").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq ===
      Seq((1, None), (2, None), (3, Some("x"))))
    // pre-alter snapshot keeps its exact shape
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
      .columns.toSeq === Seq("k"))
    val dup = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN extra STRING")
    }
    assert(dup.getMessage.toLowerCase.contains("exists"))
    // DROP COLUMN is supported via column mapping
    // (GraftLakeColumnMappingSpec covers behavior); type WIDENING is
    // supported on identity-named tables (same spec suite) but
    // refuses on a mapped one until compact re-earns identity naming
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN extra")
    assert(spark.table(s"$cat.t").columns.toSeq === Seq("k"))
    val retype = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE BIGINT")
    }
    assert(retype.getMessage.contains("column-mapped table"))
  }

  test("catalog function morton2 resolves via FunctionCatalog, magic == row path == zValue") {
    val (cat, _) = freshCatalog()
    // resolves as <cat>.morton2 (catalog + empty namespace)
    val viaSql = spark.sql(
      s"SELECT $cat.morton2(id, id + 3) AS z FROM range(0, 100)")
      .collect().map(_.getLong(0)).toSeq
    // must agree with the q107 zValue expression bit-for-bit
    import spark.implicits._
    val viaExpr = spark.range(0, 100).toDF("id")
      .select(graft.ops.Relational.zValue(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("id") + 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql === viaExpr)
    // row fallback agrees with the magic method
    val bound = GraftLakeFunctions.Morton2Bound
    (0L until 100L).foreach { i =>
      assert(bound.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(i, i + 3)) ===
        bound.invoke(i, i + 3))
    }
    // SHOW FUNCTIONS surfaces it; unknown names fail loudly
    assert(spark.sql(s"SHOW FUNCTIONS IN $cat").collect()
      .exists(_.getString(0).contains("morton2")))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT $cat.nope(1)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("nope"))
  }

  test("schema widens across commits and old snapshots keep their shape") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)") // v1
    // widen via the facade (catalog INSERT checks the declared schema);
    // the catalog's mergeSchema read must surface the evolved column
    import spark.implicits._
    VersionedTable.commit(spark,
      Seq((2, "x")).toDF("k", "extra"), s"$root/t") // v2, carry-forward
    val latest = spark.sql(s"SELECT * FROM $cat.t ORDER BY k")
    assert(latest.columns.toSeq === Seq("k", "extra"))
    assert(latest.collect().map(r =>
      (r.getInt(0), Option(r.getString(1)))).toSeq ===
      Seq((1, None), (2, Some("x"))))
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
      .columns.toSeq === Seq("k"))
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES declares clustering on an " +
      "existing table; non-graft keys reject") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id * 2, id FROM range(400)")
    spark.sql(s"INSERT INTO $cat.t SELECT id * 2 + 1, id FROM range(400)")
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES(" +
      "'graft.write.ordered-by'='k')")
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
      .get("graft.write.ordered-by") === Some("k"))
    // compaction now applies the newly declared layout: disjoint
    // per-file key ranges from the manifest stats
    spark.sql(s"CALL $cat.system.compact(table => 't', " +
      "target_files => 3)")
    val dir = s"$root/t"
    val v = VersionedTable.latestVersion(spark, dir).get
    val snap = VersionedTable.snapshotOf(spark, dir, v)
    val ranges = snap.dataFiles.flatMap(p =>
      snap.stats.get(p).flatMap(_.cols.get("k")).flatMap(c =>
        for { mn <- c.min; mx <- c.max } yield
          (mn.asInstanceOf[Number].longValue(),
            mx.asInstanceOf[Number].longValue())))
    assert(ranges.size === snap.dataFiles.size && ranges.size >= 2)
    assert(ranges.sortBy(_._1).sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    }, s"declared-after-the-fact clustering must apply: $ranges")
    // UNSET removes the declaration
    spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES(" +
      "'graft.write.ordered-by')")
    assert(!spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
      .map(_.getString(0)).contains("graft.write.ordered-by"))
    // non-graft keys still reject loudly (no silent drops)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('foo'='bar')")
    }
    assert(e.getMessage.contains("graft."))
  }
}
