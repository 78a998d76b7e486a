package graft.sources

import graft.SparkSpec

/** Manifest-stats read optimizations on the lake catalog:
  * metadata-only aggregates (COUNT/MIN/MAX answered from the
  * manifest with ZERO footer or data-file IO) and runtime file
  * pruning (`SupportsRuntimeV2Filtering` fed by Spark's
  * dynamic-pruning subquery, pruning on manifest stats). */
class GraftLakeAggPruneSpec extends SparkSpec {

  test("count/min/max answered from manifest stats: local scan, " +
      "zero footer reads, zero jobs over data files") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING, d DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t VALUES (5, 'm', 1.5), (2, 'a', 0.5)")
    spark.sql(s"INSERT INTO $cat.t VALUES (9, 'z', 2.5), (7, NULL, 3.5)")
    val before = LakeFileStats.footerReads.get()
    val served0 = LakeStatsAggregate.served.get()
    val df = spark.sql(
      s"SELECT count(*) AS c, count(v) AS cv, min(k) AS mn, " +
        s"max(k) AS mx, min(v) AS sv, max(v) AS xv FROM $cat.t")
    val r = df.collect()(0)
    assert(r.getLong(0) === 4L)
    assert(r.getLong(1) === 3L) // count(v) skips the NULL
    assert(r.getInt(2) === 2 && r.getInt(3) === 9)
    assert(r.getString(4) === "a" && r.getString(5) === "z")
    assert(LakeStatsAggregate.served.get() > served0,
      "aggregate was not stats-answered")
    assert(LakeFileStats.footerReads.get() === before,
      "stats-answered aggregate must not open footers")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("LocalScan"),
      s"expected a driver-local scan:\n$plan")
  }

  test("stats answering refuses: WHERE, GROUP BY, unsupported types, " +
      "distinct — and still returns correct results") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING, d DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t VALUES (5, 'm', 1.5), (2, 'a', 0.5)")
    val served0 = LakeStatsAggregate.served.get()
    // WHERE: must scan
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE k > 3")
      .collect()(0).getLong(0) === 1L)
    // GROUP BY: must scan
    assert(spark.sql(
      s"SELECT v, count(*) FROM $cat.t GROUP BY v ORDER BY v")
      .collect().map(_.getLong(1)).toSeq === Seq(1L, 1L))
    // double MIN/MAX: refused (NaN semantics not provable from stats)
    assert(spark.sql(s"SELECT max(d) FROM $cat.t").collect()(0)
      .getDouble(0) === 1.5)
    // count(distinct): refused
    assert(spark.sql(s"SELECT count(DISTINCT v) FROM $cat.t")
      .collect()(0).getLong(0) === 2L)
    assert(LakeStatsAggregate.served.get() === served0,
      "a refused shape was wrongly stats-answered")
  }

  test("stats answering respects deletes, time travel, and evolution") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 2") // COW rewrite
    assert(spark.sql(s"SELECT count(*) AS c, max(k) AS m FROM $cat.t")
      .collect()(0).toSeq === Seq(2L, 3))
    // time travel answers the PINNED snapshot from its own manifest
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.t VERSION AS OF 1").collect()(0)
      .getLong(0) === 3L)
    // added column: old files lack it -> all-null there; count/min
    // over the merged schema stay exact
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN w INT")
    spark.sql(s"INSERT INTO $cat.t VALUES (4, 'd', 10)")
    val r = spark.sql(
      s"SELECT count(w) AS cw, min(w) AS mw, count(*) AS c FROM $cat.t")
      .collect()(0)
    assert(r.toSeq === Seq(1L, 10, 3L))
    // merge-on-read masks make manifest row counts unsound for the
    // LIVE view: the DV snapshot routes to the DV scan, never the
    // stats answer
    spark.sql(s"CREATE TABLE $cat.m (k INT) " +
      s"TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.m VALUES (1), (2), (3)")
    spark.sql(s"DELETE FROM $cat.m WHERE k = 2")
    val served1 = LakeStatsAggregate.served.get()
    assert(spark.sql(s"SELECT count(*) FROM $cat.m").collect()(0)
      .getLong(0) === 2L)
    assert(LakeStatsAggregate.served.get() === served1,
      "a DV-masked snapshot must not be stats-answered")
  }

  test("all-null column answers NULL min/max; empty table answers 0") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    val served0 = LakeStatsAggregate.served.get()
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 0L)
    spark.sql(s"INSERT INTO $cat.t VALUES (1, NULL), (2, NULL)")
    val r = spark.sql(
      s"SELECT min(v) AS mn, max(v) AS mx, count(v) AS c FROM $cat.t")
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) === 0L)
    assert(LakeStatsAggregate.served.get() >= served0 + 2)
  }

  test("truncated string bounds refuse exact min/max but results stay " +
      "correct") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    val long = "z" * 80 // beyond the 64-char manifest bound cap
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, '$long')")
    val served0 = LakeStatsAggregate.served.get()
    assert(spark.sql(s"SELECT max(v) FROM $cat.t").collect()(0)
      .getString(0) === long)
    assert(LakeStatsAggregate.served.get() === served0,
      "truncated bound must refuse the stats answer")
    // count(*) on the same table is still stats-answerable
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 2L)
    assert(LakeStatsAggregate.served.get() === served0 + 1)
  }

  test("runtime file pruning: dim-join keys drop fact files at " +
      "execution, result unchanged") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.fact (k INT, v DOUBLE) " +
      s"TBLPROPERTIES('graft.write.ordered-by'='k')")
    // clustered insert -> files own disjoint k ranges
    spark.range(0, 4000).selectExpr("CAST(id % 100 AS INT) AS k",
      "CAST(id AS DOUBLE) AS v")
      .repartition(8)
      .createOrReplaceTempView("glap_fact_src")
    spark.sql(s"INSERT INTO $cat.fact SELECT * FROM glap_fact_src")
    spark.range(0, 100).selectExpr("CAST(id AS INT) AS dk",
      "id % 10 AS grp").createOrReplaceTempView("glap_dim")
    LakeRuntimeFilterScan.lastPrune.set(-1L)
    val df = spark.sql(
      s"""SELECT sum(f.v) AS s, count(*) AS c
         |FROM $cat.fact f JOIN glap_dim d ON f.k = d.dk
         |WHERE d.grp = 0""".stripMargin)
    val r = df.collect()(0)
    // oracle: k % 10 == 0 rows of 0..3999 with k = id % 100
    val expect = (0L until 4000L).filter(i => (i % 100) % 10 == 0)
    assert(r.getLong(1) === expect.size.toLong)
    assert(r.getDouble(0) === expect.map(_.toDouble).sum)
    val packed = LakeRuntimeFilterScan.lastPrune.get()
    assert(packed >= 0, "runtime filter never reached the lake scan")
    val kept = (packed >> 32).toInt
    val total = (packed & 0xffffffffL).toInt
    assert(kept < total,
      s"expected file pruning on a clustered table, kept $kept/$total")
  }

  test("runtime group filtering narrows a source-driven MERGE to the " +
      "files holding its keys, with zero row loss") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.fact (k INT, v INT) " +
      s"TBLPROPERTIES('graft.write.ordered-by'='k')")
    spark.range(0, 1000).selectExpr("CAST(id AS INT) AS k",
      "CAST(id AS INT) AS v").repartition(4)
      .createOrReplaceTempView("glap_rgf_src")
    // tiny rows: AQE would coalesce the clustering range-shuffle into
    // 1-2 files and leave nothing to prune — pin the partition count
    val coalescePrior =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    val shufflePrior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try spark.sql(s"INSERT INTO $cat.fact SELECT * FROM glap_rgf_src")
    finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        coalescePrior)
      spark.conf.set("spark.sql.shuffle.partitions", shufflePrior)
    }
    val dir = s"$root/fact"
    val vBefore = VersionedTable.latestVersion(spark, dir).get
    val before = VersionedTable.filesOf(spark, dir, vBefore)
    assert(before.size >= 4, s"want >=4 clustered files, ${before.size}")
    // source keys live in ONE file's range; the merge condition
    // references the source, so static group pruning cannot narrow —
    // only the runtime group filter can
    spark.range(10, 20).selectExpr("CAST(id AS INT) AS k",
      "CAST(-1 AS INT) AS nv").createOrReplaceTempView("glap_rgf_delta")
    spark.sql(
      s"""MERGE INTO $cat.fact f USING glap_rgf_delta d ON f.k = d.k
         |WHEN MATCHED THEN UPDATE SET v = d.nv""".stripMargin)
    val vAfter = VersionedTable.latestVersion(spark, dir).get
    val after = VersionedTable.filesOf(spark, dir, vAfter)
    val carried = before.toSet.intersect(after.toSet)
    val replaced = before.size - carried.size
    assert(replaced < before.size,
      s"runtime group filter should carry most files, replaced " +
        s"$replaced/${before.size}")
    // zero row loss, exact update semantics
    assert(spark.sql(s"SELECT count(*) FROM $cat.fact").collect()(0)
      .getLong(0) === 1000L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.fact WHERE v = -1").collect()(0)
      .getLong(0) === 10L)
    assert(spark.sql(
      s"SELECT sum(v) FROM $cat.fact WHERE k >= 10 AND k < 20")
      .collect()(0).getLong(0) === -10L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.fact WHERE v = k").collect()(0)
      .getLong(0) === 990L)
  }

  test("runtime pruning is conservative: selective keys keep only " +
      "their files and never drop matching rows") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.fact (k INT, v INT) " +
      s"TBLPROPERTIES('graft.write.ordered-by'='k')")
    spark.range(0, 1000).selectExpr("CAST(id AS INT) AS k",
      "CAST(id * 3 AS INT) AS v").repartition(4)
      .createOrReplaceTempView("glap_cons_src")
    spark.sql(s"INSERT INTO $cat.fact SELECT * FROM glap_cons_src")
    // one-key dim: at most one fact file can match
    Seq(777).toDF("dk").createOrReplaceTempView("glap_one")
    LakeRuntimeFilterScan.lastPrune.set(-1L)
    val rows = spark.sql(
      s"""SELECT f.k, f.v FROM $cat.fact f
         |JOIN (SELECT dk FROM glap_one WHERE dk > 0) d ON f.k = d.dk
         |""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ===
      Seq((777, 2331)))
    val packed = LakeRuntimeFilterScan.lastPrune.get()
    if (packed >= 0) {
      val kept = (packed >> 32).toInt
      assert(kept <= 1, s"single key should keep at most 1 file, $kept")
    }
  }
}
