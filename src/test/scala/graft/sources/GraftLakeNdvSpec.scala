package graft.sources

import graft.SparkSpec

/** Manifest NDV sketches → CBO column statistics
  * ([[VersionedTable.mergedNdv]], [[LakeNdvStats]]): per-file theta
  * sketches declared via `graft.ndv.columns` merge at plan time into
  * reported distinct counts, and the planner's join decisions follow
  * the real cardinality. */
class GraftLakeNdvSpec extends SparkSpec {

  test("per-file sketches merge to exact NDVs at plan time (zero data IO)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, grp BIGINT, s STRING) " +
      "TBLPROPERTIES('graft.ndv.columns'='grp,s')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id % 7, " +
      "concat('g', id % 3) FROM range(0, 5000)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id % 11, " +
      "concat('g', id % 5) FROM range(5000, 10000)")
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    val snap = VersionedTable.snapshotOf(spark, s"$root/t", v)
    // sketches persisted per fresh file
    assert(snap.dataFiles.filter(p =>
      snap.stats.get(p).exists(_.rowCount > 0))
      .forall(p => snap.stats(p).ndv.keySet == Set("grp", "s")))
    // merged estimates: theta is EXACT below the nominal bound
    LakeFileStats.footerReads.set(0L)
    val ndv = VersionedTable.mergedNdv(snap, snap.dataFiles)
    assert(LakeFileStats.footerReads.get() === 0L,
      "plan-time NDV merge must be manifest-only")
    assert(ndv("grp") === 11L, s"got $ndv")   // 0..10 (7 ⊂ 11)
    assert(ndv("s") === 5L, s"got $ndv")      // g0..g4
  }

  test("a distinct-subquery join flips to broadcast from manifest NDV") {
    val (cat, _) = freshCatalog()
    // fact side: plain parquet, too big to broadcast under the test
    // threshold
    val factDir = freshDir("ndv_fact")
    spark.range(0, 20000).selectExpr("id", "id % 5 AS grp")
      .write.parquet(factDir)
    // two identical lake tables: one declares NDV, the control not
    spark.sql(s"CREATE TABLE $cat.dim (grp BIGINT, payload STRING) " +
      "TBLPROPERTIES('graft.ndv.columns'='grp')")
    spark.sql(s"CREATE TABLE $cat.ctl (grp BIGINT, payload STRING)")
    Seq("dim", "ctl").foreach(t => spark.sql(
      s"INSERT INTO $cat.$t SELECT id % 5, " +
        s"concat('payload_string_', id) FROM range(0, 20000)"))
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      def planOf(dimTable: String): String = {
        val df = spark.sql(
          s"""SELECT f.grp, count(*) AS n
             |FROM parquet.`$factDir` f
             |JOIN (SELECT DISTINCT grp FROM $cat.$dimTable) d
             |  ON f.grp = d.grp
             |GROUP BY f.grp""".stripMargin)
        df.queryExecution.sparkPlan.toString
      }
      val withNdv = planOf("dim")
      assert(withNdv.contains("BroadcastHashJoin"),
        s"manifest NDV (5) must flip the join to broadcast:\n$withNdv")
      val control = planOf("ctl")
      assert(!control.contains("BroadcastHashJoin"),
        s"the control must NOT broadcast (no NDV, fallback size):\n" +
          control)
      // and the answers are identical either way
      val a = spark.sql(s"SELECT f.grp, count(*) AS n FROM " +
        s"parquet.`$factDir` f JOIN (SELECT DISTINCT grp FROM " +
        s"$cat.dim) d ON f.grp = d.grp GROUP BY f.grp ORDER BY f.grp")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(a === (0L until 5L).map(g => (g, 4000L)))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("manifest MIN/MAX feed range-predicate selectivity: a 1% " +
      "range filter flips the join to broadcast where the stats-less " +
      "control stays on the shuffle") {
    val (cat, _) = freshCatalog()
    val factDir = freshDir("mm_fact")
    spark.range(0, 20000).selectExpr("id", "id % 10000 AS k")
      .write.parquet(factDir)
    spark.sql(s"CREATE TABLE $cat.dim (k BIGINT, payload STRING) " +
      "TBLPROPERTIES('graft.ndv.columns'='k')")
    spark.sql(s"CREATE TABLE $cat.ctl (k BIGINT, payload STRING)")
    Seq("dim", "ctl").foreach(t => spark.sql(
      s"INSERT INTO $cat.$t SELECT id, " +
        s"concat('payload_string_value_', id) FROM range(0, 10000)"))
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
      def q(t: String) = spark.sql(
        s"""SELECT count(*) AS n
           |FROM parquet.`$factDir` f
           |JOIN (SELECT k FROM $cat.$t WHERE k >= 9900) d
           |  ON f.k = d.k""".stripMargin)
      // the estimate itself: (max - 9900) / (max - min) ≈ 1% of rows
      val est = q("dim").queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.stats.rowCount
      }.flatten
      assert(est.nonEmpty && est.head <= 1000,
        s"range selectivity must come from manifest min/max: $est")
      val withMm = q("dim").queryExecution.sparkPlan.toString
      assert(withMm.contains("BroadcastHashJoin"),
        s"manifest min/max must flip the filtered join to broadcast:\n" +
          withMm)
      val control = q("ctl").queryExecution.sparkPlan.toString
      assert(!control.contains("BroadcastHashJoin"),
        s"the stats-less control must NOT broadcast:\n$control")
      assert(q("dim").collect()(0).getLong(0) === 200L) // 2 fact rows/key
      assert(q("ctl").collect()(0).getLong(0) === 200L)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("manifest KLL histograms fix SKEWED range selectivity: the " +
      "histogram table flips to broadcast where min/max interpolation " +
      "(uniformity assumption) keeps the control on the shuffle") {
    val (cat, _) = freshCatalog()
    val factDir = freshDir("h_fact")
    spark.range(0, 20000).selectExpr("id", "id % 10000 AS k")
      .write.parquet(factDir)
    // skew: 99% of rows in [0, 99], 1% spread over [5000, 9900] — a
    // range predicate k >= 4000 is ~1% selective, but min/max
    // interpolation estimates (max-4000)/(max-min) ≈ 60%
    def skewed(t: String): Unit = spark.sql(
      s"""INSERT INTO $cat.$t
         |SELECT CASE WHEN id % 100 <> 0 THEN id % 100
         |  ELSE 5000 + (id % 5000) DIV 100 * 100 END,
         |  concat('payload_string_value_padding_', id)
         |FROM range(0, 10000)""".stripMargin)
    spark.sql(s"CREATE TABLE $cat.dim (k BIGINT, payload STRING) " +
      "TBLPROPERTIES('graft.ndv.columns'='k', " +
      "'graft.histogram.columns'='k')")
    spark.sql(s"CREATE TABLE $cat.ctl (k BIGINT, payload STRING) " +
      "TBLPROPERTIES('graft.ndv.columns'='k')")
    skewed("dim"); skewed("ctl")
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(kk => kk -> spark.conf.getOption(kk))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8192")
      def q(t: String) = spark.sql(
        s"""SELECT count(*) AS n
           |FROM parquet.`$factDir` f
           |JOIN (SELECT k FROM $cat.$t WHERE k >= 4000) d
           |  ON f.k = d.k""".stripMargin)
      def estOf(t: String): BigInt = q(t).queryExecution.optimizedPlan
        .collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.stats.rowCount
        }.flatten.head
      // the histogram sees the skew: ~1% estimated; the uniformity
      // assumption estimates ~60%
      assert(estOf("dim") <= 500,
        s"histogram must shrink the skewed estimate: ${estOf("dim")}")
      assert(estOf("ctl") >= 2000,
        s"the control should overestimate: ${estOf("ctl")}")
      assert(q("dim").queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin"),
        "histogram estimate must flip the join to broadcast")
      assert(!q("ctl").queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin"),
        "the min/max-only control must stay on the shuffle")
      // identical answers either way
      assert(q("dim").collect()(0).getLong(0) ===
        q("ctl").collect()(0).getLong(0))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("histogram sketches ride the manifest and merge across files") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('graft.histogram.columns'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 5000)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(5000, 10000)")
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    val snap = VersionedTable.snapshotOf(spark, s"$root/t", v)
    assert(snap.dataFiles.filter(p =>
      snap.stats.get(p).exists(_.rowCount > 0))
      .forall(p => snap.stats(p).hist.contains("k")),
      "every fresh file must carry its KLL sketch")
    LakeFileStats.footerReads.set(0L)
    val merged = VersionedTable.mergedHist(snap, snap.dataFiles)
    assert(LakeFileStats.footerReads.get() === 0L,
      "plan-time histogram merge must be manifest-only")
    val sk = merged("k")
    assert(sk.getN === 10000L)
    // the merged median sits at the cross-file midpoint
    val p50 = sk.getQuantile(0.5)
    assert(p50 > 4000 && p50 < 6000, s"merged p50 drifted: $p50")
  }

  test("NDV survives column rename (stats re-key to logical)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, grp BIGINT) " +
      "TBLPROPERTIES('graft.ndv.columns'='grp')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id % 4 FROM range(0, 100)")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN grp TO bucket_id")
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    val snap = LakeColumnMapping.fromMeta(
      VersionedTable.snapshotOf(spark, s"$root/t", v).meta)
      .filterNot(_.isIdentity)
      .map(LakeColumnMapping.statsToLogical(_,
        VersionedTable.snapshotOf(spark, s"$root/t", v)))
      .getOrElse(VersionedTable.snapshotOf(spark, s"$root/t", v))
    assert(VersionedTable.mergedNdv(snap, snap.dataFiles).get("bucket_id")
      .contains(4L))
  }
}
