package graft.sources

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Write-side clustering as a TABLE property
  * (`graft.write.ordered-by`): every commit/compact/row-level rewrite
  * range-partitions its output on the declared key, so data files have
  * DISJOINT key ranges by construction and stats-based group pruning /
  * bounded merges prune maximally. */
class GraftLakeClusteringSpec extends SparkSpec {

  /** Per-file (min, max) of `column` straight from the MANIFEST stats
    * of the latest snapshot, restricted to `files` (default: all). */
  private def ranges(dir: String, column: String,
      onlyFiles: Option[Set[String]] = None): Seq[(Long, Long)] = {
    val v = VersionedTable.latestVersion(spark, dir).get
    val snap = VersionedTable.snapshotOf(spark, dir, v)
    snap.stats.toSeq
      .filter { case (f, _) => onlyFiles.forall(_.contains(f)) }
      .filter(_._2.rowCount > 0)
      .map { case (_, st) =>
        val c = st.cols(column)
        (c.min.get.asInstanceOf[Long], c.max.get.asInstanceOf[Long])
      }
  }

  private def assertDisjoint(rs: Seq[(Long, Long)]): Unit = {
    val sorted = rs.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping file ranges: $sorted")
      case _ => ()
    }
  }

  test("clustered compact yields exactly N files with disjoint key ranges") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.write.ordered-by'='k')")
    // shuffled arrival order: clustering must be the writer's doing
    scala.util.Random.shuffle((0L until 4000L).toList)
      .toDF("k").withColumn("v", col("k") * 2)
      .createOrReplaceTempView("glcl_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, v FROM glcl_src")
    VersionedTable.compact(spark, s"$root/t", targetFiles = 4)
    val rs = ranges(s"$root/t", "k")
    assert(rs.size === 4, s"expected 4 compacted files, got $rs")
    assertDisjoint(rs)
    // disjoint AND complete: the 4 ranges tile [0, 3999]
    assert(rs.map(_._1).min === 0L && rs.map(_._2).max === 3999L)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t").collect()(0)
      .getLong(0) === (0L until 4000L).map(_ * 2).sum)
    spark.catalog.dropTempView("glcl_src")
  }

  test("INSERT into an ordered-by table writes range-disjoint files") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('graft.write.ordered-by'='k')")
    scala.util.Random.shuffle((0L until 2000L).toList).toDF("k")
      .createOrReplaceTempView("glcl_ins_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k FROM glcl_ins_src")
    val rs = ranges(s"$root/t", "k")
    assert(rs.nonEmpty)
    assertDisjoint(rs)
    spark.catalog.dropTempView("glcl_ins_src")
  }

  test("bounded MERGE rewrites fewer files on a clustered table than " +
      "an unclustered one with identical content") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    def mkTable(name: String, props: String): Unit = {
      spark.sql(s"CREATE TABLE $cat.$name (k BIGINT, v BIGINT)$props")
      // interleaved arrival: round-robin files each span the full key
      // range on the unclustered table; the clustered one re-sorts
      (0L until 4000L).map(k => (k, 0L)).toDF("k", "v")
        .repartition(4).createOrReplaceTempView("glcl_merge_src")
      spark.sql(s"INSERT INTO $cat.$name SELECT k, v FROM glcl_merge_src")
      VersionedTable.compact(spark, s"$root/$name", targetFiles = 4)
    }
    mkTable("clustered", " TBLPROPERTIES('graft.write.ordered-by'='k')")
    mkTable("plain", "")
    (100L to 105L).map(k => (k, 7L)).toDF("k", "v")
      .createOrReplaceTempView("glcl_upd")
    // (files replaced, files holding a merge key before the merge)
    def mergeAndCountRewrites(name: String): (Int, Int) = {
      val vBefore = VersionedTable.latestVersion(spark, s"$root/$name").get
      val before = VersionedTable.filesOf(spark, s"$root/$name", vBefore)
      val holding = spark.read.parquet(before: _*)
        .filter(org.apache.spark.sql.functions.col("k")
          .between(100L, 105L))
        .select(org.apache.spark.sql.functions
          .col("_metadata.file_path")).distinct().count().toInt
      spark.sql(
        s"""MERGE INTO $cat.$name AS t USING glcl_upd AS s
           |ON t.k = s.k AND t.k BETWEEN 100 AND 105
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *
           |""".stripMargin)
      val after = VersionedTable.filesOf(spark,
        s"$root/$name", vBefore + 1)
      (before.count(f => !after.contains(f)), holding)
    }
    val (plainRewrites, plainHolding) = mergeAndCountRewrites("plain")
    val (clusteredRewrites, _) = mergeAndCountRewrites("clustered")
    // the rewrite replaces exactly the files holding a merge key: the
    // interleaved keys 100..105 sit in several round-robin files, the
    // clustered layout localizes [100,105] to one file
    assert(plainRewrites === plainHolding && plainRewrites > 1,
      s"plain rewrote $plainRewrites, $plainHolding hold a key")
    assert(clusteredRewrites === 1,
      s"clustered rewrote $clusteredRewrites")
    // identical answers either way
    Seq("clustered", "plain").foreach { t =>
      assert(spark.sql(s"SELECT sum(v) FROM $cat.$t").collect()(0)
        .getLong(0) === 42L)
    }
    spark.catalog.dropTempView("glcl_upd")
    spark.catalog.dropTempView("glcl_merge_src")
  }

  test("row-level rewrite output is itself range-clustered " +
      "(RequiresDistributionAndOrdering honored by Spark)") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.write.ordered-by'='k')")
    (0L until 4000L).map(k => (k, 0L)).toDF("k", "v")
      .createOrReplaceTempView("glcl_rdao_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, v FROM glcl_rdao_src")
    VersionedTable.compact(spark, s"$root/t", targetFiles = 4)
    val vBefore = VersionedTable.latestVersion(spark, s"$root/t").get
    val before = VersionedTable.filesOf(spark, s"$root/t", vBefore).toSet
    // whole-table UPDATE: every file rewrites; the replacement files
    // must come back range-disjoint because the WRITE declared its
    // ordering to Spark — the connector never touched the query. AQE
    // partition coalescing is off for the statement so the ordered
    // shuffle keeps its fan-out (a 1-file result pins nothing).
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      spark.sql(s"UPDATE $cat.t SET v = v + 1")
    } finally spark.conf.set(coalesceKey, prev)
    val after = VersionedTable.filesOf(spark, s"$root/t", vBefore + 1)
    val fresh = after.filterNot(before.contains).toSet
    assert(fresh.nonEmpty)
    val rs = ranges(s"$root/t", "k", Some(fresh))
    assert(rs.size > 1,
      s"need multiple replacement files to pin disjointness, got $rs")
    assertDisjoint(rs)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t").collect()(0)
      .getLong(0) === 4000L)
    spark.catalog.dropTempView("glcl_rdao_src")
  }

  test("morton2(a,b) clustering: files are disjoint in z-value") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES('graft.write.ordered-by'='morton2(a,b)')")
    scala.util.Random.shuffle(
      (for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)).toList)
      .toDF("a", "b").createOrReplaceTempView("glcl_z_src")
    spark.sql(s"INSERT INTO $cat.t SELECT a, b FROM glcl_z_src")
    VersionedTable.compact(spark, s"$root/t", targetFiles = 4)
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    val snap = VersionedTable.snapshotOf(spark, s"$root/t", v)
    // manifest stats carry a/b bounds, not z bounds — recompute each
    // file's z range from its rows and assert disjointness
    val zr = snap.dataFiles.map { f =>
      val z = spark.read.parquet(f)
        .select(graft.ops.Relational.zValue(col("a"), col("b")).as("z"))
        .agg(org.apache.spark.sql.functions.min("z"),
          org.apache.spark.sql.functions.max("z")).collect()(0)
      (z.getLong(0), z.getLong(1))
    }
    assert(zr.size === 4)
    assertDisjoint(zr)
    // row-level rewrite under a morton2 declaration: the ApplyTransform
    // sort order resolves through the catalog's own FunctionCatalog
    // (magic-invoke morton2) — a resolution failure would throw here
    spark.sql(s"UPDATE $cat.t SET b = b + 0 WHERE a < 2")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 4096L)
    spark.catalog.dropTempView("glcl_z_src")
  }

  test("a write missing the declared cluster column fails loudly") {
    import spark.implicits._
    val (_, root) = freshCatalog()
    val dir = s"$root/facade_t"
    VersionedTable.commit(spark,
      Seq((1L, 2L)).toDF("k", "v"), dir)
    // declare clustering on the facade table directly
    GraftLakeTable.writeProperties(spark, dir,
      java.util.Collections.singletonMap("graft.write.ordered-by", "k"))
    val err = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, Seq(3L).toDF("other"), dir)
    }
    assert(err.getMessage.contains("ordered-by"))
    // and a conforming facade commit clusters: 1-file append still
    // sorts within the file
    VersionedTable.commit(spark, Seq((9L, 9L), (3L, 3L)).toDF("k", "v"),
      dir)
    assert(VersionedTable.read(spark, dir).count() === 3)
  }
}
