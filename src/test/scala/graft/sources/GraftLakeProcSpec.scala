package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** SQL `CALL` procedures over the lake catalog: compact + vacuum as
  * first-class analyzer-resolved statements (Spark 4 ProcedureCatalog),
  * replaying the facade lifecycle through plain SQL. */
class GraftLakeProcSpec extends SparkSpec {

  test("CALL system.compact rewrites to target_files and bumps the version") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    (1 to 5).foreach(i =>
      spark.sql(s"INSERT INTO $cat.t VALUES ($i)")) // v1..v5
    // 5 one-row files + the empty CREATE commit's schema file
    assert(VersionedTable.filesOf(spark, s"$root/t", 5).size === 6)
    val r = spark.sql(
      s"CALL $cat.system.compact(table => 't', target_files => 2)")
      .collect()(0)
    assert(r.getInt(0) === 6 && r.getInt(1) === 2)
    assert(VersionedTable.filesOf(spark, s"$root/t", 6).size === 2)
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === 15L)
    // positional arguments resolve too
    val r2 = spark.sql(s"CALL $cat.system.compact('t', 1)").collect()(0)
    assert(r2.getInt(0) === 7 && r2.getInt(1) === 1)
  }

  test("compact by target_size_mb computes the file count from on-disk bytes") {
    import org.apache.hadoop.fs.Path
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, pad STRING)")
    (1 to 4).foreach(i => spark.sql(
      s"INSERT INTO $cat.t SELECT id, repeat('x', 100) FROM range(1000)"))
    val dir = s"$root/t"
    val v = VersionedTable.latestVersion(spark, dir).get
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val total = VersionedTable.filesOf(spark, dir, v)
      .map(p => fs.getFileStatus(new Path(p)).getLen).sum
    // pick a size that divides the table into >1 files
    val targetBytes = total / 3
    val expect = math.ceil(total.toDouble / targetBytes).toInt
    VersionedTable.compactToSize(spark, dir, targetBytes)
    assert(VersionedTable.filesOf(spark, dir, v + 1).size === expect)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 4000L)
    // size wins over target_files through the CALL surface
    val r = spark.sql(s"CALL $cat.system.compact(table => 't', " +
      "target_size_mb => 1024L)").collect()(0)
    assert(r.getInt(1) === 1) // everything fits one 1 GB file
  }

  test("CALL system.vacuum deletes only below-horizon files; content intact") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (1), (2)")  // v1
    spark.sql(s"INSERT OVERWRITE $cat.ns.t VALUES (9)")  // v2: v1 files dead
    val dir = s"$root/ns/t"
    val deadBefore = VersionedTable.filesOf(spark, dir, 1)
    // grace_ms default keeps everything younger than 15 min
    val kept = spark.sql(
      s"CALL $cat.system.vacuum(table => 'ns.t', keep => 1)")
      .collect()(0)
    assert(kept.getInt(0) === 0, "grace window must protect young files")
    val r = spark.sql(
      s"CALL $cat.system.vacuum(table => 'ns.t', keep => 1, grace_ms => 0L)")
      .collect()(0)
    assert(r.getInt(0) > 0)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(deadBefore.forall(f => !fs.exists(new Path(f))),
      "replaced v1 files must be gone")
    assert(spark.sql(s"SELECT sum(k) FROM $cat.ns.t").collect()(0)
      .getLong(0) === 9L)
  }

  test("compact order_by gives an unclustered table disjoint per-file " +
      "key ranges (OPTIMIZE ZORDER shape)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    // interleaved inserts: arrival order scatters k across files
    spark.sql(s"INSERT INTO $cat.t SELECT id * 2, id FROM range(500)")
    spark.sql(s"INSERT INTO $cat.t SELECT id * 2 + 1, id FROM range(500)")
    val dir = s"$root/t"
    val r = spark.sql(s"CALL $cat.system.compact(table => 't', " +
      "target_files => 3, order_by => 'k')").collect()(0)
    assert(r.getInt(1) >= 2, "want multiple output files")
    val v = VersionedTable.latestVersion(spark, dir).get
    val snap = VersionedTable.snapshotOf(spark, dir, v)
    val ranges = snap.dataFiles.flatMap(p =>
      snap.stats.get(p).flatMap(_.cols.get("k")).flatMap(c =>
        for { mn <- c.min; mx <- c.max } yield
          (mn.asInstanceOf[Number].longValue(),
            mx.asInstanceOf[Number].longValue())))
    assert(ranges.size === snap.dataFiles.size)
    assert(ranges.sortBy(_._1).sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    }, s"order_by compaction must produce disjoint ranges: $ranges")
    // content preserved
    assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === 1000L)
  }

  test("vacuum retain_ms time-pins young versions below the count " +
      "window") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")  // v1
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (9)")  // v2: v1 files dead
    val timePinned = spark.sql(
      s"CALL $cat.system.vacuum(table => 't', keep => 1, " +
        "grace_ms => 0L, retain_ms => 3600000L)").collect()(0)
    assert(timePinned.getInt(0) === 0,
      "versions younger than retain_ms must survive")
    // time travel below the count horizon still serves
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t VERSION AS OF 1")
      .collect()(0).getLong(0) === 3L)
    val reclaimed = spark.sql(
      s"CALL $cat.system.vacuum(table => 't', keep => 1, " +
        "grace_ms => 0L)").collect()(0)
    assert(reclaimed.getInt(0) > 0)
    val _ = root
  }

  test("vacuum dry_run reports the reclaimable set without deleting") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")  // v1
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (9)")  // v2: v1 files dead
    val dir = s"$root/t"
    val dead = VersionedTable.filesOf(spark, dir, 1)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dry = spark.sql(s"CALL $cat.system.vacuum(table => 't', " +
      "keep => 1, grace_ms => 0L, dry_run => true)").collect()(0)
    assert(dry.getInt(0) > 0, "dry run must report reclaimable files")
    assert(dry.getLong(1) > 0L, "dry run must report reclaimable bytes")
    assert(dry.getBoolean(2))
    assert(dead.forall(f => fs.exists(new Path(f))),
      "dry run must not delete anything")
    // time travel below the horizon still serves after the dry run
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t VERSION AS OF 1")
      .collect()(0).getLong(0) === 3L)
    val real = spark.sql(s"CALL $cat.system.vacuum(table => 't', " +
      "keep => 1, grace_ms => 0L)").collect()(0)
    assert(real.getInt(0) === dry.getInt(0),
      "real vacuum must reclaim exactly what the dry run promised")
    assert(real.getLong(1) === dry.getLong(1))
    assert(!real.getBoolean(2))
    assert(dead.forall(f => !fs.exists(new Path(f))))
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === 9L)
  }

  test("compact through CALL honors declared clustering") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('graft.write.ordered-by'='k')")
    scala.util.Random.shuffle((0L until 1000L).toList).toDF("k")
      .createOrReplaceTempView("glproc_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k FROM glproc_src")
    spark.sql(s"CALL $cat.system.compact(table => 't', target_files => 3)")
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    val rs = VersionedTable.snapshotOf(spark, s"$root/t", v)
      .stats.values.filter(_.rowCount > 0)
      .map(st => (st.cols("k").min.get.asInstanceOf[Long],
        st.cols("k").max.get.asInstanceOf[Long])).toSeq.sortBy(_._1)
    assert(rs.size === 3)
    rs.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $rs")
      case _ => ()
    }
    spark.catalog.dropTempView("glproc_src")
  }

  test("CALL system.restore publishes the old snapshot forward; history intact") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")      // v1
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (99)")     // v2 (the bad one)
    val r = spark.sql(
      s"CALL $cat.system.restore(table => 't', version => 1)")
      .collect()(0)
    assert(r.getInt(0) === 3 && r.getInt(1) === 1)
    // state is v1's again...
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === 3L)
    // ...and the bad version is still time-travelable (post-mortem)
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t VERSION AS OF 2")
      .collect()(0).getLong(0) === 99L)
    // out-of-range restore fails loudly
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.restore('t', 9)").collect()
    }
    assert(e.getMessage.contains("history is 0..3"))
    assert(VersionedTable.latestVersion(spark, s"$root/t") === Some(3))
  }

  test("CALL system.clone forks zero-copy; properties travel; fork diverges") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.src (k BIGINT) " +
      "TBLPROPERTIES('graft.write.ordered-by'='k')")
    spark.sql(s"INSERT INTO $cat.src VALUES (1), (2), (3)")
    val r = spark.sql(
      s"CALL $cat.system.clone(source => 'src', target => 'fork')")
      .collect()(0)
    assert(r.getInt(0) === 0)
    // the clone references the SOURCE's files — zero data copied
    val srcFiles = VersionedTable.filesOf(spark, s"$root/src", 1).toSet
    val forkFiles = VersionedTable.filesOf(spark, s"$root/fork", 0).toSet
    assert(forkFiles === srcFiles)
    // declared properties traveled: SHOW TBLPROPERTIES + enforced
    // clustering on the fork's own commits
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.fork").collect()
      .map(row => row.getString(0) -> row.getString(1)).toMap
    assert(props.get("graft.write.ordered-by") === Some("k"))
    // fork diverges without touching src
    spark.sql(s"INSERT INTO $cat.fork VALUES (10)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.fork").collect()(0)
      .getLong(0) === 4L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src").collect()(0)
      .getLong(0) === 3L)
    // cloning onto an existing table refuses
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.clone('src', 'fork')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("already exists"))
  }

  test("SHOW PROCEDURES lists; unknown CALL and non-table fail loudly") {
    val (cat, _) = freshCatalog()
    val listed = spark.sql(s"SHOW PROCEDURES IN $cat").collect()
      .map(_.toString).mkString
    assert(listed.contains("compact") && listed.contains("vacuum"))
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.no_such_proc('t')")
    }
    assert(e1.getMessage.toLowerCase.contains("routine") &&
      e1.getMessage.contains("no_such_proc"))
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.compact(table => 'missing')")
        .collect()
    }
    assert(e2.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e2.getMessage.toLowerCase.contains("not found") ||
      e2.getMessage.toLowerCase.contains("missing"))
  }
}
