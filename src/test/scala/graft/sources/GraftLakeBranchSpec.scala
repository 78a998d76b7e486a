package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Branches + write-audit-publish (Iceberg's branch refs and
  * `spark.wap.branch`): commits staged on a branch are invisible to
  * main until `fast_forward` publishes them by reference; while the
  * WAP conf is set, lake reads resolve the branch and batch writes
  * stage onto it. Retention treats branch heads as pins, and the
  * retention window counts MAIN versions only. */
class GraftLakeBranchSpec extends SparkSpec {

  private def withWap[A](branch: String)(body: => A): A = {
    spark.conf.set(GraftLakeTable.WapBranchConf, branch)
    try body
    finally spark.conf.unset(GraftLakeTable.WapBranchConf)
  }

  test("facade: branch commits stay off main until fastForward") {
    import spark.implicits._
    val dir = freshDir("branch_f")
    VersionedTable.commit(spark, Seq(1, 2).toDF("k"), dir,
      carryForward = false)                                   // v0 main
    VersionedTable.commit(spark, Seq(3).toDF("k"), dir,
      branch = Some("audit"))                                 // v1 staged
    // default read = main head, untouched by the staged commit
    assert(VersionedTable.read(spark, dir).count() === 2L)
    assert(VersionedTable.headVersion(spark, dir) === Some(0))
    assert(VersionedTable.latestVersion(spark, dir) === Some(1))
    // the branch resolves by name and carries main + delta
    val bv = VersionedTable.resolveRef(spark, dir, "audit")
    assert(VersionedTable.read(spark, dir, Some(bv)).count() === 3L)
    // second staged commit advances the branch, not main
    VersionedTable.commit(spark, Seq(4).toDF("k"), dir,
      branch = Some("audit"))                                 // v2 staged
    assert(VersionedTable.read(spark, dir).count() === 2L)
    assert(VersionedTable.branches(spark, dir)("audit") === 2)
    // publish: one manifest write, zero data copied
    val v = VersionedTable.fastForward(spark, dir, "audit")
    assert(VersionedTable.headVersion(spark, dir) === Some(v))
    assert(VersionedTable.read(spark, dir).as[Int].collect().sorted
      === Array(1, 2, 3, 4))
    // the published manifest references the staged files byte-identically
    val staged = VersionedTable.filesOf(spark, dir, 2).toSet
    assert(VersionedTable.filesOf(spark, dir, v).toSet === staged)
  }

  test("WAP: reads and writes follow the session branch; main " +
      "publishes only on fast_forward") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")          // v1 main
    withWap("etl_audit") {
      // stages on the branch (created implicitly at head)
      spark.sql(s"INSERT INTO $cat.t VALUES (3), (4)")
      // session reads resolve the staged state by the SAME table name
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
        .getLong(0) === 4L)
    }
    // conf cleared: main is untouched
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0)
      .getLong(0) === 2L)
    // audit by explicit ref without the conf
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.t VERSION AS OF 'etl_audit'")
      .collect()(0).getLong(0) === 4L)
    // refs metadata table lists the branch with its kind
    assert(spark.sql(
      s"SELECT name, kind FROM $cat.t.refs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("etl_audit", "branch")))
    // publish
    val r = spark.sql(s"CALL $cat.system.fast_forward(table => 't', " +
      "branch => 'etl_audit')").collect()(0)
    assert(spark.sql(s"SELECT sum(k) FROM $cat.t").collect()(0)
      .getLong(0) === 10L)
    // the published version is a main-line commit: history labels it,
    // and the versions table shows which line each commit staged on
    val hist = spark.sql(s"SELECT operation, branch " +
      s"FROM $cat.t.versions WHERE version = ${r.getInt(0)}").collect()
    assert(hist.map(_.getString(0)).toSeq === Seq("fast-forward"))
    assert(hist.forall(_.isNullAt(1)), "fast-forward is main-line")
    val staged = spark.sql(s"SELECT version FROM $cat.t.versions " +
      "WHERE branch = 'etl_audit'").collect()
    assert(staged.nonEmpty, "history must show the staged commit's line")
    val _ = root
  }

  test("WAP: row-level DML stages on the branch; TRUNCATE refuses; " +
      "a second table's reads without the branch fall back to main") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.a (k INT)")
    spark.sql(s"INSERT INTO $cat.a VALUES (1), (5)")
    spark.sql(s"CREATE TABLE $cat.b (k INT)")
    spark.sql(s"INSERT INTO $cat.b VALUES (7)")
    withWap("wip") {
      spark.sql(s"INSERT INTO $cat.a VALUES (2)") // creates branch on a
      // b has no 'wip' branch: reads fall back to its main head
      assert(spark.sql(s"SELECT sum(k) FROM $cat.b").collect()(0)
        .getLong(0) === 7L)
      // UPDATE/DELETE rebase on the BRANCH head and stage onto it
      spark.sql(s"UPDATE $cat.a SET k = 9 WHERE k = 1")
      spark.sql(s"DELETE FROM $cat.a WHERE k = 5")
      assert(spark.sql(s"SELECT sum(k) FROM $cat.a").collect()(0)
        .getLong(0) === 11L, "staged view: {9, 2}")
      val t = intercept[UnsupportedOperationException] {
        spark.sql(s"TRUNCATE TABLE $cat.a")
      }
      assert(t.getMessage.contains("wap"))
    }
    // main untouched by ANY of the staged statements
    assert(spark.sql(s"SELECT sum(k) FROM $cat.a").collect()(0)
      .getLong(0) === 6L)
    // publish, then the staged DML is the table
    spark.sql(s"CALL $cat.system.fast_forward(table => 'a', " +
      "branch => 'wip')")
    assert(spark.sql(s"SELECT sum(k) FROM $cat.a").collect()(0)
      .getLong(0) === 11L)
    // and a discarded branch leaves no trace (new branch on b)
    withWap("scrap") {
      spark.sql(s"DELETE FROM $cat.b WHERE k = 7")
      assert(spark.sql(s"SELECT count(*) FROM $cat.b").collect()(0)
        .getLong(0) === 0L)
    }
    assert(spark.sql(s"CALL $cat.system.drop_branch(table => 'b', " +
      "branch => 'scrap')").collect()(0).getBoolean(0))
    assert(spark.sql(s"SELECT count(*) FROM $cat.b").collect()(0)
      .getLong(0) === 1L)
  }

  test("vacuum: branch heads are pins and the retention window " +
      "counts main versions only") {
    import spark.implicits._
    val dir = freshDir("branch_v")
    VersionedTable.commit(spark, Seq(1).toDF("k"), dir,
      carryForward = false)                                   // v0 main
    VersionedTable.commit(spark, Seq(2).toDF("k"), dir,
      branch = Some("stage"))                                 // v1 staged
    VersionedTable.commit(spark, Seq(3).toDF("k"), dir,
      branch = Some("stage"))                                 // v2 staged
    // keep=1 must keep MAIN's head v0 (not count v1/v2 against it),
    // and the branch head v2 is a pin; superseded v1 ages out
    val deleted = VersionedTable.vacuum(spark, dir, keep = 1,
      graceMs = 0L)
    assert(VersionedTable.read(spark, dir).as[Int].collect().toSeq
      === Seq(1), "main head must survive keep=1")
    val bv = VersionedTable.branches(spark, dir)("stage")
    assert(VersionedTable.read(spark, dir, Some(bv)).count() === 3L,
      "pinned branch head must stay serveable")
    // v1's delta file was only referenced by the superseded branch
    // commit... but v2 carries it forward (append), so nothing from
    // v1's data dies; the v1 MANIFEST however is retired
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new Path(s"$dir/_manifest/1.txt")),
      "superseded branch manifest below the pin ages out")
    val _ = deleted
  }

  test("streaming source skips branch-staged commits; fast-forward " +
      "delivers them exactly once") {
    import spark.implicits._
    val dir = freshDir("branch_s")
    val ckpt = freshDir("branch_ck")
    VersionedTable.commit(spark, Seq(1).toDF("k"), dir,
      carryForward = false)                                   // v0
    VersionedTable.commit(spark, Seq(2).toDF("k"), dir)       // v1 main
    VersionedTable.commit(spark, Seq(99).toDF("k"), dir,
      branch = Some("wip"))                                   // v2 staged
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def drain(): Unit = {
      val q = VersionedTable.readStream(spark, dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k").collect().foreach(r => out.add(r.getInt(0)))
          ()
        }.start()
      q.awaitTermination(60000)
      ()
    }
    drain()
    assert(out.asScala().toSeq.sorted === Seq(1, 2),
      "staged 99 must not stream before publish")
    VersionedTable.fastForward(spark, dir, "wip")             // v3 main
    drain()
    assert(out.asScala().toSeq.sorted === Seq(1, 2, 99),
      "fast-forward delivers the staged rows exactly once")
  }

  test("a branch stream follows ONLY its branch's commits") {
    import spark.implicits._
    val dir = freshDir("branch_bs")
    val ckpt = freshDir("branch_bck")
    VersionedTable.commit(spark, Seq(1).toDF("k"), dir,
      carryForward = false)                                   // v0 main
    VersionedTable.commit(spark, Seq(10).toDF("k"), dir,
      branch = Some("exp"))                                   // v1 exp
    VersionedTable.commit(spark, Seq(2).toDF("k"), dir)       // v2 main
    VersionedTable.commit(spark, Seq(11).toDF("k"), dir,
      branch = Some("exp"))                                   // v3 exp
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def drain(): Unit = {
      val q = VersionedTable.readStream(spark, dir, Some("exp"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k").collect().foreach(r => out.add(r.getInt(0)))
          ()
        }.start()
      q.awaitTermination(60000)
      ()
    }
    // first drain: the branch head snapshot (base + both staged rows)
    drain()
    assert(out.asScala().toSeq.sorted === Seq(1, 10, 11),
      "branch snapshot = base + staged deltas, no unrelated main rows")
    // main appends don't reach the branch stream; a new staged commit does
    VersionedTable.commit(spark, Seq(3).toDF("k"), dir)       // v4 main
    VersionedTable.commit(spark, Seq(12).toDF("k"), dir,
      branch = Some("exp"))                                   // v5 exp
    drain()
    assert(out.asScala().toSeq.sorted === Seq(1, 10, 11, 12),
      "only the branch's own delta streams")
    // unknown branch refuses loudly
    val e = intercept[Exception] {
      VersionedTable.readStream(spark, dir, Some("nope"))
        .writeStream.format("noop").start()
    }
    assert(e.getMessage.contains("nope"))
  }

  test("interleaved main and branch commits never cross lines: each " +
      "line reads only its own chain at every step") {
    import spark.implicits._
    val dir = freshDir("branch_il")
    def main_ = VersionedTable.read(spark, dir).as[Int].collect().sorted
    def branch_ = VersionedTable.read(spark, dir, Some(
      VersionedTable.branches(spark, dir)("x"))).as[Int].collect().sorted
    VersionedTable.commit(spark, Seq(1).toDF("k"), dir,
      carryForward = false)                                 // v0 main
    VersionedTable.commit(spark, Seq(10).toDF("k"), dir,
      branch = Some("x"))                                   // v1 x: base v0
    assert(main_.toSeq === Seq(1) && branch_.toSeq === Seq(1, 10))
    VersionedTable.commit(spark, Seq(2).toDF("k"), dir)     // v2 main: base v0
    // the main append based on HEAD (v0), not on the staged v1
    assert(main_.toSeq === Seq(1, 2) && branch_.toSeq === Seq(1, 10))
    VersionedTable.commit(spark, Seq(11).toDF("k"), dir,
      branch = Some("x"))                                   // v3 x: base v1
    // the branch append based on ITS head (v1), not on main's v2
    assert(main_.toSeq === Seq(1, 2) &&
      branch_.toSeq === Seq(1, 10, 11))
    VersionedTable.commit(spark, Seq(3).toDF("k"), dir)     // v4 main
    assert(main_.toSeq === Seq(1, 2, 3) &&
      branch_.toSeq === Seq(1, 10, 11))
    // version numbers interleave in one sequence; lines stay disjoint
    assert(VersionedTable.latestVersion(spark, dir) === Some(4))
    assert(VersionedTable.headVersion(spark, dir) === Some(4))
    assert(VersionedTable.branches(spark, dir)("x") === 3)
    // main advanced past the fork (v0 → v2, v4): publishing the
    // branch would silently discard main's commits — refuse loudly
    // (Iceberg's fast_forward contract), main untouched
    val e = intercept[IllegalStateException] {
      VersionedTable.fastForward(spark, dir, "x")
    }
    assert(e.getMessage.contains("main advanced"))
    assert(main_.toSeq === Seq(1, 2, 3))
  }

  test("fast-forward advances the fork point: stage, publish, keep " +
      "staging, publish again") {
    import spark.implicits._
    val dir = freshDir("branch_ff")
    VersionedTable.commit(spark, Seq(1).toDF("k"), dir,
      carryForward = false)                                  // v0 main
    VersionedTable.commit(spark, Seq(2).toDF("k"), dir,
      branch = Some("x"))                                    // v1 x
    val p1 = VersionedTable.fastForward(spark, dir, "x")     // v2 main
    assert(VersionedTable.read(spark, dir).count() === 2L)
    // continued staging after publish: the fork point moved to the
    // published version, so the second publish is a true fast-forward
    VersionedTable.commit(spark, Seq(3).toDF("k"), dir,
      branch = Some("x"))                                    // v3 x
    val p2 = VersionedTable.fastForward(spark, dir, "x")     // v4 main
    assert(p2 > p1)
    assert(VersionedTable.read(spark, dir)
      .as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
  }

  test("change feed composes with branch scope: row-level +/- deltas " +
      "of the staged line only") {
    import spark.implicits._
    val dir = freshDir("branch_cf")
    val ckpt = freshDir("branch_cfk")
    VersionedTable.commit(spark, Seq(1).toDF("k"), dir,
      carryForward = false)                                   // v0 main
    VersionedTable.commit(spark, Seq(10).toDF("k"), dir,
      branch = Some("exp"))                                   // v1 exp
    VersionedTable.commit(spark, Seq(20).toDF("k"), dir,
      carryForward = false, branch = Some("exp"))             // v2 exp ow
    val out =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Int)]()
    val q = spark.readStream.format("graft-lake")
      .option("dir", dir).option("changeFeed", "true")
      .option("branch", "exp").option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "10")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("_change_type", "_commit_version", "k").collect()
          .foreach(r => out.add((r.getString(0), r.getInt(1),
            r.getInt(2))))
        ()
      }.start()
    q.awaitTermination(60000)
    val events = {
      val b = Seq.newBuilder[(String, Int, Int)]
      out.forEach(e => b += e)
      b.result().sorted
    }
    // replay from 0 on branch scope: main's v0 is not on the line, so
    // the branch's first commit delivers its FULL state as inserts;
    // the staged overwrite then deletes it and inserts the new state
    assert(events === Seq(
      ("delete", 2, 1), ("delete", 2, 10),
      ("insert", 1, 1), ("insert", 1, 10), ("insert", 2, 20)))
    // folding the ops per key leaves exactly the branch head's state
    assert(VersionedTable.read(spark, dir,
      Some(VersionedTable.branches(spark, dir)("exp")))
      .as[Int].collect().toSeq === Seq(20))
  }

  private implicit class QueueOps(
      q: java.util.concurrent.ConcurrentLinkedQueue[Int]) {
    def asScala(): Seq[Int] = {
      val b = Seq.newBuilder[Int]
      q.forEach(i => b += i)
      b.result()
    }
  }
}
