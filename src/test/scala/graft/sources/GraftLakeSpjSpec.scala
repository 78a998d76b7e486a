package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Declared table PARTITIONING + STORAGE-PARTITIONED JOINS
  * ([[LakePartitioning]] / [[LakeKeyGroupedScan]]): two lake tables
  * `PARTITIONED BY` the same transform join WITHOUT a shuffle — the
  * scan reports `KeyGroupedPartitioning`, every input partition
  * declares its key, and `EnsureRequirements` matches the layouts
  * instead of exchanging 100 TB twice. */
class GraftLakeSpjSpec extends SparkSpec {

  /** Run `body` with storage-partitioned joins enabled and broadcast
    * joins disabled (tiny test tables would otherwise broadcast and
    * hide the exchange question entirely). */
  private def withSpj[T](body: => T): T = {
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = keys.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Exchanges in the FINAL executed plan (AQE included): collect the
    * adaptive plan's final physical tree after execution. */
  private def exchanges(df: DataFrame): Int = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    "(?i)exchange".r.findAllIn(s).length
  }

  private def filesOf(root: String, table: String): Seq[String] = {
    val dir = s"$root/$table"
    val v = VersionedTable.latestVersion(spark, dir).get
    VersionedTable.snapshotOf(spark, dir, v).dataFiles
  }

  test("bucket-partitioned write: every data file claims exactly one bucket") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 1000L).toDF("k").withColumn("v", col("k") * 7L)
      .createOrReplaceTempView("glspj_src1")
    spark.sql(s"INSERT INTO $cat.t SELECT k, v FROM glspj_src1")
    val claims = filesOf(root, "t")
      .filter(p => !p.contains("files-v0-")) // v0 = empty schema carrier
      .map(p => LakePartitioning.rawValueOfPath(p))
    assert(claims.nonEmpty && claims.forall(_.isDefined))
    assert(claims.flatten.map(_.toInt).toSet == Set(0, 1, 2, 3))
    // each file's rows all hash to the file's claimed bucket
    claims.flatten.map(_.toInt).distinct.foreach { b =>
      val fs = filesOf(root, "t").filter(
        LakePartitioning.rawValueOfPath(_).contains(b.toString))
      val got = spark.read.parquet(fs: _*)
        .select(pmod(col("k"), lit(4L)).cast("int")).distinct().collect()
        .map(_.getInt(0)).toSet
      assert(got == Set(b), s"bucket $b files hold rows of buckets $got")
    }
    // full contents survive the routing
    assert(spark.sql(s"SELECT sum(k) AS s, sum(v) AS sv, count(*) AS c " +
      s"FROM $cat.t").collect()(0).toSeq ==
      Seq(499500L, 3496500L, 1000L))
  }

  test("SPJ: co-bucketed tables join with ZERO exchanges, result exact") {
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT, va BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT, vb BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 500L).toDF("k").withColumn("va", col("k") + 1L)
      .createOrReplaceTempView("glspj_a")
    (0L until 500L by 2L).toDF("k").withColumn("vb", col("k") * 3L)
      .createOrReplaceTempView("glspj_b")
    spark.sql(s"INSERT INTO $cat.a SELECT * FROM glspj_a")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM glspj_b")
    withSpj {
      val j = spark.sql(
        s"SELECT a.k, a.va, b.vb FROM $cat.a a JOIN $cat.b b ON a.k = b.k")
      assert(exchanges(j) == 0,
        s"expected a storage-partitioned join with no exchanges:\n" +
          j.queryExecution.executedPlan)
      val rows = j.collect()
      assert(rows.length == 250)
      assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum ==
        (0L until 500L by 2L).map(k => (k + 1) + k * 3).sum)
    }
    // sanity: with v2 bucketing forced OFF (default is ON in Spark 4)
    // the same join must plan exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      val j2 = spark.sql(
        s"SELECT a.k, a.va, b.vb FROM $cat.a a JOIN $cat.b b ON a.k = b.k")
      assert(exchanges(j2) > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("SPJ: identity-partitioned tables join shuffle-free") {
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.ia (g INT, x BIGINT) " +
      "PARTITIONED BY (g)")
    spark.sql(s"CREATE TABLE $cat.ib (g INT, y BIGINT) " +
      "PARTITIONED BY (g)")
    (0 until 400).map(i => (i % 5, i.toLong)).toDF("g", "x")
      .createOrReplaceTempView("glspj_ia")
    (0 until 400).map(i => (i % 5, i.toLong * 2))
      .toDF("g", "y").createOrReplaceTempView("glspj_ib")
    spark.sql(s"INSERT INTO $cat.ia SELECT * FROM glspj_ia")
    spark.sql(s"INSERT INTO $cat.ib SELECT * FROM glspj_ib")
    withSpj {
      val j = spark.sql(
        s"""SELECT a.g, a.x, b.y FROM $cat.ia a
           |JOIN $cat.ib b ON a.g = b.g""".stripMargin)
      assert(exchanges(j) == 0,
        s"expected identity SPJ without exchanges:\n" +
          j.queryExecution.executedPlan)
      assert(j.collect().length == 80 * 80 * 5)
    }
  }

  test("row-level DML keeps the key-claim layout: SPJ survives UPDATE/DELETE") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.da (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.db (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 200L).toDF("k").withColumn("v", col("k"))
      .createOrReplaceTempView("glspj_da")
    (0L until 200L).toDF("k").withColumn("w", col("k"))
      .createOrReplaceTempView("glspj_db")
    spark.sql(s"INSERT INTO $cat.da SELECT * FROM glspj_da")
    spark.sql(s"INSERT INTO $cat.db SELECT * FROM glspj_db")
    // the row-level rewrite routes its replacement files — claims hold
    spark.sql(s"UPDATE $cat.da SET v = v + 1000 WHERE k < 10")
    val files = filesOf(root, "da").filterNot(_.contains("files-v0-"))
    assert(files.forall(LakePartitioning.rawValueOfPath(_).isDefined),
      s"UPDATE must land routed replacement files: $files")
    // each replacement file's rows hash to its claimed bucket
    files.groupBy(LakePartitioning.rawValueOfPath(_).get).foreach {
      case (b, fs) =>
        val got = spark.read.parquet(fs: _*)
          .select(pmod(col("k"), lit(4L)).cast("int"))
          .distinct().collect().map(_.getInt(0)).toSet
        assert(got == Set(b.toInt), s"bucket $b holds $got after UPDATE")
    }
    withSpj {
      val j = spark.sql(
        s"SELECT a.k, a.v, b.w FROM $cat.da a JOIN $cat.db b ON a.k = b.k")
      assert(exchanges(j) == 0,
        s"SPJ must survive row-level DML:\n" +
          j.queryExecution.executedPlan)
      assert(j.collect().count(_.getLong(1) >= 1000L) == 10)
    }
    // DELETE (COW row-level on a partitioned table) keeps it too
    spark.sql(s"DELETE FROM $cat.da WHERE k = 5")
    withSpj {
      val j = spark.sql(
        s"SELECT a.k FROM $cat.da a JOIN $cat.db b ON a.k = b.k")
      assert(exchanges(j) == 0)
      assert(j.collect().length == 199)
    }
  }

  test("partition spec evolution is validated; UNSET and history writes refused") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.p (k BIGINT, s STRING) " +
      "PARTITIONED BY (bucket(8, k))")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.partitioning") == "bucket(8,k)")
    // evolution VALIDATES the new spec like CREATE does
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES(" +
        "'graft.partitioning'='bucket(4,nope)')") // no such column
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES(" +
        "'graft.partitioning'='days(k)')") // days over BIGINT
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES(" +
        "'graft.partitioning'='wat(k)')") // unparseable
    }
    // UNSET would orphan the generation history; the history property
    // itself is engine-maintained
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $cat.p UNSET TBLPROPERTIES(" +
        "'graft.partitioning')")
    }
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES(" +
        "'graft.partitioning.history'='0:bucket(2,k)')")
    }
    // a VALID evolution lands: new current spec + history entry
    spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES(" +
      "'graft.partitioning'='truncate(3, s)')")
    val props2 = spark.sql(s"SHOW TBLPROPERTIES $cat.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props2("graft.partitioning") == "truncate(3,s)")
    assert(props2("graft.partitioning.history").matches("""\d+:bucket\(8,k\)"""),
      s"history: ${props2.get("graft.partitioning.history")}")
    // a no-op re-declaration appends nothing
    spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES(" +
      "'graft.partitioning'='truncate(3,s)')")
    val props3 = spark.sql(s"SHOW TBLPROPERTIES $cat.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props3("graft.partitioning.history") ==
      props2("graft.partitioning.history"))
    // unsupported transforms and types reject loudly at CREATE
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad1 (t TIMESTAMP_NTZ, v INT) " +
        "PARTITIONED BY (years(v))")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad2 (d DOUBLE, v INT) " +
        "PARTITIONED BY (d)")
    }
  }

  test("spec evolution: per-generation pruning, SPJ degrade and compact re-earn") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    // generation 0: identity(region)
    spark.sql(s"CREATE TABLE $cat.ev (region STRING, k BIGINT, " +
      "v BIGINT) PARTITIONED BY (region)")
    val gen0 = Seq(("east", 1L, 10L), ("east", 2L, 20L),
      ("west", 3L, 30L), ("west", 4L, 40L), ("north", 5L, 50L))
    gen0.toDF("region", "k", "v").createOrReplaceTempView("glspj_ev0")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM glspj_ev0")
    // evolve: bucket(8, k) — committed files keep their claims
    spark.sql(s"ALTER TABLE $cat.ev SET TBLPROPERTIES(" +
      "'graft.partitioning'='bucket(8, k)')")
    val gen1 = Seq(("south", 6L, 60L), ("east", 7L, 70L),
      ("west", 8L, 80L))
    gen1.toDF("region", "k", "v").createOrReplaceTempView("glspj_ev1")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM glspj_ev1")
    // full scan serves BOTH generations
    assert(spark.sql(s"SELECT sum(v), count(*) FROM $cat.ev")
      .collect()(0).toSeq == Seq(360L, 8L))
    // gen-0 pruning still fires: region = 'east' drops gen-0 files of
    // other regions (gen-1 files keep — bucket(8,k) says nothing
    // about region)
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(
      s"SELECT sum(v) FROM $cat.ev WHERE region = 'east'")
      .collect()(0).getLong(0) == 100L)
    val p0 = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p0 >= 0 && (p0 >> 32).toInt < (p0 & 0xffffffffL).toInt,
      s"gen-0 identity prune should fire, got $p0")
    // gen-1 pruning fires on the NEW key: k = 7 keeps one gen-1
    // bucket (all gen-0 files kept — their spec says nothing about k)
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(s"SELECT v FROM $cat.ev WHERE k = 7")
      .collect().map(_.getLong(0)).toSeq == Seq(70L))
    val p1 = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p1 >= 0 && (p1 >> 32).toInt < (p1 & 0xffffffffL).toInt,
      s"gen-1 bucket prune should fire, got $p1")
    // .partitions reports PER GENERATION: identity values under the
    // old spec, bucket ints under the new one
    val parts = spark.sql(
      s"SELECT spec, partition FROM $cat.ev.partitions").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySpec = parts.groupBy(_._1)
    assert(bySpec.keySet == Set("identity(region)", "bucket(8,k)"),
      s"generation specs: ${bySpec.keySet}")
    assert(bySpec("identity(region)").map(_._2).toSet
      .subsetOf(Set("east", "west", "north")))
    assert(bySpec("bucket(8,k)").map(_._2).forall(_.forall(_.isDigit)))
    // mixed generations DEGRADE SPJ: a self-join shuffles
    spark.sql(s"CREATE TABLE $cat.dim (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    (1L to 8L).map(k => (k, k * 100)).toDF("k", "w")
      .createOrReplaceTempView("glspj_dim")
    spark.sql(s"INSERT INTO $cat.dim SELECT * FROM glspj_dim")
    withSpj {
      val j = spark.sql(s"SELECT e.k, e.v, d.w FROM $cat.ev e " +
        s"JOIN $cat.dim d ON e.k = d.k")
      assert(exchanges(j) > 0,
        "mixed-generation table must NOT claim key-grouped layout")
      assert(j.collect().length == 8)
    }
    // compact migrates every file to the current spec → SPJ re-earned
    VersionedTable.compact(spark, s"$root/ev", 4)
    val claims = filesOf(root, "ev")
      .flatMap(LakePartitioning.rawValueOfPath(_))
    assert(claims.nonEmpty && claims.forall(_.forall(_.isDigit)),
      s"post-compact claims should be bucket ints: $claims")
    withSpj {
      val j2 = spark.sql(s"SELECT e.k, e.v, d.w FROM $cat.ev e " +
        s"JOIN $cat.dim d ON e.k = d.k")
      assert(exchanges(j2) == 0,
        "compaction must re-earn the zero-exchange SPJ")
      assert(j2.collect().length == 8)
    }
    // content identical through the whole lifecycle
    assert(spark.sql(s"SELECT sum(v), count(*) FROM $cat.ev")
      .collect()(0).toSeq == Seq(360L, 8L))
  }

  test("bucket catalog function agrees with write-side routing, null-safe") {
    val (cat, _) = freshCatalog()
    import spark.implicits._
    // magic-invoke path (SQL) vs the routing expression
    val got = spark.sql(
      s"SELECT $cat.bucket(8, CAST(-3 AS BIGINT)) AS b1, " +
        s"$cat.bucket(8, 'hello') AS b2").collect()(0)
    assert(got.getInt(0) == java.lang.Math.floorMod(-3L, 8L).toInt)
    assert(got.getInt(1) ==
      GraftLakeFunctions.bucketOfString(8, "hello"))
    // produceResult is the SINGLE evaluation path (no magic invoke:
    // a primitive-arg magic method would null-propagate while the
    // contract buckets null keys to 0) — and it must agree with the
    // write-side routing
    assert(GraftLakeFunctions.BucketLong.produceResult(
      org.apache.spark.sql.catalyst.InternalRow(8, -3L)) ==
      java.lang.Math.floorMod(-3L, 8L).toInt)
    assert(GraftLakeFunctions.BucketLong.getClass.getMethods
      .forall(_.getName != "invoke"),
      "bucket functions must not expose a null-propagating magic invoke")
    // null key → bucket 0 on the function path, same as the router
    assert(GraftLakeFunctions.BucketLong.produceResult(
      org.apache.spark.sql.catalyst.InternalRow(8, null)) == 0)
    assert(GraftLakeFunctions.BucketString.produceResult(
      org.apache.spark.sql.catalyst.InternalRow(8, null)) == 0)
    // a null key routes to bucket 0 and still reads back
    spark.sql(s"CREATE TABLE $cat.nn (k BIGINT, v INT) " +
      "PARTITIONED BY (bucket(4, k))")
    Seq((Some(5L), 1), (None, 2)).toDF("k", "v")
      .createOrReplaceTempView("glspj_nulls")
    spark.sql(s"INSERT INTO $cat.nn SELECT * FROM glspj_nulls")
    val back = spark.sql(s"SELECT k, v FROM $cat.nn ORDER BY v").collect()
    assert(back.length == 2 && back(1).isNullAt(0))
  }

  test("static partition pruning: point lookup on a bucket table reads one bucket") {
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.pp (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    (0L until 800L).toDF("k").withColumn("v", col("k") * 3L)
      .createOrReplaceTempView("glspj_pp")
    spark.sql(s"INSERT INTO $cat.pp SELECT * FROM glspj_pp")
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    // k = 13 → bucket 5: exactly the files claiming bucket 5 survive
    val r = spark.sql(s"SELECT v FROM $cat.pp WHERE k = 13").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(39L))
    val packed = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(packed >= 0, "static partition prune did not fire")
    val (kept, total) = ((packed >> 32).toInt, (packed & 0xffffffffL).toInt)
    assert(kept < total && kept >= 1,
      s"expected a strict file prune, got $kept/$total")
    // IN list over two buckets keeps at most those buckets' files
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    val r2 = spark.sql(
      s"SELECT count(*) AS c FROM $cat.pp WHERE k IN (13, 14, 21)")
      .collect()(0).getLong(0)
    assert(r2 == 3L)
    val p2 = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p2 >= 0 && (p2 >> 32).toInt < (p2 & 0xffffffffL).toInt)
    // stats can't do this: bucket hashes aren't monotone, so the
    // [min,max] of k in every file spans nearly the whole domain —
    // the claim-based prune is the only exact one (sanity: every file
    // holds a wide k range)
    val wide = spark.sql(s"SELECT _file, max(k) - min(k) AS span " +
      s"FROM $cat.pp GROUP BY _file").collect()
    assert(wide.forall(_.getLong(1) > 100L))
  }

  test("streaming into a partitioned table: fanout epochs keep the key-claim layout") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.st (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.sd (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)](
        implicitly[org.apache.spark.sql.Encoder[(Long, Long)]],
        spark.sqlContext)
    val q = ms.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation", s"$root/_ckpt_spj")
      .toTable(s"$cat.st")
    try {
      ms.addData((0L until 100L).map(k => (k, k * 2)): _*)
      q.processAllAvailable() // epoch 0 -> v1
      ms.addData((100L until 160L).map(k => (k, k * 2)): _*)
      q.processAllAvailable() // epoch 1 -> v2
    } finally q.stop()
    // every streamed data file claims exactly one bucket in its path
    val dir = s"$root/st"
    val files = VersionedTable.snapshotOf(spark, dir,
      VersionedTable.latestVersion(spark, dir).get).dataFiles
      .filterNot(_.contains("files-v0-"))
    assert(files.nonEmpty &&
      files.forall(LakePartitioning.rawValueOfPath(_).isDefined),
      s"unclaimed streamed files: $files")
    // and each file's rows hash to its claimed bucket
    files.groupBy(LakePartitioning.rawValueOfPath(_).get).foreach {
      case (b, fs) =>
        val got = spark.read.parquet(fs: _*)
          .select(pmod(col("k"), lit(4L)).cast("int"))
          .distinct().collect().map(_.getInt(0)).toSet
        assert(got == Set(b.toInt), s"bucket $b holds $got")
    }
    // a streamed partitioned table joins shuffle-free
    (0L until 160L).toDF("k").withColumn("w", col("k") * 5L)
      .createOrReplaceTempView("glspj_sd")
    spark.sql(s"INSERT INTO $cat.sd SELECT * FROM glspj_sd")
    withSpj {
      val j = spark.sql(
        s"SELECT a.k, a.v, b.w FROM $cat.st a JOIN $cat.sd b ON a.k = b.k")
      assert(exchanges(j) == 0,
        s"streamed partitioned table must keep SPJ:\n" +
          j.queryExecution.executedPlan)
      assert(j.collect().length == 160)
    }
    // totals exact after the fanout routing
    assert(spark.sql(s"SELECT sum(v) AS s FROM $cat.st").collect()(0)
      .getLong(0) == (0L until 160L).map(_ * 2).sum)
  }

  test(".partitions metadata table reports per-value layout incl. unrouted debt") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.pm (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 400L).toDF("k").withColumn("v", col("k"))
      .createOrReplaceTempView("glspj_pm")
    spark.sql(s"INSERT INTO $cat.pm SELECT * FROM glspj_pm")
    val rows = spark.sql(s"SELECT * FROM $cat.pm.partitions").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(0)).toSet == Set("0", "1", "2", "3"))
    assert(rows.map(_.getString(1)).toSet == Set("bucket(4,k)"))
    assert(rows.map(_.getLong(3)).sum == 400L)
    assert(rows.forall(r => r.getInt(2) >= 1 && r.getLong(4) > 0L))
    // a foreign non-routing writer (every graft path routes now)
    // shows up as the NULL (layout-debt) row
    val tdir = s"$root/pm"
    val stray = s"$tdir/files-vX-foreign"
    val strayDf = (900L to 901L).toDF("k").withColumn("v", col("k"))
    strayDf.coalesce(1).write.parquet(stray)
    val strayFile = VersionedTable.listDataFiles(spark, tdir, stray)
    val head = VersionedTable.latestVersion(spark, tdir).get
    val snap0 = VersionedTable.snapshotOf(spark, tdir, head)
    VersionedTable.publishVersion(spark, tdir, head + 1,
      snap0.dataFiles ++ strayFile, strayDf.schema, Seq.empty,
      snap0.stats, snap0.meta)
    val withDebt = spark.sql(s"SELECT * FROM $cat.pm.partitions")
      .collect()
    assert(withDebt.exists(_.isNullAt(0)),
      s"expected a NULL layout-debt row: ${withDebt.mkString("|")}")
    assert(withDebt.map(_.getLong(3)).sum == 402L)
    // refuses on an unpartitioned table
    spark.sql(s"CREATE TABLE $cat.flat (k BIGINT)")
    intercept[UnsupportedOperationException] {
      spark.sql(s"SELECT * FROM $cat.flat.partitions").collect()
    }
  }

  test("GROUP BY the partition key aggregates without an exchange") {
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.ag (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 400L).toDF("k").withColumn("v", col("k"))
      .createOrReplaceTempView("glspj_ag")
    spark.sql(s"INSERT INTO $cat.ag SELECT * FROM glspj_ag")
    withSpj {
      val a = spark.sql(
        s"SELECT k, sum(v) AS s FROM $cat.ag GROUP BY k")
      assert(exchanges(a) == 0,
        s"partition-key aggregation must not exchange:\n" +
          a.queryExecution.executedPlan)
      assert(a.collect().length == 400)
    }
  }

  test("one-side shuffle: joining an UNPARTITIONED table shuffles only that side") {
    // the 100 TB story: the partitioned fact never moves — Spark
    // re-shuffles the unpartitioned side WITH the catalog's own
    // bucket function (v2.bucketing.shuffle.enabled evaluates
    // BucketFn to route rows into the fact's existing buckets)
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.fact (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 600L).toDF("k").withColumn("v", col("k") * 2L)
      .createOrReplaceTempView("glspj_f1s")
    spark.sql(s"INSERT INTO $cat.fact SELECT * FROM glspj_f1s")
    (0L until 600L by 3L).map(k => (k, k + 7L)).toDF("k", "w")
      .createOrReplaceTempView("glspj_d1s")
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = keys.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.sql(
        s"""SELECT f.k, f.v, d.w FROM $cat.fact f
           |JOIN glspj_d1s d ON f.k = d.k""".stripMargin)
      j.collect()
      // AQE renders Final and Initial plan sections — count the final
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val n = "(?i)exchange ".r.findAllIn(plan + " ").length
      assert(j.collect().length == 200)
      // exactly one side exchanges (the in-memory dim), and it
      // re-buckets WITH the catalog's own function — the shuffle is
      // `keygroupedpartitioning(transformexpression(BucketLong...))`,
      // never a plain hashpartitioning of both sides
      assert(n == 1,
        s"expected exactly one exchange (dim side), got $n:\n$plan")
      assert(plan.contains("keygroupedpartitioning") &&
        plan.toLowerCase.contains("bucketlong"),
        s"dim side must re-bucket with the catalog bucket function:\n$plan")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("vacuum sees nested partition files: live data survives, superseded versions reclaim whole") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.vc (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 200L).toDF("k").withColumn("v", col("k"))
      .createOrReplaceTempView("glspj_vc1")
    spark.sql(s"INSERT INTO $cat.vc SELECT * FROM glspj_vc1")       // v1
    (500L until 600L).toDF("k").withColumn("v", col("k"))
      .createOrReplaceTempView("glspj_vc2")
    spark.sql(s"INSERT OVERWRITE $cat.vc SELECT * FROM glspj_vc2")  // v2
    val dir = s"$root/vc"
    val liveFiles = VersionedTable.snapshotOf(spark, dir, 2).dataFiles
    // the HEAD's nested partition files are LIVE references — a
    // non-recursive classifier would see only _SUCCESS at the top of
    // each dir, call the whole dir unreferenced, and take them
    val reclaimed = spark.sql(
      s"CALL $cat.system.vacuum(table => 'vc', keep => 1, " +
        "grace_ms => 0L)").collect()
    assert(reclaimed.nonEmpty)
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    liveFiles.foreach { p =>
      assert(f.exists(new org.apache.hadoop.fs.Path(p)),
        s"vacuum deleted a LIVE partitioned file: $p")
    }
    // v1's superseded partitioned files are actually gone
    assert(intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.vc VERSION AS OF 1").collect()
    }.getMessage.nonEmpty)
    // and the table still answers exactly
    assert(spark.sql(s"SELECT count(*) AS c, sum(k) AS s FROM $cat.vc")
      .collect()(0).toSeq == Seq(100L, (500L until 600L).sum))
  }

  test("multi-column partitioning: composite-key SPJ, per-level pruning, tuple claims") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.ma (g INT, k BIGINT, v BIGINT) " +
      "PARTITIONED BY (g, bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.mb (g INT, k BIGINT, w BIGINT) " +
      "PARTITIONED BY (g, bucket(4, k))")
    val rows = (0 until 300).map(i => (i % 3, i.toLong, i.toLong * 2))
    rows.toDF("g", "k", "v").createOrReplaceTempView("glspj_ma")
    rows.map { case (g, k, _) => (g, k, k * 5) }
      .toDF("g", "k", "w").createOrReplaceTempView("glspj_mb")
    spark.sql(s"INSERT INTO $cat.ma SELECT * FROM glspj_ma")
    spark.sql(s"INSERT INTO $cat.mb SELECT * FROM glspj_mb")
    // every data file claims one (g, bucket) TUPLE, nested in order
    val files = VersionedTable.snapshotOf(spark, s"$root/ma",
      VersionedTable.latestVersion(spark, s"$root/ma").get).dataFiles
      .filterNot(_.contains("files-v0-"))
    val claims = files.map(LakePartitioning.rawValuesOfPath(_, 2))
    assert(claims.nonEmpty && claims.forall(_.exists(_.size == 2)))
    assert(claims.flatten.map(_.head).toSet == Set("0", "1", "2"))
    // composite-key SPJ: join on BOTH partition keys, zero exchanges
    withSpj {
      val j = spark.sql(
        s"""SELECT a.g, a.k, a.v, b.w FROM $cat.ma a
           |JOIN $cat.mb b ON a.g = b.g AND a.k = b.k""".stripMargin)
      assert(exchanges(j) == 0,
        s"composite SPJ must not exchange:\n" +
          j.queryExecution.executedPlan)
      assert(j.collect().length == 300)
    }
    // per-level static pruning: identity level alone, then both
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ma WHERE g = 1")
      .collect()(0).getLong(0) == 100L)
    val p1 = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p1 >= 0 && (p1 >> 32).toInt < (p1 & 0xffffffffL).toInt)
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(
      s"SELECT v FROM $cat.ma WHERE g = 1 AND k = 13").collect()
      .map(_.getLong(0)).toSeq == Seq(26L))
    val p2 = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p2 >= 0 && (p2 >> 32).toInt <= (p1 >> 32).toInt,
      "constraining both levels must keep no more files than one")
    // .partitions reports slash-joined tuples that sum to the count
    val parts = spark.sql(
      s"SELECT partition, row_count FROM $cat.ma.partitions").collect()
    assert(parts.forall(_.getString(0).contains("/")))
    assert(parts.map(_.getLong(1)).sum == 300L)
    // partition columns are structural at every level
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $cat.ma RENAME COLUMN g TO h")
    }
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $cat.ma DROP COLUMN k")
    }
  }

  test("DATE identity partitioning: ISO dir values, typed claims, static prune") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.dt (d DATE, v BIGINT) " +
      "PARTITIONED BY (d)")
    Seq(("2024-01-05", 1L), ("2024-01-05", 2L), ("2024-02-11", 3L),
        ("2024-03-20", 4L))
      .toDF("ds", "v")
      .select(to_date(col("ds")).as("d"), col("v"))
      .createOrReplaceTempView("glspj_dt")
    spark.sql(s"INSERT INTO $cat.dt SELECT * FROM glspj_dt")
    // claims are ISO-8601 in the path, parsed back as typed DATE keys
    val files = VersionedTable.snapshotOf(spark, s"$root/dt",
      VersionedTable.latestVersion(spark, s"$root/dt").get).dataFiles
      .filterNot(_.contains("files-v0-"))
    assert(files.flatMap(LakePartitioning.rawValueOfPath(_)).toSet ==
      Set("2024-01-05", "2024-02-11", "2024-03-20"))
    // a date point filter statically prunes to that day's files
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    val got = spark.sql(
      s"SELECT v FROM $cat.dt WHERE d = DATE'2024-01-05'").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L))
    val p = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p >= 0 && (p >> 32).toInt < (p & 0xffffffffL).toInt,
      "date identity prune did not fire")
    // two date-partitioned tables join shuffle-free on the date key
    spark.sql(s"CREATE TABLE $cat.dt2 (d DATE, w BIGINT) " +
      "PARTITIONED BY (d)")
    spark.sql(s"INSERT INTO $cat.dt2 SELECT d, v * 10 FROM glspj_dt")
    withSpj {
      val j = spark.sql(
        s"SELECT a.d, a.v, b.w FROM $cat.dt a JOIN $cat.dt2 b ON a.d = b.d")
      assert(exchanges(j) == 0,
        s"date SPJ must not exchange:\n${j.queryExecution.executedPlan}")
      assert(j.collect().length == 2 * 2 + 1 + 1) // per-day products
    }
  }

  test("CTAS with PARTITIONED BY routes the selected rows") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    (0L until 160L).toDF("k").withColumn("v", col("k") * 9L)
      .createOrReplaceTempView("glspj_ctas")
    spark.sql(s"CREATE TABLE $cat.ct PARTITIONED BY (bucket(4, k)) " +
      s"AS SELECT * FROM glspj_ctas")
    val files = filesOf(root, "ct").filterNot(_.contains("files-v0-"))
    assert(files.nonEmpty &&
      files.forall(LakePartitioning.rawValueOfPath(_).isDefined),
      s"CTAS must land routed files: $files")
    assert(spark.sql(s"SELECT sum(v) AS s FROM $cat.ct")
      .collect()(0).getLong(0) == (0L until 160L).map(_ * 9).sum)
    // and the new table joins shuffle-free against a co-bucketed one
    spark.sql(s"CREATE TABLE $cat.ct2 PARTITIONED BY (bucket(4, k)) " +
      s"AS SELECT k, v * 2 AS w FROM glspj_ctas")
    withSpj {
      val j = spark.sql(
        s"SELECT a.k FROM $cat.ct a JOIN $cat.ct2 b ON a.k = b.k")
      assert(exchanges(j) == 0)
      assert(j.collect().length == 160)
    }
  }

  test("join on a SUBSET of composite partition keys stays shuffle-free (opt-in)") {
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.sa (g INT, k BIGINT, v BIGINT) " +
      "PARTITIONED BY (g, bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.sb (g INT, k BIGINT, w BIGINT) " +
      "PARTITIONED BY (g, bucket(4, k))")
    val rows = (0 until 200).map(i => (i % 2, i.toLong, i.toLong))
    rows.toDF("g", "k", "v").createOrReplaceTempView("glspj_sa")
    rows.toDF("g", "k", "w").createOrReplaceTempView("glspj_sb")
    spark.sql(s"INSERT INTO $cat.sa SELECT * FROM glspj_sa")
    spark.sql(s"INSERT INTO $cat.sb SELECT * FROM glspj_sb")
    val extra = Seq(
      "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    val prior = extra.map { case (c, _) =>
      c -> scala.util.Try(spark.conf.get(c)).toOption }
    extra.foreach { case (c, v) => spark.conf.set(c, v) }
    try withSpj {
      // join on k only — a strict subset of (g, bucket(k)). Both
      // partition columns must survive pruning (the reported
      // transforms resolve against the scan output), so the
      // projection keeps g on both sides.
      val j = spark.sql(
        s"""SELECT a.g, a.k, a.v, b.g, b.w FROM $cat.sa a
           |JOIN $cat.sb b ON a.k = b.k""".stripMargin)
      assert(exchanges(j) == 0,
        s"subset-key SPJ must not exchange:\n" +
          j.queryExecution.executedPlan)
      assert(j.collect().length == 200)
    } finally prior.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
  }

  test("SHOW CREATE TABLE round-trips the partition transforms") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.sc (g INT, k BIGINT) " +
      "PARTITIONED BY (g, bucket(8, k))")
    val ddl = spark.sql(s"SHOW CREATE TABLE $cat.sc").collect()(0)
      .getString(0)
    assert(ddl.contains("PARTITIONED BY") && ddl.contains("bucket(8, k)"),
      s"DDL must surface the transforms: $ddl")
  }

  test("days(ts) partitioning: ISO day claims, time-range static pruning") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.ev (ts TIMESTAMP_NTZ, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    // 4 UTC days × 6 events each
    val rows = for (d <- 5 to 8; h <- 0 until 6)
      yield (s"2024-03-0${d}T0$h:30:00", (d * 10 + h).toLong)
    rows.toDF("s", "v")
      .select(to_timestamp_ntz(col("s")).as("ts"), col("v"))
      .createOrReplaceTempView("glspj_ev")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM glspj_ev")
    // claims are the ISO UTC days
    val files = filesOf(root, "ev").filterNot(_.contains("files-v0-"))
    assert(files.flatMap(LakePartitioning.rawValueOfPath(_)).toSet ==
      Set("2024-03-05", "2024-03-06", "2024-03-07", "2024-03-08"))
    // the canonical event-table scan: a time-RANGE query prunes to
    // its days before any task launches
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    val got = spark.sql(
      s"""SELECT count(*) AS n, sum(v) AS s FROM $cat.ev
         |WHERE ts >= TIMESTAMP_NTZ'2024-03-06 00:00:00'
         |  AND ts < TIMESTAMP_NTZ'2024-03-08 00:00:00'""".stripMargin)
      .collect()(0)
    assert(got.getLong(0) == 12)
    assert(got.getLong(1) ==
      rows.filter(r => r._1 >= "2024-03-06" && r._1 < "2024-03-08")
        .map(_._2).sum)
    val p = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p >= 0, "days range prune did not fire")
    val (kept, total) = ((p >> 32).toInt, (p & 0xffffffffL).toInt)
    assert(kept < total, s"expected a strict prune, got $kept/$total")
    // boundary day widening: ts < 06T03:30 keeps day 06 (conservative)
    // but still answers exactly through the in-file filter — day 05's
    // six events plus day 06's 00:30/01:30/02:30
    assert(spark.sql(
      s"""SELECT count(*) FROM $cat.ev
         |WHERE ts < TIMESTAMP_NTZ'2024-03-06 03:30:00'""".stripMargin)
      .collect()(0).getLong(0) == 6 + 3)
    // identity ranges prune too (exact bounds, no widening)
    spark.sql(s"CREATE TABLE $cat.idr (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k)")
    Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("k", "v")
      .createOrReplaceTempView("glspj_idr")
    spark.sql(s"INSERT INTO $cat.idr SELECT * FROM glspj_idr")
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.idr WHERE k > 2")
      .collect()(0).getLong(0) == 7L)
    val p2 = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p2 >= 0 && (p2 >> 32).toInt < (p2 & 0xffffffffL).toInt)
  }

  test("empty partitioned CREATE stays loadable; key grouping needs data") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (k BIGINT, v INT) " +
      "PARTITIONED BY (bucket(4, k))")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.e")
      .collect()(0).getLong(0) == 0L)
    // DESCRIBE surfaces the transform through Table.partitioning()
    val desc = spark.sql(s"DESCRIBE TABLE $cat.e").collect()
      .map(_.getString(0))
    assert(desc.exists(_.contains("Part")),
      s"DESCRIBE should list partitioning: ${desc.mkString("|")}")
  }

  test("identity string partitions with space/percent/non-ASCII values: no silent row loss") {
    // the claim map keys by DECODED manifest paths; the scan must look
    // files up in the SAME form — an URL-encoded lookup (%20 for a
    // space) silently dropped the file as 'proven 0-row'
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.odd (region STRING, v BIGINT) " +
      "PARTITIONED BY (region)")
    // non-ASCII values are covered by the router/escape round-trip
    // tests below; the local filesystem in this environment rejects
    // non-ASCII names outright (sun.jnu.encoding=POSIX), so the
    // end-to-end path pins the ASCII-but-URI-unsafe cases
    val vals = Seq("100%", "a b", "eq=v", "plain")
    vals.zipWithIndex.map { case (r, i) => (r, i.toLong) }
      .toDF("region", "v").createOrReplaceTempView("glspj_odd")
    spark.sql(s"INSERT INTO $cat.odd SELECT * FROM glspj_odd")
    // full scan serves EVERY row (the bug dropped whole files)
    val back = spark.sql(s"SELECT region, v FROM $cat.odd ORDER BY v")
      .collect()
    assert(back.map(_.getString(0)).toSeq == vals.toSeq,
      s"rows lost or mangled: ${back.map(_.getString(0)).mkString(",")}")
    // static partition pruning still fires — and prunes EXACTLY
    vals.foreach { r =>
      val got = spark.table(s"$cat.odd")
        .where(col("region") === lit(r)).select("v").collect()
      assert(got.length == 1, s"point lookup on '$r' got ${got.length}")
    }
    val prune = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(prune >= 0 && (prune >> 32) < (prune & 0xFFFFFFFFL),
      "static pruning should have dropped sibling partitions")
  }

  test("empty-string partition keys: Hive-default claim never loses rows to pruning") {
    // partitionBy routes '' into __HIVE_DEFAULT_PARTITION__ — the same
    // dir as real NULLs — so a null claim may cover empty-string rows;
    // pruning must keep that file whenever '' could match the filter
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.es (k STRING, v BIGINT) " +
      "PARTITIONED BY (k)")
    Seq(("", 1L), ("alpha", 2L), ("beta", 3L)).toDF("k", "v")
      .createOrReplaceTempView("glspj_es")
    spark.sql(s"INSERT INTO $cat.es SELECT * FROM glspj_es")
    // point lookup on '' finds its row
    assert(spark.sql(s"SELECT v FROM $cat.es WHERE k = ''")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a range including '' keeps it; one excluding it still prunes
    assert(spark.sql(s"SELECT sum(v) FROM $cat.es WHERE k < 'b'")
      .collect()(0).getLong(0) == 3L)
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.es WHERE k >= 'b'")
      .collect()(0).getLong(0) == 3L)
    val p = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p >= 0 && (p >> 32).toInt < (p & 0xffffffffL).toInt,
      "k >= 'b' should prune the ''/alpha files")
    // truncate-partitioned: same contract
    spark.sql(s"CREATE TABLE $cat.est (k STRING, v BIGINT) " +
      "PARTITIONED BY (truncate(2, k))")
    Seq(("", 10L), ("aa", 20L)).toDF("k", "v")
      .createOrReplaceTempView("glspj_est")
    spark.sql(s"INSERT INTO $cat.est SELECT * FROM glspj_est")
    assert(spark.sql(s"SELECT v FROM $cat.est WHERE k = ''")
      .collect().map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("escapePath percent-encodes UTF-8 bytes; unescapePath reassembles exactly") {
    val cases = Seq("a b", "100%", "héllo", "€5", "x=y/z",
      "你好", "emoji 😀 tail", "plain-_.9")
    cases.foreach { s =>
      val esc = LakePartitioning.escapePath(s)
      // escaped form is URI/dir safe: only [A-Za-z0-9_.-%] remain
      assert(esc.forall(c => c == '%' ||
        (c < 128 && (c.isLetterOrDigit || "_.-".contains(c)))),
        s"unsafe char survives escaping: '$s' -> '$esc'")
      // round-trip through the claim parser's decoder
      val spec = LakePartitioning.IdentitySpec("k")
      val kv = LakePartitioning.keyValue(spec,
        org.apache.spark.sql.types.StringType, esc)
      assert(kv.flatMap(_.map(_.toString)) == Some(s),
        s"'$s' -> '$esc' decoded as ${kv.flatMap(_.map(_.toString))}")
    }
    // multi-byte codepoints emit one %XX PER BYTE (e.g. € = 3 bytes),
    // never a 3-4 hex-digit run a two-digit decoder would mangle
    assert(LakePartitioning.escapePath("€") == "%E2%82%AC")
  }

  test("truncate(w, s) partitioning: prefix claims, =/range pruning, SPJ") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    // the standard text-corpus layout: shared-prefix keys co-locate
    spark.sql(s"CREATE TABLE $cat.doc (norm STRING, v BIGINT) " +
      "PARTITIONED BY (truncate(2, norm))")
    val words = Seq("alpha", "alloy", "bravo", "brine", "ceres",
      "cedar", "delta", "dingo")
    words.zipWithIndex.map { case (w, i) => (w, i.toLong) }
      .toDF("norm", "v").createOrReplaceTempView("glspj_doc")
    spark.sql(s"INSERT INTO $cat.doc SELECT * FROM glspj_doc")
    // claims are the 2-codepoint prefixes
    val claims = filesOf(root, "doc").filterNot(_.contains("files-v0-"))
      .flatMap(LakePartitioning.rawValueOfPath(_)).toSet
    assert(claims == Set("al", "br", "ce", "de", "di"),
      s"got claims $claims")
    // point lookup prunes to ONE prefix partition
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(s"SELECT v FROM $cat.doc WHERE norm = 'bravo'")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    val p1 = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p1 >= 0 && (p1 >> 32).toInt == 1,
      s"point lookup should keep exactly the 'br' file, got $p1")
    // RANGE prune: truncate is monotone, bounds widen to the prefix
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.doc WHERE norm >= 'ce'")
      .collect()(0).getLong(0) == 4L)
    val p2 = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p2 >= 0 && (p2 >> 32).toInt < (p2 & 0xffffffffL).toInt,
      s"range prune should drop the al/br files, got $p2")
    // SPJ: a second corpus truncate-partitioned the same way joins
    // on the raw key with ZERO exchanges (prefix groups align)
    spark.sql(s"CREATE TABLE $cat.doc2 (norm STRING, w BIGINT) " +
      "PARTITIONED BY (truncate(2, norm))")
    words.map(w => (w, w.length.toLong)).toDF("norm", "w")
      .createOrReplaceTempView("glspj_doc2")
    spark.sql(s"INSERT INTO $cat.doc2 SELECT * FROM glspj_doc2")
    withSpj {
      val j = spark.sql(s"SELECT a.norm, a.v, b.w FROM $cat.doc a " +
        s"JOIN $cat.doc2 b ON a.norm = b.norm")
      assert(exchanges(j) == 0, "truncate SPJ should plan no exchange")
      assert(j.collect().length == words.length)
    }
    // integral truncation floors to multiples of w
    spark.sql(s"CREATE TABLE $cat.ik (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (truncate(100, k))")
    Seq(-150L, -1L, 0L, 99L, 100L, 250L).map(k => (k, k * 2))
      .toDF("k", "v").createOrReplaceTempView("glspj_ik")
    spark.sql(s"INSERT INTO $cat.ik SELECT * FROM glspj_ik")
    val ikClaims = filesOf(root, "ik").filterNot(_.contains("files-v0-"))
      .flatMap(LakePartitioning.rawValueOfPath(_)).map(_.toLong).toSet
    assert(ikClaims == Set(-200L, -100L, 0L, 100L, 200L),
      s"integral truncate claims wrong: $ikClaims")
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ik WHERE k >= 100")
      .collect()(0).getLong(0) == 700L)
    val p3 = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p3 >= 0 && (p3 >> 32).toInt < (p3 & 0xffffffffL).toInt)
  }

  test("months/years/hours partitioning: epoch-unit claims, range pruning") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.ord (ts TIMESTAMP_NTZ, v BIGINT) " +
      "PARTITIONED BY (months(ts))")
    // 2023-11 .. 2024-02: epoch-months 646..649
    val rows = for (m <- Seq("2023-11", "2023-12", "2024-01", "2024-02");
                    d <- Seq("03", "17"))
      yield (s"$m-${d}T12:00:00", 1L)
    rows.toDF("s", "v")
      .select(to_timestamp_ntz(col("s")).as("ts"), col("v"))
      .createOrReplaceTempView("glspj_ord")
    spark.sql(s"INSERT INTO $cat.ord SELECT * FROM glspj_ord")
    val mClaims = filesOf(root, "ord").filterNot(_.contains("files-v0-"))
      .flatMap(LakePartitioning.rawValueOfPath(_)).map(_.toInt).toSet
    assert(mClaims == Set(646, 647, 648, 649), s"month claims $mClaims")
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(
      s"""SELECT count(*) FROM $cat.ord
         |WHERE ts >= TIMESTAMP_NTZ'2024-01-01 00:00:00'""".stripMargin)
      .collect()(0).getLong(0) == 4L)
    val p = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(p >= 0 && (p >> 32).toInt == 2 && (p & 0xffffffffL).toInt == 4,
      s"month range prune should keep 2/4, got $p")
    // years over DATE
    spark.sql(s"CREATE TABLE $cat.yr (d DATE, v BIGINT) " +
      "PARTITIONED BY (years(d))")
    Seq("1995-06-01", "1996-01-01", "1997-12-31").zipWithIndex
      .map { case (d, i) => (java.sql.Date.valueOf(d), i.toLong) }
      .toDF("d", "v").createOrReplaceTempView("glspj_yr")
    spark.sql(s"INSERT INTO $cat.yr SELECT * FROM glspj_yr")
    val yClaims = filesOf(root, "yr").filterNot(_.contains("files-v0-"))
      .flatMap(LakePartitioning.rawValueOfPath(_)).map(_.toInt).toSet
    assert(yClaims == Set(25, 26, 27), s"year claims $yClaims")
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(
      s"SELECT sum(v) FROM $cat.yr WHERE d >= DATE'1997-01-01'")
      .collect()(0).getLong(0) == 2L)
    val py = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(py >= 0 && (py >> 32).toInt == 1, s"year prune got $py")
    // hours over TIMESTAMP_NTZ
    spark.sql(s"CREATE TABLE $cat.hr (ts TIMESTAMP_NTZ, v BIGINT) " +
      "PARTITIONED BY (hours(ts))")
    Seq("2024-03-05T00:10:00", "2024-03-05T00:50:00",
      "2024-03-05T01:10:00", "2024-03-05T02:10:00")
      .zipWithIndex.map { case (s, i) => (s, i.toLong) }
      .toDF("s", "v")
      .select(to_timestamp_ntz(col("s")).as("ts"), col("v"))
      .createOrReplaceTempView("glspj_hr")
    spark.sql(s"INSERT INTO $cat.hr SELECT * FROM glspj_hr")
    val hClaims = filesOf(root, "hr").filterNot(_.contains("files-v0-"))
      .flatMap(LakePartitioning.rawValueOfPath(_)).map(_.toLong).toSet
    // 2024-03-05 = epoch day 19787 → 00:00 UTC = epoch-hour 474888
    assert(hClaims == Set(474888L, 474889L, 474890L),
      s"hour claims $hClaims")
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    assert(spark.sql(
      s"""SELECT count(*) FROM $cat.hr
         |WHERE ts < TIMESTAMP_NTZ'2024-03-05 01:00:00'""".stripMargin)
      .collect()(0).getLong(0) == 2L)
    // boundary widening keeps the 01:00 hour too (conservative; the
    // in-file filter still answers exactly) — 2 of 3 files
    val ph = LakeReadScanBuilder.lastPartitionPrune.get()
    assert(ph >= 0 && (ph >> 32).toInt == 2, s"hour prune got $ph")
  }

  test("scan-reported ordering: clustered SPJ merge-join runs sort-free") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    def sorts(df: DataFrame): Int = {
      df.collect()
      "(?i)\\bsort\\b".r.findAllIn(
        df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)).length
    }
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT, va BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES('graft.write.ordered-by'='k')")
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT, vb BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES('graft.write.ordered-by'='k')")
    (0L until 400L).map(k => (k, k + 1)).toDF("k", "va")
      .createOrReplaceTempView("glspj_soa")
    (0L until 400L by 2L).map(k => (k, k * 3)).toDF("k", "vb")
      .createOrReplaceTempView("glspj_sob")
    spark.sql(s"INSERT INTO $cat.a SELECT * FROM glspj_soa")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM glspj_sob")
    withSpj {
      // disable shuffled-hash preference so the join is a merge join
      val prior = scala.util.Try(
        spark.conf.get("spark.sql.join.preferSortMergeJoin")).toOption
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      try {
        val j = spark.sql(s"SELECT a.k, a.va, b.vb FROM $cat.a a " +
          s"JOIN $cat.b b ON a.k = b.k")
        assert(exchanges(j) == 0, "SPJ must stay exchange-free")
        assert(sorts(j) == 0,
          "single-file-per-group clustered scans must merge-join " +
            "sort-free:\n" + j.queryExecution.executedPlan)
        assert(j.collect().map(r => r.getLong(1) + r.getLong(2)).sum ==
          (0L until 400L by 2L).map(k => (k + 1) + k * 3).sum)
      } finally prior match {
        case Some(v) =>
          spark.conf.set("spark.sql.join.preferSortMergeJoin", v)
        case None =>
          spark.conf.unset("spark.sql.join.preferSortMergeJoin")
      }
    }
    // a second commit makes groups multi-file: ordering withdraws
    // (sorts reappear) but results stay exact
    spark.sql(s"INSERT INTO $cat.a SELECT k + 1000, va FROM glspj_soa")
    withSpj {
      val j2 = spark.sql(s"SELECT a.k FROM $cat.a a " +
        s"JOIN $cat.b b ON a.k = b.k")
      assert(j2.collect().length == 200)
      assert(sorts(j2) > 0,
        "multi-file groups must NOT claim ordering")
    }
    // compact re-earns single-file groups → sort-free again
    VersionedTable.compact(spark, s"$root/a", 4)
    withSpj {
      val j3 = spark.sql(s"SELECT a.k, b.vb FROM $cat.a a " +
        s"JOIN $cat.b b ON a.k = b.k")
      assert(exchanges(j3) == 0 && sorts(j3) == 0,
        "compaction must re-earn the sort-free merge join:\n" +
          j3.queryExecution.executedPlan)
      assert(j3.collect().length == 200)
    }
    // a LATE ordered-by declaration must not claim ordering for files
    // born before it
    spark.sql(s"CREATE TABLE $cat.c (k BIGINT, vc BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 100L).map(k => (99L - k, k)).toDF("k", "vc")
      .createOrReplaceTempView("glspj_soc")
    spark.sql(s"INSERT INTO $cat.c SELECT * FROM glspj_soc")
    spark.sql(s"ALTER TABLE $cat.c SET TBLPROPERTIES(" +
      "'graft.write.ordered-by'='k')")
    withSpj {
      val j4 = spark.sql(s"SELECT c.k FROM $cat.c c " +
        s"JOIN $cat.b b ON c.k = b.k")
      assert(sorts(j4) > 0,
        "pre-declaration files must NOT be claimed sorted")
      assert(j4.collect().length == 50)
    }
  }

  test("time-transform SPJ: co-partitioned days()/months() tables join exchange-free") {
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.ev (ts TIMESTAMP_NTZ, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    spark.sql(s"CREATE TABLE $cat.wx (ts TIMESTAMP_NTZ, w BIGINT) " +
      "PARTITIONED BY (days(ts))")
    val rows = for (d <- 5 to 8; h <- 0 until 4)
      yield (s"2024-03-0${d}T0$h:00:00", (d * 10 + h).toLong)
    rows.toDF("s", "v")
      .select(to_timestamp_ntz(col("s")).as("ts"), col("v"))
      .createOrReplaceTempView("glspj_tev")
    rows.toDF("s", "w")
      .select(to_timestamp_ntz(col("s")).as("ts"),
        (col("w") * 2).as("w"))
      .createOrReplaceTempView("glspj_twx")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM glspj_tev")
    spark.sql(s"INSERT INTO $cat.wx SELECT * FROM glspj_twx")
    withSpj {
      // the timestamp equi-join: equal ts ⇒ same day partition, so
      // the days() transform co-locates every match
      val j = spark.sql(s"SELECT e.v, x.w FROM $cat.ev e " +
        s"JOIN $cat.wx x ON e.ts = x.ts")
      assert(exchanges(j) == 0,
        "days() SPJ should plan no exchange:\n" +
          j.queryExecution.executedPlan)
      assert(j.collect().map(r => r.getLong(1) - 2 * r.getLong(0)).sum
        == 0L)
      assert(j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).contains("Join"))
    }
    // months() co-partitioning joins exchange-free too
    spark.sql(s"CREATE TABLE $cat.ma (ts TIMESTAMP_NTZ, v BIGINT) " +
      "PARTITIONED BY (months(ts))")
    spark.sql(s"CREATE TABLE $cat.mb (ts TIMESTAMP_NTZ, w BIGINT) " +
      "PARTITIONED BY (months(ts))")
    spark.sql(s"INSERT INTO $cat.ma SELECT * FROM glspj_tev")
    spark.sql(s"INSERT INTO $cat.mb SELECT * FROM glspj_twx")
    withSpj {
      val j2 = spark.sql(s"SELECT a.v, b.w FROM $cat.ma a " +
        s"JOIN $cat.mb b ON a.ts = b.ts")
      assert(exchanges(j2) == 0,
        "months() SPJ should plan no exchange")
      assert(j2.collect().length == rows.length)
    }
  }

  test("partially-clustered SPJ: a hot key fans out over its files, still exchange-free") {
    val (cat, _) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.fact (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.dim (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // three commits → three files PER BUCKET on the fact side (the
    // skew shape: one hot bucket would serialize one task without
    // partial clustering)
    (0 until 3).foreach { c =>
      (0L until 400L).map(k => (k, k + c))
        .toDF("k", "v").createOrReplaceTempView(s"glspj_pc$c")
      spark.sql(s"INSERT INTO $cat.fact SELECT * FROM glspj_pc$c")
    }
    (0L until 400L).map(k => (k, k * 2)).toDF("k", "w")
      .createOrReplaceTempView("glspj_pcd")
    spark.sql(s"INSERT INTO $cat.dim SELECT * FROM glspj_pcd")
    val expected = (0 until 3).flatMap(c =>
      (0L until 400L).map(k => (k + c) + k * 2)).sum
    withSpj {
      val keys = Seq(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution" +
          ".enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
      val prior = keys.map { case (k, _) =>
        k -> scala.util.Try(spark.conf.get(k)).toOption }
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val j = spark.sql(s"SELECT f.v, d.w FROM $cat.fact f " +
          s"JOIN $cat.dim d ON f.k = d.k")
        assert(exchanges(j) == 0,
          "partially-clustered SPJ must stay exchange-free:\n" +
            j.queryExecution.executedPlan)
        // the join fans out beyond one task per bucket: count the
        // output tasks doing real work
        val busy = j.withColumn("pid",
          org.apache.spark.sql.functions.spark_partition_id())
          .groupBy("pid").count().collect().length
        assert(busy > 4,
          s"hot buckets should fan out over their files, got $busy tasks")
        assert(j.collect().map(r => r.getLong(0) + r.getLong(1)).sum ==
          expected)
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // without the conf the deterministic one-partition-per-value
    // grouping still answers exactly (q197 stays green)
    withSpj {
      val j2 = spark.sql(s"SELECT f.v, d.w FROM $cat.fact f " +
        s"JOIN $cat.dim d ON f.k = d.k")
      assert(exchanges(j2) == 0)
      assert(j2.collect().map(r => r.getLong(0) + r.getLong(1)).sum ==
        expected)
    }
  }

  test("streaming fanout router and batch claims agree on exotic identity values") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("region", StringType),
      StructField("v", LongType)))
    val specs = Seq(LakePartitioning.IdentitySpec("region"))
    val router = LakePartitioning.rowRouter(specs, schema)
    Seq("a b", "100%", "héllo€").foreach { r =>
      val sub = router(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(r), 1L))
      val raw = sub.stripPrefix("__graft_part=").stripSuffix("/")
      val kv = LakePartitioning.keyValue(specs.head, StringType, raw)
      assert(kv.flatMap(_.map(_.toString)) == Some(r),
        s"stream-routed claim for '$r' decoded as $kv")
    }
  }
}
