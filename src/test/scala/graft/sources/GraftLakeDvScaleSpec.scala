package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Scale shape of the merge-on-read delete machinery: positional
  * masks as roaring-style compressed bitmaps, equality-delete keys
  * shipped ONCE per executor via broadcast (task closures carry only
  * indices — size independent of key and file counts), a declared
  * driver-memory key budget that refuses instead of OOMing, and the
  * `convert_deletes` maintenance that folds equality deletes into
  * positional masks without rewriting a single data file. */
class GraftLakeDvScaleSpec extends SparkSpec {

  private def javaSerializedSize(o: AnyRef): Int = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size
  }

  // ------------------------------------------------------ PositionBitmap

  test("PositionBitmap: array container flips to bitset at the roaring crossover") {
    val bm = new PositionBitmap
    // sparse chunk stays an array (2 B/entry), dense chunk compresses
    (0 until 4096).foreach(i => bm.add(i.toLong * 3))
    assert(bm.cardinality === 4096)
    assert(bm.contains(3L) && !bm.contains(4L))
    // push past the threshold: same chunk flips to an 8 KiB bitset
    (0 until 60000).foreach(i => bm.add(i.toLong))
    // the multiples of 3 (≤ 12285) are subsumed by the dense range
    assert(bm.cardinality === 60000)
    assert(bm.contains(59999L) && !bm.contains(60001L))
    // dense 64 Ki-row chunk costs ≤ ~8 KiB, not 8 B/row (480 KB raw)
    assert(bm.sizeBytes < 16 * 1024,
      s"dense chunk must compress, got ${bm.sizeBytes} bytes")
    // iterator is sorted and exact
    val it = bm.iterator.toSeq
    assert(it === it.sorted)
    assert(it.size.toLong === bm.cardinality)
  }

  test("PositionBitmap: positions spread across chunks iterate in order") {
    val positions = Array(0L, 65535L, 65536L, 1000000L, 70000L, 5L)
    val bm = PositionBitmap.of(positions)
    assert(bm.iterator.toSeq === positions.toSeq.distinct.sorted)
    assert(positions.forall(bm.contains))
    assert(!bm.contains(6L) && !bm.contains(999999L))
    // duplicates collapse
    val dup = PositionBitmap.of(Array(7L, 7L, 7L))
    assert(dup.cardinality === 1)
  }

  // --------------------------------------- one-ship-per-executor closures

  test("equality-delete task closures carry indices, never key material") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 4000).map(i => (i.toLong, s"row$i")).toDF("k", "v")
        .repartition(8), dir)                                   // v0
    // a key set big enough that any copy of it would dominate the
    // partition closure: 2000 keys
    VersionedTable.deleteByKeysMergeOnRead(spark, dir,
      (0 until 2000).map(i => i.toLong * 2).toDF("k"))          // v1
    val snap = VersionedTable.snapshotOf(spark, dir, 1)
    val table = ParquetTable("dv_scale_test", spark,
      new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("mergeSchema", "true")),
      snap.dataFiles, None, classOf[ParquetFileFormat])
    val scan = new GraftLakeDvScanBuilder(table,
      spark.read.parquet(snap.dataFiles: _*).schema,
      snap.deleteFiles, CaseInsensitiveStringMap.empty()).build()
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.length === snap.dataFiles.size)
    parts.foreach { p =>
      val dv = p.asInstanceOf[DvInputPartition]
      // every v0 file is masked by the v1 delete — by INDEX
      assert(dv.eqIdx.toSeq === Seq(0))
      // the whole partition closure stays small: a path + a bitmap +
      // one index — NOT 2000 keys (~32 KB+). 8 KB leaves room for the
      // path strings while failing loudly on any key copy.
      val size = javaSerializedSize(dv)
      assert(size < 8 * 1024,
        s"partition closure is $size bytes — it is shipping key material")
    }
    // and the read itself is correct
    assert(VersionedTable.read(spark, dir).count() === 2000L)
  }

  // --------------------------------------------------- driver key budget

  test("equality-delete key budget refuses past the contract; convert_deletes recovers") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 100)")
    VersionedTable.deleteByKeysMergeOnRead(spark, s"$root/t",
      (0 until 50).map(_.toLong).toDF("k"))
    spark.conf.set(GraftLakeDvScan.EqKeyBudgetConf, "10")
    try {
      // SQL and facade reads are the same read, under the same budget
      Seq[() => Unit](
        () => spark.sql(s"SELECT count(*) FROM $cat.t").collect(),
        () => VersionedTable.read(spark, s"$root/t").count()
      ).foreach { run =>
        val e = intercept[Exception](run())
        val msgs = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
        assert(msgs.contains("convert_deletes"),
          s"expected the budget refusal, got: $msgs")
      }
      // the maintenance folds the keys into positional masks — the
      // budget no longer applies and the read recovers
      val folded = spark.sql(
        s"CALL $cat.system.convert_deletes(table => 't')").collect()
      assert(folded(0).getInt(1) >= 1, "no eq files were folded")
      assert(spark.sql(s"SELECT count(*) FROM $cat.t")
        .collect()(0).getLong(0) === 50L)
    } finally spark.conf.unset(GraftLakeDvScan.EqKeyBudgetConf)
  }

  // ------------------------------------------------------ convert_deletes

  test("convertEqDeletes folds keys to positions: same view, same data files, no eq files") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 30).map(i => (i.toLong, i * 10L)).toDF("k", "v"), dir) // v0
    // an upsert (eq delete + fresh rows) and a positional delete mix
    VersionedTable.upsertByKeysMergeOnRead(spark, dir,
      Seq((5L, 555L), (7L, 777L)).toDF("k", "v"), Seq("k"))           // v1
    VersionedTable.deleteWhereMergeOnRead(spark, dir, col("k") >= 28L) // v2
    val before = VersionedTable.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dataBefore = VersionedTable.snapshotOf(spark, dir, 2).dataFiles
    val v = VersionedTable.convertEqDeletes(spark, dir)                // v3
    val snap = VersionedTable.snapshotOf(spark, dir, v)
    assert(snap.dataFiles === dataBefore,
      "convert_deletes must not rewrite data files")
    assert(snap.deleteFiles.nonEmpty &&
      !snap.deleteFiles.exists(VersionedTable.isEqualityDelete),
      s"eq files must be folded away, got ${snap.deleteFiles}")
    val after = VersionedTable.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after === before, "the fold changed the live view")
    assert(after.exists(_ == ((5L, 555L))) &&
      !after.exists(_ == ((5L, 50L))),
      "upserted values must survive the fold")
    // time travel below the fold still serves the eq-masked view
    assert(VersionedTable.read(spark, dir, Some(1))
      .filter(col("k") === 7L).collect()(0).getLong(1) === 777L)
    // idempotent: nothing left to fold — returns the current version
    assert(VersionedTable.convertEqDeletes(spark, dir) === v)
  }

  test("convert_deletes keeps the sequence scoping: fresh upsert rows survive") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)          // v0
    VersionedTable.upsertByKeysMergeOnRead(spark, dir,
      Seq((2L, "B2")).toDF("k", "v"), Seq("k"))               // v1
    VersionedTable.convertEqDeletes(spark, dir)               // v2
    val got = VersionedTable.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "B2")),
      s"the fold must kill only the SUPERSEDED row, got $got")
  }
}
