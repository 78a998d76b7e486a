package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Segment-backed manifests ([[LakeManifest]]): append commits write
  * O(delta) metadata and carry the prior snapshot's entries by
  * segment REFERENCE; rewrites carry with bounded exclusions; every
  * reuse plan is verified byte-exact against the flat encoding before
  * it publishes, and vacuum reclaims only segments no kept manifest
  * references. */
class LakeManifestSpec extends SparkSpec {

  private def hfs(dir: String) =
    org.apache.hadoop.fs.FileSystem.get(new Path(dir).toUri,
      spark.sparkContext.hadoopConfiguration)

  private def rawOf(dir: String, v: Int): LakeManifest.Raw = {
    val f = hfs(dir)
    val p = new Path(s"$dir/_manifest/$v.txt")
    val in = f.open(p)
    val bytes =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    LakeManifest.parseRaw(new String(bytes, "UTF-8"))
  }

  test("append commit reuses the base's segments and writes only its delta") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 400).map(i => (i, s"r$i")).toDF("k", "v")
        .repartition(8), dir)                                   // v0
    VersionedTable.commit(spark,
      (400 until 410).map(i => (i, s"r$i")).toDF("k", "v")
        .repartition(1), dir)                                   // v1
    val r0 = rawOf(dir, 0)
    val r1 = rawOf(dir, 1)
    assert(r0.fullySegmented && r0.segNames.size == 1,
      s"v0 should be one consolidated segment, got ${r0.tokens}")
    assert(r1.segNames.startsWith(r0.segNames),
      "v1 must reference v0's segment, not rewrite it")
    assert(r1.segNames.size == 2 && r1.excludes.isEmpty,
      s"v1 should add exactly one delta segment, got ${r1.segNames}")
    val f = hfs(dir)
    val deltaSeg = LakeManifest.segmentLines(f, dir,
      r1.segNames.last)
    assert(deltaSeg.size == 1,
      s"delta segment must hold only the appended file, got $deltaSeg")
    // the read is exactly the flat union, stats carried
    val s1 = VersionedTable.snapshotOf(spark, dir, 1)
    assert(s1.dataFiles.size == 9)
    assert(s1.stats.size == 9, "per-file stats must survive the reuse")
    assert(VersionedTable.read(spark, dir).count() == 410)
    assert(VersionedTable.read(spark, dir, Some(0)).count() == 400)
  }

  test("repeated appends stay O(delta): manifest bytes don't grow with the table") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 200).map(i => (i, s"r$i")).toDF("k", "v")
        .repartition(4), dir)
    val f = hfs(dir)
    def manifestBytes(v: Int): Long =
      f.getFileStatus(new Path(s"$dir/_manifest/$v.txt")).getLen
    (1 to 5).foreach { v =>
      VersionedTable.commit(spark,
        Seq((1000 + v, "x")).toDF("k", "v").repartition(1), dir)
    }
    // each append's manifest holds meta + one I line per segment —
    // growth per commit is the ~30-byte reference, not the carried
    // entries (v0's segment alone is KBs of stats lines)
    val segBytes = f.listStatus(LakeManifest.segDir(dir)).toSeq
      .map(_.getLen).max
    assert(manifestBytes(5) < segBytes,
      s"manifest ${manifestBytes(5)}B should be far below the " +
        s"consolidated segment ${segBytes}B")
    assert(manifestBytes(5) - manifestBytes(1) < 300,
      "per-append manifest growth must be the segment reference alone")
    assert(VersionedTable.read(spark, dir).count() == 205)
  }

  test("rewrite carries surviving entries by reference with exclusions") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    val dir = s"$root/t"
    VersionedTable.commit(spark,
      (0 until 100).map(i => (i, s"r$i")).toDF("k", "v")
        .repartitionByRange(5, org.apache.spark.sql.functions.col("k")),
      dir)
    val before = VersionedTable.snapshotOf(spark, dir, 0)
    // COW delete rewrites only the files that hold k < 20
    spark.sql(s"DELETE FROM $cat.t WHERE k < 20")
    val after = VersionedTable.snapshotOf(spark, dir, 1)
    val r1 = rawOf(dir, 1)
    val rewritten = before.dataFiles.toSet -- after.dataFiles.toSet
    val carried = before.dataFiles.toSet
      .intersect(after.dataFiles.toSet)
    assert(rewritten.nonEmpty && carried.nonEmpty,
      s"range layout must carry files: rewritten=$rewritten")
    assert(r1.fullySegmented && r1.segNames.nonEmpty)
    assert(r1.excludes === rewritten,
      "exclusions must be exactly the rewritten files")
    assert(VersionedTable.read(spark, dir).count() == 80)
    assert(VersionedTable.read(spark, dir, Some(0)).count() == 100)
  }

  test("meta-only evolution republishes by reference: no new segment") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 50).map(i => (i, s"r$i")).toDF("k", "v")
        .repartition(4), dir)
    val f = hfs(dir)
    val segsBefore = f.listStatus(LakeManifest.segDir(dir)).length
    VersionedTable.createTag(spark, dir, "t1", 0)
    // a property-only commit (restore-to-self shape): same files
    val v = VersionedTable.restore(spark, dir, 0)
    val segsAfter = f.listStatus(LakeManifest.segDir(dir)).length
    assert(segsAfter == segsBefore,
      "identical-content commit must not write a new segment")
    assert(rawOf(dir, v).segNames == rawOf(dir, 0).segNames)
    assert(VersionedTable.read(spark, dir).count() == 50)
  }

  test("legacy inline manifest reads exactly and the next append promotes") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 30).map(i => (i, s"r$i")).toDF("k", "v")
        .repartition(2), dir)
    // rewrite v0's manifest to the FLAT legacy encoding
    val f = hfs(dir)
    val s0 = VersionedTable.snapshotOf(spark, dir, 0)
    val metaLines = s0.meta.toSeq.sortBy(_._1)
      .map { case (k, v0) => s"M $k=$v0" }
    val entryLines = s0.dataFiles.map { p =>
      s0.stats.get(p).map(st => s"$p\t${LakeFileStats.toJson(st)}")
        .getOrElse(p)
    }
    val mp = new Path(s"$dir/_manifest/0.txt")
    f.delete(mp, false)
    val out = f.create(mp, true)
    try out.write(((metaLines ++ entryLines).mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
    assert(!rawOf(dir, 0).fullySegmented)
    assert(VersionedTable.read(spark, dir).count() == 30)
    VersionedTable.commit(spark,
      Seq((99, "x")).toDF("k", "v").repartition(1), dir)        // v1
    val r1 = rawOf(dir, 1)
    assert(r1.fullySegmented,
      "append over an inline base must promote to segments")
    assert(VersionedTable.read(spark, dir).count() == 31)
    assert(VersionedTable.snapshotOf(spark, dir, 1).stats.size == 3,
      "promotion must preserve carried stats entries")
  }

  test("vacuum reclaims only segments no kept manifest references") {
    import spark.implicits._
    val dir = freshDir()
    // v0 full, v1 append, v2 OVERWRITE (drops v0/v1 content)
    VersionedTable.commit(spark,
      (0 until 40).map(i => (i, s"r$i")).toDF("k", "v")
        .repartition(2), dir)
    VersionedTable.commit(spark,
      Seq((99, "x")).toDF("k", "v").repartition(1), dir)
    VersionedTable.commit(spark,
      Seq((7, "z")).toDF("k", "v").repartition(1), dir,
      carryForward = false)
    val f = hfs(dir)
    val liveSegs = rawOf(dir, 2).segNames.toSet
    assert(f.listStatus(LakeManifest.segDir(dir)).length > liveSegs.size,
      "precondition: dead segments exist")
    val reclaimed = VersionedTable.vacuum(spark, dir, keep = 1,
      graceMs = 0L)
    val left = f.listStatus(LakeManifest.segDir(dir)).toSeq
      .map(_.getPath.getName).toSet
    assert(left == liveSegs,
      s"exactly the head's segments survive, got $left vs $liveSegs")
    assert(VersionedTable.read(spark, dir).count() == 1)
    assert(reclaimed.nonEmpty, "old data files were reclaimed")
  }

  test("snapshot cache: re-resolving an immutable version is zero manifest IO") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 20).map(i => (i, s"r$i")).toDF("k", "v")
        .repartition(2), dir)
    VersionedTable.snapshotOf(spark, dir, 0) // warm
    val before = VersionedTable.manifestReads.get()
    val snaps = (1 to 5).map(_ =>
      VersionedTable.snapshotOf(spark, dir, 0))
    assert(VersionedTable.manifestReads.get() == before,
      "cached resolutions must not re-read the manifest")
    assert(snaps.forall(_.dataFiles.size == 2))
    // a REWRITTEN manifest (test-harness surgery — production
    // manifests are immutable) invalidates via the (mtime, len) key
    val f = hfs(dir)
    val mp = new Path(s"$dir/_manifest/0.txt")
    val s0 = VersionedTable.snapshotOf(spark, dir, 0)
    val keepOne = s0.dataFiles.head
    val metaLines = s0.meta.toSeq.sortBy(_._1)
      .map { case (k, v0) => s"M $k=$v0" }
    f.delete(mp, false)
    val out = f.create(mp, true)
    try out.write(((metaLines :+ keepOne).mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
    assert(VersionedTable.snapshotOf(spark, dir, 0).dataFiles ==
      Seq(keepOne), "a changed manifest file must re-parse")
  }

  test("time travel, branches and tags read exactly across the segment boundary") {
    import spark.implicits._
    val dir = freshDir()
    VersionedTable.commit(spark,
      (0 until 60).map(i => (i, s"r$i")).toDF("k", "v")
        .repartition(3), dir)                                   // v0
    VersionedTable.createTag(spark, dir, "base", 0)
    VersionedTable.commit(spark,
      (60 until 70).map(i => (i, s"r$i")).toDF("k", "v"), dir,
      branch = Some("wap"))                                     // v1 staged
    VersionedTable.commit(spark,
      Seq((999, "m")).toDF("k", "v"), dir)                      // v2 main
    // main head skips the branch manifest; branch sees its stage
    assert(VersionedTable.read(spark, dir).count() == 61)
    val wapHead = VersionedTable.branches(spark, dir)("wap")
    assert(VersionedTable.read(spark, dir, Some(wapHead)).count() == 70)
    assert(VersionedTable.read(spark, dir,
      Some(VersionedTable.tags(spark, dir)("base"))).count() == 60)
  }
}
