package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray

/** DataSource V2 tier (`spark.read.format("bioio")`): pushdown reaches
  * the scan's pushedFilters, predicates prune stored OBJECTS before
  * decode (zarr chunk objects, TIFF segments), column pruning reaches
  * readSchema, and the V2 rows agree with the facade read. */
class BioioV2Spec extends SparkSpec {

  /** The BioioScan inside the executed plan (materializes the frame
    * first so planInputPartitions has run and plannedObjects is set). */
  private def scanOf(df: DataFrame): BioioScan = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.length == 1, s"expected one BatchScan, got $scans")
    scans.head.asInstanceOf[BioioScan]
  }

  private def zarrFixture(): String = {
    val arr = NDArray.tabulate(Seq(4, 2, 8, 8))(idx =>
      idx(0) * 1000.0 + idx(1) * 100.0 + idx(2) * 10.0 + idx(3))
    val img = BioSpark.fromArray(spark, arr, Some("TCYX"))
    val uri = freshDir("v2spec.ome.zarr")
    img.save(uri, None, Map("chunk" -> "4x4"))
    uri
  }

  test("v2 zarr read agrees with the facade read row-for-row") {
    val uri = zarrFixture()
    val v2 = spark.read.format("bioio").load(uri)
      .orderBy("t", "c", "m").collect()
    val facade = BioSpark.open(spark, uri).planes
      .orderBy("t", "c", "m").collect()
    assert(v2.length == facade.length && v2.length == 32) // 8 planes x 4 tiles
    v2.zip(facade).foreach { case (a, b) => assert(a == b) }
  }

  test("t/c predicates land in pushedFilters and prune the chunk-object " +
      "catalog: 4 of 32 zarr chunk objects survive; no post-scan Filter " +
      "remains") {
    val uri = zarrFixture()
    val all = scanOf(spark.read.format("bioio").load(uri))
    assert(all.plannedObjects == 32, // 4t x 2c x (2x2 chunk grid)
      s"unfiltered scan should read all 32 chunk objects, got ${all.plannedObjects}")

    val filtered = spark.read.format("bioio").load(uri)
      .filter(col("t") === 1 && col("c") === 0)
    val scan = scanOf(filtered)
    val pushedCols = scan.pushedFilters.map(_.references.mkString).toSet
    assert(Set("t", "c").subsetOf(pushedCols),
      s"t and c must push down, got ${scan.pushedFilters.mkString(", ")}")
    assert(scan.plannedObjects == 4, // 1t x 1c x (2x2 grid)
      s"pushdown should prune 32 -> 4 chunk objects, got ${scan.plannedObjects}")
    // the pushdown is EXACT (the partition reader re-applies it), so no
    // Filter node survives above the scan
    val filters = filtered.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(filters.isEmpty,
      s"pushed dim predicates must be consumed, got ${filters.mkString(", ")}")
    assert(filtered.count() == 4)
  }

  test("range predicates prune too: t >= 2 keeps half the objects") {
    val uri = zarrFixture()
    val scan = scanOf(spark.read.format("bioio").load(uri)
      .filter(col("t") >= 2))
    assert(scan.plannedObjects == 16,
      s"t >= 2 should keep 2 of 4 t-slices, got ${scan.plannedObjects}")
  }

  test("column pruning reaches readSchema: a coordinate-only projection " +
      "drops the pixels payload from the scan") {
    val uri = zarrFixture()
    val df = spark.read.format("bioio").load(uri).select("t", "c", "m")
    val scan = scanOf(df)
    assert(!scan.readSchema().fieldNames.contains("pixels"),
      s"pixels must be pruned, scan reads ${scan.readSchema().fieldNames.mkString(",")}")
    assert(df.distinct().count() == 32)
  }

  test("v2 tiff read: segment catalog prunes by pushed t, rows agree " +
      "with the facade") {
    val arr = NDArray.tabulate(Seq(3, 6, 5))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = BioSpark.fromArray(spark, arr, Some("TYX"))
    val uri = freshDir("v2spec.ome.tiff")
    img.save(uri)
    val all = scanOf(spark.read.format("bioio").load(uri))
    assert(all.plannedObjects == 3, // one strip-organized segment per T plane
      s"expected 3 segments, got ${all.plannedObjects}")
    val filtered = spark.read.format("bioio").load(uri)
      .filter(col("t") === 2)
    val scan = scanOf(filtered)
    assert(scan.plannedObjects == 1,
      s"t = 2 should prune 3 -> 1 segments, got ${scan.plannedObjects}")
    val v2 = filtered.select("t", "c", "z", "pixels").collect()
    val facade = BioSpark.open(spark, uri).planes
      .filter(col("t") === 2).select("t", "c", "z", "pixels").collect()
    assert(v2.toSeq == facade.toSeq && v2.length == 1)
  }

  test("v2 inline path (driver-decoded formats): a PNG reads through " +
      "format(\"bioio\") and matches the facade") {
    val arr = NDArray.tabulate(Seq(4, 6))(idx =>
      ((idx(0) * 13 + idx(1) * 7) % 251).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("YX"))
    val uri = freshDir("v2spec.png")
    img.save(uri)
    val v2 = spark.read.format("bioio").load(uri).collect()
    val facade = BioSpark.open(spark, uri).planes.collect()
    assert(v2.toSeq == facade.toSeq && v2.length == 1)
  }

  test("scene_id pushdown prunes whole scenes of a multi-scene source") {
    val a = NDArray.tabulate(Seq(3, 4))(idx => idx(0) * 10.0 + idx(1))
    val b = NDArray.tabulate(Seq(5, 2))(idx => idx(0) * 7.0 + idx(1))
    val img = new graft.image.BioImage(spark,
      graft.readers.ArrayLikeReader.multi(Seq(a, b),
        dimOrders = Seq(Some("YX"), Some("YX"))))
    val uri = freshDir("v2spec.npz")
    img.save(uri)
    val rows = spark.read.format("bioio").load(uri)
      .filter(col("scene_id") === "Image:1")
      .select("scene_id", "h", "w").distinct().collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq(("Image:1", 5, 2)))
  }
}
