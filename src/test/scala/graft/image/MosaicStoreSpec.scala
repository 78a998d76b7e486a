package graft.image

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray
import graft.readers.ArrayLikeReader
import graft.writers.{ParquetPlaneReader, ParquetPlaneStore}

class MosaicSpec extends SparkSpec {
  private def mosaicImage(positions: Seq[(Int, Int)],
      reconstruct: Boolean = true): BioImage = {
    val arr = NDArray.tabulate(Seq(positions.length, 2, 2))(idx =>
      idx(0) * 100.0 + idx(1) * 10 + idx(2))
    new BioImage(spark,
      new ArrayLikeReader(Seq(arr), Seq(Some("MYX")), Seq(None),
        tilePositions = Seq(positions)),
      reconstructMosaic = reconstruct)
  }

  test("stitch places tiles at canonical positions") {
    val img = mosaicImage(Seq((0, 0), (0, 2), (2, 0), (2, 2)))
    assert(img.dims.order == "TCZYX") // M folded away
    assert(img.dims('Y') == 4 && img.dims('X') == 4)
    val nd = img.getImageData("YX")
    assert(nd.array(0, 0) == 0.0)
    assert(nd.array(0, 2) == 100.0) // tile 1 origin
    assert(nd.array(2, 0) == 200.0) // tile 2
    assert(nd.array(3, 3) == 311.0) // tile 3 (1,1)
  }

  test("overlap resolves to lowest tile index (first wins)") {
    val img = mosaicImage(Seq((0, 0), (0, 1))) // tiles overlap at x=1
    val nd = img.getImageData("YX")
    assert(nd.array.shape == Seq(2, 3))
    assert(nd.array(0, 1) == 1.0) // tile 0's (0,1), not tile 1's (0,0)=100
    assert(nd.array(0, 2) == 101.0)
  }

  test("disjoint tiles stitch with a projection-only plan (no Exchange)") {
    val img = mosaicImage(Seq((0, 0), (0, 2), (2, 0), (2, 2)))
    val plan = img.pixels.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"disjoint stitch must not shuffle:\n$plan")
  }

  test("overlapping tiles stitch through the overlap-resolving aggregate") {
    val img = mosaicImage(Seq((0, 0), (0, 1)))
    val plan = img.pixels.queryExecution.executedPlan.toString
    assert(plan.contains("min_by") || plan.contains("Aggregate"),
      s"overlap stitch must aggregate:\n$plan")
  }

  test("reconstruct=false falls back to tiled M-dim data") {
    val img = mosaicImage(Seq((0, 0), (0, 2)), reconstruct = false)
    assert(img.dims.order == "MTCZYX")
    assert(img.dims('M') == 2)
    val nd = img.getImageData("MYX")
    assert(nd.array(1, 1, 1) == 111.0)
  }

  test("tile position lookup and bounds") {
    val img = mosaicImage(Seq((0, 0), (0, 2)))
    assert(img.getMosaicTilePosition(1) == ((0, 2)))
    assert(img.mosaicTileDims.contains((2L, 2L)))
    intercept[IndexOutOfBoundsException](img.getMosaicTilePosition(7))
    val flat = BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2)))
    intercept[UnsupportedOperationException](flat.getMosaicTilePosition(0))
    assert(flat.mosaicTileDims.isEmpty)
  }
}

class StoreSpec extends SparkSpec {
  test("save → reopen roundtrip preserves pixels, renumbers scenes") {
    val arrs = (0 until 2).map(i =>
      NDArray.tabulate(Seq(2, 2, 2))(idx =>
        i * 1000.0 + idx(0) * 100 + idx(1) * 10 + idx(2)))
    val img = new BioImage(spark, ArrayLikeReader.multi(arrs,
      channelNames = Seq(None, Some(Seq.empty)).take(1)))
    val dir = freshDir("img.graft")
    ParquetPlaneStore.save(img, dir, selectScenes = Some(Seq("Image:1")))
    val back = BioSpark.open(spark, dir)
    assert(back.reader.name == "ParquetPlaneReader")
    assert(back.scenes == Seq("Image:0")) // renumbered, order preserved
    val nd = back.getImageData("ZYX")
    assert(nd.array(1, 1, 1) == 1111.0)
    assert(back.dims.shape == Seq(1, 1, 2, 2, 2))
    assert(back.channelNames == Seq("Channel:0:0"))
  }

  test("pyramid: levels materialize, per-level dims, level switch") {
    val arr = NDArray.tabulate(Seq(8, 8))(idx => idx(0) * 10.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val dir = freshDir("img.graft")
    ParquetPlaneStore.save(img, dir, levels = 3)
    val back = BioSpark.open(spark, dir)
    assert(back.resolutionLevels == Seq(0, 1, 2))
    assert(back.resolutionLevelDims == Map(
      0 -> Seq(1, 1, 1, 8, 8), 1 -> Seq(1, 1, 1, 4, 4),
      2 -> Seq(1, 1, 1, 2, 2)))
    back.setResolutionLevel(1)
    assert(back.dims.shape == Seq(1, 1, 1, 4, 4)) // dims reflect the level
    val nd = back.getImageData("YX")
    // mean of block {(0,0),(0,1),(1,0),(1,1)} = (0+1+10+11)/4
    assert(nd.array(0, 0) == 5.5)
    assert(nd.array(3, 3) == (66.0 + 67 + 76 + 77) / 4)
    back.setResolutionLevel(2)
    assert(back.getImageData("YX").array.shape == Seq(2, 2))
    // odd-size edge semantics: 5 wide pools to 3 (ceil)
    val odd = BioSpark.fromArray(spark,
      NDArray.tabulate(Seq(5, 5))(idx => idx(0) * 10.0 + idx(1)))
    val dir2 = freshDir("odd.graft")
    ParquetPlaneStore.save(odd, dir2, levels = 2)
    val back2 = BioSpark.open(spark, dir2)
    back2.setResolutionLevel(1)
    assert(back2.dims.shape == Seq(1, 1, 1, 3, 3))
    val nd2 = back2.getImageData("YX")
    assert(nd2.array(2, 2) == 44.0) // lone corner pixel averages itself
  }

  test("gapped mosaics fail loudly when stitched into dense planes") {
    // tiles at (0,0) and (2,2): stitched bbox 4x4 but only 8 pixels exist
    val arr2 = NDArray.tabulate(Seq(2, 2, 2))(idx =>
      idx(0) * 100.0 + idx(1) * 10 + idx(2))
    val img = new BioImage(spark,
      new ArrayLikeReader(Seq(arr2), Seq(Some("MYX")), Seq(None),
        tilePositions = Seq(Seq((0, 0), (2, 2)))))
    val e = intercept[Exception] {
      img.stitchedPlanes.write.format("noop").mode("overwrite").save()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("do not cover")), e)
  }

  test("mosaic pyramid: level dims use level-scaled tile positions") {
    val arr = NDArray.tabulate(Seq(2, 4, 4))(idx =>
      idx(0) * 100.0 + idx(1) * 10 + idx(2))
    val img = new BioImage(spark,
      new ArrayLikeReader(Seq(arr), Seq(Some("MYX")), Seq(None),
        tilePositions = Seq(Seq((0, 0), (0, 4)))))
    assert(img.dims('Y') == 4 && img.dims('X') == 8)
    val dir = freshDir("m.graft")
    ParquetPlaneStore.save(img, dir, levels = 2)
    val back = BioSpark.open(spark, dir)
    back.setResolutionLevel(1)
    // tiles halve to 2x2 at (0,0),(0,2) → stitched level-1 plane is 2x4
    assert(back.dims('Y') == 2 && back.dims('X') == 4)
    val nd = back.getImageData("YX")
    assert(nd.array.shape == Seq(2, 4))
    assert(nd.array(0, 0) == (0.0 + 1 + 10 + 11) / 4) // tile 0 pool
    assert(nd.array(0, 2) == (100.0 + 101 + 110 + 111) / 4) // tile 1 pool
  }

  test("save raises on unknown scene ids and empty selection") {
    val img = new BioImage(spark, ArrayLikeReader.multi(
      Seq(NDArray.zeros(Seq(2, 2)))))
    val dir = freshDir("img.graft")
    val e = intercept[IllegalArgumentException](
      ParquetPlaneStore.save(img, dir, selectScenes = Some(Seq("Image:9"))))
    assert(e.getMessage.contains("Image:9"))
    intercept[IllegalArgumentException](
      ParquetPlaneStore.save(img, dir, selectScenes = Some(Seq.empty)))
  }

  test("scene/level scan is partition-pruned") {
    val img = new BioImage(spark, ArrayLikeReader.multi(
      (0 until 3).map(_ => NDArray.zeros(Seq(2, 2)))))
    val dir = freshDir("img.graft")
    ParquetPlaneStore.save(img, dir)
    val rd = new ParquetPlaneReader(spark, dir)
    val plan = rd.readDelayedAtLevel(spark, 1, 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("scene_idx"), "scene_idx must be a partition filter")
  }

  test("px_min/px_max store stats: a pixel-value range scan pushes into " +
      "the parquet scan and skips non-matching planes") {
    // 5 z-planes with disjoint value bands: plane z holds [z*100, z*100+27]
    val arr = NDArray.tabulate(Seq(5, 4, 4))(idx =>
      idx(0) * 100.0 + idx(1) * 8 + idx(2))
    val img = BioSpark.fromArray(spark, arr) // ZYX
    val dir = freshDir("s.graft")
    ParquetPlaneStore.save(img, dir)

    // v in [350, 460]: only plane z=4 (400..427) can match on
    // px_max >= 350 — the other four planes never leave the scan
    val px = ParquetPlaneStore.pixelsInRange(spark, dir, 0, 0, 350.0, 460.0)
    val qe = px.queryExecution
    val rows = px.select("z", "y", "x", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    val expect = (for (z <- 0 until 5; y <- 0 until 4; x <- 0 until 4) yield
      (z, y, x, z * 100.0 + y * 8 + x)).filter(t => t._4 >= 350 && t._4 <= 460)
    assert(rows.toSet == expect.toSet)
    // the stats predicate reached the file source…
    val plan = qe.executedPlan.toString
    assert(plan.contains("px_max"), plan)
    assert(plan.contains("PushedFilters") && plan.contains(
      "GreaterThanOrEqual(px_max,350.0)"), plan)
    // …and the stats filter keeps exactly the 1 candidate plane of 5
    // before any pixel array is exploded
    val pruned = spark.read.parquet(s"$dir/planes")
      .filter(org.apache.spark.sql.functions.col("scene_idx") === 0 &&
        org.apache.spark.sql.functions.col("level") === 0 &&
        org.apache.spark.sql.functions.col("px_max") >= 350.0 &&
        org.apache.spark.sql.functions.col("px_min") <= 460.0)
    assert(pruned.count() == 1)
  }

  test("PushPixelValueFilter rule: the synthesized plane bound sits below " +
      "the explode; stats never leak into the output; no-stats scans " +
      "are untouched") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    import org.apache.spark.sql.functions._
    import graft.core.Plane
    val arr = NDArray.tabulate(Seq(3, 4, 4))(idx =>
      idx(0) * 100.0 + idx(1) * 8 + idx(2))
    val img = BioSpark.fromArray(spark, arr)
    val dir = freshDir("r.graft")
    ParquetPlaneStore.save(img, dir)
    def planeFilterBelowExplode(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.references.exists(a =>
          a.name == "px_max") &&
          f.collect { case g: Generate => g }.isEmpty => f
      }
    // a NATURAL query — explode with the stats columns in scope, then a
    // plain value filter: only the RULE can have inserted the plane bound
    val scan = spark.read.parquet(s"$dir/planes")
      .filter(col("scene_idx") === 0 && col("level") === 0)
      .withColumn("scene_idx", col("scene_idx").cast("int"))
      .withColumn("level", col("level").cast("int"))
    val natural = Plane.pixels(scan, keep = Seq("px_min", "px_max"))
      .filter(col("v") >= 150.0 && col("v") <= 250.0)
    assert(planeFilterBelowExplode(natural).nonEmpty,
      natural.queryExecution.optimizedPlan.toString)
    assert(natural.count() ===
      (for (z <- 0 until 3; y <- 0 until 4; x <- 0 until 4;
        v = z * 100.0 + y * 8 + x if v >= 150 && v <= 250) yield v).size)
    // the helper prunes too (explicit null-safe guard) and stays clean
    val px = ParquetPlaneStore.pixelsInRange(spark, dir, 0, 0, 150.0, 250.0)
    assert(planeFilterBelowExplode(px).nonEmpty)
    assert(!px.columns.contains("px_min") && !px.columns.contains("px_max"))
    assert(px.select("z", "v").collect().forall { r =>
      r.getDouble(1) >= 150.0 && r.getDouble(1) <= 250.0 })
    // a DERIVED pixels column (same name, transformed values) must NOT be
    // pruned by the original column's stats
    val derived = Plane.pixels(
      scan.withColumn("pixels", transform(col("pixels"), p => p * 2)),
      keep = Seq("px_min", "px_max"))
      .filter(col("v") >= 420.0)
    assert(planeFilterBelowExplode(derived).isEmpty,
      derived.queryExecution.optimizedPlan.toString)
    val expectDerived = (for (z <- 0 until 3; y <- 0 until 4; x <- 0 until 4;
      v = 2 * (z * 100.0 + y * 8 + x) if v >= 420.0) yield v).size
    assert(derived.count() === expectDerived)
    // a store without stats columns still answers correctly (rule no-ops)
    val legacy = freshDir("l.graft")
    ParquetPlaneStore.save(img, legacy)
    // strip the stats columns to simulate a pre-stats store
    val stripped = spark.read.parquet(s"$legacy/planes")
      .drop("px_min", "px_max")
    val tmpDir = legacy + "/planes_nostats"
    stripped.write.parquet(tmpDir)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$legacy/planes"), true)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .rename(new org.apache.hadoop.fs.Path(tmpDir),
        new org.apache.hadoop.fs.Path(s"$legacy/planes"))
    val px2 = ParquetPlaneStore.pixelsInRange(spark, legacy, 0, 0, 150.0, 250.0)
    assert(px2.count() == px.count())

    // a table that HAPPENS to have px_min/px_max columns but explodes a
    // different array must NOT be rewritten (the stats carry no guarantee
    // about that array's elements)
    import spark.implicits._
    val decoy = Seq((Seq(1.0, 900.0), 5.0, 10.0))
      .toDF("other", "px_min", "px_max")
      .select(col("px_min"), col("px_max"),
        posexplode(col("other")).as(Seq("pos", "v")))
      .filter(col("v") >= 200.0)
    assert(decoy.count() == 1) // 900.0 survives despite px_max = 10

    // an UNMODIFIED array RENAMED to `pixels` traces to the same leaf but
    // is not the column the stats describe — the rule must not fire
    // (LocalRelation folds filters in the optimizer, so assert on the
    // analyzed plan plus the row count)
    val sneaky = Seq((Seq(1.0, 2.0), Seq(500.0, 900.0), 1.0, 2.0))
      .toDF("small", "big", "px_min", "px_max") // stats describe `small`
      .withColumn("pixels", col("big"))
      .select(col("px_min"), col("px_max"),
        posexplode(col("pixels")).as(Seq("pos", "v")))
      .filter(col("v") >= 200.0)
    assert(sneaky.queryExecution.analyzed.collect {
      case f: Filter if f.condition.references.exists(_.name == "px_max") &&
        f.collect { case g: Generate => g }.isEmpty => f
    }.isEmpty, sneaky.queryExecution.analyzed.toString)
    assert(sneaky.count() == 2) // 500 and 900 survive despite px_max = 2
  }
}
