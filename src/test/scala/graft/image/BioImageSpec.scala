package graft.image

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{BioSpark, SparkSpec}
import graft.core._
import graft.plugins.{BioReader, SceneMeta}
import graft.readers.ArrayLikeReader

/** Ports the reference's normalization/reshape/scene behavior
  * (tests/test_array_like_reader.py:871-1141 via BioImage). */
class BioImageSpec extends SparkSpec {

  private def formulaic(shape: Seq[Int]): NDArray =
    NDArray.tabulate(shape)(idx =>
      idx.zipWithIndex.map { case (v, i) =>
        v * math.pow(10, shape.length - 1 - i)
      }.sum)

  test("2D input normalizes to canonical 5D TCZYX (1,1,1,h,w)") {
    val img = BioSpark.fromArray(spark, NDArray.tabulate(Seq(1, 1))(_ => 7.0))
    assert(img.dims.order == "TCZYX")
    assert(img.dims.shape == Seq(1, 1, 1, 1, 1))
    val nd = img.getImageData("TCZYX")
    assert(nd.array.shape == Seq(1, 1, 1, 1, 1))
    assert(nd.array(0, 0, 0, 0, 0) == 7.0)
  }

  test("6D guess keeps S: TCZYXS") {
    val img = BioSpark.fromArray(spark, NDArray.zeros(Seq(1, 2, 3, 4, 5, 6)))
    assert(img.dims.order == "TCZYXS")
    assert(img.dims.shape == Seq(1, 2, 3, 4, 5, 6))
  }

  test("getImageData slices, drops Index dims, transposes to returnDims") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 2, 4, 3, 3)))
    val zyx = img.getImageData("ZYX",
      Map('T' -> Sel.Index(1), 'C' -> Sel.Index(0)))
    assert(zyx.array.shape == Seq(4, 3, 3))
    assert(zyx.array(2, 1, 0) == 10000 + 0 + 200 + 10 + 0)
    // transpose: XYZ ordering
    val xyz = img.getImageData("XYZ",
      Map('T' -> Sel.Index(1), 'C' -> Sel.Index(0)))
    assert(xyz.array.shape == Seq(3, 3, 4))
    assert(xyz.array(0, 1, 2) == zyx.array(2, 1, 0))
  }

  test("unrequested dims are reduced at index 0; missing dims inserted") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 2, 4, 3, 3)))
    // T and C absent from returnDims and unselected → index 0 taken
    val zyx = img.getImageData("ZYX")
    assert(zyx.array.shape == Seq(4, 3, 3))
    assert(zyx.array(1, 2, 0) == 120.0)
    // returnDims with a dim not in the data: S inserted at size 1
    val szyx = img.getImageData("SZYX")
    assert(szyx.array.shape == Seq(1, 4, 3, 3))
  }

  test("Subset selection keeps and re-indexes") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 2, 4, 3, 3)))
    val nd = img.getImageData("ZYX", Map('Z' -> Sel.Subset(Seq(1, 3))))
    assert(nd.array.shape == Seq(2, 3, 3))
    assert(nd.array(0, 0, 0) == 100.0) // z=1
    assert(nd.array(1, 0, 0) == 300.0) // z=3
  }

  test("Subset preserves the caller's requested order (C=[1,0] style)") {
    // reference reshape_data keeps list/tuple order (bio_image.py:776-827)
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 2, 4, 3, 3)))
    val nd = img.getImageData("ZYX", Map('Z' -> Sel.Subset(Seq(3, 1))))
    assert(nd.array.shape == Seq(2, 3, 3))
    assert(nd.array(0, 0, 0) == 300.0) // z=3 first, as requested
    assert(nd.array(1, 0, 0) == 100.0) // z=1 second
  }

  test("negative indices resolve from the end; out-of-range raises") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 2, 4, 3, 3)))
    val nd = img.getImageData("ZYX", Map('Z' -> Sel.Subset(Seq(0, -1))))
    assert(nd.array.shape == Seq(2, 3, 3))
    assert(nd.array(1, 0, 0) == 300.0) // z=-1 → z=3
    val idx = img.getImageData("YX",
      Map('T' -> Sel.Index(-1), 'C' -> Sel.Index(0), 'Z' -> Sel.Index(0)))
    assert(idx.array(0, 0) == 10000.0) // t=-1 → t=1
    intercept[IndexOutOfBoundsException](
      img.getImageData("ZYX", Map('Z' -> Sel.Subset(Seq(0, 4)))))
    intercept[IndexOutOfBoundsException](
      img.getImageData("ZYX", Map('Z' -> Sel.Subset(Seq(-5)))))
  }

  test("empty or duplicated selections raise descriptive errors") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 2, 4, 3, 3)))
    intercept[ConflictingArguments](
      img.getImageData("ZYX", Map('Z' -> Sel.Subset(Seq.empty))))
    intercept[ConflictingArguments](
      img.getImageData("ZYX", Map('Z' -> Sel.Subset(Seq(1, 1)))))
    intercept[ConflictingArguments](
      img.getImageData("ZYX", Map('Z' -> Sel.SRange(3, 3))))
  }

  test("Index selection of a returned dim is an error") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 2, 4, 3, 3)))
    intercept[ConflictingArguments](
      img.getImageData("ZYX", Map('Z' -> Sel.Index(0))))
    intercept[ConflictingArguments](
      img.getImageData("ZYX", Map('Q' -> Sel.Index(0))))
  }

  test("unknown dims are reduced at index 0 during normalization (8D)") {
    // reference tests/test_array_like_reader.py:1050-1059: "ABCDEFGH"
    // (1,2,3,4,5,6,7,8) → canonical (1,3,1,1,1) picking index 0 elsewhere
    val arr = NDArray.tabulate(Seq(1, 2, 3, 4, 5, 6, 7, 8))(idx =>
      idx.zipWithIndex.map { case (v, i) => v * math.pow(10, 7 - i) }.sum)
    val img = BioSpark.fromArray(spark, arr, Some("ABCDEFGH"))
    val nd = img.getImageData("TCZYX")
    assert(nd.array.shape == Seq(1, 3, 1, 1, 1))
    assert(nd.array(0, 0, 0, 0, 0) == 0.0)
    assert(nd.array(0, 1, 0, 0, 0) == 100000.0) // C index from dim 'C' pos 2
    assert(nd.array(0, 2, 0, 0, 0) == 200000.0)
  }

  test("scenes: ids, switch by id/index, invalid raises") {
    val img = new BioImage(spark, ArrayLikeReader.multi(
      Seq(NDArray.zeros(Seq(2, 2)), NDArray.zeros(Seq(3, 3)))))
    assert(img.scenes == Seq("Image:0", "Image:1"))
    assert(img.currentScene == "Image:0")
    img.setScene("Image:1")
    assert(img.currentSceneIndex == 1)
    assert(img.dims.shape == Seq(1, 1, 1, 3, 3))
    img.setScene(0)
    assert(img.dims.shape == Seq(1, 1, 1, 2, 2))
    intercept[IndexOutOfBoundsException](img.setScene("Image:9"))
    intercept[IndexOutOfBoundsException](img.setScene(5))
  }

  test("channel names: explicit, generated, and guaranteed when no C") {
    val withC = BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2, 2)),
      Some("CYX"), Some(Seq("A", "B")))
    assert(withC.channelNames == Seq("A", "B"))
    val genC = BioSpark.fromArray(spark, NDArray.zeros(Seq(3, 2, 2)), Some("CYX"))
    assert(genC.channelNames == Seq("Channel:0:0", "Channel:0:1", "Channel:0:2"))
    val noC = BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2))) // YX
    assert(noC.channelNames == Seq("Channel:0:0"))
  }

  test("channel name validation errors") {
    intercept[IllegalArgumentException](
      BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2, 2)), Some("CYX"),
        Some(Seq("only-one"))).channelNames)
    intercept[ConflictingArguments](
      BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2)), None,
        Some(Seq("A"))).channelNames)
  }

  test("per-scene option list length mismatch raises ConflictingArguments") {
    intercept[ConflictingArguments](ArrayLikeReader.multi(
      Seq(NDArray.zeros(Seq(2, 2))),
      dimOrders = Seq(None, Some("YX"))))
  }

  test("resolution level: unknown raises, same is no-op") {
    val img = BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2)))
    assert(img.resolutionLevels == Seq(0))
    img.setResolutionLevel(0) // no-op
    intercept[IndexOutOfBoundsException](img.setResolutionLevel(3))
  }

  test("getStack stacks scenes with leading I dim") {
    val img = new BioImage(spark, ArrayLikeReader.multi(
      (0 until 3).map(i => NDArray.tabulate(Seq(2, 2))(idx =>
        i * 100.0 + idx(0) * 10 + idx(1)))))
    val st = img.getStack()
    assert(st.order == "ITCZYX")
    assert(st.array.shape == Seq(3, 1, 1, 1, 2, 2))
    assert(st.array(2, 0, 0, 0, 1, 1) == 211.0)
  }

  test("getStack reads every scene at the current level and restores " +
      "the scene and level") {
    val scenes = (0 until 2).map(i => NDArray.tabulate(Seq(2, 8, 6))(idx =>
      i * 1000.0 + idx(0) * 100 + idx(1) * 10 + idx(2)))
    val uri = java.nio.file.Files.createTempDirectory("graft-stack")
      .toString + "/s.ome.tiff"
    new BioImage(spark, ArrayLikeReader.multi(scenes, Seq(Some("ZYX"))))
      .save(uri, None, Map("pyramidLevels" -> "2"))
    val img = BioSpark.open(spark, uri)
    val perScene = (0 until 2).map { i =>
      img.setScene(i)
      img.setResolutionLevel(1)
      img.getImageData("ZYX")
    }
    assert(perScene.head.array.shape == Seq(2, 4, 3))
    img.setScene(1)
    img.setResolutionLevel(1)
    val st = img.getStack("ZYX")
    assert(st.order == "IZYX")
    assert(st.array.shape == Seq(2, 2, 4, 3))
    assert(st.array.data.toSeq == perScene.flatMap(_.array.data))
    assert((img.currentSceneIndex, img.currentResolutionLevel) == ((1, 1)))
  }

  test("getStack raises on a scene without the current level and still " +
      "restores the scene and level") {
    val inner = ArrayLikeReader.multi(Seq(NDArray.zeros(Seq(2, 2)),
      NDArray.zeros(Seq(2, 2))))
    val reader = new BioReader {
      def name: String = "LevelPerScene"
      def supportedExtensions: Seq[String] = Seq.empty
      def isSupportedImage(s: SparkSession, p: String): Boolean = false
      def scenes: Seq[String] = inner.scenes
      def sceneMeta(i: Int): SceneMeta = inner.sceneMeta(i)
      def readDelayed(s: SparkSession, i: Int): DataFrame =
        inner.readDelayed(s, i)
      override def resolutionLevels(i: Int): Seq[Int] =
        if (i == 1) Seq(0, 1) else Seq(0)
      override def levelDims(i: Int, l: Int): Dimensions =
        inner.levelDims(i, 0)
    }
    val img = new BioImage(spark, reader)
    img.setScene(1)
    img.setResolutionLevel(1)
    val e = intercept[IndexOutOfBoundsException](img.getStack())
    assert(e.getMessage.contains("scene 'Image:0'") &&
      e.getMessage.contains("level 1"), e.getMessage)
    assert((img.currentSceneIndex, img.currentResolutionLevel) == ((1, 1)))
  }

  test("coordinate slicing by physical units and channel names") {
    val reader = new ArrayLikeReader(
      Seq(NDArray.tabulate(Seq(2, 4, 4))(idx =>
        idx(0) * 100.0 + idx(1) * 10 + idx(2))),
      Seq(Some("CYX")), Seq(Some(Seq("DAPI", "GFP"))),
      physicalPixelSizes = Some((1.0, 0.5, 0.5)))
    val img = new BioImage(spark, reader)
    // Y in [0.5, 1.0] µm at 0.5 µm/px → y indices 1..2
    val nd = img.getImageData("CYX", Map('Y' -> Sel.Coord(0.5, 1.0)))
    assert(nd.array.shape == Seq(2, 2, 4))
    assert(nd.array(0, 0, 0) == 10.0) // y=1
    // channel names resolve in requested order
    val byName = img.getImageData("CYX", Map('C' -> Sel.Name(Seq("GFP", "DAPI"))))
    assert(byName.array(0, 0, 0) == 100.0) // GFP first
    assert(byName.array(1, 0, 0) == 0.0)
    // errors: no scale on T, unknown channel, name on non-C dim
    intercept[ConflictingArguments](
      img.getImagePixels(Map('X' -> Sel.Name(Seq("DAPI")))))
    intercept[IllegalArgumentException](
      img.getImagePixels(Map('C' -> Sel.Name(Seq("nope")))).count())
    val noPps = BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2)))
    intercept[ConflictingArguments](
      noPps.getImagePixels(Map('Y' -> Sel.Coord(0.0, 1.0))))
  }

  test("scale and dimensionProperties expose pps/timeInterval per dim") {
    val img = new BioImage(spark, new ArrayLikeReader(
      Seq(NDArray.zeros(Seq(4, 3, 2))), Seq(None), Seq(None),
      physicalPixelSizes = Some((2.0, 0.5, 0.25))))
    assert(img.scale('Z').contains(2.0))
    assert(img.scale('Y').contains(0.5))
    assert(img.scale('X').contains(0.25))
    assert(img.scale('C').isEmpty)
    assert(img.scale('T').isEmpty) // no time interval declared
    val props = img.dimensionProperties
    assert(props('Z') == ((4L, Some(2.0), Some("µm"))))
    assert(props('X') == ((2L, Some(0.25), Some("µm"))))
    assert(props('T') == ((1L, None, None)))
  }

  test("standardMetadata overrides sizes from actual dims") {
    val img = BioSpark.fromArray(spark, NDArray.zeros(Seq(4, 3, 2)))
    val sm = img.standardMetadata
    assert(sm.imageSizeZ == 4 && sm.imageSizeY == 3 && sm.imageSizeX == 2)
    assert(sm.imageSizeT == 1 && sm.imageSizeC == 1)
    assert(sm.dimensionOrder == "TCZYX")
  }

  test("Y/X selections push through the mosaic stitch as a tile prune " +
      "(filter below the explode), results unchanged") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    // 2x2 grid of 4x4 tiles → 8x8 stitched plane
    val arr = NDArray.tabulate(Seq(4, 4, 4))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = new BioImage(spark, new ArrayLikeReader(Seq(arr),
      Seq(Some("MYX")), Seq(None),
      tilePositions = Seq(Seq((0, 0), (0, 4), (4, 0), (4, 4)))))
    // a range crossing the tile boundary: rows 2..5, cols 5..7
    val df = img.getImagePixels(Map(
      'Y' -> Sel.SRange(2, 6), 'X' -> Sel.SRange(5, 8)))
    // the tile filter (on y0/x0) sits BELOW the posexplode: a Filter
    // referencing tile-catalog columns whose subtree has no Generate.
    // (On a LocalRelation source the optimizer folds it away entirely —
    // assert placement on the analyzed plan.)
    def tileFilterBelowExplode(
        lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      lp.collect {
        case f: Filter if f.condition.references.exists(a =>
          a.name == "y0" || a.name == "x0") &&
          f.collect { case g: Generate => g }.isEmpty => f
      }
    val lp = df.queryExecution.analyzed
    assert(tileFilterBelowExplode(lp).nonEmpty, lp.toString)

    // against a file-backed tiled store (zarr) the OPTIMIZED plan keeps
    // the tile filter below the explode — pruned tiles never decode
    val zuri = java.nio.file.Files.createTempDirectory("graft-prune")
      .toString + "/m.ome.zarr"
    img.save(zuri)
    val zimg = graft.BioSpark.open(spark, zuri)
    val zdf = zimg.getImagePixels(Map(
      'Y' -> Sel.SRange(2, 6), 'X' -> Sel.SRange(5, 8)))
    assert(tileFilterBelowExplode(zdf.queryExecution.optimizedPlan).nonEmpty,
      zdf.queryExecution.optimizedPlan.toString)
    val zrows = zdf.select("y", "x", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    val zexpect = (for (y <- 2 until 6; x <- 5 until 8) yield {
      val m = (y / 4) * 2 + (x / 4)
      (y, x, m * 100.0 + (y % 4) * 10.0 + (x % 4))
    }).toSet
    assert(zrows == zexpect)
    // and the values are exactly the unpruned slice
    val rows = df.select("y", "x", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    val expect = (for (y <- 2 until 6; x <- 5 until 8) yield {
      val m = (y / 4) * 2 + (x / 4)
      (y, x, m * 100.0 + (y % 4) * 10.0 + (x % 4))
    }).toSet
    assert(rows == expect)
    // X-only selection hitting the left column prunes too
    val left = img.getImagePixels(Map('X' -> Sel.Index(1)))
    assert(left.count() == 8) // full Y extent, one column
  }
}
