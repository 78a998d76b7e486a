package graft.image


import org.apache.spark.sql.functions.col

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray
import graft.readers.ArrayLikeReader
import graft.writers.{OmeTiffWriter, ParquetPlaneStore, TiffOptions}

/** Pins the plane-array eager read (`getImageData`: scan work pruned
  * before decode, tiles pasted on the driver) to the lazy pixel path
  * (`getImagePixels` collected and placed pixel by pixel) on every store
  * kind and selection form. */
class EagerReadSpec extends SparkSpec {

  /** The eager read as the pixel path computes it: the lazy long-form
    * view, one collected row per pixel, placed by the resolved
    * selections' index order. */
  private def viaPixels(img: BioImage, returnDims: String,
      selections: Map[Char, Sel]): NDStack = {
    val order = img.dims.order
    val reduced = order.filterNot(returnDims.contains(_))
      .filterNot(selections.contains).map(k => k -> (Sel.Index(0): Sel))
    val resolved = selections.map { case (k, s) => k -> img.resolveSel(k, s) }
    val present = returnDims.filter(order.contains(_))
    val rows = img.getImagePixels(resolved ++ reduced)
      .select(present.map(k => col(k.toLower.toString)) :+ col("v"): _*)
      .collect()
    val remaps = present.map { k =>
      resolved.get(k) match {
        case Some(Sel.Subset(xs))     => xs.zipWithIndex.toMap
        case Some(Sel.SRange(s0, e0)) => (s0 until e0).zipWithIndex.toMap
        case _ => (0 until img.dims(k).toInt).zipWithIndex.toMap
      }
    }
    val shape = returnDims.map { k =>
      val i = present.indexOf(k)
      if (i < 0) 1 else remaps(i).size
    }
    val strides = shape.indices.map(i => shape.drop(i + 1).product)
    val data = new Array[Double](shape.product)
    rows.foreach { r =>
      val flat = returnDims.indices.map { ax =>
        val i = present.indexOf(returnDims(ax))
        if (i < 0) 0 else remaps(i)(r.getInt(i)) * strides(ax)
      }.sum
      data(flat) = r.getDouble(present.length)
    }
    NDStack(returnDims, NDArray(shape.toSeq, data))
  }

  private def assertSame(img: BioImage, returnDims: String,
      selections: Map[Char, Sel] = Map.empty): NDStack = {
    val got = img.getImageData(returnDims, selections)
    val want = viaPixels(img, returnDims, selections)
    assert(got.order == want.order)
    assert(got.array.shape == want.array.shape,
      s"$returnDims $selections at level ${img.currentResolutionLevel}")
    assert(got.array.data.sameElements(want.array.data),
      s"$returnDims $selections at level ${img.currentResolutionLevel}")
    got
  }

  private val Names = Seq("DAPI", "GFP", "RFP")

  /** TCZYX 3x3x2x40x36 with a distinct value per pixel, 10 s between T
    * steps and 2.0/0.5/0.5 µm pixels. */
  private def source: BioImage = {
    val arr = NDArray.tabulate(Seq(3, 3, 2, 40, 36))(ix =>
      ix.foldLeft(0.0)((acc, v) => acc * 100 + v) + 0.5)
    new BioImage(spark, new ArrayLikeReader(Seq(arr), Seq(Some("TCZYX")),
      Seq(Some(Names)), physicalPixelSizes = Some((2.0, 0.5, 0.5)),
      timeInterval = Some(10.0)))
  }

  /** Every selection form on TCZYX data. */
  private val Cases: Seq[(String, Map[Char, Sel])] = Seq(
    // implicit reduction of T, C and Z at index 0
    "YX" -> Map.empty,
    "ZYX" -> Map('T' -> Sel.Index(-1), 'C' -> Sel.Index(1)),
    "CZYX" -> Map('T' -> Sel.Index(2), 'C' -> Sel.Subset(Seq(1, 0))),
    "TCYX" -> Map('T' -> Sel.SRange(1, 3), 'Z' -> Sel.Index(1),
      'Y' -> Sel.SRange(5, 29), 'X' -> Sel.SRange(-20, -3)),
    "YX" -> Map('T' -> Sel.Index(1), 'C' -> Sel.Index(2), 'Z' -> Sel.Index(1),
      'Y' -> Sel.Subset(Seq(17, 3, 30)), 'X' -> Sel.Subset(Seq(35, 0, 16))),
    "TYX" -> Map('T' -> Sel.Coord(10.0, 25.0), 'C' -> Sel.Index(0),
      'Y' -> Sel.Coord(2.0, 5.0)),
    "CXY" -> Map('C' -> Sel.Name(Seq("RFP", "DAPI")), 'T' -> Sel.Index(0),
      'Y' -> Sel.SRange(20, 40)),
    // S and the second T are inserted as size-1 dims; output transposed
    "SZXY" -> Map('T' -> Sel.Index(1), 'C' -> Sel.Index(2)),
    "TCZYX" -> Map.empty)

  private def stores(): Seq[(String, BioImage)] = {
    val src = source
    val tiff = freshDir("s.ome.tiff")
    OmeTiffWriter.save(src, tiff, None,
      TiffOptions(tile = Some((16, 16)), pyramidLevels = 2))
    val zarr = freshDir("s.ome.zarr")
    src.save(zarr, None, Map("chunk" -> "16x16", "levels" -> "2"))
    val sharded = freshDir("sh.ome.zarr")
    src.save(sharded, None, Map("chunk" -> "16x16", "shardInner" -> "8x8",
      "levels" -> "2"))
    val store = freshDir("s.graft")
    ParquetPlaneStore.save(src, store, levels = 2)
    Seq("array" -> src, "tiff" -> BioSpark.open(spark, tiff),
      "zarr" -> BioSpark.open(spark, zarr),
      "sharded zarr" -> BioSpark.open(spark, sharded),
      "graft" -> BioSpark.open(spark, store))
  }

  test("every selection form reads the same array as the pixel path on " +
      "array, OME-TIFF, Zarr (sharded and not) and .graft stores") {
    stores().foreach { case (kind, img) =>
      withClue(s"$kind: ") {
        assert(img.channelNames == Names)
        Cases.foreach { case (dims, sel) => assertSame(img, dims, sel) }
      }
    }
  }

  test("level-1 reads of the OME-TIFF pyramid, Zarr and .graft stores") {
    stores().filter(_._1 != "array").foreach { case (kind, img) =>
      withClue(s"$kind: ") {
        img.setResolutionLevel(1)
        assert((img.dims('Y'), img.dims('X')) == ((20L, 18L)))
        assertSame(img, "YX")
        assertSame(img, "CZYX", Map('T' -> Sel.Index(2),
          'C' -> Sel.Subset(Seq(2, 0)), 'Y' -> Sel.SRange(3, 17),
          'X' -> Sel.Subset(Seq(17, 9, 8))))
      }
    }
  }

  private def arrayMosaic(shape: Seq[Int], order: String,
      positions: Seq[(Int, Int)], reconstruct: Boolean = true): BioImage = {
    val arr = NDArray.tabulate(shape)(ix =>
      ix.foldLeft(0.0)((acc, v) => acc * 100 + v) + 0.5)
    new BioImage(spark, new ArrayLikeReader(Seq(arr), Seq(Some(order)),
      Seq(None), tilePositions = Seq(positions)), reconstruct)
  }

  test("overlapping mosaics: the lowest tile index wins, in memory and " +
      "through a .graft store") {
    // 3x4 tiles overlapping in y and in x; m order is not position order
    val img = arrayMosaic(Seq(4, 3, 4), "MYX",
      Seq((2, 2), (0, 0), (0, 2), (2, 0)))
    val dir = freshDir("o.graft")
    ParquetPlaneStore.save(img, dir)
    for (m <- Seq(img, BioSpark.open(spark, dir))) {
      val full = assertSame(m, "YX")
      assert(full.array.shape == Seq(5, 6))
      // (2, 2) lies in all four tiles: tile 0's local (0, 0)
      assert(full.array(2, 2) == 0.5)
      // (2, 1) lies in tiles 1 and 3: tile 1's local (2, 1)
      assert(full.array(2, 1) == 10000.0 + 2 * 100 + 1 + 0.5)
      assertSame(m, "XY", Map('Y' -> Sel.SRange(1, 4),
        'X' -> Sel.Subset(Seq(3, 1))))
    }
  }

  test("reconstructMosaic = false keeps M in the output, tile-local Y/X") {
    val src = source
    val tiff = freshDir("m.ome.tiff")
    OmeTiffWriter.save(src, tiff, None, TiffOptions(tile = Some((16, 16))))
    val tiled = new BioImage(spark, BioSpark.open(spark, tiff).reader,
      reconstructMosaic = false)
    val overlapping = arrayMosaic(Seq(4, 3, 4), "MYX",
      Seq((2, 2), (0, 0), (0, 2), (2, 0)), reconstruct = false)
    for (img <- Seq(tiled, overlapping)) {
      assert(img.dims.order.contains('M'))
      val all = assertSame(img, "MYX")
      assert(all.array.shape.head == img.dims('M'))
      assertSame(img, "MYX", Map('M' -> Sel.Subset(Seq(2, 0)),
        'X' -> Sel.SRange(1, 3)))
      assertSame(img, "YX", Map('M' -> Sel.Index(-1)))
    }
  }

  test("S>1 samples: a tiled YXS OME-TIFF and an overlapping MYXS mosaic") {
    val arr = NDArray.tabulate(Seq(20, 18, 3))(ix =>
      ix.foldLeft(0.0)((acc, v) => acc * 100 + v) + 0.5)
    val uri = freshDir("rgb.ome.tiff")
    OmeTiffWriter.save(new BioImage(spark, new ArrayLikeReader(Seq(arr),
      Seq(Some("YXS")), Seq(None))), uri, None,
      TiffOptions(tile = Some((16, 16))))
    val tiff = BioSpark.open(spark, uri)
    val mosaic = arrayMosaic(Seq(2, 3, 3, 2), "MYXS", Seq((0, 0), (0, 2)))
    for (img <- Seq(tiff, mosaic)) {
      assert(img.dims('S') > 1)
      assertSame(img, "YXS")
      assertSame(img, "SYX", Map('S' -> Sel.Subset(Seq(1, 0))))
      assertSame(img, "YX", Map('S' -> Sel.Index(-1), 'X' -> Sel.SRange(1, 4)))
    }
  }

  test("a gapped mosaic reads zeros at its gaps") {
    val img = arrayMosaic(Seq(2, 2, 2), "MYX", Seq((0, 0), (2, 2)))
    val got = assertSame(img, "YX")
    assert(got.array.shape == Seq(4, 4))
    for (y <- 0 until 4; x <- 0 until 4) {
      val covered = (y < 2 && x < 2) || (y >= 2 && x >= 2)
      assert((got.array(y, x) == 0.0) == !covered, s"($y, $x)")
    }
    assert(got.array(3, 3) == 10000.0 + 100 + 1 + 0.5)
  }
}
