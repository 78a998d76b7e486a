package graft.image


import org.apache.spark.TestListenerBus
import org.apache.spark.sql.catalyst.plans.logical.Generate

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray
import graft.plugins.PlanePredicate
import graft.readers.ArrayLikeReader
import graft.writers.{OmeTiffWriter, ParquetPlaneStore, TiffOptions}

/** Pins the tile-paste stitch (`BioImage.stitchedPlanes`) to the pixel
  * path (`getImageData("YX")` per plane, which resolves overlap with
  * `min_by(v, m)` over exploded pixels) on generated mosaics, and pins the
  * shape of the plans the stitch and the TIFF and Zarr lazy reads
  * produce. */
class StitchSpec extends SparkSpec {

  private val PlaneCols = Seq("scene_idx", "scene_id", "level", "m", "t",
    "c", "z", "s", "y0", "x0", "h", "w", "pixels")

  /** Every stitched row equals the pixel path's plane, and there is one
    * row per (t, c, z, s). */
  private def assertStitchMatchesPixels(img: BioImage): Unit = {
    val d = img.dims
    val (h, w) = (d('Y').toInt, d('X').toInt)
    val nS = if (d.order.contains('S')) d('S').toInt else 1
    val st = img.stitchedPlanes
    assert(st.columns.toSeq == PlaneCols)
    val rows = st.collect()
    assert(rows.length == d('T') * d('C') * d('Z') * nS)
    rows.foreach { r =>
      val (t, c, z, s) = (r.getAs[Int]("t"), r.getAs[Int]("c"),
        r.getAs[Int]("z"), r.getAs[Int]("s"))
      assert(r.getAs[Int]("level") == img.currentResolutionLevel)
      assert(r.getAs[String]("scene_id") == img.currentScene)
      assert((r.getAs[Int]("m"), r.getAs[Int]("y0"), r.getAs[Int]("x0"),
        r.getAs[Int]("h"), r.getAs[Int]("w")) == ((0, 0, 0, h, w)))
      val sel = Map[Char, Sel]('T' -> Sel.Index(t), 'C' -> Sel.Index(c),
        'Z' -> Sel.Index(z)) ++
        (if (nS > 1) Map('S' -> Sel.Index(s)) else Map.empty)
      val want = img.getImageData("YX", sel).array
      assert(want.shape == Seq(h, w))
      assert(r.getSeq[Double](r.fieldIndex("pixels")) == want.data.toSeq,
        s"plane (t=$t, c=$c, z=$z, s=$s)")
    }
  }

  /** A tiled OME-TIFF of `shape` (ZYX or YXS, per `order`) with 16×16
    * tiles, reopened: tiled TIFF scenes surface as mosaics. */
  private def tiledTiff(shape: Seq[Int], order: String,
      pyramidLevels: Int = 1): BioImage = {
    val arr = NDArray.tabulate(shape)(ix =>
      ix.foldLeft(0.0)((acc, v) => acc * 100 + v) + 0.5)
    val src = new BioImage(spark, new ArrayLikeReader(Seq(arr), Seq(Some(order)),
      Seq(None)))
    val uri = freshDir("t.ome.tiff")
    OmeTiffWriter.save(src, uri, None,
      TiffOptions(tile = Some((16, 16)), pyramidLevels = pyramidLevels))
    val back = BioSpark.open(spark, uri)
    assert(back.meta.dims.order.contains('M'), back.meta.dims)
    back
  }

  private def arrayMosaic(shape: Seq[Int], order: String,
      positions: Seq[(Int, Int)]): BioImage = {
    val arr = NDArray.tabulate(shape)(ix =>
      ix.foldLeft(0.0)((acc, v) => acc * 100 + v))
    new BioImage(spark, new ArrayLikeReader(Seq(arr), Seq(Some(order)),
      Seq(None), tilePositions = Seq(positions)))
  }

  test("ragged edge tiles: a 37x42 tiled TIFF stitches like the pixel path") {
    val img = tiledTiff(Seq(2, 37, 42), "ZYX")
    assert(img.meta.dims('M') == 9) // 3x3 grid, right/bottom tiles cropped
    assertStitchMatchesPixels(img)
  }

  test("overlapping tiles: the lowest tile index wins, as in the pixel " +
      "path") {
    // 3x4 tiles, overlapping in y and in x; m order is not position order
    val img = arrayMosaic(Seq(4, 3, 4), "MYX",
      Seq((2, 2), (0, 0), (0, 2), (2, 0)))
    assert((img.dims('Y'), img.dims('X')) == ((5L, 6L)))
    assertStitchMatchesPixels(img)
    val px = img.stitchedPlanes.collect().head.getSeq[Double](12)
    // (2, 2) lies in all four tiles: tile 0's local (0, 0)
    assert(px(2 * 6 + 2) == 0.0)
    // (2, 1) lies in tiles 1 and 3: tile 1's local (2, 1)
    assert(px(2 * 6 + 1) == 10000.0 + 2 * 100 + 1)
  }

  test("S>1 samples: a tiled RGB-like TIFF and an overlapping YXS mosaic") {
    val tiff = tiledTiff(Seq(20, 18, 3), "YXS")
    assert(tiff.dims('S') == 3)
    assertStitchMatchesPixels(tiff)
    val arr = arrayMosaic(Seq(2, 3, 3, 2), "MYXS", Seq((0, 0), (0, 2)))
    assert(arr.dims('S') == 2 && arr.dims('X') == 5)
    assertStitchMatchesPixels(arr)
  }

  test("level-1 mosaics: a TIFF pyramid level and a pooled plane store") {
    val tiff = tiledTiff(Seq(40, 36), "YX", pyramidLevels = 2)
    tiff.setResolutionLevel(1)
    assert((tiff.dims('Y'), tiff.dims('X')) == ((20L, 18L)))
    assertStitchMatchesPixels(tiff)
    // 3-wide tiles at x 0 and 3 pool to 2-wide tiles at x 0 and 1: they
    // overlap at level 1
    val img = arrayMosaic(Seq(2, 3, 3), "MYX", Seq((0, 0), (0, 3)))
    val dir = freshDir("m.graft")
    ParquetPlaneStore.save(img, dir, levels = 2)
    val back = BioSpark.open(spark, dir)
    back.setResolutionLevel(1)
    assert((back.dims('Y'), back.dims('X')) == ((2L, 3L)))
    assertStitchMatchesPixels(back)
  }

  test("a gapped mosaic still fails loudly with 'do not cover'") {
    val img = arrayMosaic(Seq(2, 2, 2), "MYX", Seq((0, 0), (2, 2)))
    val e = intercept[Exception](img.stitchedPlanes.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("do not cover") &&
      m.contains("expected 16 pixels, got 8")), e)
  }

  test("plans: the stitch has no explode and at most one Exchange; the " +
      "OME-TIFF segment read has no round-robin shuffle") {
    // the TIFF and Zarr lazy reads also run one task per unit of scan work
    for (img <- Seq(tiledTiff(Seq(2, 37, 42), "ZYX"),
        arrayMosaic(Seq(4, 3, 4), "MYX", Seq((2, 2), (0, 0), (0, 2), (2, 0))))) {
      val qe = img.stitchedPlanes.queryExecution
      assert(qe.optimizedPlan.collect { case g: Generate => g }.isEmpty,
        qe.optimizedPlan.toString)
      val plan = qe.executedPlan.toString
      assert(!plan.contains("posexplode") && !plan.contains("Generate"), plan)
      assert("Exchange".r.findAllIn(plan).length <= 1, plan)
    }
    val zarr = freshDir("t.ome.zarr")
    BioSpark.fromArray(spark, NDArray.tabulate(Seq(2, 37, 42))(_.sum.toDouble),
      Some("ZYX")).save(zarr, None, Map("chunk" -> "16x16"))
    for (img <- Seq(tiledTiff(Seq(2, 37, 42), "ZYX"),
        BioSpark.open(spark, zarr))) withClue(s"${img.reader.name}: ") {
      // 2 planes of a 3x3 grid of stored objects, in contiguous blocks
      val work = img.reader.v2ScanWork(0, 0, PlanePredicate.All)
      assert(work.map(_.objects).sum == 2 * 9)
      assert(work.size == math.min(2 * 9,
        spark.sparkContext.defaultParallelism) && work.size > 1)
      val read = img.reader.readDelayedAtLevel(spark, 0, 0)
      val plan = read.queryExecution.executedPlan.toString
      assert(!plan.contains("RoundRobinPartitioning"), plan)
      assert(!plan.contains("Exchange"), plan)
      val (rows, jobs, tasks) =
        TestListenerBus.counting(spark.sparkContext)(read.collect())
      assert(rows.length == 2 * 9)
      assert((jobs, tasks) == ((1, work.size)))
    }
  }
}
