package graft.image

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray

/** P6 cross-format drift guard: OME-TIFF `pyramidLevels` (SubIFDs) and
  * zarr `levels` (NGFF multiscale) both build coarse levels with the
  * shared 2x mean-pool. This spec pins that the two sinks agree level by
  * level — dims AND pixels — for the same image, including odd (ceil-
  * halved, ragged-pool) extents, so the two pooling paths cannot drift
  * apart silently. */
class PyramidParitySpec extends SparkSpec {

  test("TIFF pyramidLevels and zarr levels agree on level-k dims and " +
      "pixels (odd extents, 3 levels)") {
    // odd dims: 9x11 → 5x6 → 3x3 (ceil halving, ragged pool windows)
    val arr = NDArray.tabulate(Seq(9, 11))(idx => idx(0) * 20.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val tiff = freshDir("p.ome.tiff")
    graft.writers.OmeTiffWriter.save(img, tiff, None,
      graft.writers.TiffOptions(pyramidLevels = 3))
    val zarr = freshDir("p.ome.zarr")
    graft.writers.ZarrWriter.save(img, zarr, None, levels = 3)

    val tBack = BioSpark.open(spark, tiff)
    val zBack = BioSpark.open(spark, zarr)
    assert(tBack.resolutionLevels == Seq(0, 1, 2))
    assert(zBack.resolutionLevels == Seq(0, 1, 2))
    val expectDims = Seq((9L, 11L), (5L, 6L), (3L, 3L))
    for (k <- 0 until 3) {
      tBack.setResolutionLevel(k)
      zBack.setResolutionLevel(k)
      assert((tBack.dims('Y'), tBack.dims('X')) == expectDims(k), s"tiff L$k")
      assert((zBack.dims('Y'), zBack.dims('X')) == expectDims(k), s"zarr L$k")
      val t = tBack.getImageData("YX")
      val z = zBack.getImageData("YX")
      val (h, w) = (expectDims(k)._1.toInt, expectDims(k)._2.toInt)
      for (y <- 0 until h; x <- 0 until w)
        assert(t.array(y, x) == z.array(y, x),
          s"L$k ($y,$x): tiff=${t.array(y, x)} zarr=${z.array(y, x)}")
    }
  }
}
