package graft.image


import org.apache.spark.TestListenerBus

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray
import graft.plugins.{PlanePredicate, ScanWorkReader}
import graft.writers.{OmeTiffWriter, TiffOptions}

/** What an eager region read costs: the stored objects it plans (after
  * pruning by plane and Y/X window), and the Spark jobs and tasks it
  * runs, counted by a listener. */
class EagerReadCostSpec extends SparkSpec {

  private def counting[T](body: => T): (T, Int, Int) =
    TestListenerBus.counting(spark.sparkContext)(body)

  /** T=2, C=2, Z=2 planes of 64x64, a distinct value per pixel. */
  private val Arr = NDArray.tabulate(Seq(2, 2, 2, 64, 64))(ix =>
    ix.foldLeft(0.0)((acc, v) => acc * 100 + v) + 0.5)

  private val Region: Map[Char, Sel] = Map('T' -> Sel.Index(1),
    'C' -> Sel.Index(0), 'Z' -> Sel.Index(1), 'Y' -> Sel.SRange(0, 32),
    'X' -> Sel.SRange(0, 32))

  private def assertRegion(got: NDStack): Unit = {
    assert(got.array.shape == Seq(32, 32))
    for (y <- 0 until 32; x <- 0 until 32)
      assert(got.array(y, x) == Arr(1, 0, 1, y, x), s"($y, $x)")
  }

  test("a 32x32 region of 32x32-chunked Zarr and tiled OME-TIFF plans 1 " +
      "of 32 stored objects and runs one job of one task") {
    val src = BioSpark.fromArray(spark, Arr, Some("TCZYX"))
    val zarr = freshDir("c.ome.zarr")
    src.save(zarr, None, Map("chunk" -> "32x32"))
    val tiff = freshDir("c.ome.tiff")
    OmeTiffWriter.save(src, tiff, None, TiffOptions(tile = Some((32, 32))))
    for (uri <- Seq(zarr, tiff)) withClue(s"$uri: ") {
      val img = BioSpark.open(spark, uri)
      assert(img.dims.order == "TCZYX")
      // the unpruned catalog: every plane's 2x2 grid of stored objects
      assert(img.reader.v2ScanWork(0, 0, PlanePredicate.All)
        .map(_.objects).sum == 32)
      val (got, jobs, tasks) = counting(img.getImageData("YX", Region))
      assert(img.plannedObjects == 1)
      assert((jobs, tasks) == ((1, 1)))
      assertRegion(got)
    }
  }

  test("a region of a driver-decoded source (array, NPY) runs no job") {
    val src = BioSpark.fromArray(spark, Arr, Some("TCZYX"))
    val npy = freshDir("c.npy")
    src.save(npy)
    for (img <- Seq(src, BioSpark.open(spark, npy))) {
      assert(img.reader.isInstanceOf[ScanWorkReader])
      val (got, jobs, tasks) = counting(img.getImageData("YX", Region))
      assert((jobs, tasks) == ((0, 0)))
      assertRegion(got)
    }
  }
}
