package graft.plugins

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{BioSpark, SparkSpec}
import graft.core.{NDArray, PixelType}
import graft.readers.ArrayLikeReader

/** A reader with the shape of a third-party plugin: `readDelayed`
  * implemented without `override`, driver-side rows through
  * `override def localPlaneRows`, and no scan work of its own. The image
  * benchmark's `Uint16Source` (layerbench/src/perfbench/ImageIo.scala)
  * has this shape and compiles against the same SPI, so an SPI change
  * that would break it fails this file's compilation first. */
final class ThirdPartyReader(inner: ArrayLikeReader) extends BioReader {
  /** Calls of [[readDelayed]]: the lazy read the facade falls back to. */
  val lazyReads = new AtomicInteger
  def name: String = "ThirdPartyReader"
  def supportedExtensions: Seq[String] = Seq(".tpr")
  def isSupportedImage(spark: SparkSession, path: String): Boolean =
    path.endsWith(".tpr")
  def scenes: Seq[String] = inner.scenes
  def sceneMeta(sceneIdx: Int): SceneMeta =
    inner.sceneMeta(sceneIdx).copy(pixelType = PixelType.UInt16)
  def readDelayed(spark: SparkSession, sceneIdx: Int): DataFrame = {
    lazyReads.incrementAndGet()
    inner.readDelayed(spark, sceneIdx)
  }
  override def localPlaneRows(sceneIdx: Int,
      level: Int): Seq[graft.core.PlaneRow] =
    inner.localPlaneRows(sceneIdx, level)
}

class SpiShapeSpec extends SparkSpec {

  /** Z=2 planes of 3x4 uint16 pixels. */
  private val Arr = NDArray.tabulate(Seq(2, 3, 4))(ix =>
    ix(0) * 100.0 + ix(1) * 10 + ix(2))

  private val registry = new Registry(Seq(PluginEntry("ThirdPartyReader",
    Seq(".tpr"), (_, _, _) =>
      new ThirdPartyReader(ArrayLikeReader(Arr, Some("ZYX"))))))

  /** Opens a fresh image through the registry, runs `body` on it, and
    * checks that it read through the plugin's `readDelayed`. */
  private def viaReadDelayed[T](body: graft.image.BioImage => T): T = {
    val img = BioSpark.open(spark, "/data/plugin-image.tpr", registry)
    val reader = img.reader.asInstanceOf[ThirdPartyReader]
    assert(!img.reader.isInstanceOf[ScanWorkReader])
    assert(reader.lazyReads.get == 0)
    val out = body(img)
    assert(reader.lazyReads.get >= 1)
    out
  }

  test("a plugin with only readDelayed opens through the registry; its " +
      "eager read, lazy planes and saves go through readDelayed") {
    val got = viaReadDelayed(_.getImageData("ZYX"))
    assert(got.array.shape == Seq(2, 3, 4))
    assert(got.array.data.toSeq == Arr.data.toSeq)
    assert(viaReadDelayed(_.planes.count()) == 2)
    for (uri <- Seq(freshDir("p.ome.tiff"), freshDir("p.ome.zarr")))
      withClue(s"$uri: ") {
        viaReadDelayed(_.save(uri))
        val back = BioSpark.open(spark, uri)
        assert(back.meta.pixelType == PixelType.UInt16)
        assert(back.getImageData("ZYX").array.data.toSeq == Arr.data.toSeq)
      }
  }
}
