package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.BioSpark
import graft.core.{NDArray, PixelType}
import graft.image.{BioImage, Sel}
import graft.plugins.{BioReader, SceneMeta}
import graft.readers.ArrayLikeReader

/** The bioio surface: seeded multi-scene uint16 TCZYX images written as
  * tiled, deflate OME-TIFF with a SubIFD pyramid; one op opens an image,
  * selects a scene and level, reads the OME metadata, saves the scene to
  * sharded zstd OME-Zarr v3, reopens the Zarr, reads a seeded region and
  * checks its pixels against the generator. */
final class ImageIo(spark: SparkSession, seed: Long) extends Workload {
  import ImageIo._

  private var inputs: File = _
  private var outputs: File = _
  private var userBytes = 0L
  private var nextOut = 0

  def prepare(dir: File): Unit = {
    inputs = dir
    outputs = new File(dir, "zarr")
    outputs.mkdirs()
    (0 until Images).foreach { i =>
      val scenes = (0 until Scenes).map(s => NDArray.tabulate(Shape)(ix =>
        pixel(seed, i, s, ix(0), ix(1), ix(2), ix(3), ix(4)).toDouble))
      val src = new Uint16Source(ArrayLikeReader.multi(scenes, Seq(Some("TCZYX"))))
      new BioImage(spark, src).save(tiff(i), None, TiffOptions)
    }
  }

  private def tiff(i: Int): String = new File(inputs, s"img$i.ome.tiff").getPath

  def cycle(c: Int): Seq[Op] = (0 until Images).map { i =>
    val rnd = new Random(seed * 7919L + c * 31L + i)
    val scene = rnd.nextInt(Scenes)
    val level = rnd.nextInt(Levels)
    val (t, ch, z) = (rnd.nextInt(Shape(0)), rnd.nextInt(Shape(1)), rnd.nextInt(Shape(2)))
    val (h, w) = (RegionSize, RegionSize)
    val (y0, x0) = (rnd.nextInt(Shape(3) - h + 1), rnd.nextInt(Shape(4) - w + 1))
    Op("image", () => {
      val img = Trace.span("plugins.resolve_ms")(BioSpark.open(spark, tiff(i)))
      Trace.span("readers.open_ms") {
        check(img.scenes.length == Scenes, s"${img.scenes.length} scenes")
        check(img.reader.sceneMeta(scene).pixelType == PixelType.UInt16,
          "pixel type is not uint16")
        check(img.reader.resolutionLevels(scene) == (0 until Levels),
          s"levels ${img.reader.resolutionLevels(scene)}")
      }
      Trace.span("image.select_ms") {
        img.setScene(scene)
        img.setResolutionLevel(level)
        val want = Shape.take(3) ++ Shape.drop(3).map(n => (n + (1 << level) - 1) >> level)
        check(img.dims.shape == want.map(_.toLong), s"dims ${img.dims} at level $level")
      }
      val ome = Trace.span("meta.ome_ms")(img.omeMetadata)
      check(ome.images.length == Scenes &&
        ome.images(scene).pixels.sizeX == Shape(4), "OME metadata")
      img.setResolutionLevel(0)
      val out = new File(outputs, s"op$nextOut.ome.zarr")
      nextOut += 1
      Trace.span("writers.save_ms")(
        img.save(out.getPath, Some(Seq(img.currentScene)), ZarrOptions))
      userBytes += Shape.product * 2L
      if (Trace.on) {
        val files = Trace.span(Trace.Walk)(walk(out))
        Trace.count("writers.files", files.size)
        Trace.count("writers.bytes", files.map(_.length).sum)
      }
      val got = Trace.span("readers.region_ms") {
        BioSpark.open(spark, out.getPath).getImageData("YX", Map(
          'T' -> Sel.Index(t), 'C' -> Sel.Index(ch), 'Z' -> Sel.Index(z),
          'Y' -> Sel.SRange(y0, y0 + h), 'X' -> Sel.SRange(x0, x0 + w)))
      }
      check(got.array.shape == Seq(h, w), s"region shape ${got.array.shape}")
      for (y <- 0 until h; x <- 0 until w) {
        val want = pixel(seed, i, scene, t, ch, z, y0 + y, x0 + x)
        check(got.array.data(y * w + x) == want,
          s"pixel ($i,$scene,$t,$ch,$z,${y0 + y},${x0 + x})")
      }
      ""
    })
  }

  def finish(): (Seq[String], Map[String, Double]) = {
    val files = walk(outputs)
    (Seq.empty, Map("disk_bytes" -> files.map(_.length).sum.toDouble,
      "user_bytes" -> userBytes.toDouble, "files" -> files.size.toDouble))
  }
}

object ImageIo {
  val Images = 3
  val Scenes = 3
  val Levels = 2
  /** T, C, Z, Y, X of every scene. */
  val Shape: Seq[Int] = Seq(2, 2, 2, 64, 64)
  val TiffOptions: Map[String, String] = Map("compression" -> "deflate",
    "tile" -> "32x32", "pyramidLevels" -> Levels.toString)
  /** Height and width of the region read back; fixed so ops differ only in
    * which image, scene, plane and position they touch. */
  val RegionSize = 32
  val ZarrOptions: Map[String, String] = Map("format" -> "3",
    "compressor" -> "zstd", "shardInner" -> "32x32")

  /** A smooth ramp plus 4 bits of hashed noise, so the codecs have
    * something to compress and every pixel is checkable. */
  def pixel(seed: Long, i: Int, s: Int, t: Int, c: Int, z: Int, y: Int, x: Int): Int = {
    var h = seed * 0x9E3779B97F4A7C15L + i
    for (v <- Seq(s, t, c, z, y, x)) h = (h ^ v) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    val base = ((i * 7 + s * 5 + t * 3 + c) * 1021 + z * 97) & 0x3FFF
    (base + 11 * y + 5 * x + ((h >>> 40) & 15).toInt) & 0xFFFF
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"wrong output: $what")

  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Seq.empty
}

/** Presents in-memory arrays as a uint16 source, so the OME-TIFF written
  * from it stores uint16 samples (the array reader itself is float64). */
final class Uint16Source(inner: ArrayLikeReader) extends BioReader {
  def name: String = "Uint16Source"
  def supportedExtensions: Seq[String] = Seq.empty
  def isSupportedImage(spark: SparkSession, path: String): Boolean = false
  def scenes: Seq[String] = inner.scenes
  def sceneMeta(sceneIdx: Int): SceneMeta =
    inner.sceneMeta(sceneIdx).copy(pixelType = PixelType.UInt16)
  def readDelayed(spark: SparkSession, sceneIdx: Int): DataFrame =
    inner.readDelayed(spark, sceneIdx)
  override def localPlaneRows(sceneIdx: Int, level: Int): Seq[graft.core.PlaneRow] =
    inner.localPlaneRows(sceneIdx, level)
}
