package graft.readers

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.{Dimensions, PixelType, PlaneRow, UnsupportedFileFormatError}
import graft.formats.AviFormat
import graft.plugins.{PluginEntry, ScanWorkReader, SceneMeta}

/** Uncompressed-AVI source: frames stack on T (the GIF T-stack rule,
  * ImageIoReader), one scene per file. Gray content (r=g=b on every
  * pixel) collapses to a single-band TCZYX scene; anything else reads
  * as TCZYXS RGB. The frame rate in `strh` rides back as the scene's
  * time_interval (Δt = 1/fps), mirroring what [[graft.writers.AviWriter]]
  * derives it from. Whole-file driver-side decode, same interchange
  * contract as GIF/PNG. */
final class AviReader(spark: SparkSession, path: String) extends ScanWorkReader {

  private lazy val video: AviFormat.Video = {
    val fs = FileSystem.get(new Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(path))
    val bytes =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    AviFormat.parse(bytes)
  }

  private lazy val isGray: Boolean = video.frames.forall { f =>
    var i = 0
    var gray = true
    while (gray && i < f.length) {
      gray = f(i) == f(i + 1) && f(i + 1) == f(i + 2)
      i += 3
    }
    gray
  }

  override def name: String = "AviReader"
  override def supportedExtensions: Seq[String] = Seq(".avi")

  override def isSupportedImage(spark: SparkSession, p: String): Boolean =
    try {
      val fs = FileSystem.get(new Path(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(p))
      try {
        val head = new Array[Byte](12)
        in.readFully(head)
        new String(head, 0, 4, "US-ASCII") == "RIFF" &&
          new String(head, 8, 4, "US-ASCII") == "AVI "
      } finally in.close()
    } catch { case _: Throwable => false }

  override def scenes: Seq[String] = Seq("Image:0")

  override def sceneMeta(sceneIdx: Int): SceneMeta = {
    require(sceneIdx == 0, s"single-scene source, got scene $sceneIdx")
    val t = video.frames.length.toLong
    val h = video.height.toLong
    val w = video.width.toLong
    val dims =
      if (isGray) Dimensions("TCZYX", Seq(t, 1L, 1L, h, w))
      else Dimensions("TCZYXS", Seq(t, 1L, 1L, h, w, 3L))
    SceneMeta(0, "Image:0", dims, channelNames = Seq.empty,
      physicalPixelSizes = None, pixelType = PixelType.UInt8,
      tilePositions = Seq.empty, rawMetadata = None,
      timeInterval = Some(1.0 / video.fps))
  }

  override def localPlaneRows(sceneIdx: Int, level: Int): Seq[PlaneRow] = {
    require(sceneIdx == 0, s"single-scene source, got scene $sceneIdx")
    val (h, w) = (video.height, video.width)
    val nS = if (isGray) 1 else 3
    video.frames.zipWithIndex.flatMap { case (f, t) =>
      (0 until nS).map { s =>
        val px = new Array[Double](h * w)
        var i = 0
        while (i < h * w) {
          px(i) = f(i * 3 + s).toDouble
          i += 1
        }
        PlaneRow(0, "Image:0", level = 0, m = 0, t = t, c = 0, z = 0, s = s,
          y0 = 0, x0 = 0, h = h, w = w, pixels = px)
      }
    }
  }
}

object AviReader {
  val plugin: PluginEntry = PluginEntry(
    name = "AviReader",
    extensions = Seq(".avi"),
    open = (spark, path, _) => new AviReader(spark, path))
}
