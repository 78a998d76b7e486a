package graft.readers

import java.awt.image.BufferedImage

import javax.imageio.ImageIO

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.{Dimensions, PixelType, PlaneRow, UnsupportedFileFormatError}
import graft.formats.TarFormat
import graft.plugins.{PluginEntry, ScanWorkReader, SceneMeta}

/** WebDataset-style `.tar` training-shard source: each IMAGE member
  * (png/jpg/gif/bmp, decoded by the same javax.imageio path as
  * [[ImageIoReader]]) is one scene, keyed by its basename before the
  * first dot — and a sidecar text member sharing that key (`0001.txt` /
  * `0001.json` next to `0001.png`) surfaces as the scene's raw
  * metadata, the WebDataset sample-grouping convention. This is the
  * container multimodal training data actually ships in; scenes select
  * and decode exactly like any other multi-scene source (npz is the
  * array-domain analog).
  *
  * The shard parses driver-side like npz: shards are interchange-sized
  * by construction (the WebDataset discipline caps a shard at what one
  * worker streams) and the scale axis is MANY shards across executors,
  * not one big shard. */
final class TarReader(spark: SparkSession, path: String) extends ScanWorkReader {

  private val ImageExts = Set("png", "jpg", "jpeg", "gif", "bmp")

  private lazy val members: Seq[TarFormat.Member] = {
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
    TarFormat.parse(bytes)
  }

  private def keyOf(name: String): String = {
    val base = name.substring(name.lastIndexOf('/') + 1)
    val dot = base.indexOf('.')
    if (dot < 0) base else base.substring(0, dot)
  }

  private def extOf(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot < 0) "" else name.substring(dot + 1).toLowerCase
  }

  /** (key, image member, sidecar text) per scene, in shard order. */
  private lazy val samples: Seq[(String, TarFormat.Member, Option[String])] = {
    val imgs = members.filter(m => ImageExts.contains(extOf(m.name)))
    if (imgs.isEmpty)
      throw new UnsupportedFileFormatError(
        s"tar: '$path' contains no image members")
    val sidecars = members
      .filter(m => Set("txt", "json", "cls").contains(extOf(m.name)))
      .map(m => keyOf(m.name) -> new String(m.data, "UTF-8")).toMap
    imgs.map(m => (keyOf(m.name), m, sidecars.get(keyOf(m.name))))
  }

  private lazy val decoded: Seq[BufferedImage] = samples.map { case (k, m, _) =>
    val bi = ImageIO.read(new java.io.ByteArrayInputStream(m.data))
    if (bi == null)
      throw new UnsupportedFileFormatError(
        s"tar: javax.imageio cannot decode member '${m.name}'")
    bi
  }

  override def name: String = "TarReader"
  override def supportedExtensions: Seq[String] = Seq(".tar")

  override def isSupportedImage(spark: SparkSession, p: String): Boolean =
    try {
      val fs = FileSystem.get(new Path(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(p))
      try {
        val head = new Array[Byte](263)
        in.readFully(head)
        // ustar magic at offset 257 of the first header block
        new String(head, 257, 5, "US-ASCII") == "ustar"
      } finally in.close()
    } catch { case _: Throwable => false }

  override def scenes: Seq[String] = samples.map(_._1)

  override def sceneMeta(sceneIdx: Int): SceneMeta = {
    val (key, _, sidecar) = samples(sceneIdx)
    val bi = decoded(sceneIdx)
    val (bands, _) = ImageIoReader.decodeSamples(bi)
    val h = bi.getHeight.toLong
    val w = bi.getWidth.toLong
    val pt =
      if (bi.getColorModel.getComponentSize(0) > 8) PixelType.UInt16
      else PixelType.UInt8
    val dims =
      if (bands == 1) Dimensions("TCZYX", Seq(1L, 1L, 1L, h, w))
      else Dimensions("TCZYXS", Seq(1L, 1L, 1L, h, w, bands.toLong))
    SceneMeta(sceneIdx, key, dims, channelNames = Seq.empty,
      physicalPixelSizes = None, pixelType = pt,
      tilePositions = Seq.empty, rawMetadata = sidecar)
  }

  override def localPlaneRows(sceneIdx: Int, level: Int): Seq[PlaneRow] = {
    val (key, _, _) = samples(sceneIdx)
    val bi = decoded(sceneIdx)
    val (bands, sample) = ImageIoReader.decodeSamples(bi)
    val h = bi.getHeight
    val w = bi.getWidth
    (0 until bands).map { s =>
      val px = new Array[Double](h * w)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          px(y * w + x) = sample(y, x, s)
          x += 1
        }
        y += 1
      }
      PlaneRow(sceneIdx, key, level = 0, m = 0, t = 0, c = 0, z = 0, s = s,
        y0 = 0, x0 = 0, h = h, w = w, pixels = px)
    }
  }
}

object TarReader {
  val plugin: PluginEntry = PluginEntry(
    name = "TarReader",
    extensions = Seq(".tar"),
    open = (spark, path, _) => new TarReader(spark, path))
}
