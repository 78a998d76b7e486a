package graft.readers

import java.awt.image.{BufferedImage, IndexColorModel}

import javax.imageio.ImageIO

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.{Dimensions, PixelType, PlaneRow, UnsupportedFileFormatError}
import graft.plugins.{PluginEntry, ScanWorkReader, SceneMeta}

/** PNG / JPEG / GIF / BMP source via `javax.imageio` — the analog of the
  * reference's imageio-formats plugin family
  * (/root/reference/README.md:55-70). One file = one scene; grayscale
  * decodes as YX, multi-band images as YXS (trailing Samples), matching
  * the reference's 2D(+S) behavior for these formats. Multi-frame GIFs
  * (the TimeSeriesWriter container) stack frames on T.
  *
  * Palette (IndexColorModel) images decode THROUGH the palette: an
  * all-gray palette yields one gray band (so TimeSeriesWriter's
  * 256-gray-indexed frames roundtrip exactly); a color palette expands
  * to 3 RGB bands — raw palette indices are never surfaced as pixel
  * values.
  *
  * These are small interchange images: the file decodes driver-side
  * (ImageIO has no streaming tile API) into per-(frame, sample) plane
  * rows; the resulting DataFrame is distributed like any other plane
  * table. Bulk pixel data at scale belongs in the Parquet plane store.
  */
final class ImageIoReader(spark: SparkSession, path: String) extends ScanWorkReader {

  private lazy val frames: Seq[BufferedImage] = {
    val fs = FileSystem.get(new Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(path))
    try {
      val iis = ImageIO.createImageInputStream(in)
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext)
        throw new UnsupportedFileFormatError(
          s"javax.imageio cannot decode '$path'")
      val r = readers.next()
      try {
        r.setInput(iis)
        val n = math.max(1, r.getNumImages(true))
        val fr = (0 until n).map(r.read)
        val dims = fr.map(f => (f.getWidth, f.getHeight)).distinct
        if (dims.length != 1)
          throw new UnsupportedFileFormatError(
            s"'$path' has frames of differing sizes $dims (optimized " +
              "partial-frame GIF) — re-encode with full frames")
        fr
      } finally {
        r.dispose()
        iis.close()
      }
    } finally in.close()
  }

  private def image: BufferedImage = frames.head

  /** Pixel access through the color model: (bands, sample lookup). */
  private def decoded(bi: BufferedImage): (Int, (Int, Int, Int) => Double) =
    ImageIoReader.decodeSamples(bi)

  override def name: String = "ImageIoReader"
  override def supportedExtensions: Seq[String] =
    Seq(".png", ".jpg", ".jpeg", ".gif", ".bmp")

  override def isSupportedImage(spark: SparkSession, p: String): Boolean =
    try {
      val fs = FileSystem.get(new Path(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(p))
      try {
        val magic = new Array[Byte](4)
        // sequential readFully, not positioned: the stream opens at 0 and
        // read-only remote schemes (http://) don't support positioned reads
        in.readFully(magic)
        val png = magic(0) == 0x89.toByte && magic(1) == 'P'
        val jpg = magic(0) == 0xff.toByte && magic(1) == 0xd8.toByte
        val gif = magic(0) == 'G' && magic(1) == 'I' && magic(2) == 'F'
        val bmp = magic(0) == 'B' && magic(1) == 'M'
        png || jpg || gif || bmp
      } finally in.close()
    } catch { case _: Throwable => false }

  private def bands: Int = decoded(image)._1

  override def scenes: Seq[String] = Seq("Image:0")

  override def sceneMeta(sceneIdx: Int): SceneMeta = {
    require(sceneIdx == 0, s"single-scene source, got scene $sceneIdx")
    val h = image.getHeight.toLong
    val w = image.getWidth.toLong
    val t = frames.length.toLong
    val pt =
      if (image.getColorModel.getComponentSize(0) > 8) PixelType.UInt16
      else PixelType.UInt8
    val dims =
      if (bands == 1) Dimensions("TCZYX", Seq(t, 1L, 1L, h, w))
      else Dimensions("TCZYXS", Seq(t, 1L, 1L, h, w, bands.toLong))
    SceneMeta(0, "Image:0", dims, channelNames = Seq.empty,
      physicalPixelSizes = None, pixelType = pt,
      tilePositions = Seq.empty, rawMetadata = None)
  }

  override def localPlaneRows(sceneIdx: Int, level: Int): Seq[PlaneRow] = {
    require(sceneIdx == 0, s"single-scene source, got scene $sceneIdx")
    val h = image.getHeight
    val w = image.getWidth
    val nS = bands
    frames.zipWithIndex.flatMap { case (f, t) =>
      val (fb, sample) = decoded(f)
      require(fb == nS, s"frame $t has $fb bands, frame 0 has $nS")
      (0 until nS).map { s =>
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
        PlaneRow(0, "Image:0", level = 0, m = 0, t = t, c = 0, z = 0, s = s,
          y0 = 0, x0 = 0, h = h, w = w, pixels = px)
      }
    }
  }
}

object ImageIoReader {
  val plugin: PluginEntry = PluginEntry(
    name = "ImageIoReader",
    extensions = Seq(".png", ".jpg", ".jpeg", ".gif", ".bmp"),
    open = (spark, path, _) => new ImageIoReader(spark, path))

  /** Pixel access through the color model: (bands, sample lookup).
    * Shared with container readers (TarReader) that decode the same
    * formats from in-archive bytes. */
  private[readers] def decodeSamples(
      bi: BufferedImage): (Int, (Int, Int, Int) => Double) =
    bi.getColorModel match {
      case icm: IndexColorModel =>
        val m = icm.getMapSize
        val r = Array.tabulate(m)(i => icm.getRed(i))
        val g = Array.tabulate(m)(i => icm.getGreen(i))
        val b = Array.tabulate(m)(i => icm.getBlue(i))
        val gray = (0 until m).forall(i => r(i) == g(i) && g(i) == b(i))
        val raster = bi.getRaster
        if (gray) (1, (y, x, _) => r(raster.getSample(x, y, 0)).toDouble)
        else (3, (y, x, s) => {
          val idx = raster.getSample(x, y, 0)
          (s match { case 0 => r(idx); case 1 => g(idx); case _ => b(idx) })
            .toDouble
        })
      case _ =>
        val raster = bi.getRaster
        (raster.getNumBands, (y, x, s) => raster.getSampleDouble(x, y, s))
    }
}
