package graft.readers

import java.io.DataInputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.{Dimensions, Dims, PlaneRow, UnsupportedFileFormatError}
import graft.formats.NpyFormat
import graft.plugins.{PluginEntry, ScanWorkReader, SceneMeta}

/** One parsed in-memory npy array: header + raw element bytes, with the
  * dim-order guess and plane-row conversion shared by the `.npy`
  * (single-scene) and `.npz` (multi-scene) readers. */
private[graft] final class NpyArrayData(val header: NpyFormat.Header,
    raw: Array[Byte], source: String) {
  if (header.fortranOrder)
    throw new UnsupportedFileFormatError(
      s"npy: '$source' is Fortran-order; re-save C-order " +
        "(np.ascontiguousarray)")
  if (header.rank < 1 || header.rank > 6)
    throw new UnsupportedFileFormatError(
      s"npy: rank-${header.rank} array in '$source' has no guessable " +
        "dimension order (supported ranks: 1..6)")

  /** Flat element accessor as Double (widening unsigned exactly). */
  private val elem: Int => Double = {
    val (_, _, big) = NpyFormat.dtypeOf(header.descr)
    val bb = ByteBuffer.wrap(raw)
      .order(if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    header.descr.drop(1) match {
      case "i1" => i => bb.get(i).toDouble
      case "u1" => i => (bb.get(i) & 0xff).toDouble
      case "i2" => i => bb.getShort(i * 2).toDouble
      case "u2" => i => (bb.getShort(i * 2) & 0xffff).toDouble
      case "i4" => i => bb.getInt(i * 4).toDouble
      case "u4" => i => (bb.getInt(i * 4) & 0xffffffffL).toDouble
      case "f4" => i => bb.getFloat(i * 4).toDouble
      case _    => i => bb.getDouble(i * 8)
    }
  }

  val order: String = Dims.guess(header.rank)

  /** Size of dim `d` in the source array (1 when absent). */
  def size(d: Char): Int = {
    val i = order.indexOf(d)
    if (i < 0) 1 else header.shape(i).toInt
  }

  /** C-order stride of dim `d` in elements (0 when absent). */
  private def stride(d: Char): Int = {
    val i = order.indexOf(d)
    if (i < 0) 0
    else header.shape.drop(i + 1).product.toInt
  }

  def sceneMeta(sceneIdx: Int, sceneId: String): SceneMeta = {
    val (pt, _, _) = NpyFormat.dtypeOf(header.descr)
    val canonical = Dims.canonicalFor(order)
    val dims = Dimensions(canonical, canonical.map(d => size(d).toLong))
    SceneMeta(sceneIdx, sceneId, dims, channelNames = Seq.empty,
      physicalPixelSizes = None, pixelType = pt,
      tilePositions = Seq.empty,
      // raw metadata passthrough (M9): the literal header dict
      rawMetadata = Some(s"{'descr': '${header.descr}', " +
        s"'fortran_order': False, " +
        s"'shape': ${header.shape.mkString("(", ", ", ")")}}"))
  }

  def planeRows(sceneIdx: Int, sceneId: String): Seq[PlaneRow] = {
    val (nT, nC, nZ, nS) = (size('T'), size('C'), size('Z'), size('S'))
    val h = size('Y')
    val w = size('X')
    val (sT, sC, sZ, sY, sX, sS) =
      (stride('T'), stride('C'), stride('Z'), stride('Y'), stride('X'),
        stride('S'))
    for {
      t <- 0 until nT
      c <- 0 until nC
      z <- 0 until nZ
      s <- 0 until nS
    } yield {
      val base = t * sT + c * sC + z * sZ + s * sS
      val px = new Array[Double](h * w)
      var y = 0
      while (y < h) {
        var x = 0
        val rowBase = base + y * sY
        while (x < w) {
          px(y * w + x) = elem(rowBase + x * sX)
          x += 1
        }
        y += 1
      }
      PlaneRow(sceneIdx, sceneId, level = 0, m = 0, t = t, c = c, z = z,
        s = s, y0 = 0, x0 = 0, h = h, w = w, pixels = px)
    }
  }
}

private[graft] object NpyArrayData {
  /** Parse one npy stream (header + data) into memory. */
  def read(in: DataInputStream, source: String): NpyArrayData = {
    val h = NpyFormat.readHeader(in)
    val (_, bytesPer, _) = NpyFormat.dtypeOf(h.descr)
    val n = h.elements
    require(n * bytesPer <= Int.MaxValue.toLong,
      s"npy: '$source' exceeds the driver-side interchange size; " +
        "use the parquet plane store / zarr for bulk pixel data")
    val data = new Array[Byte]((n * bytesPer).toInt)
    in.readFully(data)
    new NpyArrayData(h, data, source)
  }
}

/** `.npy` (numpy array file) source — the file form of the reference's
  * ArrayLike domain (/root/reference/bioio/array_like_reader.py:29-66)
  * and the de-facto tensor interchange of training-data pipelines
  * (embedding matrices, feature stacks). One file = one scene = one
  * dense C-order array; the dimension order is GUESSED from rank by the
  * ArrayLike rule (trailing suffix of TCZYXS,
  * array_like_reader.py:130-163), so a (T,C,Z,Y,X) stack written by the
  * NpyWriter round-trips with its axes intact.
  *
  * All eight PixelType-bridge integer/float dtypes decode, both byte
  * orders; unsigned values widen exactly (u1/u2/u4 → the next signed
  * size, like every other reader). Fortran-order files are REJECTED
  * loudly rather than silently transposing. Like the other interchange
  * readers the file decodes driver-side into plane rows (an .npy has no
  * internal chunking to push down); bulk pixel data at scale belongs in
  * the parquet plane store / zarr.
  */
final class NpyReader(spark: SparkSession, path: String) extends ScanWorkReader {

  private lazy val arr: NpyArrayData = {
    val fs = FileSystem.get(new Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val in = new DataInputStream(new java.io.BufferedInputStream(
      fs.open(new Path(path)), 1 << 16))
    try NpyArrayData.read(in, path) finally in.close()
  }

  override def name: String = "NpyReader"
  override def supportedExtensions: Seq[String] = Seq(".npy")

  override def isSupportedImage(spark: SparkSession, p: String): Boolean =
    try {
      val fs = FileSystem.get(new Path(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(p))
      try {
        val magic = new Array[Byte](6)
        in.readFully(magic)
        magic.sameElements(NpyFormat.Magic)
      } finally in.close()
    } catch { case _: Throwable => false }

  override def scenes: Seq[String] = Seq("Image:0")

  override def sceneMeta(sceneIdx: Int): SceneMeta = {
    require(sceneIdx == 0, s"single-scene source, got scene $sceneIdx")
    arr.sceneMeta(0, "Image:0")
  }

  override def localPlaneRows(sceneIdx: Int, level: Int): Seq[graft.core.PlaneRow] = {
    require(sceneIdx == 0, s"single-scene source, got scene $sceneIdx")
    arr.planeRows(0, "Image:0")
  }
}

object NpyReader {
  val plugin: PluginEntry = PluginEntry(
    name = "NpyReader",
    extensions = Seq(".npy"),
    open = (spark, path, _) => new NpyReader(spark, path))
}
