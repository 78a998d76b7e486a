package graft.readers

import java.io.DataInputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.{Dimensions, PlaneRow, UnsupportedFileFormatError}
import graft.formats.MrcFormat
import graft.plugins.{PluginEntry, ScanWorkReader, SceneMeta}

/** `.mrc` (MRC2014 / CCP-EM map) source — the cryo-EM/tomography member
  * of the reference's microscopy format family (an aicsimageio/bioio
  * plugin-format cousin of OME-TIFF/zarr), with a public byte-level spec
  * (see [[graft.formats.MrcFormat]]). One file = one scene; sections map
  * to T for image stacks (ISPG 0) and to Z for volumes (ISPG >= 1) —
  * the MRC2014 semantic split — so a tilt series reads as TYX and a
  * reconstructed map as ZYX. Both byte orders decode (machine-stamp
  * dispatch); the spec's voxel size (cell / sampling grid, ångström)
  * rides through as physicalPixelSizes; the full parsed header is the
  * raw-metadata passthrough (M9). Modes 0/1/2/6; complex and packed
  * modes are rejected loudly.
  *
  * Like the other interchange readers the file decodes driver-side into
  * plane rows (MRC has no internal chunking to push down); bulk pixel
  * data at scale belongs in the parquet plane store / zarr. */
final class MrcReader(spark: SparkSession, path: String) extends ScanWorkReader {

  private lazy val parsed: (MrcFormat.Header, Array[Byte]) = {
    val fs = FileSystem.get(new Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val in = new DataInputStream(new java.io.BufferedInputStream(
      fs.open(new Path(path)), 1 << 16))
    try {
      val block = new Array[Byte](MrcFormat.HeaderSize)
      in.readFully(block)
      val h = MrcFormat.parseHeader(block)
      if ((h.mapc, h.mapr, h.maps) != ((1, 2, 3)))
        throw new UnsupportedFileFormatError(
          s"mrc: non-standard axis mapping (${h.mapc},${h.mapr},${h.maps})" +
            " — only column=X,row=Y,section=Z is supported")
      val (_, bytesPer) = MrcFormat.dtypeOf(h.mode)
      if (h.nx <= 0 || h.ny <= 0 || h.nz <= 0)
        throw new UnsupportedFileFormatError(
          s"mrc: non-positive dimensions ${h.nx}x${h.ny}x${h.nz}")
      val n = h.nx.toLong * h.ny * h.nz
      require(n * bytesPer <= Int.MaxValue.toLong,
        s"mrc: '$path' exceeds the driver-side interchange size; " +
          "use the parquet plane store / zarr for bulk pixel data")
      if (h.nsymbt < 0 || h.nsymbt > (1 << 26))
        throw new UnsupportedFileFormatError(
          s"mrc: implausible extended header size ${h.nsymbt}")
      in.skipNBytes(h.nsymbt.toLong)
      val data = new Array[Byte]((n * bytesPer).toInt)
      in.readFully(data)
      (h, data)
    } finally in.close()
  }

  private def header: MrcFormat.Header = parsed._1

  /** Flat element accessor as Double (widening uint16 exactly). */
  private lazy val elem: Int => Double = {
    val h = header
    val bb = ByteBuffer.wrap(parsed._2)
      .order(if (h.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    h.mode match {
      case 0 => i => bb.get(i).toDouble
      case 1 => i => bb.getShort(i * 2).toDouble
      case 6 => i => (bb.getShort(i * 2) & 0xffff).toDouble
      case _ => i => bb.getFloat(i * 4).toDouble
    }
  }

  override def name: String = "MrcReader"
  override def supportedExtensions: Seq[String] = Seq(".mrc", ".rec")

  override def isSupportedImage(spark: SparkSession, p: String): Boolean =
    try {
      val fs = FileSystem.get(new Path(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(p))
      try {
        val tagStamp = new Array[Byte](216)
        in.readFully(tagStamp)
        tagStamp(208) == 'M' && tagStamp(209) == 'A' &&
          tagStamp(210) == 'P' && tagStamp(211) == ' ' &&
          ((tagStamp(212) & 0xff) == 0x44 || (tagStamp(212) & 0xff) == 0x11)
      } finally in.close()
    } catch { case _: Throwable => false }

  override def scenes: Seq[String] = Seq("Image:0")

  override def sceneMeta(sceneIdx: Int): SceneMeta = {
    require(sceneIdx == 0, s"single-scene source, got scene $sceneIdx")
    val h = header
    val order = if (h.isStack) "TYX" else "ZYX"
    val canonical = graft.core.Dims.canonicalFor(order)
    val sizeOf: Char => Long = {
      case 'T' => if (h.isStack) h.nz.toLong else 1L
      case 'Z' => if (h.isStack) 1L else h.nz.toLong
      case 'Y' => h.ny.toLong
      case 'X' => h.nx.toLong
      case _   => 1L
    }
    SceneMeta(0, "Image:0",
      Dimensions(canonical, canonical.map(sizeOf)),
      channelNames = Seq.empty,
      physicalPixelSizes = h.voxelSize, // ångström per voxel (z, y, x)
      pixelType = MrcFormat.dtypeOf(h.mode)._1,
      tilePositions = Seq.empty,
      rawMetadata = Some(
        s"{'mode': ${h.mode}, 'nx': ${h.nx}, 'ny': ${h.ny}, " +
          s"'nz': ${h.nz}, 'ispg': ${h.ispg}, " +
          s"'cell': (${h.cellX}, ${h.cellY}, ${h.cellZ}), " +
          s"'grid': (${h.mx}, ${h.my}, ${h.mz}), " +
          s"'dmin': ${h.dmin}, 'dmax': ${h.dmax}, 'dmean': ${h.dmean}, " +
          s"'rms': ${h.rms}, 'big_endian': ${h.bigEndian}, " +
          s"'labels': ${h.labels.mkString("['", "', '", "']")}}"))
  }

  override def localPlaneRows(sceneIdx: Int, level: Int): Seq[PlaneRow] = {
    require(sceneIdx == 0, s"single-scene source, got scene $sceneIdx")
    val h = header
    val planeSize = h.ny * h.nx
    (0 until h.nz).map { sec =>
      val px = new Array[Double](planeSize)
      var i = 0
      while (i < planeSize) { px(i) = elem(sec * planeSize + i); i += 1 }
      PlaneRow(0, "Image:0", level = 0, m = 0,
        t = if (h.isStack) sec else 0, c = 0,
        z = if (h.isStack) 0 else sec,
        s = 0, y0 = 0, x0 = 0, h = h.ny, w = h.nx, pixels = px)
    }
  }
}

object MrcReader {
  val plugin: PluginEntry = PluginEntry(
    name = "MrcReader",
    extensions = Seq(".mrc", ".rec"),
    open = (spark, path, _) => new MrcReader(spark, path))
}
