package graft.readers

import java.nio.ByteOrder

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import graft.core.{Dimensions, Dims, PixelType, PlaneRow, UnsupportedFileFormatError}
import graft.formats.TiffFormat
import graft.meta.{OME, OmeXml}
import graft.plugins.{PlanePredicate, PluginEntry, ScanWork, ScanWorkReader,
  SceneMeta}

/** One decodable TIFF segment → one output plane row: a whole strip-
  * organized plane, or one tile of a tiled plane (tiles surface as mosaic
  * rows, edge tiles cropped from their padded stored size to the image
  * bounds). Serializable: blocks of them ride into decode tasks. */
private[readers] final case class TiffSeg(
    t: Int, c: Int, z: Int, m: Int, y0: Int, x0: Int,
    cropH: Int, cropW: Int, segH: Int, segW: Int,
    bits: Int, sampleFormat: Int, compression: Int, predictor: Int,
    spp: Int, offsets: Seq[Long], counts: Seq[Long],
    jpegTables: Option[Array[Byte]])

/** OME-TIFF source (S12) — the reference's flagship format family
  * (/root/reference/README.md:55-70; reader contract shape
  * tests/helpers/mock_reader.py:106-153).
  *
  * Split of work, Spark-first:
  *   - DRIVER parses the TIFF header + IFD chain + OME-XML — a handful of
  *     KB-sized random reads regardless of file size — yielding a segment
  *     catalog: (plane/tile → t,c,z,m, offsets, byteCounts).
  *   - EXECUTORS fetch and decode pixel segments in parallel, one
  *     contiguous block of the catalog per task ([[v2ScanWork]]), with
  *     Hadoop FileSystem positioned reads (file:, hdfs:, s3a: all work),
  *     emitting canonical PlaneRow records. Scene/T/C/Z selection
  *     prunes catalog rows before any pixel byte is read — the
  *     dask-graph slicing analog.
  *
  * Format coverage: uncompressed, Deflate (8/32946), LZW (5), PackBits
  * (32773) and new-style JPEG (7, incl. shared JPEGTables tag 347)
  * segments, horizontal-predictor (2) undifferencing, strip- and
  * tile-organized IFDs (TileWidth/TileLength/TileOffsets, tag 322–325),
  * classic and BigTIFF; tiled planes read as mosaic tiles so a Y/X slice
  * prunes whole tiles, and edge tiles (padded to full tile size on disk
  * per TIFF 6.0) are cropped to the image bounds. Chunky (interleaved)
  * RGB reads as per-sample bands with a trailing S dim; planar RGB and
  * other sample counts are rejected explicitly rather than mis-decoded.
  * SubIFD pyramids (tag 330) surface as resolution levels, mirroring the
  * reference's format-agnostic level API (bio_image.py:548-604).
  *
  * Plane→(t,c,z) assignment follows the OME DimensionOrder attribute;
  * plain TIFFs (no OME-XML) read as one scene with planes stacked on Z,
  * matching the reference's tiff fallback behavior. Raw OME-XML is
  * preserved as SceneMeta.rawMetadata (M9).
  */
final class OmeTiffReader(spark: SparkSession, path: String)
    extends ScanWorkReader {

  /** One plane (= one IFD) with its scene-local position. */
  private case class PlaneRef(sceneIdx: Int, t: Int, c: Int, z: Int,
      ifd: TiffFormat.ParsedIfd)

  /** Per-scene tiling geometry (None = strip-organized planes). */
  private case class TileGrid(tw: Int, tl: Int, nx: Int, ny: Int)

  private case class Parsed(order: ByteOrder, scenes: Seq[SceneMeta],
      planes: Seq[Seq[PlaneRef]], grids: Seq[Option[TileGrid]],
      planeDims: Seq[(Int, Int)], // true (H, W) per scene
      littleEndian: Boolean)

  private def validate(ifd: TiffFormat.ParsedIfd): Unit = {
    if (!TiffFormat.readSupported(ifd.compression))
      throw new UnsupportedFileFormatError(
        s"'$path' uses TIFF compression ${ifd.compression}; supported: " +
          "none (1), LZW (5), JPEG (7), Deflate (8/32946), PackBits (32773)")
    ifd.subIfds.foreach(validate)
    if (ifd.samplesPerPixel != 1 && ifd.samplesPerPixel != 3)
      throw new UnsupportedFileFormatError(
        s"'$path' has SamplesPerPixel=${ifd.samplesPerPixel}; supported: " +
          "1 (grayscale) and 3 (RGB)")
    if (ifd.samplesPerPixel > 1 && ifd.planarConfig != 1)
      throw new UnsupportedFileFormatError(
        s"'$path' uses PlanarConfiguration=${ifd.planarConfig}; only " +
          "chunky (1, interleaved) multi-sample TIFFs are supported")
    if (ifd.stripOffsets.isEmpty && ifd.tileOffsets.isEmpty)
      throw new UnsupportedFileFormatError(
        s"'$path' has an IFD with neither strip nor tile offsets")
    if (ifd.tiled && (ifd.tileWidth <= 0 || ifd.tileLength <= 0))
      throw new UnsupportedFileFormatError(
        s"'$path' has tiles but no TileWidth/TileLength tags")
  }

  /** All IFDs of a scene must agree on layout for a coherent dim model. */
  private def gridOf(ifds: Seq[TiffFormat.ParsedIfd]): Option[TileGrid] = {
    val layouts = ifds.map(i =>
      (i.tiled, i.tileWidth, i.tileLength, i.samplesPerPixel)).distinct
    if (layouts.length != 1)
      throw new UnsupportedFileFormatError(
        s"'$path' mixes strip- and tile-organized (or differently tiled " +
          "or differently sampled) IFDs within one scene")
    val head = ifds.head
    if (!head.tiled) None
    else Some(TileGrid(head.tileWidth, head.tileLength,
      nx = (head.width + head.tileWidth - 1) / head.tileWidth,
      ny = (head.height + head.tileLength - 1) / head.tileLength))
  }

  private def sceneDims(t: Long, c: Long, z: Long, h: Long, w: Long,
      spp: Int, grid: Option[TileGrid]): Dimensions = (grid, spp) match {
    case (None, 1) => Dimensions(Dims.Default, Seq(t, c, z, h, w))
    case (None, s) => Dimensions("TCZYXS", Seq(t, c, z, h, w, s.toLong))
    case (Some(g), 1) => Dimensions("MTCZYX",
      Seq(g.ny.toLong * g.nx, t, c, z, g.tl.toLong, g.tw.toLong))
    case (Some(g), s) => Dimensions("MTCZYXS",
      Seq(g.ny.toLong * g.nx, t, c, z, g.tl.toLong, g.tw.toLong, s.toLong))
  }

  private def tilePositionsOf(grid: Option[TileGrid]): Seq[(Int, Int)] =
    grid match {
      case None => Seq.empty
      case Some(g) =>
        for { yi <- 0 until g.ny; xi <- 0 until g.nx }
          yield (yi * g.tl, xi * g.tw)
    }

  private lazy val parsed: Parsed = {
    val fs = FileSystem.get(new Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(path))
    try {
      def read(off: Long, len: Int): Array[Byte] = {
        val buf = new Array[Byte](len)
        in.readFully(off, buf)
        buf
      }
      val (order, ifds) = TiffFormat.parseIfds(read)
      if (ifds.isEmpty)
        throw new UnsupportedFileFormatError(s"'$path' has no TIFF IFDs")
      ifds.foreach(validate)

      val omeOpt: Option[OME] = ifds.head.description
        .filter(_.contains("<OME"))
        .flatMap(x => scala.util.Try(OmeXml.fromXml(x)).toOption)

      omeOpt match {
        case Some(ome) if ome.images.nonEmpty =>
          // IFDs are assigned to images sequentially, sizeT*sizeC*sizeZ each
          val counts = ome.images.map(i =>
            (i.pixels.sizeT * i.pixels.sizeC * i.pixels.sizeZ).toInt)
          require(counts.sum <= ifds.length,
            s"OME-XML declares ${counts.sum} planes but file has ${ifds.length} IFDs")
          val starts = counts.scanLeft(0)(_ + _)
          val sceneIfds = ome.images.indices.map(i =>
            ifds.slice(starts(i), starts(i) + counts(i)))
          val grids = sceneIfds.map(gridOf)
          val scenes = ome.images.zipWithIndex.map { case (img, i) =>
            val p = img.pixels
            SceneMeta(
              sceneIdx = i,
              sceneId = img.id,
              dims = sceneDims(p.sizeT, p.sizeC, p.sizeZ, p.sizeY, p.sizeX,
                ifds(starts(i)).samplesPerPixel, grids(i)),
              channelNames = p.channels.flatMap(_.name),
              physicalPixelSizes = for {
                z <- p.physicalSizeZ; y <- p.physicalSizeY; x <- p.physicalSizeX
              } yield (z, y, x),
              pixelType = OmeXml.pixelTypeOf.getOrElse(p.pixelType,
                TiffFormat.pixelTypeOf(ifds(starts(i)).sampleFormat,
                  ifds(starts(i)).bits)),
              tilePositions = tilePositionsOf(grids(i)),
              rawMetadata = ifds.head.description,
              timeInterval = p.timeIncrement)
          }
          val planes = ome.images.zipWithIndex.map { case (img, i) =>
            val p = img.pixels
            val zN = p.sizeZ.toInt; val cN = p.sizeC.toInt
            (0 until counts(i)).map { k =>
              val ifd = ifds(starts(i) + k)
              // DimensionOrder XYZCT: z fastest, then c, then t
              val (t, c, z) = p.dimensionOrder match {
                case "XYZCT" => (k / (zN * cN), (k / zN) % cN, k % zN)
                case "XYZTC" =>
                  val tN = p.sizeT.toInt
                  ((k / zN) % tN, k / (zN * tN), k % zN)
                case "XYCZT" => (k / (zN * cN), k % cN, (k / cN) % zN)
                case "XYCTZ" =>
                  val tN = p.sizeT.toInt
                  ((k / cN) % tN, k % cN, k / (cN * tN))
                case "XYTZC" =>
                  val tN = p.sizeT.toInt
                  (k % tN, k / (tN * zN), (k / tN) % zN)
                case "XYTCZ" =>
                  val tN = p.sizeT.toInt
                  (k % tN, (k / tN) % cN, k / (tN * cN))
                case other => (k / (zN * cN), (k / zN) % cN, k % zN)
              }
              PlaneRef(i, t, c, z, ifd)
            }
          }
          val planeDims = ome.images.map(img =>
            (img.pixels.sizeY.toInt, img.pixels.sizeX.toInt))
          Parsed(order, scenes, planes, grids, planeDims,
            order == ByteOrder.LITTLE_ENDIAN)
        case _ =>
          // plain TIFF: one scene, IFDs stacked on Z (reference tiff fallback)
          val h = ifds.head.height; val w = ifds.head.width
          val grid = gridOf(ifds)
          val pt = TiffFormat.pixelTypeOf(ifds.head.sampleFormat, ifds.head.bits)
          val scene = SceneMeta(0, "Image:0",
            sceneDims(1L, 1L, ifds.length.toLong, h.toLong, w.toLong,
              ifds.head.samplesPerPixel, grid),
            channelNames = Seq.empty, physicalPixelSizes = None,
            pixelType = pt, tilePositions = tilePositionsOf(grid),
            rawMetadata = ifds.head.description, timeInterval = None)
          val planes = ifds.zipWithIndex.map { case (ifd, z) =>
            PlaneRef(0, 0, 0, z, ifd)
          }
          Parsed(order, Seq(scene), Seq(planes), Seq(grid), Seq((h, w)),
            order == ByteOrder.LITTLE_ENDIAN)
      }
    } finally in.close()
  }

  override def name: String = "OmeTiffReader"
  override def supportedExtensions: Seq[String] =
    Seq(".ome.tiff", ".ome.tif", ".tiff", ".tif")

  override def isSupportedImage(spark: SparkSession, p: String): Boolean =
    try {
      val fs = FileSystem.get(new Path(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(p))
      try {
        val magic = new Array[Byte](4)
        in.readFully(0, magic)
        TiffFormat.isTiff(magic)
      } finally in.close()
    } catch { case _: Throwable => false }

  override def scenes: Seq[String] = parsed.scenes.map(_.sceneId)
  override def sceneMeta(sceneIdx: Int): SceneMeta = parsed.scenes(sceneIdx)

  /** Pyramid levels: level 0 is the main IFD; levels 1..n come from its
    * SubIFDs (tag 330). All planes of a scene must agree on the count. */
  override def resolutionLevels(sceneIdx: Int): Seq[Int] = {
    val counts = parsed.planes(sceneIdx).map(_.ifd.subIfds.length).distinct
    if (counts.length != 1)
      throw new UnsupportedFileFormatError(
        s"'$path' scene $sceneIdx: planes disagree on SubIFD pyramid depth")
    0 to counts.head
  }

  /** The IFD serving (plane, level): main for 0, SubIFD k-1 above. */
  private def ifdAt(r: PlaneRef, level: Int): TiffFormat.ParsedIfd =
    if (level == 0) r.ifd
    else {
      if (!r.ifd.subIfds.isDefinedAt(level - 1))
        throw new IndexOutOfBoundsException(s"resolution level $level")
      r.ifd.subIfds(level - 1)
    }

  /** True plane (H, W) at a level: OME-declared sizes at level 0, the
    * SubIFD's ImageLength/Width above. */
  private def levelPlaneDims(sceneIdx: Int, level: Int): (Int, Int) =
    if (level == 0) parsed.planeDims(sceneIdx)
    else {
      val ifd = ifdAt(parsed.planes(sceneIdx).head, level)
      (ifd.height, ifd.width)
    }

  override def levelDims(sceneIdx: Int, level: Int): Dimensions = {
    if (level == 0) return parsed.scenes(sceneIdx).dims
    val ifds = parsed.planes(sceneIdx).map(ifdAt(_, level))
    val grid = gridOf(ifds)
    val d = parsed.scenes(sceneIdx).dims
    val (h, w) = levelPlaneDims(sceneIdx, level)
    sceneDims(d('T'), d('C'), d('Z'), h.toLong, w.toLong,
      ifds.head.samplesPerPixel, grid)
  }

  override def levelTilePositions(sceneIdx: Int, level: Int): Seq[(Int, Int)] =
    if (level == 0) parsed.scenes(sceneIdx).tilePositions
    else tilePositionsOf(gridOf(parsed.planes(sceneIdx).map(ifdAt(_, level))))

  /** True stitched dims: the level IFD's ImageLength/Width (edge tiles
    * are stored padded but cropped on read, so max(pos+tile) would
    * overshoot for ragged grids). */
  override def stitchedLevelDims(sceneIdx: Int, level: Int): Dimensions = {
    val d = levelDims(sceneIdx, level)
    val (h, w) = levelPlaneDims(sceneIdx, level)
    if (!d.order.contains('M')) d
    else {
      val order = d.order.filter(_ != 'M')
      Dimensions(order, order.map {
        case 'Y' => h.toLong
        case 'X' => w.toLong
        case dim => d(dim)
      })
    }
  }

  /** Per-level segment catalog: one entry per strip-organized plane or
    * per stored tile — the unit of positioned IO, in IFD order. The one
    * source of [[v2ScanWork]], which prunes it before any pixel byte is
    * read. */
  private def segCatalog(sceneIdx: Int, level: Int): Seq[TiffSeg] = {
    val refs = parsed.planes(sceneIdx)
    val levelRefs = refs.map(r => (r, ifdAt(r, level)))
    val grid =
      if (level == 0) parsed.grids(sceneIdx)
      else gridOf(levelRefs.map(_._2))
    val (planeH, planeW) = levelPlaneDims(sceneIdx, level)
    levelRefs.flatMap { case (r, ifd) =>
      grid match {
        case None =>
          Seq(TiffSeg(r.t, r.c, r.z, m = 0, y0 = 0, x0 = 0,
            cropH = ifd.height, cropW = ifd.width,
            segH = ifd.height, segW = ifd.width,
            ifd.bits, ifd.sampleFormat, ifd.compression, ifd.predictor,
            ifd.samplesPerPixel, ifd.stripOffsets, ifd.stripByteCounts,
            ifd.jpegTables))
        case Some(g) =>
          require(ifd.tileOffsets.length >= g.ny * g.nx,
            s"tiled IFD declares ${ifd.tileOffsets.length} tiles, " +
              s"grid needs ${g.ny * g.nx}")
          for { yi <- 0 until g.ny; xi <- 0 until g.nx } yield {
            val idx = yi * g.nx + xi
            TiffSeg(r.t, r.c, r.z, m = idx,
              y0 = yi * g.tl, x0 = xi * g.tw,
              cropH = math.min(g.tl, planeH - yi * g.tl),
              cropW = math.min(g.tw, planeW - xi * g.tw),
              segH = g.tl, segW = g.tw,
              ifd.bits, ifd.sampleFormat, ifd.compression, ifd.predictor,
              ifd.samplesPerPixel,
              Seq(ifd.tileOffsets(idx)), Seq(ifd.tileByteCounts(idx)),
              ifd.jpegTables)
          }
      }
    }
  }

  /** Scan work: the seg catalog pruned by the predicate's (m,t,c,z)
    * bounds and Y/X window — unmatched strips/tiles are never fetched —
    * then blocked into contiguous executor tasks, each opening the file
    * once for positioned reads of only its strips/tiles. */
  override def v2ScanWork(sceneIdx: Int, level: Int,
      pred: PlanePredicate): Seq[ScanWork] = {
    val kept = segCatalog(sceneIdx, level)
      .filter(sg => pred.acceptsCoords(sg.m, sg.t, sg.c, sg.z) &&
        pred.acceptsRect(sg.y0, sg.x0, sg.cropH, sg.cropW))
    // bind instance members to locals BEFORE the partial application:
    // eta-expansion over `path`/`parsed` would capture `this` (the
    // non-serializable reader) to evaluate them lazily
    val file = path
    val little = parsed.littleEndian
    val sceneId = parsed.scenes(sceneIdx).sceneId
    val hconf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    ScanWork.deferred(spark, kept)(_.length,
      OmeTiffReader.decodeSegs(file, little, hconf, sceneIdx, sceneId, level))
  }
}

object OmeTiffReader {
  val plugin: PluginEntry = PluginEntry(
    name = "OmeTiffReader",
    extensions = Seq(".ome.tiff", ".ome.tif", ".tiff", ".tif"),
    open = (spark, path, _) => new OmeTiffReader(spark, path))

  /** Executor-side segment decode (curried so it serializes as a pure
    * closure over scalars): positioned reads of each segment's byte
    * ranges, decompress, de-interleave sample bands, crop edge padding.
    * Runs inside each [[graft.plugins.DeferredRows]] unit of
    * [[OmeTiffReader.v2ScanWork]]. */
  private[readers] def decodeSegs(file: String, little: Boolean,
      hconf: SerializableConfiguration, sceneIdx: Int, sceneId: String,
      level: Int)(it: Iterator[TiffSeg]): Iterator[PlaneRow] = {
    if (!it.hasNext) Iterator.empty
    else {
      val order =
        if (little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
      val fs = FileSystem.get(new Path(file).toUri, hconf.value)
      val in = fs.open(new Path(file))
      // the FS cache shares FileSystem objects but does NOT close
      // streams — tie the stream's lifetime to the task
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ =>
          try in.close() catch { case _: Throwable => () }))
      it.flatMap { seg =>
        val spp = seg.spp
        val parts = seg.offsets.zip(seg.counts).map { case (o, n) =>
          val buf = new Array[Byte](n.toInt)
          in.readFully(o, buf)
          TiffFormat.decodeSegment(buf, seg.compression, seg.predictor,
            rowSamples = seg.segW * spp, bits = seg.bits,
            samplesPerPixel = spp, order = order,
            sampleFormat = seg.sampleFormat,
            jpegTables = seg.jpegTables)
        }
        // single allocation (a RowsPerStrip=1 file has h strips —
        // pairwise ++ would copy the accumulated array per strip)
        val raw =
          if (parts.length == 1) parts.head
          else {
            val out = new Array[Byte](parts.map(_.length).sum)
            var off = 0
            parts.foreach { p =>
              System.arraycopy(p, 0, out, off, p.length)
              off += p.length
            }
            out
          }
        // interleaved samples (chunky): one PlaneRow per sample band
        val px = TiffFormat.decodePlane(raw, seg.bits, seg.sampleFormat,
          order)
        (0 until spp).map { si =>
          val band =
            if (spp == 1) px
            else {
              val out = new Array[Double](seg.segH * seg.segW)
              var k = 0
              while (k < out.length) {
                out(k) = px(k * spp + si)
                k += 1
              }
              out
            }
          val cropped =
            if (seg.cropH == seg.segH && seg.cropW == seg.segW) band
            else {
              val out = new Array[Double](seg.cropH * seg.cropW)
              var r2 = 0
              while (r2 < seg.cropH) {
                System.arraycopy(band, r2 * seg.segW, out,
                  r2 * seg.cropW, seg.cropW)
                r2 += 1
              }
              out
            }
          PlaneRow(sceneIdx, sceneId, level = level, m = seg.m,
            t = seg.t, c = seg.c, z = seg.z, s = si,
            y0 = seg.y0, x0 = seg.x0, h = seg.cropH, w = seg.cropW,
            pixels = cropped)
        }
      }
    }
  }
}
