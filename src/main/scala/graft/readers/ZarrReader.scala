package graft.readers

import java.nio.charset.StandardCharsets

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.{Dimensions, PlaneRow, UnsupportedFileFormatError}
import graft.formats.ZarrFormat
import graft.plugins.{PlanePredicate, PluginEntry, ScanWork, ScanWorkReader,
  SceneMeta}

/** OME-ZARR (NGFF) source. The store is a directory tree of JSON metadata
  * documents + independent chunk objects, so reads parallelize the same
  * way writes do: the driver parses the handful of .zattrs/.zarray
  * documents into a chunk catalog; executors fetch and decode their chunk
  * files in parallel. Missing chunk objects decode as fill_value planes
  * (zarr semantics). Multiscale datasets surface as resolution levels.
  *
  * Scope: zarr v2 and v3 (NGFF 0.4/0.5), raw/zlib/gzip/zstd/blosc
  * chunks, tiled Y/X chunk grids (surfaced as mosaic tiles) incl. ragged
  * edges, `sharding_indexed` shards with ranged inner-chunk reads
  * (buffered whole-shard fallback on stat-less remote schemes),
  * trailing-S RGB, 2D–6D arrays, per-level multiscale grids.
  */
final class ZarrReader(spark: SparkSession, path: String)
    extends ScanWorkReader {

  /** `shape` is always the expanded 5D TCZYX shape; `axes` records the
    * STORED dim order (2–6 of "tczyxs", y/x last among spatial dims) for
    * chunk-key building; `sSize` > 1 = trailing sample dim (RGB), chunks
    * hold the interleaved YXS block.
    *
    * v3 additions: `keyPrefix` ("c" under the default chunk-key encoding,
    * empty for v2 stores and the v3 "v2" encoding); `shardH`/`shardW` > 0
    * mark a sharded array (codec `sharding_indexed`) — then chunkH/chunkW
    * are the INNER chunk (the read/tile unit) and shardH/shardW the outer
    * shard object, with the inner index at `shardIndexAtEnd` carrying 16
    * bytes per inner chunk (+4 crc32c when `shardIndexCrc`). */
  private case class Level(shape: Seq[Long], axes: String, sSize: Int,
      chunkH: Int, chunkW: Int, dtype: String, compressor: Option[String],
      separator: String, fillValue: Double,
      keyPrefix: String = "", shardH: Int = 0, shardW: Int = 0,
      shardIndexCrc: Boolean = true, shardIndexAtEnd: Boolean = true) {
    def gridY: Int = ((shape(3) + chunkH - 1) / chunkH).toInt
    def gridX: Int = ((shape(4) + chunkW - 1) / chunkW).toInt
    def tiled: Boolean = gridY * gridX > 1
  }
  private case class Scene(id: String, group: String, levels: Seq[Level],
      channelNames: Seq[String], scale: Seq[Double], rawAttrs: String,
      units: Map[Char, String])

  private def fs: FileSystem = FileSystem.get(new Path(path).toUri,
    spark.sparkContext.hadoopConfiguration)

  private def jsonFill(v: JValue): Double = v match {
    case JInt(x)     => x.toDouble
    case JDouble(x)  => x
    case JDecimal(x) => x.toDouble
    case _           => 0.0
  }

  /** Shared level assembly: stored dim order from declared axes names
    * (NGFF `axes` / v3 `dimension_names`) when consistent, else the
    * trailing suffix of tczyx (the ArrayLike guessing rule); rank 6 means
    * a trailing sample axis (RGB, a graft extension). `chunks` is always
    * the READ unit (the inner chunk of a sharded array); `shardChunks`,
    * when present, is the outer shard object shape. */
  private def buildLevel(shapeRaw: Seq[Long], chunks: Seq[Long],
      axesNames: Seq[String], dtype: String, compressor: Option[String],
      separator: String, fillValue: Double, keyPrefix: String,
      shardChunks: Option[Seq[Long]], shardIndexCrc: Boolean,
      shardIndexAtEnd: Boolean): Level = {
    val rank = shapeRaw.length
    require(rank >= 2 && rank <= 6,
      s"expected 2D-6D zarr array, got ${rank}D")
    require(chunks.length == rank,
      s"chunks rank ${chunks.length} != shape rank $rank")
    val axes: String =
      if (axesNames.length == rank &&
        axesNames.forall(n => n.length == 1 && "tczyxs".contains(n)))
        axesNames.mkString
      else if (rank == 6) "tczyxs"
      else "tczyx".takeRight(rank)
    require(axes.endsWith("yx") || axes.endsWith("yxs"),
      s"zarr axes '$axes' must end in y,x[,s] for the plane-chunk model")
    def dimOf(d: Char): Long =
      axes.indexOf(d) match { case -1 => 1L; case i => shapeRaw(i) }
    val shape5 = Seq('t', 'c', 'z', 'y', 'x').map(dimOf)
    val sSize = dimOf('s').toInt
    def checkUnit(cs: Seq[Long], what: String): Unit = {
      "tcz".foreach { d =>
        val i = axes.indexOf(d)
        require(i < 0 || cs(i) == 1,
          s"expected $what $d extent of 1, got $cs")
      }
      val sIdx = axes.indexOf('s')
      require(sIdx < 0 || cs(sIdx) == sSize,
        s"expected full-sample $what (s extent $sSize), got $cs")
    }
    checkUnit(chunks, "chunk")
    val (yIdx, xIdx) = (axes.indexOf('y'), axes.indexOf('x'))
    val (ch, cw) = (chunks(yIdx).toInt, chunks(xIdx).toInt)
    val (shH, shW) = shardChunks match {
      case None => (0, 0)
      case Some(sc) =>
        require(sc.length == rank,
          s"shard rank ${sc.length} != shape rank $rank")
        checkUnit(sc, "shard")
        val (h, w) = (sc(yIdx).toInt, sc(xIdx).toInt)
        require(h % ch == 0 && w % cw == 0,
          s"shard shape ${h}x$w not a multiple of inner chunk ${ch}x$cw")
        (h, w)
    }
    // Y/X chunk grid may be ragged — edge chunks are stored padded to
    // full chunk shape and cropped on read (v2 and v3 semantics)
    Level(shape5, axes, sSize, ch, cw, dtype, compressor, separator,
      fillValue, keyPrefix, shH, shW, shardIndexCrc, shardIndexAtEnd)
  }

  private def parseV2Level(zj: JValue, msAxes: Seq[String]): Level = {
    val separator = zj \ "dimension_separator" match {
      case JString(sep) => sep
      case _            => "."
    }
    val compressor = zj \ "compressor" match {
      case JNull => None
      case c => (c \ "id") match {
        case JString("zlib")  => Some("zlib")
        case JString("gzip")  => Some("gzip") // numcodecs GZip codec
        case JString("blosc") => Some("blosc")
        case JString("zstd")  => Some("zstd")
        case other => throw new UnsupportedFileFormatError(
          s"unsupported zarr compressor $other " +
            "(supported: null, zlib, gzip, blosc, zstd)")
      }
    }
    val shapeRaw = (zj \ "shape").children.map(_.values.toString.toLong)
    val JString(dtype) = zj \ "dtype"
    val chunks = (zj \ "chunks").children.map(_.values.toString.toLong)
    buildLevel(shapeRaw, chunks, msAxes, dtype, compressor, separator,
      jsonFill(zj \ "fill_value"), keyPrefix = "", shardChunks = None,
      shardIndexCrc = true, shardIndexAtEnd = true)
  }

  /** Zarr v3 array node (`zarr.json`): `chunk_grid` declares the stored
    * chunk objects; a leading `sharding_indexed` codec subdivides each
    * into independently-readable inner chunks located by a binary index
    * (16 bytes/chunk of little-endian offset+nbytes, `index_location`
    * end by default, crc32c per `index_codecs`). The default chunk-key
    * encoding prefixes keys with "c" and separates with "/". */
  private def parseV3Level(zj: JValue, msAxes: Seq[String]): Level = {
    zj \ "node_type" match {
      case JString("array") => ()
      case other => throw new UnsupportedFileFormatError(
        s"zarr v3 dataset node_type $other is not 'array'")
    }
    val shapeRaw = (zj \ "shape").children.map(_.values.toString.toLong)
    val JString(dataType) = zj \ "data_type"
    val gridChunks = (zj \ "chunk_grid" \ "configuration" \ "chunk_shape")
      .children.map(_.values.toString.toLong)
    val ckeName = zj \ "chunk_key_encoding" \ "name" match {
      case JString(n) => n
      case _          => "default"
    }
    val separator = zj \ "chunk_key_encoding" \ "configuration" \
      "separator" match {
      case JString(s) => s
      case _          => if (ckeName == "v2") "." else "/"
    }
    val keyPrefix = if (ckeName == "v2") "" else "c"
    val dimNames = (zj \ "dimension_names").children.flatMap {
      case JString(n) => Some(n)
      case _          => None
    }
    val axesNames = if (dimNames.nonEmpty) dimNames else msAxes
    val fill = jsonFill(zj \ "fill_value")
    // codec chain → endianness + at most ONE compressor id: a second
    // compression codec would mean doubly-compressed bytes that a
    // single-layer decode turns into garbage, so reject it loudly
    def parseChain(codecs: Seq[JValue]): (Boolean, Option[String]) = {
      var bigEndian = false
      var comp: Option[String] = None
      def setComp(id: String): Unit = {
        if (comp.isDefined) throw new UnsupportedFileFormatError(
          s"unsupported zarr v3 codec chain: multiple compression " +
            s"codecs (${comp.get} then $id)")
        comp = Some(id)
      }
      codecs.foreach { c =>
        (c \ "name") match {
          case JString("bytes") | JString("endian") =>
            bigEndian = (c \ "configuration" \ "endian") == JString("big")
          case JString("gzip")  => setComp("gzip")
          case JString("zstd")  => setComp("zstd")
          case JString("blosc") => setComp("blosc")
          case other => throw new UnsupportedFileFormatError(
            s"unsupported zarr v3 codec $other " +
              "(supported: bytes, gzip, zstd, blosc, sharding_indexed)")
        }
      }
      (bigEndian, comp)
    }
    val codecList = (zj \ "codecs").children
    codecList.headOption match {
      case Some(c) if (c \ "name") == JString("sharding_indexed") =>
        val cfg = c \ "configuration"
        val innerChunks = (cfg \ "chunk_shape").children
          .map(_.values.toString.toLong)
        val (bigE, comp) = parseChain((cfg \ "codecs").children)
        val crc = (cfg \ "index_codecs").children
          .exists(ic => (ic \ "name") == JString("crc32c"))
        val atEnd = cfg \ "index_location" match {
          case JString("start") => false
          case _                => true
        }
        buildLevel(shapeRaw, innerChunks, axesNames,
          ZarrFormat.dtypeOfV3(dataType, bigE), comp, separator, fill,
          keyPrefix, Some(gridChunks), crc, atEnd)
      case _ =>
        val (bigE, comp) = parseChain(codecList)
        buildLevel(shapeRaw, gridChunks, axesNames,
          ZarrFormat.dtypeOfV3(dataType, bigE), comp, separator, fill,
          keyPrefix, None, shardIndexCrc = true, shardIndexAtEnd = true)
    }
  }

  private def readDoc(p: String): Option[String] =
    ZarrReader.readAllIfExists(fs, new Path(p))
      .map(new String(_, StandardCharsets.UTF_8))

  /** join under the store root, skipping empty segments (root group). */
  private def sub(parts: String*): String =
    (path +: parts.filter(_.nonEmpty)).mkString("/")

  private lazy val scenes_ : Seq[Scene] = {
    // image groups: either the root itself is an image (has multiscales)
    // or numbered child groups are (bioformats2raw layout)
    def parseImage(group: String, idx: Int): Option[Scene] = {
      // v2: .zattrs; v3: zarr.json group node, NGFF 0.5 attrs namespaced
      // under attributes.ome (plain attributes accepted as a fallback)
      val v2attrs = readDoc(sub(group, ".zattrs"))
      val v3doc = if (v2attrs.isDefined) None
        else readDoc(sub(group, "zarr.json"))
      val attrs = v2attrs.orElse(v3doc).getOrElse(return None)
      val j = v2attrs match {
        case Some(a) => JsonMethods.parse(a)
        case None =>
          val a = JsonMethods.parse(attrs) \ "attributes"
          (a \ "ome") match { case JNothing => a; case ome => ome }
      }
      val ms = (j \ "multiscales")(0)
      if (ms == JNothing) return None
      val name = ms \ "name" match {
        case JString(s) if s.nonEmpty => s
        case _                        => s"Image:$idx"
      }
      val datasets = (ms \ "datasets").children
      val msAxes = (ms \ "axes").children.flatMap(a => a \ "name" match {
        case JString(n) => Some(n)
        case _          => None
      })
      val levels = datasets.map { ds =>
        val JString(p) = ds \ "path"
        readDoc(sub(group, p, ".zarray")) match {
          case Some(za) => parseV2Level(JsonMethods.parse(za), msAxes)
          case None =>
            val doc = readDoc(sub(group, p, "zarr.json"))
              .getOrElse(throw new UnsupportedFileFormatError(
                s"zarr dataset $group/$p has no .zarray or zarr.json"))
            parseV3Level(JsonMethods.parse(doc), msAxes)
        }
      }
      val channels = (j \ "omero" \ "channels").children.collect {
        case ch if (ch \ "label") != JNothing =>
          val JString(l) = ch \ "label"; l
      }
      // per-axis scales expanded to TCZYX (absent dims scale 1.0)
      val axes0 = levels.head.axes
      val scale = (datasets.head \ "coordinateTransformations")(0) \ "scale" match {
        case JArray(xs) if xs.length == axes0.length =>
          val raw = xs.map(_.values.toString.toDouble)
          Seq('t', 'c', 'z', 'y', 'x').map(d =>
            axes0.indexOf(d) match { case -1 => 1.0; case i => raw(i) })
        case _ => Seq(1.0, 1.0, 1.0, 1.0, 1.0)
      }
      // NGFF axes[].unit — surfaced in dimension_properties, and unit
      // PRESENCE marks the t scale / pixel sizes as declared values
      val units: Map[Char, String] = (ms \ "axes").children.flatMap { a =>
        (a \ "name", a \ "unit") match {
          case (JString(n), JString(u)) if n.length == 1 =>
            Some(n.head.toUpper -> u)
          case _ => None
        }
      }.toMap
      Some(Scene(name, group, levels, channels, scale, attrs, units))
    }

    parseImage("", 0) match {
      case Some(s) => Seq(s)
      case None =>
        Iterator.from(0)
          .map(i => parseImage(i.toString, i))
          .takeWhile(_.isDefined)
          .flatten
          .toSeq match {
            case Seq() => throw new UnsupportedFileFormatError(
              s"'$path' is not an OME-ZARR image store (no multiscales)")
            case ss => ss
          }
    }
  }

  override def name: String = "ZarrReader"
  override def supportedExtensions: Seq[String] = Seq(".ome.zarr", ".zarr")

  override def isSupportedImage(spark: SparkSession, p: String): Boolean =
    Try {
      val f = FileSystem.get(new Path(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      // probe by opening (not exists()): read-only remote schemes answer
      // exists() with a blind true, but open distinguishes 404s
      Seq(".zgroup", ".zarray", "zarr.json").exists(d =>
        ZarrReader.readAllIfExists(f, new Path(s"$p/$d")).isDefined)
    }.getOrElse(false)

  override def scenes: Seq[String] = scenes_.map(_.id)

  /** Dims of a level in its TILED form (M leading when gridded, trailing
    * S when the store carries a sample axis). */
  private def levelDimsOf(lv: Level): Dimensions = {
    val sTail = if (lv.sSize > 1) Seq(lv.sSize.toLong) else Seq.empty
    val sCh = if (lv.sSize > 1) "S" else ""
    if (lv.tiled)
      Dimensions("MTCZYX" + sCh,
        ((lv.gridY.toLong * lv.gridX) +: lv.shape.take(3) :+
          lv.chunkH.toLong :+ lv.chunkW.toLong) ++ sTail)
    else Dimensions("TCZYX" + sCh, lv.shape ++ sTail)
  }

  override def sceneMeta(i: Int): SceneMeta = {
    val s = scenes_(i)
    val lv = s.levels.head
    val dims = levelDimsOf(lv)
    val tiles =
      if (lv.tiled)
        for { yi <- 0 until lv.gridY; xi <- 0 until lv.gridX }
          yield (yi * lv.chunkH, xi * lv.chunkW)
      else Seq.empty
    // a declared space/time unit marks scale 1.0 as a REAL value (a
    // genuine 1.0-second interval or 1.0-µm pixel size survives the
    // roundtrip; bare default scales still read as "not provided")
    val spaceDeclared = Seq('Z', 'Y', 'X').exists(s.units.contains)
    SceneMeta(i, s.id, dims,
      channelNames = s.channelNames,
      physicalPixelSizes =
        if (!spaceDeclared && s.scale.drop(2) == Seq(1.0, 1.0, 1.0)) None
        else Some((s.scale(2), s.scale(3), s.scale(4))),
      pixelType = ZarrFormat.pixelTypeOf(lv.dtype),
      tilePositions = tiles,
      rawMetadata = Some(s.rawAttrs),
      timeInterval =
        if (!s.units.contains('T') && s.scale.head == 1.0) None
        else Some(s.scale.head),
      dimUnits = s.units)
  }

  override def resolutionLevels(sceneIdx: Int): Seq[Int] =
    scenes_(sceneIdx).levels.indices

  override def levelDims(sceneIdx: Int, level: Int): Dimensions = {
    val s = scenes_(sceneIdx)
    if (!s.levels.isDefinedAt(level))
      throw new IndexOutOfBoundsException(s"resolution level $level")
    levelDimsOf(s.levels(level))
  }

  /** Each level's tile grid comes from that level's own .zarray chunks —
    * floor-halving level-0 positions disagrees with the actual rows when
    * levels carry fixed chunk sizes or a single-chunk coarse level. */
  override def levelTilePositions(sceneIdx: Int, level: Int): Seq[(Int, Int)] = {
    val s = scenes_(sceneIdx)
    if (!s.levels.isDefinedAt(level))
      throw new IndexOutOfBoundsException(s"resolution level $level")
    val lv = s.levels(level)
    if (!lv.tiled) Seq.empty
    else for { yi <- 0 until lv.gridY; xi <- 0 until lv.gridX }
      yield (yi * lv.chunkH, xi * lv.chunkW)
  }

  /** True stitched shape IS the zarr array shape at that level. */
  override def stitchedLevelDims(sceneIdx: Int, level: Int): Dimensions = {
    val s = scenes_(sceneIdx)
    if (!s.levels.isDefinedAt(level))
      throw new IndexOutOfBoundsException(s"resolution level $level")
    val lv = s.levels(level)
    if (lv.sSize > 1)
      Dimensions("TCZYXS", lv.shape :+ lv.sSize.toLong)
    else Dimensions("TCZYX", lv.shape)
  }

  /** Chunk-key catalog for one level: (t,c,z) x the stored Y/X grid,
    * shard-major ordered for sharded arrays so a task's per-shard memo
    * hits on consecutive inner chunks. The one source of [[v2ScanWork]],
    * which prunes it before any chunk object is fetched. */
  private def chunkKeys(lv: Level): Seq[(Int, Int, Int, Int, Int)] = {
    val Seq(t, c, z, _, _) = lv.shape.map(_.toInt)
    val (ny, nx) = (lv.gridY, lv.gridX)
    val raw = for {
      ti <- 0 until t; ci <- 0 until c; zi <- 0 until z
      yi <- 0 until ny; xi <- 0 until nx
    } yield (ti, ci, zi, yi, xi)
    if (lv.shardH == 0) raw
    else {
      val (ipy, ipx) = (lv.shardH / lv.chunkH, lv.shardW / lv.chunkW)
      raw.sortBy { case (ti, ci, zi, yi, xi) =>
        (ti, ci, zi, yi / ipy, xi / ipx, yi % ipy, xi % ipx)
      }
    }
  }

  /** Serializable decode parameters for [[ZarrReader.decodeKeys]]. */
  private def decodeParams(sceneIdx: Int, level: Int): ZarrDecodeParams = {
    val s = scenes_(sceneIdx)
    val lv = s.levels(level)
    val Seq(_, _, _, planeH, planeW) = lv.shape.map(_.toInt)
    ZarrDecodeParams(
      base = sub(s.group, level.toString),
      hconf = new SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration),
      sceneIdx = sceneIdx, sid = s.id, level = level, axes = lv.axes,
      dtype = lv.dtype, compressor = lv.compressor, sep = lv.separator,
      pre = lv.keyPrefix, fill = lv.fillValue, ch = lv.chunkH,
      cw = lv.chunkW, planeH = planeH, planeW = planeW, nx = lv.gridX,
      nS = lv.sSize, shH = lv.shardH, shW = lv.shardW,
      idxCrc = lv.shardIndexCrc, idxAtEnd = lv.shardIndexAtEnd)
  }

  /** Scan work: the chunk-key catalog pruned by the predicate's
    * (m,t,c,z) bounds and Y/X window — unmatched chunk/shard OBJECTS are
    * never fetched (the directory-of-objects layout makes zarr the
    * format where pushdown prunes whole stored files) — then blocked
    * into contiguous executor tasks. `objects` counts distinct stored
    * objects (shards collapse their inner chunks). */
  override def v2ScanWork(sceneIdx: Int, level: Int,
      pred: PlanePredicate): Seq[ScanWork] = {
    val s = scenes_(sceneIdx)
    if (!s.levels.isDefinedAt(level))
      throw new IndexOutOfBoundsException(s"resolution level $level")
    val lv = s.levels(level)
    val kept = chunkKeys(lv).filter { case (ti, ci, zi, yi, xi) =>
      pred.acceptsCoords(yi * lv.gridX + xi, ti, ci, zi) &&
        pred.acceptsRect(yi * lv.chunkH, xi * lv.chunkW, lv.chunkH,
          lv.chunkW)
    }
    val (ipy, ipx) =
      if (lv.shardH == 0) (1, 1)
      else (lv.shardH / lv.chunkH, lv.shardW / lv.chunkW)
    // bind the params to a local BEFORE the partial application:
    // eta-expansion over `decodeParams(...)` would capture `this` (the
    // non-serializable reader) to evaluate it lazily
    val params = decodeParams(sceneIdx, level)
    // contiguous key blocks keep a shard's inner chunks adjacent in one
    // task, so the stat-less remote fallback's per-task shard memo hits
    ScanWork.deferred(spark, kept)(
      _.map { case (ti, ci, zi, yi, xi) => (ti, ci, zi, yi / ipy, xi / ipx) }
        .distinct.size,
      ZarrReader.decodeKeys(params))
  }
}

/** Serializable per-level decode parameters — everything the executor-
  * side chunk decode needs, shared by every unit of a level's scan
  * work. */
private[readers] final case class ZarrDecodeParams(
    base: String, hconf: SerializableConfiguration, sceneIdx: Int,
    sid: String, level: Int, axes: String, dtype: String,
    compressor: Option[String], sep: String, pre: String, fill: Double,
    ch: Int, cw: Int, planeH: Int, planeW: Int, nx: Int, nS: Int,
    shH: Int, shW: Int, idxCrc: Boolean, idxAtEnd: Boolean)

object ZarrReader {
  /** Executor-side chunk decode (curried so it serializes as a pure
    * closure over [[ZarrDecodeParams]] scalars): fetch each chunk (or
    * locate the inner chunk inside its shard via the binary index),
    * decompress, de-interleave the sample band, crop edge padding.
    * Runs inside each [[graft.plugins.DeferredRows]] unit of
    * [[ZarrReader.v2ScanWork]]. */
  private[readers] def decodeKeys(p: ZarrDecodeParams)(
      it: Iterator[(Int, Int, Int, Int, Int)]): Iterator[PlaneRow] = {
    import p._
        if (!it.hasNext) Iterator.empty
        else {
          val f = FileSystem.get(new java.net.URI(base + "/"), hconf.value)
          // one-slot memo for the buffered-shard fallback: consecutive
          // inner chunks of the same shard reuse one fetch instead of
          // re-reading the object per chunk (bounded at one shard)
          var memoPath: Path = null
          var memoBytes: Option[Array[Byte]] = None
          def readShardMemo(p: Path): Option[Array[Byte]] = {
            if (p == memoPath) memoBytes
            else {
              val b = ZarrReader.readAllIfExists(f, p)
              memoPath = p; memoBytes = b
              b
            }
          }
          it.flatMap { case (ti, ci, zi, yi, xi) =>
            // chunk key: one component per STORED dim, in stored order
            // (the sample dim is one full-extent chunk → index 0). v2
            // separator "." (flat) or "/" (nested); v3 default encoding
            // adds the "c" prefix. A sharded array stores SHARD objects —
            // the key indexes the shard grid, the inner chunk is located
            // via the shard's trailing (or leading) binary index.
            val innerPerY = if (shH > 0) shH / ch else 1
            val innerPerX = if (shW > 0) shW / cw else 1
            val idx = Map('t' -> ti, 'c' -> ci, 'z' -> zi,
              'y' -> yi / innerPerY, 'x' -> xi / innerPerX, 's' -> 0)
            val key0 = axes.map(idx).mkString(sep)
            val key = if (pre.isEmpty) key0 else pre + sep + key0
            // edge chunks are stored padded to full chunk shape; crop to
            // the array bounds (ragged grids, v2 and v3 semantics)
            val cropH = math.min(ch, planeH - yi * ch)
            val cropW = math.min(cw, planeW - xi * cw)
            val p = new Path(s"$base/$key")
            val full: Option[Array[Double]] =
              if (shH == 0)
                // open-and-read-to-EOF with not-found → fill_value: works
                // on any Hadoop scheme, incl. read-only remotes (http://)
                // where exists()/getFileStatus() can't probe or size
                ZarrReader.readAllIfExists(f, p)
                  .map(ZarrFormat.decodeChunk(_, dtype, compressor))
              else {
                // sharding_indexed: 16 bytes per inner chunk (LE uint64
                // offset + nbytes; all-1s = unwritten), crc32c appended
                // to the index block when declared. Two ranged reads —
                // never the whole shard — on schemes that can stat and
                // seek; read-only remotes (http://) stat a blind -1
                // length and serve unseekable streams, so there fall
                // back to ONE buffered read of the shard object
                // (bounded at one stored object) and slice in memory.
                // Missing shard = stat/open-time 404 → fill planes.
                val nEntries = innerPerY * innerPerX
                val idxBytes = nEntries * 16L + (if (idxCrc) 4 else 0)
                val ei = (yi % innerPerY) * innerPerX + (xi % innerPerX)
                // index block = 16n entry bytes [+ crc32c]; the checksum
                // is VERIFIED when declared — a corrupted index must fail
                // loudly, not dereference garbage offsets
                def entryAt(ib: Array[Byte], base0: Int): (Long, Long) = {
                  if (idxCrc) {
                    val c = new java.util.zip.CRC32C
                    c.update(ib, base0, nEntries * 16)
                    val stored = java.nio.ByteBuffer
                      .wrap(ib, base0 + nEntries * 16, 4)
                      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
                    if (stored != c.getValue.toInt)
                      throw new java.io.IOException(
                        s"zarr shard index crc32c mismatch in $p: stored " +
                          f"0x$stored%08x, computed 0x${c.getValue.toInt}%08x")
                  }
                  val e = java.nio.ByteBuffer.wrap(ib, base0 + ei * 16, 16)
                    .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                  (e.getLong, e.getLong)
                }
                val statLen: Option[Long] =
                  Try(f.getFileStatus(p).getLen).toOption
                    .filter(_ >= idxBytes)
                statLen match {
                  case Some(len) =>
                    try {
                      val in = f.open(p)
                      try {
                        val ib = new Array[Byte](idxBytes.toInt)
                        val at = if (idxAtEnd) len - idxBytes else 0L
                        in.readFully(at, ib, 0, ib.length)
                        val (off, nb) = entryAt(ib, 0)
                        if (off == -1L && nb == -1L) None
                        else {
                          val bytes = new Array[Byte](nb.toInt)
                          in.readFully(off, bytes, 0, bytes.length)
                          Some(ZarrFormat.decodeChunk(bytes, dtype,
                            compressor))
                        }
                      } finally in.close()
                    } catch {
                      case _: java.io.FileNotFoundException => None
                    }
                  case None =>
                    // any stat failure lands here — a deliberate trade:
                    // the result stays correct via one buffered read of
                    // the shard (bounded at one stored object), at worst
                    // slower than the two ranged reads a healthy
                    // stat+seek scheme would do
                    readShardMemo(p).flatMap { all =>
                      if (all.length < idxBytes)
                        throw new java.io.IOException(
                          s"zarr shard $p truncated: ${all.length} bytes " +
                            s"< $idxBytes-byte index block")
                      val b0 =
                        if (idxAtEnd) all.length - idxBytes.toInt else 0
                      val (off, nb) = entryAt(all, b0)
                      if (off == -1L && nb == -1L) None
                      else Some(ZarrFormat.decodeChunk(
                        java.util.Arrays.copyOfRange(
                          all, off.toInt, (off + nb).toInt),
                        dtype, compressor))
                    }
                }
              }
            (0 until nS).map { si =>
              val px = full match {
                case None => Array.fill(cropH * cropW)(fill)
                case Some(data) =>
                  // de-interleave the sample band, then crop edge padding
                  val out = new Array[Double](cropH * cropW)
                  var r = 0
                  while (r < cropH) {
                    var x = 0
                    while (x < cropW) {
                      out(r * cropW + x) = data((r * cw + x) * nS + si)
                      x += 1
                    }
                    r += 1
                  }
                  out
              }
              PlaneRow(sceneIdx, sid, level, m = yi * nx + xi,
                t = ti, c = ci, z = zi, s = si,
                y0 = yi * ch, x0 = xi * cw, h = cropH, w = cropW,
                pixels = px)
            }
          }
        }
  }

  val plugin: PluginEntry = PluginEntry(
    name = "ZarrReader",
    extensions = Seq(".ome.zarr", ".zarr"),
    open = (spark, path, _) => new ZarrReader(spark, path))

  /** Sequentially read a whole file, or None when it does not exist.
    * FileNotFoundException on open — not exists() — is the portable
    * missing-object signal: read-only remote schemes (http://) answer
    * exists() with a blind true and report unknown lengths, so zarr's
    * missing-chunk-as-fill semantics must key off the open. */
  private[readers] def readAllIfExists(f: FileSystem,
      p: Path): Option[Array[Byte]] =
    try {
      val in = f.open(p)
      try {
        val bos = new java.io.ByteArrayOutputStream(8192)
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        Some(bos.toByteArray)
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
}
