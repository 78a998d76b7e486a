package graft.plugins

import scala.collection.immutable.ListMap
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Dimensions, PixelType, UnsupportedFileFormatError}

/** Per-scene catalog entry (the analog of the reference's per-scene
  * metadata surface: dims, channel coords, physical pixel sizes, raw
  * metadata — bio_image.py:1009-1133). */
final case class SceneMeta(
    sceneIdx: Int,
    sceneId: String,
    dims: Dimensions,
    channelNames: Seq[String],
    physicalPixelSizes: Option[(Double, Double, Double)], // Z, Y, X
    pixelType: PixelType.Value,
    tilePositions: Seq[(Int, Int)], // (top, left) per mosaic tile index
    rawMetadata: Option[String],
    timeInterval: Option[Double] = None, // seconds between T steps
    dimUnits: Map[Char, String] = Map.empty) // source-declared axis units

/** Reader SPI — the analog of bioio_base.reader.Reader whose required
  * surface is observable from the reference call sites (bio_image.py:9,
  * tests/helpers/mock_reader.py:106-153): probe support, enumerate scenes,
  * produce lazy per-scene data, expose metadata. */
trait BioReader {
  def name: String
  /** advertised extensions, normalized (lowercase, leading dot). */
  def supportedExtensions: Seq[String]
  def isSupportedImage(spark: SparkSession, path: String): Boolean
  def scenes: Seq[String]
  def sceneMeta(sceneIdx: Int): SceneMeta
  /** Lazy plane DataFrame for a scene (the dask analog). */
  def readDelayed(spark: SparkSession, sceneIdx: Int): DataFrame
  /** Resolution levels for a scene; single-level by default. */
  def resolutionLevels(sceneIdx: Int): Seq[Int] = Seq(0)
  /** Plane DataFrame at a specific resolution level. */
  def readDelayedAtLevel(spark: SparkSession, sceneIdx: Int, level: Int): DataFrame =
    if (level == 0) readDelayed(spark, sceneIdx)
    else throw new IndexOutOfBoundsException(s"resolution level $level")
  /** Dims of a scene at a resolution level (the reference tracks per-level
    * shapes, bio_image.py:548-604). Level 0 = sceneMeta dims; multi-level
    * readers override. */
  def levelDims(sceneIdx: Int, level: Int): Dimensions =
    if (level == 0) sceneMeta(sceneIdx).dims
    else throw new IndexOutOfBoundsException(s"resolution level $level")
  /** Mosaic tile positions at a level. Default floor-halves the level-0
    * catalog positions (matching poolHalf's y0 div 2 per step); readers
    * whose levels carry their own tile grids (zarr multiscale chunk
    * grids) override so positions always agree with that level's rows. */
  def levelTilePositions(sceneIdx: Int, level: Int): Seq[(Int, Int)] =
    sceneMeta(sceneIdx).tilePositions.map { case (y, x) =>
      (y >> level, x >> level)
    }
  /** Dims of the RECONSTRUCTED scene at a level: M folded into stitched
    * Y/X. Default assumes uniform disjoint tiles (max position + tile
    * extent); readers whose source declares the true stitched shape (zarr
    * array shape, TIFF ImageLength/Width) override — required for ragged
    * tile grids whose edge tiles are cropped. */
  def stitchedLevelDims(sceneIdx: Int, level: Int): Dimensions = {
    val d = levelDims(sceneIdx, level)
    if (!d.order.contains('M')) d
    else {
      val tiles = levelTilePositions(sceneIdx, level)
      val h = d('Y')
      val w = d('X')
      val sh = if (tiles.nonEmpty) tiles.map(_._1 + h).max else h
      val sw = if (tiles.nonEmpty) tiles.map(_._2 + w).max else w
      val order = d.order.filter(_ != 'M')
      Dimensions(order, order.map {
        case 'Y' => sh
        case 'X' => sw
        case dim => d(dim)
      })
    }
  }

  /** Plane rows decoded DRIVER-side — implemented by the
    * single-small-object formats, which decode a whole object at once;
    * feeds the default [[v2ScanWork]], and through it their lazy planes
    * ([[ScanWorkReader]]). Distributed readers (TIFF, zarr) override
    * [[v2ScanWork]] directly and never implement this. */
  def localPlaneRows(sceneIdx: Int, level: Int): Seq[graft.core.PlaneRow] =
    throw new UnsupportedOperationException(
      s"$name does not expose driver-side plane rows; read it through " +
        "the BioImage facade")

  /** Scan work for one (scene, level), pruned by `pred` BEFORE decode —
    * the read path of the DataSource V2 scan (pushed filters), of the
    * facade's eager `getImageData` (its selections, Y/X window included)
    * and, with [[PlanePredicate.All]], of a [[ScanWorkReader]]'s lazy
    * planes. Default: one inline unit of driver-decoded rows (the cost
    * shape of single-object formats), for a level of
    * [[resolutionLevels]] only. Distributed readers override with
    * [[DeferredRows]] whose descriptor catalogs (TIFF segments, zarr
    * chunk keys) are pruned by `pred` so unmatched stored objects are
    * never read. */
  def v2ScanWork(sceneIdx: Int, level: Int,
      pred: PlanePredicate): Seq[ScanWork] = {
    if (!resolutionLevels(sceneIdx).contains(level))
      throw new IndexOutOfBoundsException(s"resolution level $level")
    Seq(InlineRows(localPlaneRows(sceneIdx, level).filter(pred.acceptsPlane)))
  }
}

/** A reader whose lazy plane table IS its scan work: `planes` at every
  * level is [[v2ScanWork]] with [[PlanePredicate.All]] run as one frame
  * ([[ScanWork.frame]]), so the lazy read, the eager read and the V2
  * scan share one source of plane rows. Every built-in format reader but
  * the parquet plane store (whose lazy read is a partition-pruned
  * parquet scan) mixes this in; the facade's eager read goes through the
  * scan work of exactly these readers. */
trait ScanWorkReader extends BioReader {
  final override def readDelayed(spark: SparkSession,
      sceneIdx: Int): DataFrame =
    readDelayedAtLevel(spark, sceneIdx, 0)

  final override def readDelayedAtLevel(spark: SparkSession, sceneIdx: Int,
      level: Int): DataFrame =
    ScanWork.frame(spark, v2ScanWork(sceneIdx, level, PlanePredicate.All))
}

/** A constructable plugin: how to open a path as a BioReader. */
final case class PluginEntry(
    name: String,
    extensions: Seq[String],
    open: (SparkSession, String, Map[String, String]) => BioReader)

/** ServiceLoader SPI for plugin discovery — the entry-point-group analog
  * of the reference's `bioio.readers` discovery (plugins.py:167-326).
  * Third-party format packages implement this with a zero-arg class,
  * list it in META-INF/services/graft.plugins.BioReaderProvider, and are
  * discovered at registry construction. The spec-version range is the
  * bioio-base version-gate analog (plugins.py:249-278): providers whose
  * range excludes the engine's [[Registry.SpecVersion]] are skipped. */
trait BioReaderProvider {
  def plugin: PluginEntry
  def minSpecVersion: Int = 1
  def maxSpecVersion: Int = Registry.SpecVersion
}

object Registry {
  /** The engine's plugin-SPI version. */
  val SpecVersion: Int = 1

  /** Version gate (pure, testable): keep providers whose declared range
    * covers the engine spec version. */
  def gate(providers: Seq[BioReaderProvider]): Seq[BioReaderProvider] =
    providers.filter(p =>
      p.minSpecVersion <= SpecVersion && SpecVersion <= p.maxSpecVersion)

  /** Discover providers on the classpath via ServiceLoader, apply the
    * version gate, sort by name for determinism. */
  def discovered(): Seq[PluginEntry] = {
    import scala.jdk.CollectionConverters._
    val loaded = java.util.ServiceLoader
      .load(classOf[BioReaderProvider]).iterator().asScala.toSeq
    gate(loaded).sortBy(_.plugin.name).map(_.plugin)
  }
}

final case class PluginSupport(supported: Boolean, error: Option[String])

/** Reader registry with the reference's deterministic resolution policy
  * (/root/reference/bioio/plugins.py):
  *   - extension normalization: lowercase, leading dot, dedupe keep-order
  *     (plugins.py:39-59)
  *   - extension-family counting: suffix-related exts form one family
  *     (".ome.tiff"+".tiff" → 1), the plugin specificity score
  *     (plugins.py:62-97)
  *   - per-extension plugin order: (family_count asc, raw_ext_count asc,
  *     name asc) (plugins.py:303-310)
  *   - key order: descending extension length — most specific suffix
  *     first (plugins.py:314-320)
  *   - resolution: suffix match (query-string robust, bio_image.py:284-304)
  *     then probe candidates with isSupportedImage in priority order,
  *     first success wins (bio_image.py:247-262)
  *   - "anonymous" retry for s3 URIs on total failure (bio_image.py:397-410)
  */
final class Registry(plugins: Seq[PluginEntry]) {

  /** plugins.py:39-59. */
  def normalizeExtensions(exts: Seq[String]): Seq[String] =
    exts.map(_.toLowerCase).map(e => if (e.startsWith(".")) e else "." + e)
      .distinct

  /** plugins.py:62-97 — union-find over "one ext is a suffix of another". */
  def countExtensionFamilies(exts: Seq[String]): Int = {
    val norm = normalizeExtensions(exts)
    val parent = scala.collection.mutable.ArrayBuffer.range(0, norm.length)
    def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
    for {
      i <- norm.indices; j <- norm.indices if i != j
      if norm(i).endsWith(norm(j)) || norm(j).endsWith(norm(i))
    } parent(find(i)) = find(j)
    norm.indices.map(find).distinct.length
  }

  /** ext → plugins in probe-priority order; keys most-specific-first. */
  lazy val byExtension: ListMap[String, Seq[PluginEntry]] = {
    val pairs = for {
      p <- plugins
      e <- normalizeExtensions(p.extensions)
    } yield (e, p)
    val grouped = pairs.groupBy(_._1).map { case (e, ps) =>
      e -> ps.map(_._2).distinct.sortBy(p =>
        (countExtensionFamilies(p.extensions),
          normalizeExtensions(p.extensions).length, p.name))
    }
    ListMap(grouped.toSeq.sortBy { case (e, _) => (-e.length, e) }: _*)
  }

  /** bio_image.py:284-304 — suffix match on the raw path OR the path with
    * a ?query suffix stripped. */
  def pathHasExtension(path: String, ext: String): Boolean = {
    val lower = path.toLowerCase
    lower.endsWith(ext) || lower.takeWhile(_ != '?').endsWith(ext)
  }

  /** Source resolution (bio_image.py:158-282): candidates whose extension
    * matches, probed in registry priority order; first isSupportedImage
    * success wins. Probe failures are collected into the error message. */
  def determinePlugin(spark: SparkSession, path: String,
      fsKwargs: Map[String, String] = Map.empty): (PluginEntry, BioReader) = {
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    val candidates = byExtension.toSeq.collect {
      case (e, ps) if pathHasExtension(path, e) => ps
    }.flatten.distinct
    candidates.foreach { p =>
      Try {
        val r = p.open(spark, path, fsKwargs)
        if (r.isSupportedImage(spark, path)) Some(r) else None
      } match {
        case Success(Some(r)) => return (p, r)
        case Success(None)    => failures += s"${p.name}: not supported"
        case Failure(err)     => failures += s"${p.name}: ${err.getMessage}"
      }
    }
    throw new UnsupportedFileFormatError(
      s"No reader supports '$path'. Tried ${candidates.map(_.name).mkString(", ")}" +
        (if (failures.nonEmpty) s" [${failures.mkString("; ")}]" else "") +
        ". Install or register a format plugin that supports this extension.")
  }

  /** Resolution with the reference's s3 anonymous retry (bio_image.py:397-410):
    * on total failure for s3 URIs, retry the whole resolution with
    * anon=true added to fsKwargs. */
  def determinePluginWithRetry(spark: SparkSession, path: String,
      fsKwargs: Map[String, String] = Map.empty): (PluginEntry, BioReader) =
    try determinePlugin(spark, path, fsKwargs)
    catch {
      case e: UnsupportedFileFormatError if path.startsWith("s3://") &&
          !fsKwargs.get("anon").contains("true") =>
        determinePlugin(spark, path, fsKwargs + ("anon" -> "true"))
    }

  /** Explicit reader override (bio_image.py:306-369): ordered try-list
    * bypassing discovery; first successful constructor+probe wins;
    * aggregate all failure messages on total failure. */
  def resolveExplicit(spark: SparkSession, path: String,
      readers: Seq[PluginEntry],
      fsKwargs: Map[String, String] = Map.empty): (PluginEntry, BioReader) = {
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    readers.foreach { p =>
      Try(p.open(spark, path, fsKwargs)) match {
        case Success(r) => return (p, r)
        case Failure(e) => failures += s"${p.name}: ${e.getMessage}"
      }
    }
    throw new UnsupportedFileFormatError(
      s"All explicitly requested readers failed for '$path': " +
        failures.mkString("; "))
  }

  /** D1 plugin_feasibility_report (plugins.py:398-465): probe EVERY plugin
    * regardless of extension. */
  def feasibilityReport(spark: SparkSession, path: String): Map[String, PluginSupport] =
    plugins.map { p =>
      p.name -> (Try(p.open(spark, path, Map.empty).isSupportedImage(spark, path)) match {
        case Success(ok) => PluginSupport(ok, None)
        case Failure(e)  => PluginSupport(supported = false, Some(e.getMessage))
      })
    }.toMap

  /** D2 dump_plugins: registry contents as rows. */
  def dump: Seq[(String, String, Seq[String])] =
    byExtension.toSeq.flatMap { case (e, ps) => ps.map(p => (e, p.name, p.extensions)) }
}
