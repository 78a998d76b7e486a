package graft.image

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.StitchTiles
import graft.plugins.{BioReader, DimBound, PlanePredicate, ScanWork,
  ScanWorkReader, SceneMeta, YXWindow}

/** Selection on a named dimension — the analog of reshape_data's kwarg
  * types (/root/reference/bioio/bio_image.py:776-827) plus coordinate
  * (`.loc`-style) forms (docs/OVERVIEW.md:331-358):
  *   Index(i)   — select one index and DROP the dimension
  *   Subset(xs) — keep the dimension, subset indices (re-indexed 0..n-1)
  *   SRange     — contiguous subset (inclusive start, exclusive end)
  *   Coord      — by PHYSICAL units (seconds on T, µm on Z/Y/X), inclusive
  *                on both ends; resolved against the dim's scale
  *   Name       — channel names on C, order preserved
  */
sealed trait Sel
object Sel {
  final case class Index(i: Int) extends Sel
  final case class Subset(xs: Seq[Int]) extends Sel
  final case class SRange(start: Int, end: Int) extends Sel
  final case class Coord(lo: Double, hi: Double) extends Sel
  final case class Name(names: Seq[String]) extends Sel
}

/** Eager nd result: NDArray + its dimension order (the numpy analog). */
final case class NDStack(order: String, array: NDArray)

/** The user-facing image container — the analog of the reference BioImage
  * (/root/reference/bioio/bio_image.py:27-1324) re-expressed over a plane
  * DataFrame:
  *   - scenes/setScene: string id or int index; switching invalidates
  *     caches (bio_image.py:433-498)
  *   - resolution levels: validated switch, no-op when unchanged
  *     (bio_image.py:548-604)
  *   - lazy `planes` / `pixels` (dask analog) vs eager `getImageData`
  *     (numpy analog, bio_image.py:606-917)
  *   - mosaic reconstruction default ON with graceful fallback to tiled
  *     M-dim data (bio_image.py:60-71, 626-638)
  *   - scene stacking with leading scene dim (bio_image.py:919-1007)
  *   - metadata surface: dims, channelNames, physicalPixelSizes,
  *     standardMetadata with sizes overridden from actual dims
  *     (bio_image.py:1038-1133)
  */
final class BioImage(
    val spark: SparkSession,
    val reader: BioReader,
    val reconstructMosaic: Boolean = true) {

  val scenes: Seq[String] = reader.scenes
  private var sceneIdx: Int = 0
  private var level: Int = 0
  private val planeCache = mutable.Map.empty[(Int, Int), DataFrame]

  def currentScene: String = scenes(sceneIdx)
  def currentSceneIndex: Int = sceneIdx

  /** Scene switch by id (bio_image.py:474-498); unknown id → error. */
  def setScene(id: String): Unit = {
    val i = scenes.indexOf(id)
    if (i < 0)
      throw new IndexOutOfBoundsException(
        s"Scene id '$id' not found in ${scenes.mkString("[", ", ", "]")}")
    if (i != sceneIdx) { sceneIdx = i; level = 0; invalidate() }
  }

  /** Scene switch by index. */
  def setScene(i: Int): Unit = {
    if (i < 0 || i >= scenes.length)
      throw new IndexOutOfBoundsException(
        s"Scene index $i out of range (${scenes.length} scenes)")
    if (i != sceneIdx) { sceneIdx = i; level = 0; invalidate() }
  }

  def resolutionLevels: Seq[Int] = reader.resolutionLevels(sceneIdx)
  def currentResolutionLevel: Int = level

  /** bio_image.py:568-594: raise on unknown level, no-op when unchanged,
    * otherwise invalidate caches. */
  def setResolutionLevel(l: Int): Unit = {
    if (!resolutionLevels.contains(l))
      throw new IndexOutOfBoundsException(
        s"Resolution level $l not in $resolutionLevels")
    if (l != level) { level = l; invalidate() }
  }

  /** {level: shape} map (bio_image.py:596-604). */
  def resolutionLevelDims: Map[Int, Seq[Long]] =
    resolutionLevels.map(l => l -> computeDims(l).shape).toMap

  private def invalidate(): Unit = planeCache.clear()

  def meta: SceneMeta = reader.sceneMeta(sceneIdx)

  /** Lazy canonical plane table of the current (scene, level) — memoized
    * per (scene, level) like the reference's _xarray_dask_data cache. For
    * a [[ScanWorkReader]] it is the reader's unpruned scan work as one
    * frame: driver-decoded formats as local rows, TIFF and zarr as one
    * task per contiguous block of stored objects, with no shuffle. */
  def planes: DataFrame =
    planeCache.getOrElseUpdate((sceneIdx, level),
      reader.readDelayedAtLevel(spark, sceneIdx, level))

  private def hasMosaic: Boolean = meta.dims.order.contains('M')

  /** Tile positions at the CURRENT resolution level, sourced from the
    * reader (each level's own grid where the format declares one; the
    * floor-halved default otherwise). */
  private def tilePositionsAtLevel: Seq[(Int, Int)] =
    reader.levelTilePositions(sceneIdx, level)

  /** Driver-side disjointness check over the tile catalog: any two tile
    * rectangles intersecting means stitched pixels can collide. Uses the
    * current level's positions AND tile dims — floor-halving can make
    * tiles overlap at coarser levels even when level 0 is disjoint. */
  private def tilesOverlap: Boolean = {
    val tiles = tilePositionsAtLevel
    val d = reader.levelDims(sceneIdx, level)
    val h = d('Y')
    val w = d('X')
    tiles.indices.exists { i =>
      val (ay, ax) = tiles(i)
      (i + 1 until tiles.length).exists { j =>
        val (by, bx) = tiles(j)
        ay < by + h && by < ay + h && ax < bx + w && bx < ax + w
      }
    }
  }

  /** Lazy long-form pixel view in the image's canonical space: stitched
    * (Y/X global, no M) when the scene is a mosaic and reconstruction is
    * on; tiled otherwise. Overlapping stitched pixels resolve to the
    * lowest tile index (documented overlap policy — the reference
    * delegates this to plugins).
    *
    * Scale: when the tile catalog proves tiles disjoint (the common case),
    * the stitch is a pure projection — zero shuffle, no Exchange in the
    * plan. Only genuinely overlapping mosaics pay the overlap-resolving
    * aggregation. */
  def pixels: DataFrame = pixelsOf(planes)

  private def pixelsOf(pl: DataFrame): DataFrame =
    if (hasMosaic && reconstructMosaic) {
      val stitched = Plane.stitchedPixels(pl)
      if (!tilesOverlap)
        stitched.select(col("scene_idx"), col("level"), col("t"), col("c"),
          col("z"), col("s"), col("y"), col("x"), col("v"))
      else
        stitched
          .groupBy(col("scene_idx"), col("level"), col("t"), col("c"),
            col("z"), col("s"), col("y"), col("x"))
          .agg(min_by(col("v"), col("m")).as("v"))
    } else Plane.pixels(pl).drop("y0", "x0")

  /** Plane table in STITCHED space: for mosaic scenes, each t/c/z/s
    * plane's tiles are pasted into one full-size row (global Y/X, lowest
    * tile index wins on overlap) by [[Plane.stitch]] — one shuffle of tile
    * arrays, whether the tiles overlap or not; a gap between tiles fails
    * the query. Identical to [[planes]] for non-mosaic scenes. This is
    * what single-plane sinks (OME-TIFF, zarr, PNG) consume, mirroring the
    * reference's save of reconstructed data (bio_image.py:1282-1291). */
  def stitchedPlanes: DataFrame =
    if (!(hasMosaic && reconstructMosaic)) planes
    else {
      val d = dims
      Plane.stitch(planes, currentScene, d('Y').toInt, d('X').toInt)
    }

  /** Dims of the current scene/level, derived from the catalog; mosaic
    * reconstruction folds M into stitched Y/X. */
  def dims: Dimensions = computeDims(level)

  private def computeDims(atLevel: Int): Dimensions =
    if (hasMosaic && reconstructMosaic)
      reader.stitchedLevelDims(sceneIdx, atLevel)
    else reader.levelDims(sceneIdx, atLevel)

  /** Guaranteed channel coordinate (bio_image.py:532-539): reader-provided
    * names, or OME channel IDs synthesized at normalization — present even
    * when the source had no C dim (canonical C has size 1). */
  def channelNames: Seq[String] =
    if (meta.channelNames.nonEmpty) meta.channelNames
    else (0L until dims('C')).map(c =>
      graft.meta.OmeUtils.omeChannelId(sceneIdx.toLong, c))

  def physicalPixelSizes: Option[(Double, Double, Double)] =
    meta.physicalPixelSizes

  /** Seconds between T steps, when the source declares it
    * (bio_image.py:1094-1108). */
  def timeInterval: Option[Double] = meta.timeInterval

  /** Combined T+ZYX scaling; C is always None (bio_image.py:1067-1081). */
  def scale: Map[Char, Option[Double]] = Map(
    'T' -> timeInterval,
    'C' -> None,
    'Z' -> physicalPixelSizes.map(_._1),
    'Y' -> physicalPixelSizes.map(_._2),
    'X' -> physicalPixelSizes.map(_._3))

  /** Per-dimension (size, scale, unit) rows (bio_image.py:1083-1092).
    * Units come from the source metadata when it declares them (NGFF
    * axes[].unit) and fall back to the reference defaults s / µm. */
  def dimensionProperties: Map[Char, (Long, Option[Double], Option[String])] = {
    val d = dims
    val unitFor: Map[Char, String] =
      Map('T' -> "s", 'Z' -> "µm", 'Y' -> "µm", 'X' -> "µm") ++ meta.dimUnits
    d.order.map { dim =>
      val sc = scale.getOrElse(dim, None)
      dim -> ((d(dim), sc, sc.flatMap(_ => unitFor.get(dim))))
    }.toMap
  }

  /** Raw format metadata passthrough (bio_image.py:1009-1019): the OME-XML
    * (or other description payload) exactly as the source stored it. */
  def rawMetadata: Option[String] = meta.rawMetadata

  /** OME model of the current image (bio_image.py:1021-1036): parsed from
    * raw OME-XML when the source carries it, else synthesized from the
    * normalized metadata — the reference's own bar for generated OME is
    * "valid but not complete" (bio_image.py:1026-1030). */
  def omeMetadata: graft.meta.OME = {
    val fromRaw = meta.rawMetadata.filter(_.contains("<OME"))
      .flatMap(x => scala.util.Try(graft.meta.OmeXml.fromXml(x)).toOption)
    fromRaw.getOrElse {
      val d = dims
      graft.meta.OME(Seq(graft.meta.OmeImage(
        id = graft.meta.OmeUtils.omeImageId(sceneIdx.toLong),
        name = currentScene,
        pixels = graft.meta.OmePixels(
          id = s"Pixels:$sceneIdx",
          dimensionOrder = "XYZCT",
          pixelType = graft.meta.OmeXml.omeTypeOf(meta.pixelType),
          sizeX = d('X'), sizeY = d('Y'),
          sizeZ = if (d.order.contains('Z')) d('Z') else 1,
          sizeC = if (d.order.contains('C')) d('C') else 1,
          sizeT = if (d.order.contains('T')) d('T') else 1,
          physicalSizeX = physicalPixelSizes.map(_._3),
          physicalSizeY = physicalPixelSizes.map(_._2),
          physicalSizeZ = physicalPixelSizes.map(_._1),
          timeIncrement = timeInterval,
          channels = channelNames.zipWithIndex.map { case (cn, ci) =>
            graft.meta.OmeChannel(
              graft.meta.OmeUtils.omeChannelId(sceneIdx.toLong, ci.toLong),
              Some(cn))
          }))))
    }
  }

  /** Sink dispatch by extension (bio_image.py:1229-1301): OME-TIFF for
    * .ome.tiff/.tiff, parquet plane store for .graft. */
  def save(uri: String, selectScenes: Option[Seq[String]] = None): Unit =
    graft.writers.Writers.save(this, uri, selectScenes)

  /** Options-carrying save — the reference save's kwargs channel: each
    * writer parses its own keys (zarr: format/levels/compressor/chunk/
    * shardInner; tiff: compression/tile/bigTiff/pyramidLevels; jpeg:
    * quality; plane store: levels) and raises on keys it can't honor. */
  def save(uri: String, selectScenes: Option[Seq[String]],
      options: Map[String, String]): Unit =
    graft.writers.Writers.save(this, uri, selectScenes, options)

  /** Resolve a selection against the dim's size: negative indices count
    * from the end (reference reshape_data accepts e.g. C=(0,-1),
    * bio_image.py:776-827); out-of-range indices raise rather than
    * silently shrinking the axis; empty/duplicated subsets raise. */
  private[image] def resolveSel(d: Char, sel: Sel): Sel = {
    val sizeOpt =
      if (dims.order.contains(d)) Some(dims(d).toInt) else None
    def resolve1(i: Int): Int = sizeOpt match {
      case Some(n) =>
        val r = if (i < 0) i + n else i
        if (r < 0 || r >= n)
          throw new IndexOutOfBoundsException(
            s"index $i out of range for dim $d of size $n")
        r
      case None => i
    }
    sel match {
      case Sel.Index(i) => Sel.Index(resolve1(i))
      case Sel.Subset(xs) =>
        if (xs.isEmpty)
          throw new ConflictingArguments(s"empty selection for dim $d")
        val rs = xs.map(resolve1)
        if (rs.distinct.length != rs.length)
          throw new ConflictingArguments(
            s"selection ${xs.mkString("[", ",", "]")} for dim $d has " +
              "duplicate indices after resolution")
        Sel.Subset(rs)
      case Sel.SRange(s0, e0) =>
        // slice-style: negatives resolve from the end, bounds clamp
        val n = sizeOpt.getOrElse(Int.MaxValue)
        val rs = math.max(0, if (s0 < 0) s0 + n else s0)
        val re = math.min(n, if (e0 < 0) e0 + n else e0)
        if (rs >= re)
          throw new ConflictingArguments(
            s"range [$s0, $e0) selects nothing for dim $d" +
              sizeOpt.fold("")(n => s" of size $n"))
        Sel.SRange(rs, re)
      case Sel.Coord(lo, hi) =>
        // coordinate of index i on dim d is i * scale(d); inclusive range
        // (docs/OVERVIEW.md:331-358 — "first ten seconds (not frames)")
        val sc = scale.getOrElse(d, None).getOrElse(
          throw new ConflictingArguments(
            s"dim $d has no coordinate scale (physical pixel size / time " +
              "interval not provided by the source)"))
        val n = sizeOpt.getOrElse(
          throw new ConflictingArguments(s"dim $d not present in '${dims.order}'"))
        val eps = 1e-9
        val start = math.max(0, math.ceil(lo / sc - eps).toInt)
        val end = math.min(n, math.floor(hi / sc + eps).toInt + 1)
        if (start >= end)
          throw new ConflictingArguments(
            s"coordinate range [$lo, $hi] selects nothing on dim $d " +
              s"(scale $sc, size $n)")
        Sel.SRange(start, end)
      case Sel.Name(names) =>
        if (d != 'C')
          throw new ConflictingArguments(
            s"name-based selection is only valid on C, not $d")
        if (names.isEmpty)
          throw new ConflictingArguments("empty channel-name selection")
        val cn = channelNames
        Sel.Subset(names.map { nm =>
          val i = cn.indexOf(nm)
          if (i < 0)
            throw new IllegalArgumentException(
              s"channel '$nm' not in ${cn.mkString("[", ", ", "]")}")
          i
        })
    }
  }

  /** Lazy slice+reorder (the get_image_dask_data analog): plane/pixel rows
    * filtered by the selections. Stays a lazy DataFrame.
    *
    * Mosaic path: Y/X selections push THROUGH the stitch as a tile
    * filter — only tiles whose rectangle intersects the selected range
    * are exploded into pixels, and the exact per-pixel predicate still
    * applies after the stitch. The filter saves the explode, not the
    * read: it sits above the opaque decode of [[planes]]' scan work, so
    * every tile of the scene/level is still fetched and decoded, then
    * dropped. The eager [[getImageData]] and the DataSource V2 scan read
    * through `v2ScanWork` instead, which prunes the tile catalog before
    * decode, as the reference's dask graph reads only intersecting
    * chunks. */
  def getImagePixels(selections: Map[Char, Sel] = Map.empty): DataFrame = {
    val colFor = Map('M' -> "m", 'T' -> "t", 'C' -> "c", 'Z' -> "z",
      'S' -> "s", 'Y' -> "y", 'X' -> "x")
    val resolved = selections.map { case (d, s) => d -> resolveSel(d, s) }
    val src =
      if (hasMosaic && reconstructMosaic) {
        def bounds(d: Char): Option[(Int, Int)] = resolved.get(d).collect {
          case Sel.Index(i)       => (i, i + 1)
          case Sel.SRange(s0, e0) => (s0, e0)
          case Sel.Subset(xs)     => (xs.min, xs.max + 1)
        }
        val fy = bounds('Y').map { case (s0, e0) =>
          col("y0") < e0 && col("y0") + col("h") > s0
        }
        val fx = bounds('X').map { case (s0, e0) =>
          col("x0") < e0 && col("x0") + col("w") > s0
        }
        pixelsOf((fy.toSeq ++ fx.toSeq).foldLeft(planes)(_ filter _))
      } else pixels
    resolved.foldLeft(src) { case (df, (d, sel)) =>
      val c = col(colFor(d))
      sel match {
        case Sel.Index(i)       => df.filter(c === i)
        case Sel.Subset(xs)     => df.filter(c.isin(xs: _*))
        case Sel.SRange(s0, e0) => df.filter(c >= s0 && c < e0)
      }
    }
  }

  /** Eager slice+reorder+reshape (the get_image_data analog,
    * bio_image.py:841-917): returns an NDStack in `returnDims` order.
    * reshape_data semantics (bio_image.py:776-827):
    *   - Sel.Index drops the dim (must not appear in returnDims)
    *   - Sel.Subset/SRange keep + re-index the dim, in the caller's order
    *     (e.g. C=[1,0])
    *   - dims present in data but absent from returnDims (and unselected)
    *     are REDUCED at index 0
    *   - dims in returnDims absent from data are INSERTED with size 1
    *   - output axes are transposed to returnDims order
    *
    * A plane-array read, like bioio's, which reads only the chunks it
    * needs: the selections become a [[PlanePredicate]] on (m, t, c, z, s)
    * plus, in stitched mosaic space, a Y/X window. A [[ScanWorkReader]]
    * (every built-in format but the parquet plane store) prunes its
    * stored objects with it before decode and runs the rest in at most
    * one Spark job (none for driver-decoded formats); other readers'
    * `planes` are filtered on the same coordinates and collected. The
    * collected plane rows are pasted into the result on the driver by the
    * stitch's kernel ([[StitchTiles.paste]]): the lowest tile index wins
    * on overlap, and a pixel no tile covers reads 0. */
  def getImageData(returnDims: String,
      selections: Map[Char, Sel] = Map.empty): NDStack = {
    val sizes = dims
    val dataOrder = sizes.order
    selections.foreach { case (d, sel) =>
      if (sel.isInstanceOf[Sel.Index] && returnDims.contains(d))
        throw new ConflictingArguments(
          s"dim $d selected by single index but requested in returnDims '$returnDims'")
      if (!dataOrder.contains(d))
        throw new ConflictingArguments(s"selection on missing dim $d of '$dataOrder'")
    }
    // implicit reduction at index 0 for unrequested, unselected dims
    val reduced = dataOrder.filterNot(d => returnDims.contains(d))
      .filterNot(d => selections.contains(d))
      .map(d => d -> (Sel.Index(0): Sel)).toMap
    val resolved =
      selections.map { case (d, s) => d -> resolveSel(d, s) } ++ reduced
    // the indices each data dim keeps, in the caller's order (reference
    // reshape_data keeps list order, e.g. C=[1,0])
    def picks(d: Char): IndexedSeq[Int] = resolved.get(d) match {
      case Some(Sel.Index(i))       => IndexedSeq(i)
      case Some(Sel.Subset(xs))     => xs.toIndexedSeq
      case Some(Sel.SRange(s0, e0)) => s0 until e0
      case _ => 0 until (if (dataOrder.contains(d)) sizes(d).toInt else 1)
    }
    val shape = returnDims.map(d =>
      if (dataOrder.contains(d)) picks(d).size else 1)
    val strides = shape.indices.map(i => shape.drop(i + 1).product)
    def stride(d: Char): Int = {
      val ax = returnDims.indexOf(d)
      if (ax < 0) 0 else strides(ax)
    }
    // stitched mosaic rows carry stitched-space offsets; every other
    // plane row is read in its own local Y/X
    val stitched = hasMosaic && reconstructMosaic
    val (ys, xs) = (picks('Y'), picks('X'))
    val (ya, xa) = (ys.min, xs.min)
    val (bh, bw) = (ys.max + 1 - ya, xs.max + 1 - xa)
    def bound(d: Char): DimBound =
      if (resolved.contains(d)) DimBound(eqs = Some(picks(d).map(_.toLong).toSet))
      else DimBound()
    val pred = PlanePredicate(m = bound('M'), t = bound('T'),
      c = bound('C'), z = bound('Z'), s = bound('S'),
      yx = if (stitched) Some(YXWindow(ya, ya + bh, xa, xa + bw)) else None)
    val rows = planeRows(pred)
    // the output offset of a row's plane, from its non-Y/X coordinates
    val planeDims = returnDims.filter(d => "MTCZS".contains(d) &&
      dataOrder.contains(d))
    val posOf = planeDims.map(d => d -> picks(d).zipWithIndex.toMap).toMap
    def base(r: PlaneRow): Int = planeDims.map { d =>
      val v = d match {
        case 'M' => r.m
        case 'T' => r.t
        case 'C' => r.c
        case 'Z' => r.z
        case 'S' => r.s
      }
      posOf(d)(v) * stride(d)
    }.sum
    val (sy, sx) = (stride('Y'), stride('X'))
    val data = new Array[Double](shape.product)
    val window = new Array[Double](bh * bw)
    rows.groupBy(base).foreach { case (b, plane) =>
      java.util.Arrays.fill(window, 0.0)
      StitchTiles.paste(plane.map(r =>
        if (stitched) StitchTiles.Tile(r.m, r.y0, r.x0, r.h, r.w, r.pixels)
        else StitchTiles.Tile(r.m, 0, 0, r.h, r.w, r.pixels)),
        ya, xa, bh, bw, window)
      var iy = 0
      while (iy < ys.length) {
        val src = (ys(iy) - ya) * bw - xa
        val dst = b + iy * sy
        var ix = 0
        while (ix < xs.length) {
          data(dst + ix * sx) = window(src + xs(ix))
          ix += 1
        }
        iy += 1
      }
    }
    NDStack(returnDims, NDArray(shape.toSeq, data))
  }

  /** Stored objects the last eager read through scan work planned to
    * read, after pruning — the pruned-IO number specs pin (-1 before
    * the first such read). */
  @volatile private[image] var plannedObjects: Int = -1

  /** The plane rows of the current (scene, level) that `pred` accepts, at
    * the driver: through the scan work of a [[ScanWorkReader]], else
    * through [[planes]] filtered on the same coordinates. */
  private def planeRows(pred: PlanePredicate): Seq[PlaneRow] = reader match {
    case r: ScanWorkReader =>
      val work = r.v2ScanWork(sceneIdx, level, pred)
      plannedObjects = work.map(_.objects).sum
      ScanWork.collectRows(spark, work, pred)
    case _ =>
      import spark.implicits._
      val coords = Seq("m" -> pred.m, "t" -> pred.t, "c" -> pred.c,
        "z" -> pred.z, "s" -> pred.s).collect {
        case (name, DimBound(Some(vs), _, _)) =>
          col(name).isin(vs.toSeq.map(_.toInt): _*)
      }
      val rect = pred.yx.map(w => col("y0") < w.y1 &&
        col("y0") + col("h") > w.y0 && col("x0") < w.x1 &&
        col("x0") + col("w") > w.x0)
      (coords ++ rect).foldLeft(planes)(_ filter _).as[PlaneRow].collect()
        .toSeq.filter(pred.acceptsPlane)
  }

  /** Scene stacking (bio_image.py:919-1007): all scenes as one lazy plane
    * table (leading scene dim ≡ the scene_idx column — a union, not a
    * shuffle). */
  def stackPlanes: DataFrame =
    scenes.indices.map(i => reader.readDelayed(spark, i)).reduce(_ unionByName _)

  /** Eager stack with leading scene dim 'I' (dims must match across
    * scenes, as in biob.transforms.generate_stack), every scene read at
    * the current resolution level; a scene without that level raises.
    * The current scene and level are restored afterwards. Guarded by
    * `maxElements` (default 2^28 doubles ≈ 2 GiB): an eager all-scene
    * stack funnels through driver memory by design (the reference's numpy
    * stack has the same boundary, bio_image.py:919-937) — beyond the cap,
    * stay lazy with [[stackPlanes]]. */
  def getStack(returnDims: String = null,
      maxElements: Long = 1L << 28): NDStack = {
    val inner = Option(returnDims).getOrElse(dims.order)
    val perScene = dims.shape.product
    val total = perScene * scenes.length
    require(total <= maxElements,
      s"eager stack of ${scenes.length} scenes × $perScene elements = " +
        s"$total doubles exceeds the driver-memory cap $maxElements; use " +
        "the lazy stackPlanes DataFrame instead (or raise maxElements)")
    val (savedScene, savedLevel) = (sceneIdx, level)
    val stacks =
      try scenes.indices.map { i =>
        setScene(i)
        if (!resolutionLevels.contains(savedLevel))
          throw new IndexOutOfBoundsException(
            s"scene '${scenes(i)}' has no resolution level $savedLevel " +
              s"(levels $resolutionLevels)")
        setResolutionLevel(savedLevel)
        getImageData(inner)
      } finally {
        setScene(savedScene)
        setResolutionLevel(savedLevel)
      }
    val shapes = stacks.map(_.array.shape).distinct
    require(shapes.length == 1,
      s"scene shapes differ: $shapes — cannot stack")
    NDStack("I" + inner,
      NDArray(stacks.length +: shapes.head, stacks.flatMap(_.array.data).toArray))
  }

  /** Mosaic tile position lookup (bio_image.py:1135-1216). */
  def getMosaicTilePosition(m: Int): (Int, Int) = {
    if (!hasMosaic) throw new UnsupportedOperationException("not a mosaic scene")
    val tiles = meta.tilePositions
    if (!tiles.isDefinedAt(m))
      throw new IndexOutOfBoundsException(s"tile $m of ${tiles.length}")
    tiles(m)
  }

  /** Per-tile Y/X dims or None when non-mosaic (bio_image.py:1218-1227). */
  def mosaicTileDims: Option[(Long, Long)] =
    if (hasMosaic) Some((meta.dims('Y'), meta.dims('X'))) else None

  /** Flat normalized metadata with image sizes overridden from actual
    * dims (bio_image.py:1110-1133). */
  def standardMetadata: StandardMetadata = {
    val d = dims
    StandardMetadata(
      imageSizeT = if (d.order.contains('T')) d('T') else 1,
      imageSizeC = if (d.order.contains('C')) d('C') else 1,
      imageSizeZ = if (d.order.contains('Z')) d('Z') else 1,
      imageSizeY = d('Y'),
      imageSizeX = d('X'),
      dimensionOrder = d.order,
      channelNames = channelNames,
      physicalPixelSizes = physicalPixelSizes,
      pixelType = meta.pixelType.toString)
  }

  override def toString: String =
    s"<BioImage [plugin: ${reader.name}, scenes: ${scenes.length}]>"
}

/** The analog of the reference's StandardMetadata dataclass. */
final case class StandardMetadata(
    imageSizeT: Long,
    imageSizeC: Long,
    imageSizeZ: Long,
    imageSizeY: Long,
    imageSizeX: Long,
    dimensionOrder: String,
    channelNames: Seq[String],
    physicalPixelSizes: Option[(Double, Double, Double)],
    pixelType: String)
