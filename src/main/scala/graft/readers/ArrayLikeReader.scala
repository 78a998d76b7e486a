package graft.readers

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.meta.OmeUtils
import graft.plugins.{ScanWorkReader, SceneMeta}

/** In-memory array source — the analog of the reference's ArrayLikeReader
  * (/root/reference/bioio/array_like_reader.py:29-464): one or more
  * driver-side nd-arrays (a list = multi-scene), with dim-order and
  * channel-name attachment & validation, becoming per-scene plane
  * DataFrames.
  *
  * Behavior ported (each rule pinned by the reference's parametrized test
  * table, tests/test_array_like_reader.py):
  *   - dimOrder guessing by rank when absent (:26-114, :718-728)
  *   - explicit dimOrder validated against rank (:729-835 error rows)
  *   - per-scene dimOrder/channelNames lists must match scene count
  *     (ConflictingArguments)
  *   - channelNames validated against C size; channels without a C dim are
  *     an error (:787-810)
  *   - default channel names "Channel:{scene_idx}:{c}"
  *     (array_like_reader.py:324-349)
  *   - scene IDs "Image:{i}" (ome_utils)
  *   - non-standard dim letters pass through at reader level (:618-695);
  *     normalization to canonical TCZYX reduces them at index 0 (:1050-1059)
  */
final class ArrayLikeReader(
    arrays: Seq[NDArray],
    dimOrders: Seq[Option[String]],
    channelNamesPerScene: Seq[Option[Seq[String]]],
    physicalPixelSizes: Option[(Double, Double, Double)] = None,
    tilePositions: Seq[Seq[(Int, Int)]] = Seq.empty,
    timeInterval: Option[Double] = None)
    extends ScanWorkReader {

  require(arrays.nonEmpty, "at least one array required")

  override def name: String = "ArrayLikeReader"
  override def supportedExtensions: Seq[String] = Seq.empty
  override def isSupportedImage(spark: SparkSession, path: String): Boolean = false

  /** Resolved dim order per scene (explicit validated, else guessed). */
  val resolvedOrders: Seq[String] = arrays.zip(dimOrders).map {
    case (a, Some(o)) => Dims.validate(o, a.rank)
    case (a, None)    => Dims.guess(a.rank)
  }

  /** Resolved channel names per scene. */
  val resolvedChannelNames: Seq[Seq[String]] =
    arrays.indices.map { i =>
      val order = resolvedOrders(i)
      val cIdx = order.indexOf('C')
      val cSize = if (cIdx >= 0) arrays(i).shape(cIdx) else 0
      channelNamesPerScene(i) match {
        case Some(names) =>
          if (cIdx < 0)
            throw new ConflictingArguments(
              s"channelNames given for scene $i but dim order '$order' has no C")
          if (names.length != cSize)
            throw new IllegalArgumentException(
              s"scene $i: ${names.length} channel names for C size $cSize")
          names
        case None =>
          (0 until cSize.max(if (cIdx >= 0) 1 else 0))
            .map(c => OmeUtils.omeChannelId(i.toLong, c.toLong))
      }
    }

  override def scenes: Seq[String] = arrays.indices.map(i => OmeUtils.omeImageId(i.toLong))

  override def sceneMeta(sceneIdx: Int): SceneMeta = {
    val order = resolvedOrders(sceneIdx)
    val arr = arrays(sceneIdx)
    val canonical = Dims.canonicalFor(order)
    val sizes = canonical.map { d =>
      val i = order.indexOf(d)
      if (i >= 0) arr.shape(i).toLong else 1L
    }
    SceneMeta(
      sceneIdx = sceneIdx,
      sceneId = scenes(sceneIdx),
      dims = Dimensions(canonical, sizes),
      channelNames = resolvedChannelNames(sceneIdx),
      physicalPixelSizes = physicalPixelSizes,
      pixelType = PixelType.Float64,
      tilePositions =
        if (tilePositions.isDefinedAt(sceneIdx)) tilePositions(sceneIdx)
        else Seq.empty,
      rawMetadata = None,
      timeInterval = timeInterval)
  }

  /** Build the canonical plane table for one scene: known dims map onto
    * (m,t,c,z,s,y,x); unknown dims are REDUCED at index 0 (reference
    * normalization semantics, tests/test_array_like_reader.py:1050-1059).
    */
  override def localPlaneRows(sceneIdx: Int, level: Int): Seq[PlaneRow] = {
    val arr = arrays(sceneIdx)
    val order = resolvedOrders(sceneIdx)
    val sid = scenes(sceneIdx)
    val pos: Map[Char, Int] =
      order.zipWithIndex.filter { case (d, _) => Dims.Known(d) }.toMap
    val yi = pos.getOrElse('Y', -1)
    val xi = pos.getOrElse('X', -1)
    val h = if (yi >= 0) arr.shape(yi) else 1
    val w = if (xi >= 0) arr.shape(xi) else 1
    val nonPlane = "MTCZS".filter(pos.contains)
    // all index combos over the non-plane known dims
    def combos(ds: Seq[Char]): Seq[Map[Char, Int]] = ds match {
      case Seq() => Seq(Map.empty)
      case d +: rest =>
        val tails = combos(rest)
        (0 until arr.shape(pos(d))).flatMap(i => tails.map(_ + (d -> i)))
    }
    val tiles = sceneMeta(sceneIdx).tilePositions
    combos(nonPlane.toSeq).map { sel =>
      val px = new Array[Double](h * w)
      val idx = new Array[Int](arr.rank) // unknown dims stay 0 (reduced)
      sel.foreach { case (d, i) => idx(pos(d)) = i }
      var y = 0
      while (y < h) {
        if (yi >= 0) idx(yi) = y
        var x = 0
        while (x < w) {
          if (xi >= 0) idx(xi) = x
          px(y * w + x) = arr(idx.toIndexedSeq: _*)
          x += 1
        }
        y += 1
      }
      val m = sel.getOrElse('M', 0)
      val (ty, tx) =
        if (tiles.isDefinedAt(m)) tiles(m) else (0, 0)
      PlaneRow(sceneIdx, sid, level = 0, m = m,
        t = sel.getOrElse('T', 0), c = sel.getOrElse('C', 0),
        z = sel.getOrElse('Z', 0), s = sel.getOrElse('S', 0),
        y0 = ty, x0 = tx, h = h, w = w, pixels = px)
    }
  }
}

object ArrayLikeReader {
  /** Single-scene convenience. */
  def apply(arr: NDArray, dimOrder: Option[String] = None,
      channelNames: Option[Seq[String]] = None): ArrayLikeReader =
    new ArrayLikeReader(Seq(arr), Seq(dimOrder), Seq(channelNames))

  /** Multi-scene with per-scene options; `dimOrders`/`channelNames` of
    * length 1 broadcast to all scenes, otherwise must match scene count
    * (reference list-length validation). */
  def multi(arrs: Seq[NDArray], dimOrders: Seq[Option[String]] = Seq(None),
      channelNames: Seq[Option[Seq[String]]] = Seq(None),
      tilePositions: Seq[Seq[(Int, Int)]] = Seq.empty): ArrayLikeReader = {
    def expand[T](xs: Seq[T], what: String): Seq[T] =
      if (xs.length == arrs.length) xs
      else if (xs.length == 1) Seq.fill(arrs.length)(xs.head)
      else throw new ConflictingArguments(
        s"$what has ${xs.length} entries for ${arrs.length} scenes")
    new ArrayLikeReader(arrs, expand(dimOrders, "dimOrders"),
      expand(channelNames, "channelNames"), None, tilePositions)
  }
}
