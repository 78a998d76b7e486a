package graft.plugins

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.PlaneRow

/** Inclusive constraint set for one integer plane coordinate, derived
  * from pushed-down DataSource V2 filters. `eqs` is the intersection of
  * every EqualTo/In seen for the column; `lo`/`hi` fold
  * GreaterThan(OrEqual)/LessThan(OrEqual). All three compose by
  * narrowing, so conjunctions of pushed filters stay exact. */
final case class DimBound(
    eqs: Option[Set[Long]] = None,
    lo: Long = Long.MinValue,
    hi: Long = Long.MaxValue) extends Serializable {
  def accepts(v: Long): Boolean =
    eqs.forall(_.contains(v)) && v >= lo && v <= hi
  def narrowEq(vs: Set[Long]): DimBound =
    copy(eqs = Some(eqs.map(_.intersect(vs)).getOrElse(vs)))
  def narrowLo(v: Long): DimBound = copy(lo = math.max(lo, v))
  def narrowHi(v: Long): DimBound = copy(hi = math.min(hi, v))
  def constrained: Boolean =
    eqs.nonEmpty || lo != Long.MinValue || hi != Long.MaxValue
}

/** Half-open Y/X rectangle `[y0, y1) × [x0, x1)` in a level's stitched
  * pixel space (the space of [[PlaneRow]]'s `y0`/`x0` tile offsets). */
final case class YXWindow(y0: Int, y1: Int, x0: Int, x1: Int)
    extends Serializable {
  /** Whether the `h × w` rectangle at (`top`, `left`) shares a pixel with
    * the window. */
  def intersects(top: Int, left: Int, h: Int, w: Int): Boolean =
    top < y1 && top + h > y0 && left < x1 && left + w > x0
}

/** Serializable conjunction of per-coordinate bounds — the catalog-prune
  * contract shared by the V2 scan and the facade's eager read
  * (`BioImage.getImageData`). The caller prunes scenes/levels and readers
  * prune their work descriptors (TIFF segments, zarr chunk keys) with
  * it BEFORE any byte of pixel data is read; the partition reader
  * re-applies it row-level so pushed filters are fully consumed
  * (residual coordinates a reader cannot prune at descriptor level —
  * e.g. the sample band inside an interleaved chunk — still never
  * leave the scan). `yx`, when set, also drops stored rectangles that
  * miss the window; the V2 scan never sets it. */
final case class PlanePredicate(
    sceneIdx: DimBound = DimBound(),
    sceneIds: Option[Set[String]] = None,
    level: DimBound = DimBound(),
    m: DimBound = DimBound(),
    t: DimBound = DimBound(),
    c: DimBound = DimBound(),
    z: DimBound = DimBound(),
    s: DimBound = DimBound(),
    yx: Option[YXWindow] = None) extends Serializable {
  def acceptsScene(idx: Int, id: String): Boolean =
    sceneIdx.accepts(idx) && sceneIds.forall(_.contains(id))
  def acceptsLevel(l: Int): Boolean = level.accepts(l)
  /** Descriptor-level prune on the coordinates every format indexes by. */
  def acceptsCoords(mi: Int, ti: Int, ci: Int, zi: Int): Boolean =
    m.accepts(mi) && t.accepts(ti) && c.accepts(ci) && z.accepts(zi)
  /** Descriptor-level prune on a stored rectangle: true without a window. */
  def acceptsRect(top: Int, left: Int, h: Int, w: Int): Boolean =
    yx.forall(_.intersects(top, left, h, w))
  def acceptsPlane(r: PlaneRow): Boolean =
    acceptsScene(r.scene_idx, r.scene_id) && level.accepts(r.level) &&
      acceptsCoords(r.m, r.t, r.c, r.z) && s.accepts(r.s) &&
      acceptsRect(r.y0, r.x0, r.h, r.w)
}

object PlanePredicate {
  val All: PlanePredicate = PlanePredicate()
}

/** One unit of scan work for a (scene, level) — what a reader hands the
  * V2 connector, the facade's eager read and its lazy `planes` from
  * [[BioReader.v2ScanWork]]. `objects` counts the stored objects (files /
  * zarr chunk or shard objects / TIFF segments) the unit reads — the
  * pruned-IO number the scan reports and specs pin. */
sealed trait ScanWork extends Serializable {
  def objects: Int
  /** The unit's plane rows, decoded where this is called. */
  def decode(): Iterator[PlaneRow]
}

/** Rows decoded at PLANNING time on the driver — the right shape for
  * the single-small-object formats (PNG/BMP/GIF, npy/npz members, MRC,
  * tar samples, AVI, in-memory arrays), which decode a whole object at
  * once: their lazy `planes` are these rows as a local Dataset, and the
  * V2 scan ships them to its tasks. Distributed formats return
  * [[DeferredRows]] instead. */
final case class InlineRows(rows: Seq[PlaneRow], objects: Int = 1)
    extends ScanWork {
  def decode(): Iterator[PlaneRow] = rows.iterator
}

/** Executor-side decode: the serializable thunk runs inside a task —
  * the V2 partition reader, a task of the lazy `planes`, or the eager
  * read's one job — so encoded bytes are fetched and decoded on
  * executors. The V2 scan and `planes` keep the decoded pixels there;
  * the eager read collects them to the driver. */
final case class DeferredRows(objects: Int,
    thunk: () => Iterator[PlaneRow]) extends ScanWork {
  def decode(): Iterator[PlaneRow] = thunk()
}

object ScanWork {
  /** A reader's descriptor catalog `descs` (TIFF segments, zarr chunk
    * keys), in stored order, cut into at most `defaultParallelism`
    * contiguous blocks — `parallelize`'s slicing, so a plane's tiles and
    * a shard's inner chunks stay in one task — each one [[DeferredRows]]
    * unit that runs `decode` over its block in a task. `objects` counts
    * a block's stored objects at planning. `decode` must close over
    * serializable values only, never the reader. */
  def deferred[D](spark: SparkSession, descs: Seq[D])(
      objects: Seq[D] => Int,
      decode: Iterator[D] => Iterator[PlaneRow]): Seq[ScanWork] = {
    val all = descs.toVector
    val n = all.length
    val slices = math.min(n, spark.sparkContext.defaultParallelism)
    (0 until slices).map { i =>
      val block = all.slice((i.toLong * n / slices).toInt,
        ((i + 1).toLong * n / slices).toInt)
      DeferredRows(objects(block), () => decode(block.iterator))
    }
  }

  /** The rows `work` holds at the driver, and its deferred units as one
    * RDD of one partition per unit (None when there is none). */
  private def split(spark: SparkSession,
      work: Seq[ScanWork]): (Seq[PlaneRow], Option[RDD[PlaneRow]]) = {
    val (inline, deferred) = work.partition(_.isInstanceOf[InlineRows])
    (inline.flatMap(_.decode()),
      if (deferred.isEmpty) None
      else Some(spark.sparkContext.parallelize(deferred, deferred.size)
        .flatMap(_.decode())))
  }

  /** `work` as a lazy plane table: inline rows as a local Dataset,
    * deferred units as one task each with no shuffle. */
  def frame(spark: SparkSession, work: Seq[ScanWork]): DataFrame = {
    import spark.implicits._
    split(spark, work) match {
      case (rows, None) => spark.createDataset(rows).toDF()
      case (Seq(), Some(tasks)) => spark.createDataset(tasks).toDF()
      case (rows, Some(tasks)) =>
        spark.createDataset(rows).union(spark.createDataset(tasks)).toDF()
    }
  }

  /** Runs `work` and returns its rows that `pred` accepts, at the driver:
    * inline units as they are, every deferred unit in ONE Spark job of
    * one task per unit (no job when there is none). */
  def collectRows(spark: SparkSession, work: Seq[ScanWork],
      pred: PlanePredicate): Seq[PlaneRow] = {
    val (rows, tasks) = split(spark, work)
    rows.filter(pred.acceptsPlane) ++
      tasks.fold(Seq.empty[PlaneRow])(
        _.filter(pred.acceptsPlane).collect().toSeq)
  }
}
