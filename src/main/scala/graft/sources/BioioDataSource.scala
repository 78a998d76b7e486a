package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.BioSpark
import graft.core.PlaneRow
import graft.plugins.{DimBound, PlanePredicate, ScanWork}

/** DataSource V2 face of the plugin registry — `spark.read
  * .format("bioio").load(path)` — the SURVEY §2.1 S5/S11 mechanism
  * mapping: every registered format reader becomes reachable from
  * plain SQL/DataFrame code with no facade import, and scene/level/
  * t/c/z predicates PUSH DOWN into the registry's own catalog prune.
  *
  * The table is the canonical long-form plane table (one row per Y×X
  * plane, [[graft.core.PlaneRow]] schema) over ALL scenes and ALL
  * resolution levels of the container — the same layout the parquet
  * plane store persists, so `level = 0` selects the base pyramid tier
  * exactly as it does there.
  *
  * Pushdown contract ([[BioioScanBuilder]]): filters on the plane
  * coordinate columns are translated into a [[PlanePredicate]] and
  * consumed — scenes/levels prune at planning, each reader prunes its
  * own work descriptors (TIFF strip/tile segments, zarr chunk/shard
  * objects) before any pixel byte is read, and the partition reader
  * re-applies the predicate row-level so residual coordinates (e.g.
  * the sample band inside an interleaved chunk) never leave the scan.
  * Everything else is returned to Spark for post-scan evaluation.
  *
  * Scale shape: planning reads only format METADATA (headers, IFD
  * chains, zarr manifests — KB-sized regardless of data size); pixels
  * decode executor-side inside [[graft.plugins.DeferredRows]] tasks for
  * the distributed formats. Single-small-object formats (PNG, npy, MRC,
  * tar samples, AVI) ride [[graft.plugins.InlineRows]] planned at the
  * driver — the cost shape their lazy planes have; their unit of 100 TB
  * parallelism is many FILES, which is exactly many V2 tables or a
  * tar-shard fleet. */
class BioioDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bioio"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BioioDataSource.PlaneSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "bioio source requires a path: spark.read.format(\"bioio\").load(path)"))
    val fsKwargs = properties.asScala.toMap - "path" - "paths"
    new BioioTable(path, fsKwargs)
  }
}

object BioioDataSource {
  /** The plane-table schema (product-encoder schema of [[PlaneRow]]). */
  val PlaneSchema: StructType =
    org.apache.spark.sql.Encoders.product[PlaneRow].schema

  private val NumericDims =
    Set("scene_idx", "level", "m", "t", "c", "z", "s")

  /** Fold one supported filter into the predicate; None = unsupported
    * (left for Spark's post-scan evaluation). */
  private[sources] def narrow(p: PlanePredicate,
      f: Filter): Option[PlanePredicate] = {
    def long(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue())
      case _ => None
    }
    def onDim(a: String)(g: DimBound => DimBound): PlanePredicate = a match {
      case "scene_idx" => p.copy(sceneIdx = g(p.sceneIdx))
      case "level" => p.copy(level = g(p.level))
      case "m" => p.copy(m = g(p.m))
      case "t" => p.copy(t = g(p.t))
      case "c" => p.copy(c = g(p.c))
      case "z" => p.copy(z = g(p.z))
      case "s" => p.copy(s = g(p.s))
    }
    f match {
      case EqualTo(a, v) if NumericDims(a) =>
        long(v).map(l => onDim(a)(_.narrowEq(Set(l))))
      case EqualNullSafe(a, v) if NumericDims(a) =>
        long(v).map(l => onDim(a)(_.narrowEq(Set(l))))
      case In(a, vs) if NumericDims(a) =>
        val ls = vs.toSeq.map(long)
        if (ls.forall(_.isDefined))
          Some(onDim(a)(_.narrowEq(ls.flatten.toSet)))
        else None
      case GreaterThan(a, v) if NumericDims(a) =>
        long(v).map(l => onDim(a)(_.narrowLo(l + 1)))
      case GreaterThanOrEqual(a, v) if NumericDims(a) =>
        long(v).map(l => onDim(a)(_.narrowLo(l)))
      case LessThan(a, v) if NumericDims(a) =>
        long(v).map(l => onDim(a)(_.narrowHi(l - 1)))
      case LessThanOrEqual(a, v) if NumericDims(a) =>
        long(v).map(l => onDim(a)(_.narrowHi(l)))
      case EqualTo("scene_id", v: String) =>
        Some(p.copy(sceneIds = Some(
          p.sceneIds.map(_.intersect(Set(v))).getOrElse(Set(v)))))
      case In("scene_id", vs) if vs.forall(_.isInstanceOf[String]) =>
        val set = vs.toSet.asInstanceOf[Set[String]]
        Some(p.copy(sceneIds = Some(
          p.sceneIds.map(_.intersect(set)).getOrElse(set))))
      // non-null by construction on every column — consumed as a no-op
      case IsNotNull(a) if NumericDims(a) || a == "scene_id" => Some(p)
      case _ => None
    }
  }
}

private[sources] class BioioTable(path: String,
    fsKwargs: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"bioio:$path"
  override def schema(): StructType = BioioDataSource.PlaneSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new BioioScanBuilder(path, fsKwargs)
}

private[sources] class BioioScanBuilder(path: String,
    fsKwargs: Map[String, String]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pred: PlanePredicate = PlanePredicate.All
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = BioioDataSource.PlaneSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val rest = Array.newBuilder[Filter]
    val ok = Array.newBuilder[Filter]
    filters.foreach { f =>
      BioioDataSource.narrow(pred, f) match {
        case Some(p2) => pred = p2; ok += f
        case None => rest += f
      }
    }
    pushed = ok.result()
    rest.result()
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new BioioScan(path, fsKwargs, pred,
    pushed, required)
}

/** One planned unit of scan work (serializable; rows or a deferred
  * executor-side decode thunk). */
private[sources] case class BioioInputPartition(work: ScanWork)
    extends InputPartition

private[sources] class BioioScan(path: String,
    fsKwargs: Map[String, String], pred: PlanePredicate,
    val pushedFilters: Array[Filter], required: StructType)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Stored objects the planned scan will read (post-prune) — the
    * pruned-IO number specs pin against the unfiltered plan. */
  @volatile var plannedObjects: Int = -1

  override def description(): String =
    s"bioio $path pushed=[${pushedFilters.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    // planning is driver-side metadata work: resolve the reader through
    // the plugin registry (KB-sized header reads), prune scenes/levels
    // from the predicate, then let each reader prune its own descriptor
    // catalog before emitting work units
    val spark = SparkSession.active
    val (_, reader) =
      BioSpark.defaultRegistry.determinePluginWithRetry(spark, path, fsKwargs)
    val work = reader.scenes.zipWithIndex.flatMap { case (id, idx) =>
      if (!pred.acceptsScene(idx, id)) Seq.empty
      else reader.resolutionLevels(idx).filter(pred.acceptsLevel)
        .flatMap(level => reader.v2ScanWork(idx, level, pred))
    }
    plannedObjects = work.map(_.objects).sum
    work.map(w => BioioInputPartition(w): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    BioioReaderFactory(required.fieldNames, pred)
}

/** Executor-side reader: runs the work unit, re-applies the pushed
  * predicate row-level (making the pushdown exact), and projects
  * [[PlaneRow]]s onto the pruned column set. */
private[sources] case class BioioReaderFactory(fields: Array[String],
    pred: PlanePredicate) extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val filtered = partition.asInstanceOf[BioioInputPartition].work.decode()
      .filter(pred.acceptsPlane)
    new PartitionReader[InternalRow] {
      private var current: PlaneRow = _
      override def next(): Boolean =
        if (filtered.hasNext) { current = filtered.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(fields.map[Any] {
          case "scene_idx" => current.scene_idx
          case "scene_id" => UTF8String.fromString(current.scene_id)
          case "level" => current.level
          case "m" => current.m
          case "t" => current.t
          case "c" => current.c
          case "z" => current.z
          case "s" => current.s
          case "y0" => current.y0
          case "x0" => current.x0
          case "h" => current.h
          case "w" => current.w
          case "pixels" => UnsafeArrayData.fromPrimitiveArray(current.pixels)
        })
      override def close(): Unit = ()
    }
  }
}
