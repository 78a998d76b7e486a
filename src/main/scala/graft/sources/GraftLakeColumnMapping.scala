package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.connector.read.{Batch, Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** COLUMN MAPPING — Delta's `columnMapping` / Iceberg's field-id
  * discipline re-expressed over the manifest store: `ALTER TABLE
  * RENAME COLUMN` and `DROP COLUMN` without touching a byte of
  * committed data. Parquet stores bytes under each file's write-time
  * PHYSICAL column name; the mapping (snapshot metadata, atomic with
  * its commit and therefore exact under time travel — `VERSION AS OF`
  * a pre-rename snapshot serves the old names) translates between the
  * table's LOGICAL schema and those physical names:
  *
  *  - `graft.schema.map` = `l1:p1,l2:p2,…` — the logical schema IS
  *    this list (order included); each logical name reads the
  *    physical column `p` in every data file;
  *  - `graft.schema.dropped` = `p1,p2,…` — physical names retired by
  *    DROP COLUMN. Old files still hold their bytes, but no logical
  *    column maps to them — and a LATER `ADD COLUMN` re-using the
  *    logical name gets a FRESH suffixed physical name, so dropped
  *    data can never resurrect (the column-mapping trap).
  *
  * Translation surfaces: reads rename at the scan boundary (pruning
  * and pushed filters go logical→physical, the scan presents its
  * output logical — rows are positional, no per-row work); appends
  * rename logical→physical before landing files so every file in the
  * table keeps ONE consistent physical name per column; manifest
  * stats re-key physical→logical so the metadata-only aggregate and
  * file-pruning paths speak logical unchanged. Rewrites that replace
  * ALL files (compact, INSERT OVERWRITE, TRUNCATE) write current
  * logical names and CLEAR the mapping — physical = logical again,
  * the re-earned clean state. Row-level DML and merge-on-read deletes
  * refuse on a mapped table (compact first) rather than risk
  * physical/logical confusion inside Spark's rewrite plans. */
object LakeColumnMapping {

  /** Snapshot-metadata key: the logical→physical field list. */
  val MapMeta = "graft.schema.map"

  /** Snapshot-metadata key: retired physical names (DROP COLUMN). */
  val DroppedMeta = "graft.schema.dropped"

  final case class Mapping(fields: Seq[(String, String)],
      dropped: Seq[String]) {

    def physicalOf(logical: String): Option[String] =
      fields.find(_._1.equalsIgnoreCase(logical)).map(_._2)

    def logicalOf(physical: String): Option[String] =
      fields.find(_._2.equalsIgnoreCase(physical)).map(_._1)

    /** Every physical name this table has EVER written — the set a
      * new column's physical name must avoid. */
    def usedPhysical: Set[String] =
      (fields.map(_._2) ++ dropped).map(_.toLowerCase).toSet

    def serializedMap: String =
      fields.map { case (l, p) => s"$l:$p" }.mkString(",")

    def serializedDropped: String = dropped.mkString(",")

    /** Identity mapping (every logical IS its physical) — what a
      * never-evolved table implicitly has. */
    def isIdentity: Boolean =
      dropped.isEmpty && fields.forall { case (l, p) => l == p }

    def metaEntries: Map[String, String] = {
      val m = Map(MapMeta -> serializedMap)
      if (dropped.isEmpty) m else m + (DroppedMeta -> serializedDropped)
    }
  }

  def fromMeta(meta: Map[String, String]): Option[Mapping] =
    meta.get(MapMeta).map { s =>
      val fields = s.split(",").toSeq.filter(_.nonEmpty).map { e =>
        val i = e.indexOf(':')
        require(i > 0, s"malformed $MapMeta entry: $e")
        (e.take(i), e.drop(i + 1))
      }
      val dropped = meta.get(DroppedMeta).toSeq
        .flatMap(_.split(",").toSeq).filter(_.nonEmpty)
      Mapping(fields, dropped)
    }

  def identityOf(schema: StructType): Mapping =
    Mapping(schema.fieldNames.toSeq.map(n => (n, n)), Seq.empty)

  /** Column names ride in `:`/`,`-separated manifest metadata — keep
    * them out of the separator alphabet (and the manifest line
    * format). Loud: a silently mangled mapping corrupts every read. */
  def validateName(n: String): String = {
    require(n.nonEmpty && !n.exists(c =>
      c == ':' || c == ',' || c == '=' || c == '\n' || c == '\t'),
      s"column name '$n' cannot participate in column mapping " +
        "(reserved characters : , = tab newline)")
    n
  }

  /** The table's logical schema: mapping order, physical types. A
    * mapped physical column missing from every footer is a corrupted
    * table — loud, never a silent drop. */
  def logicalSchema(m: Mapping, physical: StructType): StructType =
    StructType(m.fields.map { case (l, p) =>
      val f = physical.fields.find(_.name.equalsIgnoreCase(p))
        .getOrElse(throw new IllegalStateException(
          s"column mapping names physical column '$p' (logical '$l') " +
            s"but no data file carries it; physical schema: " +
            physical.fieldNames.mkString("(", ",", ")")))
      StructField(l, f.dataType, f.nullable, f.metadata)
    })

  /** Write-side rename for APPENDS: mapped logical columns → their
    * physical names (unmapped columns pass through — implicit
    * widening lands them under their own name, though they stay
    * invisible until an explicit ADD COLUMN maps them). */
  def toPhysical(df: DataFrame, m: Mapping): DataFrame = {
    val cols = df.columns.map { c =>
      m.physicalOf(c) match {
        case Some(p) if p != c => col(c).as(p)
        case _ => col(c)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Logical pruned schema → physical request for the inner parquet
    * builder (order preserved; `_file` and other non-mapped names
    * pass through untouched). */
  def pruneToPhysical(m: Mapping, required: StructType): StructType =
    StructType(required.fields.map { f =>
      m.physicalOf(f.name).map(p => f.copy(name = p)).getOrElse(f)
    })

  /** Catalyst predicate translation for pushdown: logical attribute
    * references become physical. Everything else in the expression
    * tree is name-free and passes through. */
  def exprToPhysical(m: Mapping, e: Expression): Expression =
    e.transform {
      case a: AttributeReference =>
        m.physicalOf(a.name).map(p => a.withName(p)).getOrElse(a)
    }

  /** Manifest stats re-key: physical column keys → logical, so every
    * stats consumer (metadata-only aggregates, runtime file pruning,
    * group pruning) speaks the table's logical names. Physical
    * columns with no logical name (dropped) fall away — nothing may
    * prune or answer on them. */
  def statsToLogical(m: Mapping,
      snap: VersionedTable.Snapshot): VersionedTable.Snapshot =
    snap.copy(stats = snap.stats.map { case (path, fs) =>
      path -> fs.copy(
        cols = fs.cols.flatMap { case (p, cs) =>
          m.logicalOf(p).map(_ -> cs)
        },
        ndv = fs.ndv.flatMap { case (p, sk) =>
          m.logicalOf(p).map(_ -> sk)
        })
    })

  /** Fresh physical name for ADD COLUMN on a mapped table: the
    * logical name itself unless some file ever wrote that physical
    * name (including dropped columns — re-using it would resurrect
    * dead bytes), else a version-suffixed fresh name. */
  def freshPhysical(m: Mapping, logical: String, version: Int): String = {
    if (!m.usedPhysical.contains(logical.toLowerCase)) logical
    else {
      var i = version
      var cand = s"${logical}__p$i"
      while (m.usedPhysical.contains(cand.toLowerCase)) {
        i += 1; cand = s"${logical}__p$i"
      }
      cand
    }
  }
}

/** Presents a physical parquet scan under the table's LOGICAL column
  * names: `readSchema` renames by the mapping (rows are positional —
  * no per-row work, the batch/reader factory pass through untouched,
  * columnar path included). */
final class LakeMappedScan(inner: Scan, m: LakeColumnMapping.Mapping)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType =
    StructType(inner.readSchema().fields.map { f =>
      m.logicalOf(f.name).map(l => f.copy(name = l)).getOrElse(f)
    })

  override def description(): String =
    inner.description() + ", ColumnMapping: " + m.serializedMap

  override def toBatch: Batch = inner.toBatch

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      s.estimateStatistics()
    case _ => new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }
}
