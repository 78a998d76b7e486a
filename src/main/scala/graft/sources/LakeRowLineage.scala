package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** ROW LINEAGE (Iceberg v3 row lineage / Delta row tracking): stable
  * per-row identity that survives compaction and row-level rewrites,
  * served as two METADATA columns —
  *
  *  - `_row_id` (BIGINT): assigned monotonically at commit with ZERO
  *    data IO — the manifest records each data file's
  *    `firstRowId` ([[LakeFileStats.FileStats.firstRowId]], Iceberg's
  *    `first_row_id` inheritance) and a row's id is
  *    `firstRowId + position` until a rewrite MATERIALIZES it into
  *    the physical `__graft_row_id` column, after which the column
  *    value wins. Fresh rows (inserts, MERGE reinserts) read null
  *    from the materialized column and fall back to the NEW file's
  *    manifest base — fresh ids, no coordination.
  *  - `_last_updated_version` (INT): the commit that last wrote the
  *    row — file birth version until materialized
  *    (`__graft_last_upd`); Spark's row-level machinery NULLIFIES it
  *    on UPDATE (`MetadataColumn.PRESERVE_ON_UPDATE = false` →
  *    [[org.apache.spark.sql.catalyst.analysis.RewriteRowLevelCommand]]
  *    nullifyMetadataOnUpdate), so an updated row re-inherits the
  *    replacement file's birth = the update's commit version, while
  *    copied rows carry their materialized value through.
  *
  * Why it matters at 100 TB: a downstream MERGE consuming a change
  * feed needs an idempotency key that survives the upstream table's
  * own maintenance — row ids give exactly-once apply across
  * compactions that rewrite every physical file.
  *
  * Scale shape: assignment is manifest arithmetic (no data read, no
  * coordination — each commit claims a contiguous id range from the
  * `graft.rowid.next` watermark); serving is per-partition constants
  * plus a row counter (the [[GraftLakeDvScan]] whole-file-partition
  * discipline); preservation piggybacks on rewrites the table was
  * doing anyway (the lineage columns ride the rewritten files).
  * Lineage reads give up parquet predicate pushdown (positions must
  * count every row) but keep FILE-level pruning — static partition
  * claims and manifest blooms drop whole files, which never breaks
  * position counting. */
private[graft] object LakeRowLineage {

  /** Table property that turns lineage on (CREATE or ALTER). */
  val Prop = "graft.row.lineage"
  /** Snapshot-meta high watermark: the next unassigned row id. */
  val NextKey = "graft.rowid.next"
  /** Served metadata column names. */
  val RowIdCol = "_row_id"
  val LastUpdCol = "_last_updated_version"
  /** Physical (hidden) column names rewrites materialize. */
  val PhysRowId = "__graft_row_id"
  val PhysLastUpd = "__graft_last_upd"

  def isInternalCol(name: String): Boolean =
    name.equalsIgnoreCase(PhysRowId) || name.equalsIgnoreCase(PhysLastUpd)

  /** Lineage declared for this table? Reads `_properties` directly
    * through the given FileSystem (callers inside [[VersionedTable
    * .publish]] have no SparkSession) — one tiny metadata read per
    * commit, only reached when the property file exists. */
  def declared(f: FileSystem, dir: String): Boolean = {
    val p = new Path(s"$dir/_properties")
    if (!f.exists(p)) return false
    val in = f.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n").exists { l =>
      val i = l.indexOf('=')
      i > 0 && l.take(i).trim == Prop &&
        l.drop(i + 1).trim.equalsIgnoreCase("true")
    }
  }

  /** Commit-time id assignment — MANIFEST ARITHMETIC ONLY. Every data
    * file whose stats lack a `firstRowId` claims the next contiguous
    * range (rowCount wide, deterministic path order); the watermark
    * is monotone even across [[VersionedTable.restore]] (max of the
    * carried meta and every assigned range end). A lineage-enabled
    * file WITHOUT stats refuses loudly: no row count, no range. */
  def assignRowIds(dataFiles: Seq[String],
      stats: Map[String, LakeFileStats.FileStats],
      meta: Map[String, String])
      : (Map[String, LakeFileStats.FileStats], Map[String, String]) = {
    val carriedNext = meta.get(NextKey).map(_.toLong).getOrElse(0L)
    val assignedMax = dataFiles.flatMap(p =>
      stats.get(p).flatMap(s => s.firstRowId.map(_ + s.rowCount)))
      .foldLeft(0L)(math.max)
    var next = math.max(carriedNext, assignedMax)
    val needing = dataFiles
      .filter(p => stats.get(p).forall(_.firstRowId.isEmpty)).sorted
    needing.foreach { p =>
      if (!stats.contains(p)) throw new IllegalStateException(
        s"row lineage needs per-file row counts, but $p has no " +
          "manifest stats (unreadable footer?)")
    }
    val assigned = needing.map { p =>
      val fs0 = stats(p)
      val base = next
      next += fs0.rowCount
      p -> fs0.copy(firstRowId = Some(base))
    }
    (stats ++ assigned, meta + (NextKey -> next.toString))
  }

  /** Per-file serving info, resolved at plan time from the manifest:
    * id base (-1 = never assigned, serves null) and birth version. */
  final case class FileLineage(base: Long, birth: Int)
      extends Serializable

  def perFile(snap: VersionedTable.Snapshot): Map[String, FileLineage] =
    snap.dataFiles.map { p =>
      new Path(p).toString -> FileLineage(
        snap.stats.get(p).flatMap(_.firstRowId).getOrElse(-1L),
        LakePartitioning.fileVersionOfPath(p).getOrElse(0))
    }.toMap
}
