package graft.sources

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetTable, ParquetWrite}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based copy-on-write row-level operation for the lake catalog —
  * the one machinery behind SQL `UPDATE`, `MERGE INTO` and every
  * copy-on-write `DELETE` (only a merge-on-read DELETE takes the
  * metadata-only path, [[GraftLakeTable.canDeleteWhere]]). The rewrite
  * group is a FILE, Delta/Iceberg's copy-on-write shape:
  *
  *  - **Scan side**: Spark's group-based planning hands the command's
  *    target-only conjuncts to [[LakeScanBuilder.pushFilters]] for
  *    GROUP pruning — and group semantics demand the scan then return
  *    EVERY row of each surviving group, so the builder deliberately
  *    does NOT forward those filters into parquet (footer/page pruning
  *    would silently drop unmatched rows of touched files, which the
  *    rewrite must copy forward). Instead it prunes from parquet
  *    FOOTER statistics on the driver ([[LakeFileStats]] — min/max/
  *    nullCount per file, conservative possibility test over the V1
  *    filter algebra): no cluster job at all, manifest-sized metadata
  *    IO, the Delta/Iceberg stats-pruning discipline. At execution
  *    Spark's runtime group filter narrows that selection to exactly
  *    the files holding a matching row (their `_file` values, from a
  *    subquery — [[LakeGroupScan]]). A selective UPDATE on a 100 TB
  *    table reads and rewrites the touched sliver, never the table.
  *  - **Write side**: the rewritten rows land through Spark's own V2
  *    parquet write ([[ParquetWrite]]) into a fresh immutable
  *    `files-v<N>-<nonce>/` dir; `commit` then publishes a manifest
  *    listing every UNSELECTED file by reference (byte-identical
  *    paths, zero IO) plus the new files — the same atomic
  *    manifest-rename commit point as every other lake write. The
  *    commit takes the next free version number at commit time; a
  *    commit that finds that manifest already published throws, but
  *    two truly concurrent committers can both win the
  *    check-then-rename today and one write is lost (ROADMAP item 4).
  *
  * If a statement plans multiple scans over the operation (Spark's
  * subquery-condition rewrites do), the replaced set is the UNION of
  * every scan's selection — a scan that never pruned keeps the whole
  * snapshot in, so the commit can only ever be conservative, never
  * lossy. Prior versions keep serving (time travel); [[VersionedTable
  * .vacuum]] reclaims replaced files after retention.
  */
final class GraftLakeRowLevelOperation(dir: String, cmd: Command,
    schema: StructType, branch: Option[String] = None,
    carried: Seq[StructField] = Seq.empty)
    extends RowLevelOperation {

  private def spark: SparkSession = SparkSession.active

  /** Snapshot pinned at first USE (lazy: the analyzer builds this
    * operation eagerly even for deletes the optimizer later converts
    * to the metadata-only path — eager IO here would tax those): the
    * statement reads and replaces the table's HEAD (branch-staged
    * manifests are not the table) — or, under a WAP branch, THAT
    * branch's head (created at the main head on first use) — and the
    * commit publishes the next free version number, labeled and
    * ref-advanced when staged. */
  private lazy val pinnedV: Int = branch match {
    case Some(b) => VersionedTable.ensureBranch(spark, dir, b)
    case None =>
      VersionedTable.headVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed version at $dir"))
  }
  private lazy val snap: VersionedTable.Snapshot =
    VersionedTable.snapshotOf(spark, dir, pinnedV)
  private def snapshotFiles: Seq[String] = snap.dataFiles

  private val scans = mutable.Buffer.empty[LakeRewriteScan]

  override def command(): Command = cmd

  override def description(): String =
    s"GraftLakeRowLevel($cmd, $dir @ v$pinnedV)"

  /** ROW LINEAGE through the rewrite ([[LakeRowLineage]]): when the
    * table declares it, the operation asks Spark for the lineage
    * METADATA columns; the group-based `ReplaceData` plan then reads
    * them ([[LakeScanBuilder]] serves them via [[GraftLakeDvScan]]),
    * nullifies per the preservation contract (update → null
    * `_last_updated_version`, reinsert → null both), and hands them
    * back to the write (`DataWriter.write(meta, row)`), which
    * MATERIALIZES them as the hidden physical columns — ids survive
    * UPDATE/MERGE/DELETE. */
  private lazy val lineageOn: Boolean =
    VersionedTable.lineageEnabled(spark, dir, snap.meta)

  /** The metadata the rewrite carries, as (metadata column, the
    * physical column the write appends it as), in
    * [[requiredMetadataAttributes]] order: the lineage columns, then
    * `carried` — stored hidden columns a DELETE copies through
    * unchanged (the shredded-JSON columns: a DELETE does not change a
    * surviving row, so its stored values stay exact). */
  private lazy val metaCols: Seq[(String, StructField)] =
    (if (!lineageOn) Seq.empty
     else Seq(
       LakeRowLineage.RowIdCol ->
         StructField(LakeRowLineage.PhysRowId, LongType),
       LakeRowLineage.LastUpdCol ->
         StructField(LakeRowLineage.PhysLastUpd, IntegerType))) ++
      carried.map(f => f.name -> f)

  private def metaFields: Seq[StructField] = metaCols.map(_._2)

  /** `_file` rides last among the metadata the rewrite reads, unless a
    * data column of that name shadows it: it is the runtime group
    * filter's key ([[LakeGroupScan.filterAttributes]]) and is never
    * written. */
  private def fileCol: Boolean =
    !schema.fieldNames.exists(_.equalsIgnoreCase(LakeGroupScan.FileCol))

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (metaCols.map(_._1) ++
      (if (fileCol) Seq(LakeGroupScan.FileCol) else Nil))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  /** What the rewrite scans read: the data columns plus the carried
    * hidden ones, which the scan serves under their metadata names. */
  private def scanSchema: StructType = StructType(schema.fields ++ carried)

  /** Clean snapshots get the group-pruning scan; snapshots with
    * outstanding merge-on-read delete files read through the
    * DV-APPLYING scan (only LIVE rows feed the rewrite — a raw scan
    * would resurrect masked rows) with every file selected, so the
    * commit publishes a fully materialized clean snapshot: a
    * row-level rewrite on a DV table doubles as its compaction,
    * Delta's copy-on-write-over-DV semantics. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val b: ScanBuilder with LakeRewriteScan =
      if (snap.deleteFiles.isEmpty)
        new LakeScanBuilder(snapshotFiles, scanSchema, options,
          snap.stats,
          lineage =
            if (lineageOn) Some(LakeRowLineage.perFile(snap)) else None)
      else {
        // mask-bearing snapshot: the DV-applying scan feeds the
        // rewrite — and on lineage tables it also SERVES the identity
        // metadata columns (manifest base + physical position /
        // materialized value — mask-independent), so row-level DML
        // over deletion vectors preserves row ids end-to-end and the
        // commit doubles as the chain's compaction
        val physSchema = StructType(schema.fields ++ metaFields)
        val inner = new GraftLakeDvScanBuilder(
          ParquetTable("lake_rewrite_dv_scan", spark,
            CaseInsensitiveStringMap.empty(),
            snap.dataFiles, Some(physSchema),
            classOf[ParquetFileFormat]),
          schema, snap.deleteFiles, options,
          lineage =
            if (lineageOn) Some(LakeRowLineage.perFile(snap)) else None)
        new ScanBuilder with LakeRewriteScan
            with org.apache.spark.sql.connector.read
              .SupportsPushDownRequiredColumns {
          // forward pruning: the DV builder strips the identity
          // metadata columns off the inner read (appending them at
          // the reader) and projects the scan back to exactly the
          // requested schema — without the forward, the widened
          // physical schema would leak into the rewrite plan
          override def pruneColumns(required: StructType): Unit =
            inner.pruneColumns(required)
          override def build(): org.apache.spark.sql.connector.read.Scan =
            inner.build()
          override def selectedFiles: Seq[String] = snap.dataFiles
        }
      }
    scans.synchronized { scans += b }
    b
  }

  /** Files whose groups the statement read — everything the commit
    * must replace. No scans planned (degenerate) → conservative all.
    * When Spark's runtime group filter narrowed a scan at execution
    * ([[RowLevelOperationRuntimeGroupFiltering]] — only the scan
    * under ReplaceData, i.e. the WRITE's input, ever receives runtime
    * predicates), the replaced set must equal exactly THAT scan's
    * final selection: unioning in the matching-rows subquery scan's
    * wider static selection would remove files whose rows the write
    * never produced — the row-loss trap. A runtime-dropped file holds
    * no matching row (the subquery named every file that does), so
    * carrying it forward by reference is exact. */
  private def replacedFiles: Seq[String] = scans.synchronized {
    if (scans.isEmpty) snapshotFiles
    else {
      val narrowed = scans.filter(_.runtimeNarrowed)
      val sel = (if (narrowed.nonEmpty) narrowed else scans)
        .flatMap(_.selectedFiles).toSet
      snapshotFiles.filter(sel.contains)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        // a PARTITIONED table's rewrite routes rows into per-value
        // claim dirs, so replacement files keep the key-claim layout
        // and the SPJ contract SURVIVES row-level DML; the declared
        // layout (partition clustering, or a clustered table's range
        // shuffle + sort) comes back on the replacement files too
        val partSpecs = LakePartitioning.specOf(spark, dir)
        val l = LakePartitioning.writeLayout(spark, dir, partSpecs)
        new Write with LakePartitioning.DeclaredLayout {
          override protected def layout = l
          override def toBatch: BatchWrite = batchWrite(info, partSpecs)
        }
      }
    }

  private def batchWrite(info: LogicalWriteInfo,
      partSpecs: Option[Seq[LakePartitioning.Spec]]): BatchWrite = {
    // next FREE number, not pinnedV+1: branch-staged manifests share
    // the sequence, and a collision would fail the rename
    val newV = VersionedTable.nextVersion(spark, dir)
    val dataDir = s"$dir/files-v$newV-" +
      java.util.UUID.randomUUID().toString.take(8)
    // the metadata the rewrite carries lands as hidden physical
    // columns: the file schema widens by [[metaFields]] and the writer
    // joins them on per row ([[MetadataColumnsWriterFactory]])
    val writeSchema = StructType(info.schema().fields ++ metaFields)
    val writeInfo: LogicalWriteInfo =
      if (metaFields.isEmpty) info
      else new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap = info.options()
        override def queryId(): String = info.queryId()
        override def schema(): StructType = writeSchema
      }
    val inner = partSpecs match {
      case None =>
        ParquetWrite(Seq(dataDir), "parquet",
          (_: org.apache.spark.sql.types.DataType) => true,
          writeInfo).toBatch
      case Some(specs) =>
        // partition-routing fanout: claims restore with the rewrite,
        // published from the tasks' COMMIT MESSAGES (a speculative
        // attempt's stray files are never referenced; vacuum sweeps
        // them). Partition columns keep their ordinals under the
        // widened schema (metadata fields append at the END), so the
        // router is exact.
        new LakeFanoutBatchWrite(dataDir,
          org.apache.spark.sql.graftbridge.ParquetRowWriterBridge
            .prepare(spark, writeSchema),
          LakePartitioning.rowRouter(specs, writeSchema),
          spark.sparkContext.hadoopConfiguration)
    }
    new BatchWrite {
      override def createBatchWriterFactory(
          p: PhysicalWriteInfo): DataWriterFactory =
        if (requiredMetadataAttributes().nonEmpty)
          new MetadataColumnsWriterFactory(
            inner.createBatchWriterFactory(p),
            metaFields.map(_.dataType).toArray)
        else new OpStrippingWriterFactory(
          inner.createBatchWriterFactory(p), info.schema())
      override def useCommitCoordinator(): Boolean =
        inner.useCommitCoordinator()
      override def commit(msgs: Array[WriterCommitMessage]): Unit = {
        inner.commit(msgs)
        val s = spark
        val replaced = replacedFiles.toSet
        val kept = snapshotFiles.filterNot(replaced.contains)
        val fresh = inner match {
          case f: LakeFanoutBatchWrite => f.committedFiles(s, msgs)
          case _ => VersionedTable.listDataFiles(s, dir, dataDir)
        }
        // DV path replaces every file (scan applied the masks), so the
        // published snapshot is clean; on the pruned COW path no masks
        // existed to carry
        val deletes =
          if (kept.isEmpty) Seq.empty[String] else snap.deleteFiles
        // carried files keep manifest stats by reference; only the
        // fresh files' footers are read at publish, and the recorded
        // schema learns what this write wrote. Staged (WAP) DML
        // labels the manifest and advances the branch ref — main is
        // untouched until fast_forward.
        val meta = branch match {
          case Some(b) => snap.meta + (VersionedTable.BranchMetaKey -> b)
          case None => snap.meta
        }
        VersionedTable.publishVersion(s, dir, newV, kept ++ fresh,
          writeSchema, deletes, snap.stats, meta,
          op = cmd.toString.toLowerCase)
        branch.foreach(b => VersionedTable.moveBranch(s, dir, b, newV))
        ()
      }
      override def abort(msgs: Array[WriterCommitMessage]): Unit =
        inner.abort(msgs)
    }
  }
}

/** Partition-routing BATCH write for row-level rewrites over a
  * PARTITIONED table: each task opens one parquet file per partition
  * value it sees under the staged data dir's nested
  * `__graft_part*=<v>/` claim dirs (the same layout every other
  * routing writer lands), and its commit message carries the exact
  * file paths — the publish references ONLY message-committed files,
  * so a speculative or failed attempt's strays are never referenced
  * and vacuum sweeps them. */
private final class LakeFanoutBatchWrite(dataDir: String,
    prepared: org.apache.spark.sql.graftbridge.ParquetRowWriterBridge.Prepared,
    router: org.apache.spark.sql.catalyst.InternalRow => String,
    @transient hadoopConf: org.apache.hadoop.conf.Configuration)
    extends BatchWrite {
  import org.apache.spark.sql.catalyst.InternalRow

  override def createBatchWriterFactory(
      p: PhysicalWriteInfo): DataWriterFactory =
    LakeFanoutWriterFactory(dataDir, prepared, router)

  override def useCommitCoordinator(): Boolean = true

  override def commit(msgs: Array[WriterCommitMessage]): Unit = ()

  override def abort(msgs: Array[WriterCommitMessage]): Unit = {
    // driver-side cleanup: the SESSION Hadoop conf (spark.hadoop.*
    // credentials included) — a bare new Configuration() would fail
    // silently on configured filesystems, leaving strays to vacuum
    val p = new org.apache.hadoop.fs.Path(dataDir)
    p.getFileSystem(hadoopConf).delete(p, true)
    ()
  }

  /** The committed replacement files — exactly the tasks' messages,
    * fully qualified to manifest form. */
  def committedFiles(spark: SparkSession,
      msgs: Array[WriterCommitMessage]): Seq[String] = {
    val f = new org.apache.hadoop.fs.Path(dataDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    msgs.toSeq.collect { case LakeBatchFilesMessage(paths) =>
      paths.map(p =>
        f.makeQualified(new org.apache.hadoop.fs.Path(p)).toString)
    }.flatten
  }
}

private final case class LakeBatchFilesMessage(paths: Seq[String])
    extends WriterCommitMessage

/** Serializable fanout task writer: one open parquet file per
  * partition value the task sees, nested claim dirs, paths reported
  * through the commit message. */
private final case class LakeFanoutWriterFactory(dataDir: String,
    prepared: org.apache.spark.sql.graftbridge.ParquetRowWriterBridge.Prepared,
    router: org.apache.spark.sql.catalyst.InternalRow => String)
    extends DataWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val open = scala.collection.mutable.LinkedHashMap
        .empty[String, (String, org.apache.parquet.hadoop.ParquetWriter[InternalRow])]

      override def write(row: InternalRow): Unit = {
        val sub = router(row)
        val (_, w) = open.getOrElseUpdate(sub, {
          val p0 = s"$dataDir/${sub}part-$partitionId-$taskId-" +
            java.util.UUID.randomUUID().toString.take(8) + ".parquet"
          (p0, prepared.open(p0))
        })
        w.write(row)
      }

      override def commit(): WriterCommitMessage = {
        open.values.foreach(_._2.close())
        LakeBatchFilesMessage(open.values.map(_._1).toSeq)
      }

      override def abort(): Unit =
        open.values.foreach { case (path, w) =>
          w.close()
          // task-side cleanup with the SAME captured session conf the
          // writer opened the file with, never a bare Configuration()
          val p = new org.apache.hadoop.fs.Path(path)
          p.getFileSystem(prepared.hadoopConf).delete(p, false)
        }

      override def close(): Unit = ()
    }
}

/** Adapts a plain file-writer factory to the rows a group-based
  * `ReplaceData` feeds a connector that declared NO metadata
  * attributes: Spark prepends `__row_operation`
  * (`RowDeltaUtils.OPERATION_COLUMN`) to every row and — with no
  * metadata projection — hands the WIDE row straight to the writer
  * (`ReplaceDataExec.writingTask` falls back to the plain task), so
  * the connector strips the op column itself, exactly what the
  * metadata-ful path's `ProjectingInternalRow` would have done.
  * Rows tagged `DELETE_OPERATION` are skipped defensively (group-based
  * plans drop deleted rows before the write; if one ever surfaced,
  * writing it back would resurrect it). */
private final class OpStrippingWriterFactory(
    inner: DataWriterFactory, dataSchema: StructType)
    extends DataWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int,
      taskId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        dataSchema, 1 to dataSchema.length)
      override def write(row: InternalRow): Unit = {
        if (row.numFields == dataSchema.length) w.write(row)
        else if (row.getInt(0) ==
            org.apache.spark.sql.catalyst.util.RowDeltaUtils.DELETE_OPERATION) {
          // dropped: a delete must not be written back
        } else { proj.project(row); w.write(proj) }
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** Writes the metadata a row-level rewrite carries as hidden
  * physical columns: Spark hands each row with its metadata row
  * (`DataWriter.write(meta, row)`, in
  * [[GraftLakeRowLevelOperation.requiredMetadataAttributes]] order),
  * and the file row is the data row with the metadata values joined
  * on — `_row_id`/`_last_updated_version` as the materialized lineage
  * columns, a DELETE's carried shredded-JSON columns as themselves;
  * the trailing `_file` is not written.
  * Spark already nullified what must not carry (update → null
  * `_last_updated_version`, reinsert → null both); nulls materialize
  * as nulls, and the read side's manifest fallback serves fresh
  * lineage for them. */
private final class MetadataColumnsWriterFactory(
    inner: DataWriterFactory,
    types: Array[org.apache.spark.sql.types.DataType])
    extends DataWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int,
      taskId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      private val tail = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(types.length)

      override def write(meta: InternalRow, row: InternalRow): Unit = {
        var i = 0
        while (i < types.length) {
          tail.update(i, if (meta.isNullAt(i)) null else meta.get(i, types(i)))
          i += 1
        }
        w.write(joined(row, tail))
      }

      override def write(row: InternalRow): Unit = {
        var i = 0
        while (i < types.length) { tail.setNullAt(i); i += 1 }
        w.write(joined(row, tail))
      }

      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** Per-file column statistics merged across parquet row groups, plus
  * a CONSERVATIVE possibility test over the V1 filter algebra — the
  * Delta/Iceberg group-pruning discipline, computed from FOOTERS on
  * the driver with no cluster job (a rewrite's group prune costs
  * manifest-sized metadata IO, exactly like planning any scan of that
  * snapshot). "Conservative" is the load-bearing word: `possible`
  * returns false only when the stats PROVE no row can match —
  * unknown types, missing stats, negations, and mixed numeric
  * families all answer true, so pruning can only ever keep extra
  * files, never lose a group. */
private[graft] object LakeFileStats {

  /** Per-column (min, max, nullCount) over the whole file; None =
    * unknown. Values normalized to Long / Double / String / Boolean.
    * `truncated` marks bounds that survived the manifest's
    * string-bound truncation ([[toJson]]): still valid for
    * conservative pruning, but NOT the exact min/max — the
    * stats-answered aggregate path must refuse them. */
  final case class ColStats(min: Option[Any], max: Option[Any],
      nullCount: Option[Long], truncated: Boolean = false)

  /** Per-file manifest stats. `blooms` (col → [[graft.functions
    * .BloomSketch]] bitset, built at commit when `graft.bloom.columns`
    * declares the columns) answers what min/max cannot: POINT-LOOKUP
    * pruning on a hash-distributed key — every file of an unclustered
    * table spans the full key range, but a `k = ?` probe drops every
    * file whose bloom proves absence, before any task launches.
    * `firstRowId` is the file's ROW-LINEAGE id base (Iceberg v3
    * `first_row_id`): assigned once at commit on lineage-enabled
    * tables ([[LakeRowLineage.assignRowIds]]), carried by reference
    * forever after.
    * `ndv` (col → serialized theta sketch,
    * [[graft.functions.Theta]], built at commit when
    * `graft.ndv.columns` declares the columns) carries per-file
    * DISTINCT-COUNT sketches: mergeable at plan time into the scan's
    * reported column statistics, so the CBO sees lake tables through
    * real NDVs instead of row counts alone. */
  final case class FileStats(cols: Map[String, ColStats], rowCount: Long,
      blooms: Map[String, Array[Byte]] = Map.empty,
      firstRowId: Option[Long] = None,
      ndv: Map[String, Array[Byte]] = Map.empty,
      hist: Map[String, Array[Byte]] = Map.empty)

  /** Footer opens performed by [[read]] — the instrumentation hook the
    * manifest-stats specs pin "zero footer IO during group pruning"
    * against. Commit-time stats computation counts here too (that IS
    * a footer read); the specs measure the pruning phase alone. */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  def read(path: String, conf: org.apache.hadoop.conf.Configuration)
      : FileStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    footerReads.incrementAndGet()
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      // per column: merged bounds, summed nulls, and a poison flag for
      // any block whose non-null range cannot be determined
      final case class Acc(min: Option[Any], max: Option[Any],
          nulls: Option[Long], poisoned: Boolean)
      val acc = scala.collection.mutable.Map.empty[String, Acc]
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          if (c.getPath.size == 1) {
            val name = c.getPath.toDotString
            val st = c.getStatistics
            val isString = c.getPrimitiveType.getLogicalTypeAnnotation
              .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            def norm(v: AnyRef): Option[Any] =
              c.getPrimitiveType.getPrimitiveTypeName match {
                case INT32 | INT64 => Some(v.asInstanceOf[Number]
                  .longValue())
                case FLOAT | DOUBLE => Some(v.asInstanceOf[Number]
                  .doubleValue())
                case BOOLEAN => Some(v.asInstanceOf[java.lang.Boolean]
                  .booleanValue())
                case BINARY if isString => Some(
                  v.asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8)
                case _ => None
              }
            val nullsB =
              if (st != null && st.isNumNullsSet) Some(st.getNumNulls)
              else None
            val allNull = nullsB.contains(b.getRowCount)
            val (mnB, mxB) =
              if (allNull || st == null || !st.hasNonNullValue)
                (None, None)
              else (norm(st.genericGetMin.asInstanceOf[AnyRef]),
                norm(st.genericGetMax.asInstanceOf[AnyRef]))
            // poisoned: the block HAS non-null rows but no usable range
            val poisonB = !allNull && (mnB.isEmpty || mxB.isEmpty)
            val p = acc.getOrElse(name,
              Acc(None, None, Some(0L), poisoned = false))
            acc(name) = Acc(
              pick(p.min, mnB, keepFirst = le),
              pick(p.max, mxB, keepFirst = ge),
              for (x <- p.nulls; y <- nullsB) yield x + y,
              p.poisoned || poisonB)
          }
        }
      }
      FileStats(acc.map { case (n, a) =>
        n -> (if (a.poisoned) ColStats(None, None, a.nulls)
        else ColStats(a.min, a.max, a.nulls))
      }.toMap, rowCount)
    } finally r.close()
  }

  private def le(a: Any, b: Any): Boolean = cmp(a, b).exists(_ <= 0)
  private def ge(a: Any, b: Any): Boolean = cmp(a, b).exists(_ >= 0)

  /** Merge bounds where None is NEUTRAL (an all-null block contributes
    * no range); undeterminable blocks are handled via the poison flag. */
  private def pick(a: Option[Any], b: Option[Any],
      keepFirst: (Any, Any) => Boolean): Option[Any] = (a, b) match {
    case (Some(x), Some(y)) => Some(if (keepFirst(x, y)) x else y)
    case (Some(x), None) => Some(x)
    case (None, y) => y
  }

  /** Same-family comparison; None = incomparable (conservative). */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** Normalize a V1 filter literal into the stats value domain. */
  private def normLit(v: Any): Option[Any] = v match {
    case x: Int => Some(x.toLong)
    case x: Long => Some(x)
    case x: Short => Some(x.toLong)
    case x: Byte => Some(x.toLong)
    case x: Float => Some(x.toDouble)
    case x: Double => Some(x)
    case x: String => Some(x)
    case x: Boolean => Some(x)
    case _ => None
  }

  /** May any row of the file match `f`? False only on stats PROOF.
    * A zero-row file (CREATE TABLE's schema bearer, an emptied
    * snapshot) proves every filter impossible. */
  def possible(f: Filter, fs: FileStats): Boolean = {
    if (fs.rowCount == 0L) return false
    def range(a: String): Option[(Any, Any)] =
      fs.cols.get(a).flatMap(c => for (mn <- c.min; mx <- c.max)
        yield (mn, mx))
    def test(attr: String, v: Any)(p: (Int, Int) => Boolean): Boolean =
      (range(attr), normLit(v)) match {
        case (Some((mn, mx)), Some(x)) =>
          (cmp(mn, x), cmp(mx, x)) match {
            case (Some(cMin), Some(cMax)) => p(cMin, cMax)
            case _ => true
          }
        case _ => true
      }
    f match {
      case sources.AlwaysFalse() => false
      case sources.EqualTo(a, v) =>
        test(a, v)((cMin, cMax) => cMin <= 0 && cMax >= 0)
      case sources.EqualNullSafe(a, v) if v != null =>
        test(a, v)((cMin, cMax) => cMin <= 0 && cMax >= 0) ||
          possible(sources.IsNull(a), fs)
      case sources.GreaterThan(a, v) => test(a, v)((_, cMax) => cMax > 0)
      case sources.GreaterThanOrEqual(a, v) =>
        test(a, v)((_, cMax) => cMax >= 0)
      case sources.LessThan(a, v) => test(a, v)((cMin, _) => cMin < 0)
      case sources.LessThanOrEqual(a, v) =>
        test(a, v)((cMin, _) => cMin <= 0)
      case sources.In(a, vs) =>
        vs.isEmpty || vs.exists(v => possible(sources.EqualTo(a, v), fs))
      case sources.IsNull(a) =>
        fs.cols.get(a).flatMap(_.nullCount).forall(_ > 0)
      case sources.IsNotNull(a) =>
        fs.cols.get(a).flatMap(_.nullCount).forall(_ < fs.rowCount)
      case sources.And(l, r) => possible(l, fs) && possible(r, fs)
      case sources.Or(l, r) => possible(l, fs) || possible(r, fs)
      case _ => true // Not(...), string matches, unknown: no proof
    }
  }

  // ------------------------------------------------ manifest serialization
  // Stats persist INTO the manifest at commit time (the Delta/Iceberg
  // stats discipline) so group pruning, CDC merge bounds, and the
  // `versions` metadata table never re-open parquet footers. One line
  // of JSON per file; values carry a one-letter type tag (l/d/s/b) so
  // Long-vs-Double round-trips exactly. Jackson escapes control chars,
  // so the JSON is single-line by construction and safe to append
  // tab-separated after the manifest's path field.

  /** Longest string bound persisted verbatim; longer strings truncate
    * Iceberg-style: min → prefix (≤ actual min, conservative), max →
    * prefix with its last char bumped (≥ actual max) or dropped when
    * no char can bump — pruning only ever KEEPS extra files. */
  private val MaxBoundLen = 64

  private def truncMin(s: String): String =
    if (s.length <= MaxBoundLen) s
    else {
      val cut = if (Character.isHighSurrogate(s.charAt(MaxBoundLen - 1)))
        MaxBoundLen - 1 else MaxBoundLen
      s.substring(0, cut)
    }

  private def truncMax(s: String): Option[String] =
    if (s.length <= MaxBoundLen) Some(s)
    else {
      val t = truncMin(s)
      // bump the rightmost bumpable char; stay below the surrogate
      // range so the result is always valid UTF-16
      val i = t.lastIndexWhere(c => c < 0xD7FF)
      if (i < 0) None
      else Some(t.substring(0, i) + (t.charAt(i) + 1).toChar)
    }

  import org.json4s._

  private def tagged(v: Any): Option[JObject] = v match {
    case x: Long => Some(JObject("l" -> JLong(x)))
    case x: Double =>
      // NaN/Inf are not JSON; drop the bound (conservative)
      if (java.lang.Double.isFinite(x)) Some(JObject("d" -> JDouble(x)))
      else None
    case x: String => Some(JObject("s" -> JString(x)))
    case x: Boolean => Some(JObject("b" -> JBool(x)))
    case _ => None
  }

  private def untag(j: JValue): Option[Any] = j match {
    case JObject(fields) => fields.headOption.flatMap {
      case ("l", v) => numLong(v)
      case ("d", v) => num(v)
      case ("s", JString(s)) => Some(s)
      case ("b", JBool(b)) => Some(b)
      case _ => None
    }
    case _ => None
  }

  private def num(j: JValue): Option[Double] = j match {
    case JLong(n) => Some(n.toDouble)
    case JInt(n) => Some(n.toDouble)
    case JDouble(n) => Some(n)
    case JDecimal(n) => Some(n.toDouble)
    case _ => None
  }

  private def numLong(j: JValue): Option[Long] = j match {
    case JLong(n) => Some(n)
    case JInt(n) => Some(n.toLong)
    case JDouble(n) => Some(n.toLong)
    case JDecimal(n) => Some(n.toLong)
    case _ => None
  }

  def toJson(fs: FileStats): String = {
    val cols = fs.cols.toSeq.sortBy(_._1).map { case (name, c) =>
      val mn = c.min.map {
        case s: String => truncMin(s)
        case other => other
      }.flatMap(tagged)
      val mx = c.max.flatMap {
        case s: String => truncMax(s)
        case other => Some(other)
      }.flatMap(tagged)
      // a bound that truncation changed (or dropped) is still a valid
      // conservative range but no longer the exact min/max; the flag
      // tells the stats-aggregate path to refuse this column
      val trunc = c.truncated ||
        c.min.exists { case s: String => truncMin(s) != s; case _ => false } ||
        c.max.exists { case s: String => !truncMax(s).contains(s)
          case _ => false }
      val fields = mn.map("min" -> (_: JValue)).toList ++
        mx.map("max" -> (_: JValue)).toList ++
        c.nullCount.map(n => "nulls" -> (JLong(n): JValue)).toList ++
        (if (trunc) List("t" -> (JBool(true): JValue)) else Nil)
      name -> (JObject(fields: _*): JValue)
    }
    val blooms =
      if (fs.blooms.isEmpty) Nil
      else List("blooms" -> (JObject(fs.blooms.toSeq.sortBy(_._1)
        .map { case (n, bits) =>
          n -> (JString(java.util.Base64.getEncoder
            .encodeToString(bits)): JValue)
        }: _*): JValue))
    val frid = fs.firstRowId
      .map(b => "frid" -> (JLong(b): JValue)).toList
    val ndv =
      if (fs.ndv.isEmpty) Nil
      else List("ndv" -> (JObject(fs.ndv.toSeq.sortBy(_._1)
        .map { case (n, bytes) =>
          n -> (JString(java.util.Base64.getEncoder
            .encodeToString(bytes)): JValue)
        }: _*): JValue))
    val hist =
      if (fs.hist.isEmpty) Nil
      else List("hist" -> (JObject(fs.hist.toSeq.sortBy(_._1)
        .map { case (n, bytes) =>
          n -> (JString(java.util.Base64.getEncoder
            .encodeToString(bytes)): JValue)
        }: _*): JValue))
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        JObject(("rows" -> (JLong(fs.rowCount): JValue)) ::
          ("cols" -> (JObject(cols: _*): JValue)) ::
          blooms ::: frid ::: ndv ::: hist: _*)))
  }

  def fromJson(s: String): Option[FileStats] =
    try {
      val j = org.json4s.jackson.JsonMethods.parse(s)
      numLong(j \ "rows").map { rows =>
        val cols = (j \ "cols") match {
          case JObject(fields) => fields.map { case (name, cj) =>
            val nulls = cj \ "nulls" match {
              case JNothing => None
              case v => numLong(v)
            }
            // an "l"-tagged min with a "d"-tagged max would compare as
            // incomparable downstream — fromJson keeps them as-is; cmp's
            // same-family rule already answers conservatively
            val trunc = cj \ "t" match {
              case JBool(b) => b
              case _ => false
            }
            name -> ColStats(untag(cj \ "min"), untag(cj \ "max"),
              nulls, trunc)
          }.toMap
          case _ => Map.empty[String, ColStats]
        }
        val blooms = (j \ "blooms") match {
          case JObject(fields) => fields.flatMap {
            case (name, JString(b64)) =>
              try Some(name ->
                java.util.Base64.getDecoder.decode(b64))
              catch { case _: IllegalArgumentException => None }
            case _ => None
          }.toMap
          case _ => Map.empty[String, Array[Byte]]
        }
        def b64Map(key: String): Map[String, Array[Byte]] =
          (j \ key) match {
            case JObject(fields) => fields.flatMap {
              case (name, JString(b64)) =>
                try Some(name ->
                  java.util.Base64.getDecoder.decode(b64))
                catch { case _: IllegalArgumentException => None }
              case _ => None
            }.toMap
            case _ => Map.empty[String, Array[Byte]]
          }
        FileStats(cols, rows, blooms, firstRowId = numLong(j \ "frid"),
          ndv = b64Map("ndv"), hist = b64Map("hist"))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** A rewrite scan that can report which snapshot files it selected —
  * the groups the statement's commit must replace. `runtimeNarrowed`
  * marks a scan whose selection was tightened by Spark's runtime
  * group filter at execution: that scan IS the ReplaceData write
  * input, so its selection alone defines the replaced set. */
private[sources] trait LakeRewriteScan {
  def selectedFiles: Seq[String]
  def runtimeNarrowed: Boolean = false
}

/** Scan builder whose filter pushdown prunes GROUPS (files), never
  * rows — see [[GraftLakeRowLevelOperation]]. Starts conservative
  * (whole snapshot selected) and narrows only when stats prove files
  * match-free. Stats come from the MANIFEST when the commit embedded
  * them (`manifestStats` — zero IO of any kind here, the
  * Delta/Iceberg discipline; spec-pinned via
  * [[LakeFileStats.footerReads]]); a pre-stats file falls back to one
  * driver-side footer read, and its stats get embedded by the next
  * commit. */
final class LakeScanBuilder(allFiles: Seq[String],
    schema: StructType, options: CaseInsensitiveStringMap,
    manifestStats: Map[String, LakeFileStats.FileStats] = Map.empty,
    lineage: Option[Map[String, LakeRowLineage.FileLineage]] = None)
    extends ScanBuilder with LakeRewriteScan
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read
      .SupportsPushDownRequiredColumns {

  private def spark: SparkSession = SparkSession.active

  /** Column pruning never drops rows, so group semantics are safe;
    * recorded to detect a LINEAGE request (the metadata columns the
    * rewrite plan reads when [[GraftLakeRowLevelOperation
    * .requiredMetadataAttributes]] declared them). */
  private var requested: Option[StructType] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    requested = Some(requiredSchema)

  @volatile private var selected: Seq[String] = allFiles
  @volatile private[sources] var runtimeSelected: Option[Seq[String]] = None
  private var pruningFilters: Array[Filter] = Array.empty

  def selectedFiles: Seq[String] = runtimeSelected.getOrElse(selected)

  override def runtimeNarrowed: Boolean = runtimeSelected.isDefined

  private[sources] def staticSelected: Seq[String] = selected

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (filters.nonEmpty && allFiles.nonEmpty) {
      try {
        val conf = spark.sparkContext.hadoopConfiguration
        selected = allFiles.filter { p =>
          val stats = manifestStats.getOrElse(p,
            LakeFileStats.read(p, conf))
          filters.forall(f => LakeFileStats.possible(f, stats))
        }
        pruningFilters = filters
      } catch {
        case NonFatal(_) => selected = allFiles // conservative: no prune
      }
    }
    // EVERYTHING is residual: group-based rewrites keep the command
    // condition in their projection/join, and this scan must emit all
    // rows of selected files — claiming filters as handled here would
    // be the row-loss bug the class doc describes.
    filters
  }

  /** Reported for EXPLAIN visibility: the conjuncts used for group
    * pruning (still re-evaluated by the rewrite plan above the scan). */
  override def pushedFilters(): Array[Filter] = pruningFilters

  /** The group scan, wrapped for RUNTIME group filtering
    * ([[LakeGroupScan]]): Spark's
    * `RowLevelOperationRuntimeGroupFiltering` computes the `_file` of
    * every row the command matches in a subquery at execution and
    * hands the set here as an IN predicate — every other file drops
    * from the rewrite AND from the replaced set (a DELETE, UPDATE or
    * MERGE rewrites exactly the files holding a match, beyond what
    * the static condition could prove at plan time — Iceberg's
    * runtime group filter shape). */
  override def build(): Scan = {
    val wantsLineage = lineage.isDefined && requested.exists(r =>
      r.fieldNames.exists(n =>
        n.equalsIgnoreCase(LakeRowLineage.RowIdCol) ||
          n.equalsIgnoreCase(LakeRowLineage.LastUpdCol)))
    if (!wantsLineage)
      new LakeGroupScan(
        ParquetTable("lake_rewrite_scan", spark,
          CaseInsensitiveStringMap.empty(),
          selected, Some(schema), classOf[ParquetFileFormat])
          .newScanBuilder(options).build(),
        this,
        // the metadata column, unless a data column shadows it
        fileCol = !schema.fieldNames.exists(
            _.equalsIgnoreCase(LakeGroupScan.FileCol)) &&
          requested.exists(_.fieldNames.exists(
            _.equalsIgnoreCase(LakeGroupScan.FileCol))))
    else {
      // lineage-serving rewrite scan: the parquet table's declared
      // schema gains the hidden physical lineage columns (absent
      // files read them as null — the manifest fallback covers
      // those), the inner builder prunes to data + physical lineage,
      // and the positioned reader ([[GraftLakeDvScan]], empty mask)
      // appends the metadata columns over whole-file partitions.
      // Runtime group narrowing is bypassed here (conservative: the
      // static selection is replaced), and no parquet predicates were
      // ever pushed — positions stay exact.
      val req = requested.get
      val served = GraftLakeDvScan.served(req, schema, lineageOn = true)
      val dataFields = req.fields.filterNot(f =>
        served(f.name.toLowerCase))
      val mats = Seq(
        org.apache.spark.sql.types.StructField(
          LakeRowLineage.PhysRowId,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          LakeRowLineage.PhysLastUpd,
          org.apache.spark.sql.types.IntegerType))
        .filterNot(m => dataFields.exists(
          _.name.equalsIgnoreCase(m.name)))
      val wide = StructType(schema.fields.filterNot(f =>
        LakeRowLineage.isInternalCol(f.name)) ++ mats)
      val innerB = ParquetTable("lake_rewrite_scan", spark,
        CaseInsensitiveStringMap.empty(),
        selected, Some(wide), classOf[ParquetFileFormat])
        .newScanBuilder(options)
      val innerReq = StructType(dataFields ++ mats)
      innerB match {
        case p: org.apache.spark.sql.connector.read
            .SupportsPushDownRequiredColumns => p.pruneColumns(innerReq)
        case _ =>
      }
      // the commit replaces this builder's STATIC selection (runtime
      // group narrowing does not flow through the positioned reader —
      // conservative, never lossy)
      new GraftLakeDvScan(innerB.build(), Map.empty,
        projectTo = Some(req), served = served, lineageInfo = lineage)
    }
  }
}

/** Rewrite scan wrapper carrying `SupportsRuntimeV2Filtering` for
  * group-based row-level operations. With `fileCol` the scan serves
  * the `_file` metadata column (one split per partition, the path a
  * per-partition constant — [[LakeFileColumnScan]]'s shape) and
  * declares it the runtime filter key: the `_file IN (...)` predicate
  * narrows the file set to exactly the files the subquery named, the
  * batch keeps the surviving files' splits only, and the narrowed
  * selection is pushed back into the builder so the COMMIT replaces
  * exactly what the write read. Statistics delegate unchanged. */
private[sources] final class LakeGroupScan(inner: Scan,
    builder: LakeScanBuilder, fileCol: Boolean) extends Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.execution.datasources.FilePartition

  override def readSchema(): StructType =
    if (fileCol) LakeFileColumnScan.withFileCol(inner.readSchema())
    else inner.readSchema()

  override def description(): String = {
    val extra =
      if (builder.runtimeNarrowed)
        s", RuntimeGroupPrunedFiles: " +
          s"${builder.staticSelected.size - builder.selectedFiles.size}/" +
          s"${builder.staticSelected.size}"
      else ""
    inner.description() + extra
  }

  /** `_file` alone, Iceberg's key: the matching-rows subquery then
    * names exactly the files holding a match. Exactly one attribute
    * either way — Spark's runtime group filter builds a single
    * IN-subquery over a struct of ALL declared attributes, and a
    * struct IN does not translate to a V2 predicate. Without `_file`
    * (a data column shadows it) the rewrite keeps its static
    * selection. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!fileCol) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(LakeGroupScan.FileCol))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    LakeGroupScan.filterCalls.incrementAndGet()
    LakeFilePrune.fileColKept(
      predicates.toSeq.flatMap(p =>
        org.apache.spark.sql.graftbridge.PredicateBridge.toV1(p)),
      builder.staticSelected)
      .foreach { kept =>
        builder.runtimeSelected = Some(kept)
        LakeGroupScan.lastPrune.set(
          (kept.size.toLong << 32) | builder.staticSelected.size.toLong)
      }
  }

  override def toBatch: Batch = {
    val ib = inner.toBatch
    new Batch {
      override def planInputPartitions(): Array[InputPartition] = {
        val parts = builder.runtimeSelected match {
          case None => ib.planInputPartitions()
          case Some(keptSeq) =>
            val kept = keptSeq.map(p => new Path(p).toString).toSet
            ib.planInputPartitions().toSeq
              .map {
                case fp: FilePartition =>
                  // decoded lookup: kept is keyed by manifest paths
                  fp.files.filter(f => kept.contains(
                    f.filePath.toPath.toString))
                case other => throw new IllegalStateException(
                  s"unexpected non-file partition $other under rewrite scan")
              }
              .filter(_.nonEmpty)
              .zipWithIndex
              .map { case (fs, i) =>
                FilePartition(i, fs): InputPartition }
              .toArray
        }
        if (fileCol) LakeFileColumnScan.perSplit(parts) else parts
      }
      override def createReaderFactory(): PartitionReaderFactory =
        if (fileCol) LakeFileColumnScan.readerFactory(ib.createReaderFactory())
        else ib.createReaderFactory()
    }
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      s.estimateStatistics()
    case _ => new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (fileCol) Scan.ColumnarSupportMode.UNSUPPORTED
    else inner.columnarSupportMode()
}

private[graft] object LakeGroupScan {
  /** The runtime group filter key: the path of a row's data file. */
  val FileCol = "_file"

  /** Spec instrumentation, mirroring [[LakeRuntimeFilterScan.lastPrune]]:
    * runtime group-filter invocations and the last (kept<<32|total). */
  val filterCalls = new java.util.concurrent.atomic.AtomicLong(0L)
  val lastPrune = new java.util.concurrent.atomic.AtomicLong(-1L)
}
