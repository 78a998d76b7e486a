package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The lake's POSITIONED reader: every read that needs a row's
  * physical position runs here — snapshots carrying MERGE-ON-READ
  * delete files (positional deletion vectors, equality deletes), and
  * clean snapshots whose query asks for `_pos` or the row-lineage
  * columns (then with an empty mask). The delegate scan's partitions
  * are RE-PLANNED to exactly one WHOLE file per partition, and no
  * predicate is pushed into parquet (predicate pushdown is the only
  * thing that makes the reader skip rows), so each partition yields
  * every row of its file in file order and a running counter IS the
  * row's position — the same 0-based file position the delete files
  * record and V1 `_metadata.row_index` reports. Each partition
  * carries only ITS file's positions, as a roaring-style compressed
  * bitmap ([[PositionBitmap]] — ~2 B/position sparse, ≤ 8 KiB per
  * 64 Ki rows dense) probed O(1) per row; masks apply per-partition
  * with zero joins or shuffles — the DV read shape. The reader
  * appends whichever of `_row_id`, `_last_updated_version`, `_file`
  * and `_pos` the query asks for. Filters the optimizer wanted pushed
  * are left for the post-scan Filter node (rows are masked first,
  * then filtered — the correct order); only whole FILES drop, from
  * the builders' static prunes. Aggregate pushdown
  * is deliberately absent: a footer-count would count masked rows.
  * Column pruning still delegates (dropping columns never drops
  * rows). Compact the table to return to the full pushdown stack —
  * DV chains are a between-compactions state, not a resting state.
  *
  * EQUALITY deletes ship scale-shaped: key tuples load ONCE on the
  * driver (bounded by `spark.graft.lake.eqDelete.maxKeys` — beyond
  * the budget the scan refuses and tells you to compact, so driver
  * memory is bounded by contract, not hope), are hashed into
  * [[UnsafeRow]] sets, and reach executors through a SINGLE
  * `SparkContext.broadcast` — one ship per executor, NOT a copy in
  * every task closure, so task-launch bytes stay independent of both
  * file count and key count (each [[DvInputPartition]] carries only
  * the INDICES of the deletes that apply to its file). The per-row
  * probe is an `UnsafeProjection` of the key ordinals hashed against
  * the set — byte comparison, zero boxing (null-safe by the unsafe
  * format's null bitset, matching the `<=>` write-side contract). */
final class GraftLakeDvScanBuilder(table: ParquetTable,
    tableSchema: StructType, deleteFiles: Seq[String],
    options: CaseInsensitiveStringMap,
    totalRows: Option[Long] = None,
    lineage: Option[Map[String, LakeRowLineage.FileLineage]] = None,
    pruneStats: Option[Map[String, LakeFileStats.FileStats]] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector
      .SupportsPushDownCatalystFilters {

  private def spark: SparkSession = SparkSession.active

  private val inner = table.newScanBuilder(options)

  /** STATIC MANIFEST-STATS FILE PRUNING over a MASKED snapshot
    * (read path only — `pruneStats` is None on the row-level rewrite,
    * whose commit must replace every file): a DV chain is the
    * steady state between compactions, and without this a point
    * lookup on a masked 100 TB table launches a task per file. Every
    * filter is returned as RESIDUAL (rows still filter above the
    * scan — parquet pushdown stays off, positions must count every
    * row), but a file whose manifest stats PROVE no row can match
    * drops from the batch — sound under masks: masks only remove
    * rows, and every row of a dropped file fails the predicate
    * anyway. */
  private var catalystFilters
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    Seq.empty

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    catalystFilters = catalystFilters ++ filters
    filters // ALL residual: the DV reader must see every row
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate] = Array.empty

  private def statsDropped: Set[String] = pruneStats match {
    case Some(stats) if catalystFilters.nonEmpty =>
      val v1 = catalystFilters.flatMap(e =>
        org.apache.spark.sql.graftbridge.FilterBridge.toV1(e))
      val minmax =
        if (v1.isEmpty) Set.empty[String]
        else {
          val dropped = stats.keysIterator.filter { p =>
            !v1.forall(f => LakeFileStats.possible(f, stats(p)))
          }.map(p =>
            new org.apache.hadoop.fs.Path(p).toString).toSet
          if (dropped.nonEmpty)
            LakeReadScanBuilder.lastStatsPrune.set(
              ((stats.size - dropped.size).toLong << 32) |
                stats.size.toLong)
          dropped
        }
      // manifest BLOOMS compose: point lookups on hash-distributed
      // keys prune under masks too
      minmax ++ LakeFilePrune.bloomDropped(catalystFilters,
        stats.keys.toSeq, stats)
    case _ => Set.empty
  }

  private val (eqFiles, posFiles) =
    deleteFiles.partition(VersionedTable.isEqualityDelete)

  /** EQUALITY-DELETE key columns must survive column pruning — the
    * reader filters on them — so the inner scan reads requested ∪
    * keys and the built scan projects back down ([[EqDelete]]). */
  private lazy val eqKeyCols: Seq[String] =
    eqFiles.flatMap(f => spark.read.parquet(f).columns).distinct

  private var requested: Option[StructType] = None
  private var served = Set.empty[String]
  private def wantsLineage = GraftLakeDvScan.wantsLineage(served)

  override def pruneColumns(requiredSchema: StructType): Unit = {
    requested = Some(requiredSchema)
    // the metadata columns strip from the inner read and the reader
    // appends them. ROW LINEAGE ([[LakeRowLineage]] — Iceberg v3
    // serves row lineage over deletion-vector tables): the running
    // position counter this scan already keeps for mask probing IS
    // the physical row position, so `_row_id` = manifest base + pos
    // (materialized physical value wins) composes with masks exactly.
    // The PHYSICAL lineage columns ride along when any file carries
    // them.
    served = GraftLakeDvScan.served(requiredSchema, tableSchema,
      lineage.isDefined)
    val dataReq = StructType(requiredSchema.fields.filterNot(f =>
      served(f.name.toLowerCase)))
    val withPhys =
      if (!wantsLineage) dataReq
      else StructType(dataReq.fields ++
        (table: org.apache.spark.sql.connector.catalog.Table)
          .schema().fields.filter(f =>
        LakeRowLineage.isInternalCol(f.name) &&
          !dataReq.fieldNames.exists(_.equalsIgnoreCase(f.name))))
    val widened =
      if (eqFiles.isEmpty) withPhys
      else {
        val missing = eqKeyCols.filterNot(k =>
          withPhys.fieldNames.exists(_.equalsIgnoreCase(k)))
        StructType(withPhys.fields ++ missing.flatMap(k =>
          tableSchema.fields.find(_.name.equalsIgnoreCase(k))))
      }
    inner match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(widened)
      case _ =>
    }
  }

  override def build(): Scan = {
    // load the positional masks once, driver-side, straight into
    // compressed bitmaps; deleted-rows-sized by construction (or the
    // table is due a compact)
    val positions: Map[String, PositionBitmap] =
      if (posFiles.isEmpty) Map.empty
      else spark.read
        .parquet(posFiles: _*)
        .collect()
        .groupBy(_.getString(0))
        .map { case (f, rows) =>
          f -> PositionBitmap.of(rows.iterator.map(_.getLong(1)))
        }
    // DRIVER-MEMORY BUDGET before any key materializes: footer row
    // counts (one metadata read per delete file) bound what collect()
    // would pull; a table past the budget must compact (or CALL
    // system.convert_deletes) — refusal beats an OOM'd driver.
    if (eqFiles.nonEmpty) {
      val budget = GraftLakeDvScan.eqKeyBudget(spark)
      val conf = spark.sparkContext.hadoopConfiguration
      val totalKeys =
        eqFiles.map(f => LakeFileStats.read(f, conf).rowCount).sum
      if (totalKeys > budget) throw new IllegalStateException(
        s"outstanding equality-delete keys ($totalKeys) exceed " +
          s"${GraftLakeDvScan.EqKeyBudgetConf}=$budget — CALL " +
          "system.compact or system.convert_deletes first (driver " +
          "memory for the key sets is bounded by contract)")
    }
    // equality deletes: each file's parquet schema IS its key set;
    // keys load in INTERNAL form and hash as UnsafeRows so the
    // executor probe is a byte compare, never a boxed tuple.
    // Applicability is by sequence: a delete born at version D masks
    // files born BEFORE D.
    val eqDeletes: Seq[EqDelete] = eqFiles.map { f =>
      val df = spark.read.parquet(f).distinct()
      val delV = LakePartitioning.fileVersionOfPath(f).getOrElse(
        throw new IllegalStateException(
          s"equality-delete file $f carries no version in its path"))
      val types = df.schema.fields.map(_.dataType)
      val proj = UnsafeProjection.create(types)
      val keys = new java.util.HashSet[UnsafeRow]()
      // executor-side copy: the scan iterator REUSES its row buffer,
      // so uncopied rows all alias the partition's last row
      df.queryExecution.toRdd.map(_.copy()).toLocalIterator.foreach { r =>
        keys.add(proj(r).copy())
      }
      EqDelete(delV, df.columns.toSeq, types.toSeq, keys)
    }
    new GraftLakeDvScan(inner.build(), positions, totalRows,
      eqDeletes,
      requested.filter(_ => eqFiles.nonEmpty || served.nonEmpty),
      served,
      lineageInfo = if (wantsLineage) lineage else None,
      dropped = statsDropped)
  }
}

private[sources] object GraftLakeDvScan {
  val LineageCols: Seq[String] =
    Seq(LakeRowLineage.RowIdCol, LakeRowLineage.LastUpdCol)

  /** The metadata columns the positioned reader appends, in the order
    * it appends them after the inner row. */
  val MetaCols: Seq[String] = LineageCols ++ Seq("_file", "_pos")

  /** The metadata columns of `req` the positioned reader serves
    * (lower-case): the lineage columns on lineage tables, `_file` and
    * `_pos` unless a data column of `dataSchema` shadows them. */
  def served(req: StructType, dataSchema: StructType,
      lineageOn: Boolean): Set[String] =
    req.fieldNames.map(_.toLowerCase).filter {
      case n @ ("_file" | "_pos") =>
        !dataSchema.fieldNames.exists(_.equalsIgnoreCase(n))
      case n => lineageOn && LineageCols.contains(n)
    }.toSet

  def wantsLineage(served: Set[String]): Boolean =
    LineageCols.exists(served)

  /** Hard cap on equality-delete keys a scan may materialize on the
    * driver (and broadcast). Past it the scan REFUSES with a
    * compact-first error: an equality-delete chain is a
    * between-compactions state, and the budget is what makes that a
    * contract instead of advice. */
  val EqKeyBudgetConf = "spark.graft.lake.eqDelete.maxKeys"
  val EqKeyBudgetDefault = 4000000L

  def eqKeyBudget(spark: SparkSession): Long =
    spark.conf.getOption(EqKeyBudgetConf).map(_.toLong)
      .getOrElse(EqKeyBudgetDefault)
}

/** One equality-delete file, driver-loaded: masks every key tuple in
  * `keys` (hashed UnsafeRows over `types`) on data files born before
  * `version`. */
private[sources] final case class EqDelete(version: Int,
    cols: Seq[String],
    types: Seq[DataType],
    keys: java.util.HashSet[UnsafeRow]) extends Serializable

/** The resolved, executor-facing form of all of a scan's equality
  * deletes — ONE broadcast value for the whole scan. */
private[sources] final case class ResolvedEqDeletes(
    ordinals: Array[Array[Int]],
    types: Array[Array[DataType]],
    keys: Array[java.util.HashSet[UnsafeRow]]) extends Serializable

/** `served` names the metadata columns (lower-case, a subset of
  * [[GraftLakeDvScan.MetaCols]]) the reader appends after the inner
  * row; `projectTo` maps the output onto inner ordinals and those.
  * `dropped` (decoded paths) are whole files the builder's static
  * prunes removed. */
final class GraftLakeDvScan(inner: Scan,
    deletes: Map[String, PositionBitmap],
    totalRows: Option[Long] = None,
    eqDeletes: Seq[EqDelete] = Seq.empty,
    projectTo: Option[StructType] = None,
    served: Set[String] = Set.empty,
    lineageInfo: Option[Map[String, LakeRowLineage.FileLineage]] = None,
    dropped: Set[String] = Set.empty)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType =
    projectTo.getOrElse(inner.readSchema())

  override def description(): String =
    s"GraftLakeDvScan(masked=${deletes.valuesIterator.map(_.cardinality).sum}" +
      (if (eqDeletes.isEmpty) ""
       else s", eqKeys=${eqDeletes.map(_.keys.size).sum}") +
      (if (served.isEmpty) ")"
       else s", metadata=${served.toSeq.sorted.mkString(",")})")

  /** LIVE-row statistics for the planner, from MANIFEST row counts
    * minus the masked rows — so join-side decisions (broadcast vs
    * shuffle, CBO reorder) see the table the query will actually
    * read: a DV table that masked 90% of its rows should broadcast
    * like the small table it now is. The delegate's byte estimate is
    * scaled proportionally; without a manifest total (pre-stats
    * table) the delegate's estimate passes through unchanged. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val masked = deletes.valuesIterator.map(_.cardinality).sum
    val baseBytes: java.util.OptionalLong = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics().sizeInBytes()
      case _ => java.util.OptionalLong.empty()
    }
    val live = totalRows.map(t => math.max(0L, t - masked))
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        (live, totalRows) match {
          case (Some(l), Some(t)) if t > 0 && baseBytes.isPresent =>
            java.util.OptionalLong.of(
              math.max(1L, baseBytes.getAsLong / t * l))
          case _ => baseBytes
        }
      override def numRows(): java.util.OptionalLong =
        live.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  override def toBatch: Batch = {
    val ib = inner.toBatch
    new Batch {
      /** One WHOLE file per partition: position = row counter. Each
        * partition carries ONLY its own file's delete bitmap —
        * resolved here at plan time (the driver already holds the
        * whole map), so the task closure ships a mask proportional
        * to that file's masked rows (compressed), not the table's,
        * and the reader never scans other files' positions. The
        * equality-delete key sets ship once, via broadcast; each
        * partition carries only the INDICES of the deletes that
        * APPLY to its file (born before the delete's version). */
      override def planInputPartitions(): Array[InputPartition] = {
        val files = ib.planInputPartitions().toSeq.flatMap {
          case fp: FilePartition => fp.files
          case other => throw new IllegalStateException(
            s"unexpected non-file partition $other under DV scan")
        }.filterNot(f => dropped.contains(f.filePath.toPath.toString))
        // delete files record V1 `_metadata.file_path` strings (URL
        // encoded); they and the split's SparkPath normalize through
        // hadoop Path
        val byKey = deletes.map { case (f, ps) =>
          new org.apache.hadoop.fs.Path(f).toString -> ps
        }
        // equality keys resolve to ordinals in the INNER read schema
        // here at plan time
        val innerSchema = inner.readSchema()
        def ordinal(c: String): Int = {
          val i = innerSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
          if (i < 0) throw new IllegalStateException(
            s"equality-delete key '$c' missing from the read schema " +
              innerSchema.fieldNames.mkString("(", ",", ")"))
          i
        }
        // served metadata columns are APPENDED by the reader after
        // the inner row, at ordinals n + their MetaCols index
        val n = innerSchema.length
        val projection = projectTo.map(p =>
          p.fieldNames.map { c =>
            if (served(c.toLowerCase))
              n + GraftLakeDvScan.MetaCols.indexOf(c.toLowerCase)
            else ordinal(c)
          }.toSeq)
        files
          .groupBy(_.filePath.toString).toSeq.sortBy(_._1)
          .zipWithIndex
          .map { case ((path, splits), i) =>
            val whole = splits.head.copy(start = 0L,
              length = splits.head.fileSize)
            val key = new org.apache.hadoop.fs.Path(path).toString
            // DECODED, byte-identical to the manifest path
            val decoded = splits.head.filePath.toPath.toString
            val born = LakePartitioning.fileVersionOfPath(key)
            val applicable = eqDeletes.indices.filter(j =>
              born.exists(_ < eqDeletes(j).version)).toArray
            val fl = lineageInfo.map(_.getOrElse(decoded,
              LakeRowLineage.FileLineage(-1L, 0))).orNull
            new DvInputPartition(FilePartition(i, Array(whole)),
              decoded, byKey.getOrElse(key, EmptyMask),
              applicable, projection, fl): InputPartition
          }.toArray
      }
      override def createReaderFactory(): PartitionReaderFactory = {
        val innerSchema = inner.readSchema()
        new DvReaderFactory(ib.createReaderFactory(),
          projectTo, innerSchema, resolvedEqBroadcast,
          appendMeta = served.nonEmpty,
          lineaged = lineageInfo.isDefined,
          matRid = innerSchema.fieldNames.indexWhere(
            _.equalsIgnoreCase(LakeRowLineage.PhysRowId)),
          matLu = innerSchema.fieldNames.indexWhere(
            _.equalsIgnoreCase(LakeRowLineage.PhysLastUpd)))
      }
    }
  }

  /** ONE broadcast for all of the scan's equality-delete keys — the
    * factory's broadcast handle serializes as a reference, so the
    * value ships once per executor regardless of task count. Lazy and
    * CACHED on the scan instance: a fresh broadcast per
    * createReaderFactory call (re-planned / re-executed scans) would
    * accumulate broadcast blocks on a table with an outstanding
    * eq-delete chain until GC happened to reclaim them. */
  private lazy val resolvedEqBroadcast
      : Option[Broadcast[ResolvedEqDeletes]] =
    if (eqDeletes.isEmpty) None
    else {
      val innerSchema = inner.readSchema()
      def ordinal(c: String): Int = {
        val i = innerSchema.fieldNames
          .indexWhere(_.equalsIgnoreCase(c))
        if (i < 0) throw new IllegalStateException(
          s"equality-delete key '$c' missing from the read " +
            "schema " +
            innerSchema.fieldNames.mkString("(", ",", ")"))
        i
      }
      val resolved = ResolvedEqDeletes(
        eqDeletes.map(_.cols.map(ordinal).toArray).toArray,
        eqDeletes.map(_.types.toArray).toArray,
        eqDeletes.map(_.keys).toArray)
      Some(SparkSession.active.sparkContext.broadcast(resolved))
    }

  private val EmptyMask = new PositionBitmap
}

/** A whole-file partition plus its decoded path, exactly ITS
  * positional delete bitmap and the INDICES (into the scan's
  * broadcast [[ResolvedEqDeletes]]) of the equality deletes that
  * apply to its file, plus the output projection when the read
  * widened for equality keys or appends metadata columns.
  * Deliberately carries NO key material — closure size is
  * independent of key and file counts (spec-pinned). */
private[sources] final class DvInputPartition(val file: FilePartition,
    val path: String,
    val mask: PositionBitmap,
    val eqIdx: Array[Int] = Array.emptyIntArray,
    val projection: Option[Seq[Int]] = None,
    val lineage: LakeRowLineage.FileLineage = null)
    extends InputPartition {
  override def preferredLocations(): Array[String] =
    file.preferredLocations()
}

/** `appendMeta` appends `[_row_id, _last_updated_version, _file,
  * _pos]` after the inner row (the projection picks the requested
  * ones). `lineaged` fills the first two: materialized physical value
  * (`matRid`/`matLu` inner ordinals, -1 = absent) when non-null,
  * manifest base + PHYSICAL position / birth version otherwise — the
  * position counter counts every row of the file (masked included),
  * so positions and ids are mask-independent. */
private final class DvReaderFactory(inner: PartitionReaderFactory,
    projectTo: Option[StructType] = None,
    innerSchema: StructType = new StructType(),
    eqBroadcast: Option[Broadcast[ResolvedEqDeletes]] = None,
    appendMeta: Boolean = false,
    lineaged: Boolean = false, matRid: Int = -1, matLu: Int = -1)
    extends PartitionReaderFactory {

  // masking happens row-wise; never hand out raw columnar batches
  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val dv = p.asInstanceOf[DvInputPartition]
    val r = inner.createReader(dv.file)
    val mask = dv.mask
    // executor-side: pull the broadcast value (one per executor) and
    // compile an UnsafeProjection per applicable delete — the probe
    // is projection + hash-set lookup on bytes, no per-row boxing
    val probes: Array[(UnsafeProjection, java.util.HashSet[UnsafeRow])] =
      eqBroadcast match {
        case Some(bc) if dv.eqIdx.nonEmpty =>
          val all = bc.value
          dv.eqIdx.map { j =>
            val ords = all.ordinals(j)
            val types = all.types(j)
            val proj = UnsafeProjection.create(
              ords.toIndexedSeq.zip(types).map { case (o, t) =>
                BoundReference(o, t, nullable = true)
              })
            (proj, all.keys(j))
          }
        case _ => Array.empty
      }
    val projector = (projectTo, dv.projection) match {
      case (Some(schema), Some(ords)) =>
        val pr = org.apache.spark.sql.catalyst.ProjectingInternalRow(
          schema, ords)
        Some(pr)
      case _ => None
    }
    val tail = if (appendMeta)
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(GraftLakeDvScan.MetaCols.size) else null
    if (appendMeta) tail.update(2,
      org.apache.spark.unsafe.types.UTF8String.fromString(dv.path))
    val joined = if (appendMeta)
      new org.apache.spark.sql.catalyst.expressions.JoinedRow else null
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private var current: InternalRow = _

      private def eqMasked(row: InternalRow): Boolean = {
        var i = 0
        while (i < probes.length) {
          val (proj, keys) = probes(i)
          if (keys.contains(proj(row))) return true
          i += 1
        }
        false
      }

      override def next(): Boolean = {
        while (r.next()) {
          pos += 1
          if (!mask.contains(pos)) {
            val row = r.get()
            if (probes.isEmpty || !eqMasked(row)) {
              val served: InternalRow =
                if (!appendMeta) row
                else {
                  if (lineaged) {
                    val fl = dv.lineage
                    tail.update(0,
                      if (matRid >= 0 && !row.isNullAt(matRid))
                        row.getLong(matRid)
                      else if (fl != null && fl.base >= 0L) fl.base + pos
                      else null)
                    tail.update(1,
                      if (matLu >= 0 && !row.isNullAt(matLu))
                        row.getInt(matLu)
                      else if (fl != null) fl.birth
                      else null)
                  }
                  tail.setLong(3, pos)
                  joined(row, tail)
                }
              current = projector match {
                case Some(pr) => pr.project(served); pr
                case None => served
              }
              return true
            }
          }
        }
        false
      }

      override def get(): InternalRow = current
      override def close(): Unit = r.close()
    }
  }
}
