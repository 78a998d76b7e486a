package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReaderFactory, Scan, SupportsPushDownAggregates, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.graftbridge.{DelegatingFileScanBuilder, PredicateBridge}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The lake catalog's READ scan builder: Spark's own parquet pushdown
  * stack (filters, column pruning, nested pruning — all forwarded to
  * the wrapped `ParquetScanBuilder`) plus the two manifest-stats read
  * optimizations Delta/Iceberg ship and plain `ParquetTable` cannot:
  *
  *  1. **Metadata-only aggregates** ([[LakeStatsAggregate]]):
  *     `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)` with no
  *     WHERE and no GROUP BY are answered entirely from the
  *     manifest's per-file stats — the scan collapses to a
  *     [[LocalScan]] with ONE driver-computed row: zero cluster jobs,
  *     zero data-file opens, zero footer reads on a stats-bearing
  *     table (spec-pinned via [[LakeFileStats.footerReads]]). On a
  *     100 TB table `SELECT count(*)` costs one manifest read.
  *     Anything the stats cannot answer EXACTLY (filters present,
  *     grouping, unsupported function or type, truncated string
  *     bounds, a file without stats) falls through to the wrapped
  *     builder unchanged — parquet's own footer-aggregate pushdown
  *     still applies when enabled.
  *  2. **Runtime file pruning** ([[LakeRuntimeFilterScan]]): the
  *     built scan declares every fully-stats-covered column as a
  *     runtime filter attribute (`SupportsRuntimeV2Filtering`), so
  *     Spark's dynamic-pruning planner hands it the build side's join
  *     keys at EXECUTION time and files whose [min,max] provably miss
  *     every key are dropped before their tasks launch — Iceberg's
  *     DPP-over-file-stats shape, sharpest on range-clustered tables
  *     (`graft.write.ordered-by`) where each file owns a disjoint key
  *     slice. Star-join fact scans read the dimension-selected
  *     sliver, not the table.
  */
final class LakeReadScanBuilder(inner: FileScanBuilder,
    tableSchema: StructType, snap: VersionedTable.Snapshot,
    partInfo: Option[(Seq[LakePartitioning.Spec],
      Map[String, Seq[Option[Any]]])] = None,
    mapping: Option[LakeColumnMapping.Mapping] = None,
    pruneGens: Seq[(Seq[LakePartitioning.Spec],
      Map[String, Seq[Option[Any]]])] = Seq.empty,
    reportOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      Array.empty,
    lineage: Option[(Map[String, LakeRowLineage.FileLineage],
      StructType)] = None,
    rebuildInner: () => FileScanBuilder = () =>
      throw new IllegalStateException("no rebuildInner provided"))
    extends DelegatingFileScanBuilder(inner)
    with SupportsPushDownAggregates {

  private var answered: Option[(StructType, InternalRow)] = None
  private var served = Set.empty[String]
  private var requestedFull: Option[StructType] = None
  private var prunedTo: Option[StructType] = None

  /** COLUMN MAPPING boundary ([[LakeColumnMapping]]): the inner
    * parquet builder speaks PHYSICAL file-column names; Spark speaks
    * the table's LOGICAL schema. Pruning and pushed filters translate
    * logical→physical on the way in; the built scan presents its
    * output logical again ([[LakeMappedScan]] — rows are positional,
    * zero per-row cost). Residual filters hand back the ORIGINAL
    * logical expressions (a translated residual would not re-resolve
    * above the scan); if the inner builder returns anything we cannot
    * match back, ALL filters stay above the scan — re-filtering is
    * free, a dropped filter is wrong. */
  /** Every filter Spark handed this builder, BEFORE parquet decides
    * what it can push — partition-claim pruning reads these, so it
    * fires even for types parquet refuses (TIMESTAMP_NTZ ranges). */
  private var catalystFilters
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    Seq.empty

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    catalystFilters = catalystFilters ++ filters
    mapping match {
      case None => super.pushFilters(filters)
      case Some(m) =>
        val translated = filters.map(LakeColumnMapping.exprToPhysical(m, _))
        val residual = super.pushFilters(translated)
        val back = residual.map(r => translated.indexWhere(_ eq r))
        if (back.contains(-1)) filters
        else back.map(filters)
    }
  }

  private def tryAnswer(agg: Aggregation): Boolean = {
    if (answered.isEmpty && !innerHasFilters)
      answered = LakeStatsAggregate.answer(agg, tableSchema, snap)
    answered.isDefined
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    tryAnswer(agg) || (inner match {
      case a: SupportsPushDownAggregates => a.supportCompletePushDown(agg)
      case _ => false
    })

  override def pushAggregation(agg: Aggregation): Boolean =
    tryAnswer(agg) || (inner match {
      case a: SupportsPushDownAggregates => a.pushAggregation(agg)
      case _ => false
    })

  /** The METADATA columns (`_file`, `_pos`, row lineage) are
    * produced by THIS layer, not parquet: strip them before forwarding
    * (the file builder would reject an unknown field) and remember to
    * append them at read. A DATA column named `_file` or `_pos`
    * shadows the metadata column (Spark's SupportsMetadataColumns
    * contract) — it must pass through to parquet untouched. `_file`
    * alone keeps the split-granular pushdown scan; anything
    * positional reads through [[GraftLakeDvScan]]. */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    requestedFull = Some(requiredSchema)
    served = GraftLakeDvScan.served(requiredSchema, tableSchema,
      lineage.isDefined)
    val forInner = StructType(requiredSchema.fields.filterNot(f =>
      served(f.name.toLowerCase)))
    prunedTo = Some(forInner)
    super.pruneColumns(mapping match {
      case Some(m) => LakeColumnMapping.pruneToPhysical(m, forInner)
      case None => forInner
    })
  }

  /** The built physical scan, re-presented under logical names when a
    * mapping is active — every wrapper downstream composes over this. */
  private def logicalBuild(): Scan = mapping match {
    case Some(m) => new LakeMappedScan(innerBuild(), m)
    case None => innerBuild()
  }

  /** POSITIONED read ([[GraftLakeDvScan]] with an empty mask): a FRESH
    * delegate builder with NO pushed parquet filters (positions must
    * count every row of a file; Spark re-applies the predicates in
    * the post-scan Filter since [[pushFilters]] returned them as
    * residual), pruned to the requested data columns plus the
    * materialized physical lineage columns when lineage is asked for
    * and any live file carries them. FILE-granular pruning still
    * composes: the static keep-set drops whole files, which never
    * breaks position counting. */
  private def buildPositionedScan(): Scan = {
    val req = requestedFull.getOrElse(tableSchema)
    val dataFields = req.fields.filterNot(f => served(f.name.toLowerCase))
    val wantsLineage = GraftLakeDvScan.wantsLineage(served)
    // materialized lineage columns exist only on rewritten files —
    // and never together with an active mapping (row-level DML is
    // refused on mapped tables; compact clears the mapping)
    val mats =
      if (!wantsLineage) Array.empty[StructField]
      else lineage.get._2.fields.filter(f =>
        LakeRowLineage.isInternalCol(f.name))
    val fresh = rebuildInner()
    fresh.pruneColumns(StructType((mapping match {
      case Some(m) =>
        LakeColumnMapping.pruneToPhysical(m, StructType(dataFields))
          .fields
      case None => dataFields
    }) ++ mats))
    val built = fresh.build()
    val logicalScan = mapping match {
      case Some(m) => new LakeMappedScan(built, m)
      case None => built
    }
    new GraftLakeDvScan(logicalScan, Map.empty, projectTo = Some(req),
      served = served,
      lineageInfo = if (wantsLineage) lineage.map(_._1) else None,
      dropped = staticKeep.map(allFiles -- _).getOrElse(Set.empty))
  }

  private def allFiles: Set[String] =
    snap.dataFiles.map(p => new Path(p).toString).toSet

  /** The files every static prune keeps (None = no prune fired):
    * partition claims or per-generation claims, minus the files
    * blooms, manifest stats and `_file` predicates drop. Read at
    * build, after the filters and the pruned columns arrived. */
  private lazy val staticKeep: Option[Set[String]] = {
    val static = partPruned.map(_._2.keySet).orElse(genStaticKeep)
    (static, dropped) match {
      case (None, d) if d.isEmpty => None
      case (st, d) => Some(st.getOrElse(allFiles) -- d)
    }
  }

  private lazy val dropped: Set[String] =
    bloomDropped ++ statsDropped ++ fileColDropped

  /** A read aimed at known files (`WHERE _file IN (...)`) opens only
    * those ([[LakeFilePrune.fileColKept]]). Returns DECODED paths. */
  private def fileColDropped: Set[String] =
    if (!served("_file")) Set.empty
    else LakeFilePrune.fileColKept(
      catalystFilters.flatMap(e =>
        org.apache.spark.sql.graftbridge.FilterBridge.toV1(e)),
      snap.dataFiles)
      .map(kept => (snap.dataFiles.toSet -- kept)
        .map(p => new Path(p).toString))
      .getOrElse(Set.empty)

  /** STATIC PARTITION PRUNING: on a partitioned table, a pushed
    * `EqualTo`/`In` filter on the partition column keeps only the
    * files claiming the matching transform value — EXACT (the claim
    * is the routing contract, not a statistic) and the real win on
    * BUCKET layouts, where a point lookup on `bucket(1024, k)` scans
    * 1/1024 of the files and min/max stats can't prune at all (the
    * hash isn't monotone). Filters with unconvertible values
    * contribute no pruning; null-claiming files drop under any
    * equality filter (null never matches `=`/IN). Composes with both
    * downstream scan shapes: the key-grouped scan reads the pruned
    * map, the runtime-filter scan seeds its kept-set with it. */
  private lazy val partPruned
      : Option[(Seq[LakePartitioning.Spec],
        Map[String, Seq[Option[Any]]])] =
    partInfo.map { case (specs, keys) =>
      val kts = LakePartitioning.keyTypes(specs, tableSchema)
      // per LEVEL: conservative claim predicates from every filter
      // Spark handed the builder that constrains that level — `=`/IN
      // on any transform, RANGES on the monotone ones (identity,
      // days). Catalyst-side, so unpushable-to-parquet types still
      // prune.
      val predsPerLevel: Seq[Seq[Option[Any] => Boolean]] =
        specs.zip(kts).map { case (spec, kt) =>
          catalystFilters.flatMap(
            LakePartitioning.claimPredicate(spec, kt, _))
        }
      if (predsPerLevel.forall(_.isEmpty)) (specs, keys)
      else {
        val kept = keys.filter { case (_, claims) =>
          claims.zip(predsPerLevel).forall { case (claim, preds) =>
            preds.forall(_(claim))
          }
        }
        LakeReadScanBuilder.lastPartitionPrune.set(
          (kept.size.toLong << 32) | keys.size.toLong)
        (specs, kept)
      }
    }

  /** PER-GENERATION static pruning on SPEC-EVOLVED tables (mixed
    * generations — [[partPruned]] serves single-spec tables): every
    * generation's files prune under the predicates of THEIR OWN spec,
    * files outside every generation map (unpartitioned generations,
    * unparseable claims) are always kept. Returns the kept file set
    * only when at least one predicate fired somewhere, so a
    * filter-less scan stays on the stock path. */
  private def genStaticKeep: Option[Set[String]] =
    if (pruneGens.isEmpty) None
    else {
      var fired = false
      val keptSets = pruneGens.map { case (specs, keys) =>
        val kts = LakePartitioning.keyTypes(specs, tableSchema)
        val preds: Seq[Seq[Option[Any] => Boolean]] =
          specs.zip(kts).map { case (spec, kt) =>
            catalystFilters.flatMap(
              LakePartitioning.claimPredicate(spec, kt, _))
          }
        if (preds.forall(_.isEmpty)) keys.keySet
        else {
          fired = true
          keys.filter { case (_, claims) =>
            claims.zip(preds).forall { case (claim, ps) =>
              ps.forall(_(claim))
            }
          }.keySet
        }
      }
      if (!fired) None
      else {
        val claimed = pruneGens.iterator.flatMap(_._2.keySet).toSet
        val kept = keptSets.flatten.toSet
        LakeReadScanBuilder.lastPartitionPrune.set(
          (kept.size.toLong << 32) | claimed.size.toLong)
        val all = snap.dataFiles
          .map(p => new Path(p).toString).toSet
        Some(kept ++ (all -- claimed))
      }
    }

  /** MANIFEST-BLOOM point-lookup pruning ([[LakeFileStats.FileStats
    * .blooms]]): a pushed `=`/IN on a bloom-bearing integral column
    * drops every file whose bitset proves ALL sought values absent —
    * the prune min/max cannot make on a hash-distributed key. Files
    * without a bloom for the column are kept (row-level-rewritten
    * files re-earn theirs at compaction). Returns DECODED paths. */
  private def bloomDropped: Set[String] =
    LakeFilePrune.bloomDropped(catalystFilters, snap.dataFiles,
      snap.stats)

  /** STATIC MANIFEST-STATS FILE PRUNING (min/max zone maps at FILE
    * granularity, before any task launches): every filter Spark
    * handed the builder translates to the V1 algebra and a file whose
    * manifest stats PROVE no row can satisfy the conjunction drops
    * from the scan — the static complement of
    * [[LakeRuntimeFilterScan]]'s join-time pruning, and the prune
    * that makes range predicates on clustered layouts
    * (`graft.write.ordered-by`) and TYPED SHREDDED columns
    * ([[LakeJsonShred]] — numeric min/max, not lexical) read only the
    * owning sliver of a 100 TB table. Conservative by construction
    * ([[LakeFileStats.possible]]): untranslatable predicates, missing
    * stats, or truncated bounds keep the file; parquet's own row-group
    * pruning still applies inside kept files. Mapped tables skip it
    * (stats carry PHYSICAL names; the translated filters are logical). */
  private def statsDropped: Set[String] = {
    if (mapping.isDefined || catalystFilters.isEmpty) return Set.empty
    val v1 = catalystFilters.flatMap(e =>
      org.apache.spark.sql.graftbridge.FilterBridge.toV1(e))
    if (v1.isEmpty) return Set.empty
    val dropped = snap.dataFiles.filter { p =>
      snap.stats.get(p).exists(fs =>
        !v1.forall(f => LakeFileStats.possible(f, fs)))
    }.map(p => new Path(p).toString).toSet
    if (dropped.nonEmpty) {
      val total = snap.dataFiles.size
      LakeReadScanBuilder.lastStatsPrune.set(
        ((total - dropped.size).toLong << 32) | total.toLong)
    }
    dropped
  }

  /** Key-grouped (SPJ) scanning is sound and USEFUL only when the
    * table declares partitioning, every data file claims its value
    * ([[GraftLakeTable.partKeys]] verified that), and the partition
    * column survives column pruning — Spark resolves the reported
    * transform against the scan OUTPUT, and a query that dropped the
    * key can't join on it anyway. */
  override def build(): Scan = answered match {
    case Some((schema, row)) => new LakeStatsAggScan(schema, row)
    case None if served.exists(_ != "_file") => buildPositionedScan()
    case None if served("_file") =>
      new LakeFileColumnScan(new LakeRuntimeFilterScan(logicalBuild(),
        snap, staticKeep = staticKeep, tableSchema = tableSchema))
    case None => partPruned match {
      case Some((specs, keys0))
          if keys0.nonEmpty && specs.forall(s =>
            prunedTo.forall(_.fieldNames.exists(
              _.equalsIgnoreCase(s.column)))) &&
            (keys0.keySet -- dropped).nonEmpty =>
        val keys = keys0 -- dropped
        new LakeKeyGroupedScan(logicalBuild(), specs, keys,
          LakePartitioning.keyTypes(specs, tableSchema),
          provenEmpty = snap.dataFiles
            .filter(p => snap.stats.get(p).exists(_.rowCount == 0L))
            .map(p => new Path(p).toString).toSet,
          // claims the STATIC prune removed: the scan drops their
          // splits by design; only a claim-less, non-empty file is
          // the loud normalization-divergence case
          staticallyPruned =
            partInfo.map(_._2.keySet -- keys.keySet).getOrElse(Set.empty),
          clusterOrdering = reportOrdering,
          ndvSnap = Some(snap), ndvSchema = tableSchema)
      case _ =>
        // a partition column pruned from the output (no SPJ use),
        // every file statically pruned, or no partitioning: ordinary
        // scan, seeded with the kept file set
        new LakeRuntimeFilterScan(logicalBuild(), snap,
          staticKeep = staticKeep, tableSchema = tableSchema)
    }
  }
}

object LakeReadScanBuilder {
  /** (kept << 32 | total) of the most recent STATIC partition prune —
    * spec/gate instrumentation, mirroring
    * [[LakeRuntimeFilterScan.lastPrune]]. */
  val lastPartitionPrune =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** (kept << 32 | total) of the most recent MANIFEST-BLOOM prune. */
  val lastBloomPrune =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** (kept << 32 | total) of the most recent STATIC MANIFEST-STATS
    * (min/max) file prune. */
  val lastStatsPrune =
    new java.util.concurrent.atomic.AtomicLong(-1L)
}

/** Scan producing the `_file` metadata column: the delegate's split
  * bundles are re-planned ONE SPLIT PER PARTITION (same splits, same
  * pushdown, no bin-packing — granularity and filter pushdown are
  * preserved, unlike the DV scan's whole-file requirement) so each
  * partition knows its file statically and the reader appends it as
  * a per-partition constant — no per-row path computation, no UDF. */
final class LakeFileColumnScan(inner: Scan) extends Scan {
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}

  override def readSchema(): StructType =
    LakeFileColumnScan.withFileCol(inner.readSchema())

  override def description(): String =
    inner.description() + ", MetadataCol: _file"

  override def toBatch: Batch = {
    val ib = inner.toBatch
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        LakeFileColumnScan.perSplit(ib.planInputPartitions())
      override def createReaderFactory(): PartitionReaderFactory =
        LakeFileColumnScan.readerFactory(ib.createReaderFactory())
    }
  }
}

private[sources] object LakeFileColumnScan {

  def withFileCol(schema: StructType): StructType =
    schema.add("_file", org.apache.spark.sql.types.StringType,
      nullable = false)

  /** One split per partition, each tagged with its file's path. */
  def perSplit(parts: Array[InputPartition]): Array[InputPartition] =
    parts.toSeq
      .flatMap {
        case fp: FilePartition => fp.files
        case other => throw new IllegalStateException(
          s"unexpected non-file partition $other under _file scan")
      }
      .zipWithIndex
      .map { case (pf, i) =>
        // DECODED (SparkPath.toPath) so the emitted value is
        // byte-identical to manifest paths (and `.files` rows) —
        // `file:///x` and `file:/x` must not read as two files,
        // and a space in a partition value must not surface %20
        new FileColPartition(FilePartition(i, Array(pf)),
          pf.filePath.toPath.toString): InputPartition
      }.toArray

  /** Reads [[perSplit]]'s partitions, appending the path to each row. */
  def readerFactory(inner: PartitionReaderFactory): PartitionReaderFactory =
    new FileColReaderFactory(inner)
}

/** One split plus its file path (the per-partition `_file` constant). */
private final class FileColPartition(val part: FilePartition,
    val path: String) extends InputPartition {
  override def preferredLocations(): Array[String] =
    part.preferredLocations()
}

private final class FileColReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  // the appended constant is row-wise; never hand out columnar batches
  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    false

  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val fc = p.asInstanceOf[FileColPartition]
    val r = inner.createReader(fc.part)
    val tag = InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(fc.path))
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = joined(r.get(), tag)
      override def close(): Unit = r.close()
    }
  }
}

/** One driver-computed row carrying a fully stats-answered aggregate —
  * planned as a LocalTableScan: no jobs, no file IO. */
final class LakeStatsAggScan(schema: StructType, row: InternalRow)
    extends LocalScan {
  override def rows(): Array[InternalRow] = Array(row)
  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftLakeStatsAgg(${schema.fieldNames.mkString(", ")})"
}

/** Answers a V2 [[Aggregation]] exactly from manifest file stats, or
  * refuses ([[answer]] = None). Exactness is the contract — every
  * refusal below exists because stats could be conservative there:
  *
  *  - filters / grouping: not representable over whole-file stats;
  *  - `COUNT(DISTINCT)`: not derivable from per-file counts;
  *  - float/double MIN/MAX: parquet stats exclude NaN, SQL's don't;
  *  - timestamp: the stats value's unit (millis/micros) is not
  *    recorded; decimal/binary/nested: not normalized;
  *  - truncated string bounds: valid range, not the exact extremum;
  *  - a file with rows but no usable stats for the column: its rows
  *    could hold the true extremum ([[LakeFileStats]] poisoning). A
  *    file whose stats LACK the column entirely is sound to skip —
  *    parquet footers list every physical column, so absence means
  *    the column post-dates the file (schema evolution) and reads as
  *    all-NULL there.
  */
private[graft] object LakeStatsAggregate {

  /** Stats-answered aggregates served, for spec pinning. */
  val served = new java.util.concurrent.atomic.AtomicLong(0L)

  def answer(agg: Aggregation, schema: StructType,
      snap: VersionedTable.Snapshot)
      : Option[(StructType, InternalRow)] = {
    if (agg.groupByExpressions.nonEmpty) return None
    if (snap.deleteFiles.nonEmpty) return None // masked rows: not exact
    if (!snap.dataFiles.forall(snap.stats.contains)) return None
    // a type-widened snapshot mixes narrow and wide per-file stats —
    // MIN/MAX would surface a narrow-typed value into a wide column
    if (LakeTypeWidening.fromMeta(snap.meta).nonEmpty) return None
    val stats = snap.dataFiles.map(snap.stats)
    val answers = agg.aggregateExpressions.toSeq.map(one(_, schema, stats))
    if (answers.exists(_.isEmpty)) None
    else {
      served.incrementAndGet()
      val fields = answers.flatten
      Some((StructType(fields.map(_._1)),
        InternalRow.fromSeq(fields.map(_._2))))
    }
  }

  private def one(f: AggregateFunc, schema: StructType,
      stats: Seq[LakeFileStats.FileStats])
      : Option[(StructField, Any)] = f match {
    case _: CountStar =>
      Some((StructField("count(*)", LongType, nullable = false),
        stats.map(_.rowCount).sum))
    case c: Count if !c.isDistinct =>
      colOf(c.column(), schema).flatMap { case (name, _) =>
        // count(col) = rows minus nulls; needs a null count per file
        // (a file without the column is all-null: contributes 0)
        val per = stats.map { fs =>
          fs.cols.get(name) match {
            case None => Some(0L)
            case Some(cs) => cs.nullCount.map(n => fs.rowCount - n)
          }
        }
        if (per.exists(_.isEmpty)) None
        else Some((StructField(s"count($name)", LongType,
          nullable = false), per.flatten.sum))
      }
    case m: Min =>
      colOf(m.column(), schema).flatMap { case (name, dt) =>
        extremum(name, dt, stats, isMin = true).map(v =>
          (StructField(s"min($name)", dt, nullable = true), v))
      }
    case m: Max =>
      colOf(m.column(), schema).flatMap { case (name, dt) =>
        extremum(name, dt, stats, isMin = false).map(v =>
          (StructField(s"max($name)", dt, nullable = true), v))
      }
    case _ => None
  }

  /** Top-level column reference → (name, type), supported types only. */
  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression,
      schema: StructType): Option[(String, DataType)] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      val n = r.fieldNames()(0)
      schema.fields.find(_.name.equalsIgnoreCase(n)).collect {
        case sf if supported(sf.dataType) => (sf.name, sf.dataType)
      }
    case _ => None
  }

  private def supported(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         DateType | StringType => true
    case _ => false
  }

  /** Fold per-file bounds into the exact MIN/MAX; None = refuse.
    * All-null column across every file → Some(null) (SQL MIN/MAX over
    * no non-null rows). */
  private[sources] def extremum(name: String, dt: DataType,
      stats: Seq[LakeFileStats.FileStats], isMin: Boolean): Option[Any] = {
    // per file: None = refuse, Some(None) = contributes nothing,
    // Some(Some(v)) = exact file extremum
    val per: Seq[Option[Option[Any]]] = stats.map { fs =>
      if (fs.rowCount == 0L) Some(None)
      else fs.cols.get(name) match {
        case None => Some(None) // column absent: all-null in this file
        case Some(cs) if cs.truncated => None
        case Some(cs) if cs.nullCount.contains(fs.rowCount) => Some(None)
        case Some(cs) =>
          (if (isMin) cs.min else cs.max) match {
            case None => None // rows present, range unknown: refuse
            case some => Some(some)
          }
      }
    }
    if (per.exists(_.isEmpty)) None
    else {
      val bounds = per.flatten.flatten
      if (bounds.isEmpty) Some(null) // no non-null row anywhere
      else bounds.tail
        .foldLeft(Option[Any](bounds.head)) { (accOpt, v) =>
          accOpt.flatMap(a => cmpSame(a, v).map(c =>
            if ((isMin && c <= 0) || (!isMin && c >= 0)) a else v))
        } // None here = incomparable bound families: refuse
        .flatMap(best => internal(dt, best))
    }
  }

  private def cmpSame(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** Stats value → Catalyst internal value of the column's type. */
  private def internal(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (LongType, x: Long) => Some(x)
    case (IntegerType, x: Long) if x >= Int.MinValue && x <= Int.MaxValue =>
      Some(x.toInt)
    case (ShortType, x: Long) if x >= Short.MinValue && x <= Short.MaxValue =>
      Some(x.toShort)
    case (ByteType, x: Long) if x >= Byte.MinValue && x <= Byte.MaxValue =>
      Some(x.toByte)
    case (DateType, x: Long) if x >= Int.MinValue && x <= Int.MaxValue =>
      Some(x.toInt) // days since epoch, parquet DATE = INT32
    case (StringType, s: String) => Some(UTF8String.fromString(s))
    case (BooleanType, b: Boolean) => Some(b)
    case _ => None
  }
}

/** Shared manifest-stats runtime pruning: which columns a scan can
  * declare as runtime filter attributes, and which files survive a
  * set of runtime predicates. Conservative by construction — files
  * without stats (or untranslatable predicates) are kept. */
private[sources] object LakeFilePrune {

  /** `_file` pruning: every `_file = 'p'` / `_file IN (...)` filter
    * (callers pass filters only when `_file` is the metadata column)
    * keeps exactly the files it names — the runtime group filter's
    * exact rewrite set ([[LakeGroupScan.filter]]) and a read aimed at
    * known files. Returns the `files` every such filter names, None
    * when no filter is on `_file`. */
  def fileColKept(filters: Seq[sources.Filter],
      files: Seq[String]): Option[Seq[String]] = {
    def isFile(a: String) = a.equalsIgnoreCase("_file")
    val named: Seq[Set[String]] = filters.collect {
      case sources.EqualTo(a, v) if isFile(a) => Set[Any](v)
      case sources.In(a, vs) if isFile(a) => vs.toSet
    }.map(_.collect { case v if v != null => new Path(v.toString).toString })
    if (named.isEmpty) None
    else Some(files.filter { p =>
      val d = new Path(p).toString
      named.forall(_(d))
    })
  }

  /** Every top-level column with usable bounds in at least one file's
    * stats — the columns a runtime IN-filter could prune on. */
  def attrs(files: Seq[String],
      stats: Map[String, LakeFileStats.FileStats])
      : Array[NamedReference] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    files.flatMap(f => stats.get(f).toSeq)
      .flatMap(_.cols.collect {
        case (n, cs) if cs.min.isDefined && cs.max.isDefined => n
      })
      .distinct.map(Expressions.column).toArray
  }

  /** MANIFEST-BLOOM point-lookup pruning ([[LakeFileStats.FileStats
    * .blooms]]): a pushed `=`/IN on a bloom-bearing column drops every
    * file whose bitset proves ALL sought values absent — the prune
    * min/max cannot make on a hash-distributed key. Files without a
    * bloom for the column are kept. Shared by the clean read path and
    * the DV (masked) path — dropping whole files is sound under masks.
    * Returns DECODED paths; records kept/total for spec gates. */
  def bloomDropped(
      catalystFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      files: Seq[String],
      stats: Map[String, LakeFileStats.FileStats]): Set[String] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    // probe values normalize to the bitset's key domain: integrals
    // as-is, strings through the same engine-agnostic PolyHashMod the
    // build used (base-31 codepoint polynomial mod 2^31-1)
    def asLong(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case u: UTF8String =>
        Some(graft.functions.PolyHashMod.hash(u.toString))
      case s: String => Some(graft.functions.PolyHashMod.hash(s))
      case _ => None
    }
    val probes: Seq[(String, Seq[Long])] = catalystFilters.flatMap {
      case ce.EqualTo(a: ce.AttributeReference, l: ce.Literal) =>
        asLong(l.value).map(v => a.name -> Seq(v))
      case ce.EqualTo(l: ce.Literal, a: ce.AttributeReference) =>
        asLong(l.value).map(v => a.name -> Seq(v))
      case ce.In(a: ce.AttributeReference, vs)
          if vs.forall(_.isInstanceOf[ce.Literal]) =>
        val ls = vs.map(v => asLong(v.asInstanceOf[ce.Literal].value))
        if (ls.exists(_.isEmpty)) None else Some(a.name -> ls.flatten)
      case ce.InSet(a: ce.AttributeReference, hset) =>
        val ls = hset.toSeq.map(asLong)
        if (ls.exists(_.isEmpty)) None else Some(a.name -> ls.flatten)
      case _ => None
    }
    if (probes.isEmpty) return Set.empty
    val dropped = files.filter { p =>
      stats.get(p).exists { fs =>
        probes.exists { case (c, vals) =>
          fs.blooms.collectFirst {
            case (bc, bits) if bc.equalsIgnoreCase(c) => bits
          }.exists { bits =>
            val mBits = bits.length * 8
            vals.forall(v =>
              !graft.functions.BloomSketch.contains(bits, v, mBits, 7))
          }
        }
      }
    }.map(p => new Path(p).toString).toSet
    if (dropped.nonEmpty) {
      val total = files.size
      LakeReadScanBuilder.lastBloomPrune.set(
        ((total - dropped.size).toLong << 32) | total.toLong)
    }
    dropped
  }

  /** Files whose stats admit at least one row matching every
    * translatable predicate; None when nothing translated (no pruning
    * signal at all). */
  def keep(files: Seq[String],
      stats: Map[String, LakeFileStats.FileStats],
      predicates: Array[Predicate]): Option[Seq[String]] = {
    val v1 = predicates.toSeq.flatMap(p => PredicateBridge.toV1(p))
    if (v1.isEmpty) None
    else Some(files.filter { p =>
      stats.get(p).forall(fs => v1.forall(f =>
        LakeFileStats.possible(f, fs)))
    })
  }
}

/** Wraps the stock parquet scan with `SupportsRuntimeV2Filtering`:
  * at execution time Spark's dynamic-pruning subquery delivers the
  * build side's distinct join keys as IN predicates, and files whose
  * manifest stats PROVE no key can match are dropped from the batch —
  * per-file, conservative ([[LakeFileStats.possible]]: missing stats
  * keep the file), with the inner reader factory, columnar path, and
  * statistics untouched. Split bundles re-form over the kept files
  * only, so pruning removes whole tasks, not just rows. */
final class LakeRuntimeFilterScan(inner: Scan,
    snap: VersionedTable.Snapshot,
    staticKeep: Option[Set[String]] = None,
    tableSchema: StructType = new StructType()) extends Scan
    with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  /** Kept files: seeded by a static partition prune (if any), further
    * narrowed by runtime filters — the two prunes INTERSECT. */
  @volatile private var pruned: Option[Set[String]] =
    staticKeep.map(_.map(p => new Path(p).toString))

  override def readSchema(): StructType = inner.readSchema()

  override def description(): String = {
    val extra = pruned.map(k =>
      s", RuntimePrunedFiles: ${snap.dataFiles.size - k.size}/" +
        s"${snap.dataFiles.size}").getOrElse("")
    inner.description() + extra
  }

  /** Stats-covered columns RESTRICTED to the scan's (possibly
    * column-pruned) output — declaring a pruned-away column would
    * fail DPP's attribute resolution at planning. */
  override def filterAttributes(): Array[NamedReference] = {
    val out = inner.readSchema().fieldNames.map(_.toLowerCase).toSet
    LakeFilePrune.attrs(snap.dataFiles, snap.stats)
      .filter(r => out.contains(r.fieldNames()(0).toLowerCase))
  }

  override def filter(predicates: Array[Predicate]): Unit =
    LakeFilePrune.keep(snap.dataFiles, snap.stats, predicates)
      .foreach { keptFiles =>
        val runtime = keptFiles.map(p => new Path(p).toString).toSet
        val kept = staticKeep match {
          case Some(s) => runtime
            .intersect(s.map(p => new Path(p).toString))
          case None => runtime
        }
        pruned = Some(kept)
        LakeRuntimeFilterScan.lastPrune.set(
          (kept.size.toLong << 32) | snap.dataFiles.size.toLong)
      }

  override def toBatch: Batch = {
    val ib = inner.toBatch
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        pruned match {
          case None => ib.planInputPartitions()
          case Some(kept) =>
            val parts = ib.planInputPartitions()
            if (!parts.forall(_.isInstanceOf[FilePartition])) parts
            else
              // drop pruned files from each split bundle; re-index
              // the surviving bundles densely
              parts.toSeq
                .map { case fp: FilePartition =>
                  // decoded lookup: kept is keyed by manifest paths
                  fp.files.filter(f => kept.contains(
                    f.filePath.toPath.toString))
                }
                .filter(_.nonEmpty)
                .zipWithIndex
                .map { case (fs, i) =>
                  FilePartition(i, fs): InputPartition }
                .toArray
        }
      override def createReaderFactory(): PartitionReaderFactory =
        ib.createReaderFactory()
    }
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    LakeNdvStats.decorate(inner match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }, snap, pruned, tableSchema)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    inner.supportedCustomMetrics()

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    inner.reportDriverMetrics()

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
}

/** MANIFEST-NDV column statistics for the planner: per-file theta
  * sketches ([[VersionedTable.mergedNdv]]) union at plan time into
  * per-column distinct counts reported through the V2 `columnStats`
  * surface — `DataSourceV2Relation.transformV2Stats` converts them to
  * catalyst `ColumnStat`s, so with CBO on, join order and broadcast
  * decisions over `SELECT DISTINCT k`-shaped subqueries see the real
  * cardinality instead of the child's row count. Null counts ride
  * along from the manifest min/max stats when fully covered. */
private[sources] object LakeNdvStats {

  def decorate(base: org.apache.spark.sql.connector.read.Statistics,
      snap: VersionedTable.Snapshot,
      surviving: Option[Set[String]] = None,
      schema: StructType = new StructType())
      : org.apache.spark.sql.connector.read.Statistics = {
    // restrict every merged statistic to the scan's SURVIVING file
    // set when pruning information exists: whole-snapshot NDV / null
    // / row counts over a pruned scan would overstate cardinality to
    // the CBO and suppress broadcast joins that should fire
    val files = surviving match {
      case Some(keep) => snap.dataFiles.filter(p =>
        keep.contains(new Path(p).toString))
      case None => snap.dataFiles
    }
    val ndv = VersionedTable.mergedNdv(snap, files)
    // equi-height HISTOGRAMS from merged per-file KLL sketches
    // (`graft.histogram.columns`): range-predicate selectivity on
    // SKEWED columns, where min/max interpolation assumes uniformity
    val hists = VersionedTable.mergedHist(snap, files)
      .filter(_._2.getN > 0L)
    if (ndv.isEmpty && hists.isEmpty) return base
    // CBO's hasCountStats gate needs nullCount NEXT TO distinctCount;
    // empty files contribute zero nulls by construction
    val nulls: Map[String, Long] = (ndv.keySet ++ hists.keySet).flatMap { c =>
      val per = files.map(p => snap.stats.get(p).flatMap(fs =>
        if (fs.rowCount == 0L) Some(0L)
        else fs.cols.find(_._1.equalsIgnoreCase(c))
          .flatMap(_._2.nullCount)))
      if (per.exists(_.isEmpty)) None else Some(c -> per.flatten.sum)
    }.toMap
    // CBO's aggregate estimation needs the child ROW COUNT next to the
    // distinct counts; serve it from the manifest when fully covered
    val totalRows: Option[Long] =
      if (files.forall(snap.stats.contains))
        Some(files.map(snap.stats(_).rowCount).sum)
      else None
    // MIN/MAX for range-predicate selectivity: the manifest already
    // holds per-file bounds — merge them (the metadata-only-aggregate
    // fold: refuses truncated/unknown bounds) for the declared NDV
    // columns of ESTIMATABLE types. Strings are excluded: catalyst's
    // ColumnStat carries no string bounds and FilterEstimation would
    // not use them.
    val fileStats = files.flatMap(snap.stats.get)
    val bounds: Map[String, (Option[Any], Option[Any])] =
      if (files.exists(p => !snap.stats.contains(p))) Map.empty
      else (ndv.keySet ++ hists.keySet).flatMap { c =>
        schema.fields.find(_.name.equalsIgnoreCase(c))
          .filter(f => f.dataType match {
            case BooleanType | ByteType | ShortType | IntegerType |
                 LongType | DateType => true
            case _ => false
          })
          .flatMap { f =>
            val mn = LakeStatsAggregate.extremum(f.name, f.dataType,
              fileStats, isMin = true).filter(_ != null)
            val mx = LakeStatsAggregate.extremum(f.name, f.dataType,
              fileStats, isMin = false).filter(_ != null)
            if (mn.isEmpty && mx.isEmpty) None
            else Some(c -> (mn, mx))
          }
      }.toMap
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        base.sizeInBytes()
      override def numRows(): java.util.OptionalLong =
        if (base.numRows().isPresent) base.numRows()
        else totalRows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        (ndv.keySet ++ hists.keySet).foreach { c =>
          val nOpt = ndv.get(c)
          val nc = nulls.get(c)
          val histo = hists.get(c).map { sk =>
            val numBins = 64
            val rowsPerBin = sk.getN.toDouble / numBins
            val binArr = Array.tabulate(numBins) { i =>
              val binLo = sk.getQuantile(i.toDouble / numBins)
              val binHi = sk.getQuantile((i + 1).toDouble / numBins)
              val binNdv =
                if (binLo == binHi) 1L
                else nOpt.map(t => math.max(1L, t / numBins))
                  .getOrElse(math.max(1L, rowsPerBin.toLong))
              new org.apache.spark.sql.connector.read.colstats
                .HistogramBin {
                override def lo(): Double = binLo
                override def hi(): Double = binHi
                override def ndv(): Long = binNdv
              }: org.apache.spark.sql.connector.read.colstats.HistogramBin
            }
            new org.apache.spark.sql.connector.read.colstats.Histogram {
              override def height(): Double = rowsPerBin
              override def bins(): Array[
                org.apache.spark.sql.connector.read.colstats
                  .HistogramBin] = binArr
            }
          }
          m.put(org.apache.spark.sql.connector.expressions.Expressions
            .column(c),
            new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                nOpt.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def nullCount(): java.util.OptionalLong =
                nc.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def min(): java.util.Optional[Object] =
                bounds.get(c).flatMap(_._1) match {
                  case Some(v) => java.util.Optional.of(
                    v.asInstanceOf[Object])
                  case None => java.util.Optional.empty[Object]()
                }
              override def max(): java.util.Optional[Object] =
                bounds.get(c).flatMap(_._2) match {
                  case Some(v) => java.util.Optional.of(
                    v.asInstanceOf[Object])
                  case None => java.util.Optional.empty[Object]()
                }
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats
                    .Histogram] =
                histo.map(java.util.Optional.of(_))
                  .getOrElse(java.util.Optional.empty())
            })
        }
        m
      }
    }
  }
}

object LakeRuntimeFilterScan {
  /** (kept << 32 | total) of the most recent runtime prune on this
    * JVM — spec instrumentation, mirroring [[LakeFileStats.footerReads]]. */
  val lastPrune = new java.util.concurrent.atomic.AtomicLong(-1L)
}
