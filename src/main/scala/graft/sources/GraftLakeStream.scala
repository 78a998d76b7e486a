package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** MANIFEST-DERIVED streaming source over a [[VersionedTable]] — the
  * Delta streaming-source shape, replacing the raw `files-v*` glob the
  * facade used before round 13. The glob was wrong in exactly the ways
  * a commit log exists to prevent: it surfaced files no manifest
  * references (COW-replaced dirs awaiting vacuum, loser-commit
  * orphans, stale delete-position files), resurrecting deleted rows
  * and delivering duplicates. This source streams what the MANIFESTS
  * say, version by version:
  *
  *  - offsets are VERSIONS (`{"v":N}`), so exactly-once delivery is a
  *    property of the commit log itself, not of file mtimes;
  *  - a fresh stream first delivers the full snapshot pinned at
  *    stream start — WITH merge-on-read masks applied — then each
  *    trigger delivers the per-version delta
  *    (`maxVersionsPerTrigger`, default 1);
  *  - plain mode enforces the append-only contract PER VERSION over
  *    the streamed range: a version that removed files (overwrite,
  *    COW rewrite, compaction) or added delete masks refuses loudly
  *    at that batch — not just at stream creation, closing the
  *    replaced-files/resurrected-rows gap;
  *  - `changeFeed=true` instead emits op-tagged row deltas
  *    (`_change_type` insert/delete + `_commit_version`), including
  *    the CONTENT of merge-on-read-deleted rows (read from the parent
  *    data files at the masked positions) — the streaming CDC surface
  *    composing q166's batch diff with q182's incremental delivery.
  *
  * Planning IO is manifest-sized: file-list set difference per
  * version, plus a deleted-rows-sized collect only on versions that
  * changed masks. Reading delegates to Spark's V2 parquet reader over
  * one WHOLE file per partition (the DV-scan technique — a row
  * counter is the file position), with the stream's schema pinned at
  * start so evolved files project consistently.
  *
  * Reference: `/root/reference` has no streaming surface; this is
  * §2.6 extension machinery, mechanism-matched to Spark's
  * MicroBatchStream + AdmissionControl + TriggerAvailableNow stack. */
final class GraftLakeStreamProvider extends TableProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  private def dirFrom(options: CaseInsensitiveStringMap): String =
    Option(options.get("dir")).orElse(Option(options.get("path")))
      .getOrElse(throw new IllegalArgumentException(
        "graft-lake stream requires option 'dir' (table directory)"))

  private def branchFrom(
      options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("branch")).map(_.trim).filter(_.nonEmpty)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val dir = dirFrom(options)
    val v = branchFrom(options) match {
      case Some(b) => VersionedTable.branches(spark, dir).getOrElse(b,
        throw new IllegalArgumentException(
          s"no branch '$b' to stream at $dir"))
      case None => VersionedTable.headVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no committed version at $dir"))
    }
    val snap = VersionedTable.snapshotOf(spark, dir, v)
    // streaming reads files with an ENFORCED schema by name — on a
    // column-mapped table the physical names would surface (or read
    // as nulls under the logical schema); refuse loudly, compact
    // re-earns identity naming
    LakeColumnMapping.fromMeta(snap.meta).filterNot(_.isIdentity)
      .foreach(_ => throw new UnsupportedOperationException(
        s"streaming from a column-mapped table at $dir is not " +
          "supported — run compact first (it rewrites files under " +
          "the current logical names and clears the mapping)"))
    // a type-widened snapshot pins the WIDE schema (schema merging
    // refuses the narrow/wide file mix; per-batch reads upcast
    // natively under the explicit schema, same as the batch path)
    // manifest-recorded when available ([[LakeSchema]]) — zero
    // footer IO; legacy snapshots fall back to inference
    val data = LakeSchema.physicalSchema(spark, snap)
    // hidden physical lineage + shredded-JSON columns never surface
    // in streamed rows; declared DEFAULT columns enrich (old files
    // backfill at read)
    val visible = LakeDefaults.enrichFromMeta(
      StructType(data.fields.filterNot(f =>
        LakeRowLineage.isInternalCol(f.name) ||
          LakeJsonShred.isShredCol(f.name))), snap.meta)
    if (options.getBoolean("changeFeed", false)) {
      // ROW LINEAGE THROUGH THE FEED (Iceberg v3 changelog shape): a
      // lineage-enabled table's change feed carries the row identity
      // columns — same order as the batch table_changes
      val withLin =
        if (VersionedTable.lineageEnabled(spark, dir, snap.meta))
          visible.add(LakeRowLineage.RowIdCol, LongType)
            .add(LakeRowLineage.LastUpdCol, IntegerType)
        else visible
      withLin.add("_change_type", StringType, nullable = false)
        .add("_commit_version", IntegerType, nullable = false)
    } else visible
  }

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new GraftLakeStreamTable(dirFrom(options), schema,
      changeFeed = options.getBoolean("changeFeed", false),
      startingVersion =
        Option(options.get("startingVersion")).map(_.toInt),
      maxVersionsPerTrigger =
        options.getInt("maxVersionsPerTrigger", 1),
      branch = branchFrom(options))
  }
}

private[sources] final class GraftLakeStreamTable(dir: String,
    outputSchema: StructType, changeFeed: Boolean,
    startingVersion: Option[Int], maxVersionsPerTrigger: Int,
    branch: Option[String])
    extends Table with SupportsRead {

  override def name(): String =
    s"graft-lake-stream($dir${if (changeFeed) ", cdf" else ""}" +
      s"${branch.map(b => s", branch=$b").getOrElse("")})"

  override def schema(): StructType = outputSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  /** Lineage feed: the inferred schema appended `_row_id` /
    * `_last_updated_version` ahead of the op/version columns. */
  private def lineageFeed: Boolean = changeFeed &&
    outputSchema.length >= 4 &&
    outputSchema.fields(outputSchema.length - 4).name ==
      LakeRowLineage.RowIdCol &&
    outputSchema.fields(outputSchema.length - 3).name ==
      LakeRowLineage.LastUpdCol

  /** Row schema the parquet reader produces (op/version — and on a
    * lineage feed the identity columns — are appended by the
    * partition reader, not read from files). */
  private def dataSchema: StructType =
    if (lineageFeed) StructType(outputSchema.dropRight(4))
    else if (changeFeed) StructType(outputSchema.dropRight(2))
    else outputSchema

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan {
      override def readSchema(): StructType = outputSchema
      override def description(): String = name()
      override def toMicroBatchStream(
          checkpointLocation: String): MicroBatchStream =
        new GraftLakeMicroBatchStream(dir, dataSchema, changeFeed,
          startingVersion, maxVersionsPerTrigger, branch,
          lineageOn = lineageFeed)
    }
  }
}

/** Offset = highest version delivered; `origin=true` marks the
  * pre-first-batch state whose next batch is the full pinned
  * snapshot rather than a delta. */
private[sources] final case class LakeStreamOffset(v: Int,
    origin: Boolean) extends Offset {
  override def json(): String = s"""{"v":$v,"origin":$origin}"""
}

private[sources] object LakeStreamOffset {
  def parse(json: String): LakeStreamOffset = {
    val j = org.json4s.jackson.JsonMethods.parse(json)
    val v = (j \ "v") match {
      case org.json4s.JInt(n) => n.toInt
      case org.json4s.JLong(n) => n.toInt
      case other => throw new IllegalArgumentException(
        s"bad lake stream offset: $json ($other)")
    }
    val origin = (j \ "origin") match {
      case org.json4s.JBool(b) => b
      case _ => false
    }
    LakeStreamOffset(v, origin)
  }
}

private[sources] final class GraftLakeMicroBatchStream(dir: String,
    dataSchema: StructType, changeFeed: Boolean,
    startingVersion: Option[Int], maxVersionsPerTrigger: Int,
    branch: Option[String] = None, lineageOn: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Physical read schema: on a lineage feed the materialized
    * identity columns ride along (files without them read nulls; the
    * per-partition manifest fallback serves those). */
  private val physSchema: StructType =
    if (!lineageOn) dataSchema
    else StructType(dataSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(
        LakeRowLineage.PhysRowId,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(
        LakeRowLineage.PhysLastUpd, IntegerType)))

  /** The line this stream follows: with `branch`, its head and ONLY
    * its labeled commits; without, main\'s head and only unlabeled
    * commits (branch-staged rows arrive via the fast-forward delta). */
  private def lineHead: Option[Int] = branch match {
    case Some(b) => VersionedTable.branches(spark, dir).get(b)
    case None => VersionedTable.headVersion(spark, dir)
  }

  private def onLine(sn: VersionedTable.Snapshot): Boolean =
    branch match {
      case Some(b) =>
        sn.meta.get(VersionedTable.BranchMetaKey).contains(b)
      case None => !sn.meta.contains(VersionedTable.BranchMetaKey)
    }

  require(maxVersionsPerTrigger >= 1,
    s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")

  private def spark: SparkSession = SparkSession.active

  /** Pinned at stream construction: the snapshot a fresh stream
    * delivers first (plain mode without startingVersion). */
  private lazy val startSnapshotV: Int =
    lineHead.getOrElse(
      throw new IllegalArgumentException(
        s"no committed version${branch.map(b => s" on branch \'$b\'")
          .getOrElse("")} at $dir"))

  @volatile private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = lineHead

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = startingVersion match {
    // replay mode: deltas from startingVersion (inclusive) onward
    case Some(sv) => LakeStreamOffset(sv - 1, origin = false)
    // snapshot mode: full pinned snapshot first, then deltas
    case None => LakeStreamOffset(startSnapshotV, origin = true)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control path")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = asLake(start)
    val latest = lineHead.getOrElse(s.v)
    val target = availableNowTarget.map(math.min(_, latest))
      .getOrElse(latest)
    if (s.origin) {
      // first batch: the pinned snapshot, nothing newer — determinism
      // over eagerness; later triggers drain the rest
      LakeStreamOffset(s.v, origin = false)
    } else if (target <= s.v) s
    else LakeStreamOffset(
      math.min(target, s.v + maxVersionsPerTrigger), origin = false)
  }

  override def reportLatestOffset(): Offset = {
    val latest = lineHead
    latest.map(LakeStreamOffset(_, origin = false)).orNull
  }

  override def deserializeOffset(json: String): Offset =
    LakeStreamOffset.parse(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  private def asLake(o: Offset): LakeStreamOffset = o match {
    case l: LakeStreamOffset => l
    case other => LakeStreamOffset.parse(other.json())
  }

  private def snapshotOr(v: Int): VersionedTable.Snapshot =
    if (v < 0) VersionedTable.Snapshot(Seq.empty, Seq.empty)
    else try VersionedTable.snapshotOf(spark, dir, v) catch {
      case e: IllegalArgumentException =>
        throw new IllegalStateException(
          s"streaming read of $dir needs version $v but its manifest " +
            "is gone (vacuumed): the stream fell behind the retention " +
            "horizon — restart from a fresh checkpoint", e)
    }

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toString

  /** (file → sorted positions) recorded by POSITIONAL `deleteFiles` —
    * a deleted-rows-sized driver collect, only performed for versions
    * that actually changed masks. Callers split EQUALITY deletes out
    * first ([[eqPositions]] resolves those to positions by content). */
  private def masksOf(deleteFiles: Seq[String]): Map[String, Array[Long]] = {
    require(!deleteFiles.exists(VersionedTable.isEqualityDelete),
      "masksOf expects positional delete files only")
    if (deleteFiles.isEmpty) Map.empty
    else spark.read.parquet(deleteFiles: _*).collect()
      .groupBy(r => norm(r.getString(0)))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).distinct.sorted }
  }

  /** EQUALITY deletes resolved to per-file POSITIONS over `files` (data
    * files of `snap`) — one delta-scoped job per call
    * ([[VersionedTable.eqDeletePositions]]), collected as the currency
    * the stream's whole-file readers already speak. Masked rows are
    * keys-sized, never table-sized. */
  private def eqPositions(snap: VersionedTable.Snapshot, files: Seq[String],
      eqFiles: Seq[String]): Map[String, Array[Long]] =
    if (files.isEmpty || eqFiles.isEmpty) Map.empty
    else VersionedTable.eqDeletePositions(spark, snap, files, eqFiles)
      .collect().groupBy(r => norm(r.getString(0)))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted }

  /** Per-file union of two position maps (sorted, distinct). */
  private def mergeMasks(a: Map[String, Array[Long]],
      b: Map[String, Array[Long]]): Map[String, Array[Long]] =
    (a.keySet ++ b.keySet).iterator.map { f =>
      f -> (a.getOrElse(f, Array.emptyLongArray) ++
        b.getOrElse(f, Array.emptyLongArray)).distinct.sorted
    }.toMap

  /** Declared CDC pairing key (`graft.cdc.key` table property): with
    * it, a version that both removes and adds rows emits UPDATE
    * pre/post images (Delta CDF's `update_preimage`/`update_postimage`)
    * for the keys present on BOTH sides of the delta, letting a
    * downstream incremental aggregate subtract-then-add instead of
    * reprocessing; without it the feed stays insert/delete. The key
    * should identify a row uniquely per snapshot — that is the
    * declarer's contract, exactly as in Delta/Flink CDC. */
  private lazy val cdcKey
      : Option[(Array[Int], Array[org.apache.spark.sql.types.DataType])] =
    if (!changeFeed) None
    else Option(GraftLakeTable.readProperties(spark, dir)
        .get(GraftLakeMicroBatchStream.CdcKeyProp))
      .map { s =>
        val names = s.split(",").map(_.trim).filter(_.nonEmpty)
        require(names.nonEmpty,
          s"${GraftLakeMicroBatchStream.CdcKeyProp} is empty")
        val ords = names.map { n =>
          val i = dataSchema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
          if (i < 0) throw new IllegalArgumentException(
            s"${GraftLakeMicroBatchStream.CdcKeyProp} column '$n' is " +
              "not in the stream schema " +
              dataSchema.fieldNames.mkString("(", ",", ")"))
          i
        }
        (ords, ords.map(dataSchema.fields(_).dataType))
      }

  /** Key tuples (internal form) of a delta-scoped key scan. */
  private def keysOf(df: org.apache.spark.sql.DataFrame,
      keyNames: Seq[String]): Set[Vector[Any]] = {
    val proj = df.select(keyNames.map(org.apache.spark.sql.functions.col): _*)
      .distinct()
    val types = proj.schema.fields.map(_.dataType)
    proj.queryExecution.toRdd.map(_.copy()).collect()
      .map(r => types.indices.map(i => r.get(i, types(i))).toVector)
      .toSet
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    import org.apache.spark.sql.functions.col
    val s = asLake(start)
    val e = asLake(end)
    // work items: (file, emitOnly|null, except, op, version)
    val work = Seq.newBuilder[(String, Array[Long], Array[Long], String, Int)]
    // per-file manifest lineage (id base, birth version) for the
    // lineage feed — accumulated from every snapshot this batch
    // touches; a file's base is assigned once and carried by
    // reference, so later snapshots never disagree with earlier ones
    val linInfo = scala.collection.mutable
      .Map.empty[String, LakeRowLineage.FileLineage]
    def learnLineage(sn: VersionedTable.Snapshot): Unit =
      if (lineageOn) linInfo ++= LakeRowLineage.perFile(sn)
    // per-version UPDATE pairing sets (cdcKey mode): keys on BOTH
    // sides of that version's delta re-tag as update pre/post images
    val updByVersion = scala.collection.mutable.Map.empty[Int, Set[Vector[Any]]]
    if (s.origin) {
      // full snapshot of e.v with its masks applied (positional
      // masks by recorded position, equality masks resolved to
      // positions by content)
      val snap = snapshotOr(e.v)
      learnLineage(snap)
      val (eqD, posD) =
        snap.deleteFiles.partition(VersionedTable.isEqualityDelete)
      val masks = mergeMasks(masksOf(posD),
        eqPositions(snap, snap.dataFiles, eqD))
      snap.dataFiles.foreach { f =>
        work += ((f, null,
          masks.getOrElse(norm(f), Array.emptyLongArray), "insert", e.v))
      }
    } else {
      // the diff base is the last ON-LINE snapshot at or below the
      // start offset: offsets chunked by maxVersionsPerTrigger can
      // land on another line\'s version, and diffing against it would
      // corrupt the delta (e.g. hide staged files from the later
      // fast-forward delta on the main line)
      var prev = {
        var i = s.v
        var sn = snapshotOr(i)
        while (i >= 0 && !onLine(sn)) {
          i -= 1
          sn = snapshotOr(i)
        }
        sn
      }
      ((s.v + 1) to e.v).foreach { v =>
        val cur = snapshotOr(v)
        // other lines\' manifests are not this stream\'s commits: skip
        // them entirely (main skips branch-staged versions — their
        // rows arrive via fast-forward; a branch stream skips main
        // and other branches)
        if (!onLine(cur)) ()
        else {
        learnLineage(prev)
        learnLineage(cur)
        val prevData = prev.dataFiles.toSet
        val curData = cur.dataFiles.toSet
        val added = cur.dataFiles.filterNot(prevData.contains)
        val removed = prev.dataFiles.filterNot(curData.contains)
        val newDeleteFiles =
          cur.deleteFiles.filterNot(prev.deleteFiles.toSet)
        if (!changeFeed && (removed.nonEmpty || newDeleteFiles.nonEmpty))
          throw new UnsupportedOperationException(
            s"streaming read of $dir: version $v is not append-only " +
              s"(${removed.size} files removed, ${newDeleteFiles.size} " +
              "delete files added) — a plain stream cannot replay " +
              "rewrites; use changeFeed=true, stream from a clone, or " +
              "restart from a fresh checkpoint")
        val (newEq, newPos) =
          newDeleteFiles.partition(VersionedTable.isEqualityDelete)
        val (prevEq, prevPos) =
          prev.deleteFiles.partition(VersionedTable.isEqualityDelete)
        val kept = prev.dataFiles.filter(curData.contains)
        // prev masks over the files this version's legs touch:
        // positional by recorded position, equality resolved to
        // positions by content over exactly those candidate files
        val prevMasks = {
          val touched =
            if (newDeleteFiles.nonEmpty) (removed ++ kept).distinct
            else removed
          if (removed.isEmpty && newDeleteFiles.isEmpty)
            Map.empty[String, Array[Long]]
          else mergeMasks(
            if (prevPos.nonEmpty) masksOf(prevPos)
            else Map.empty[String, Array[Long]],
            eqPositions(prev, touched, prevEq))
        }
        // added files are born AT v: no equality delete (scoped to
        // files born before its commit) can mask them — positional
        // masks only
        val curMasks = {
          val cpos = cur.deleteFiles
            .filterNot(VersionedTable.isEqualityDelete)
          if (added.nonEmpty && cpos.nonEmpty) masksOf(cpos)
          else Map.empty[String, Array[Long]]
        }
        added.foreach { f =>
          work += ((f, null,
            curMasks.getOrElse(norm(f), Array.emptyLongArray),
            "insert", v))
        }
        // change feed only below (plain mode refused above)
        removed.foreach { f =>
          // rows of a replaced file that were LIVE in prev — a COW
          // rewrite or overwrite removes the whole file
          work += ((f, null,
            prevMasks.getOrElse(norm(f), Array.emptyLongArray),
            "delete", v))
        }
        // newly masked rows: deleted CONTENT read from the parent
        // data files — positional masks at their recorded positions,
        // equality masks resolved to positions over the KEPT files
        // (matched rows inside simultaneously-removed files already
        // emit via the removed leg), minus anything prev masked
        val freshMasked: Seq[(String, Array[Long])] =
          if (newDeleteFiles.isEmpty) Seq.empty
          else mergeMasks(
            if (newPos.nonEmpty) masksOf(newPos)
            else Map.empty[String, Array[Long]],
            eqPositions(cur, kept, newEq)).toSeq.flatMap { case (f, ps) =>
            val already =
              prevMasks.getOrElse(f, Array.emptyLongArray).toSet
            val fresh = ps.filterNot(already.contains)
            if (fresh.isEmpty) None else Some((f, fresh))
          }
        freshMasked.foreach { case (f, fresh) =>
          work += ((f, fresh, null, "delete", v))
        }
        // UPDATE pairing (cdcKey mode): delta-scoped key scans of the
        // delete leg (removed files' live rows + freshly masked
        // content) and the insert leg; the intersection re-tags as
        // update pre/post images at read. Driver memory is
        // update-sized per version, never table-sized.
        if (cdcKey.isDefined && added.nonEmpty &&
            (removed.nonEmpty || freshMasked.nonEmpty)) {
          val keyNames =
            cdcKey.get._1.toSeq.map(dataSchema.fields(_).name)
          val addedKeys = keysOf(
            spark.read.schema(dataSchema).parquet(added: _*), keyNames)
          def maskDf(pairs: Seq[(String, Array[Long])]) = {
            val rows = pairs.flatMap { case (f, ps) =>
              ps.map(p => org.apache.spark.sql.Row(norm(f), p)) }
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("__graft_mf",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("__graft_mp",
                  org.apache.spark.sql.types.LongType))))
          }
          val removedLive: Option[org.apache.spark.sql.DataFrame] =
            if (removed.isEmpty) None
            else {
              val raw = spark.read.schema(dataSchema)
                .parquet(removed: _*)
                .withColumn("__graft_f", col("_metadata.file_path"))
                .withColumn("__graft_p", col("_metadata.row_index"))
              val masked = prevMasks.toSeq
                .map { case (f, ps) => (f, ps) }
              Some(
                if (masked.isEmpty) raw
                else raw.join(maskDf(masked),
                  col("__graft_f") === col("__graft_mf") &&
                    col("__graft_p") === col("__graft_mp"), "left_anti"))
            }
          val maskedContent: Option[org.apache.spark.sql.DataFrame] =
            if (freshMasked.isEmpty) None
            else Some(spark.read.schema(dataSchema)
              .parquet(freshMasked.map(_._1): _*)
              .withColumn("__graft_f", col("_metadata.file_path"))
              .withColumn("__graft_p", col("_metadata.row_index"))
              .join(maskDf(freshMasked),
                col("__graft_f") === col("__graft_mf") &&
                  col("__graft_p") === col("__graft_mp"), "left_semi"))
          val removedKeys = (removedLive.toSeq ++ maskedContent.toSeq)
            .map(df => keysOf(df, keyNames))
            .foldLeft(Set.empty[Vector[Any]])(_ ++ _)
          val upd = addedKeys.intersect(removedKeys)
          if (upd.nonEmpty) updByVersion(v) = upd
        }
        prev = cur
        }
      }
    }
    val items = work.result()
    if (items.isEmpty) return Array.empty
    // one ParquetTable over every file this batch touches, schema
    // pinned to the stream's, re-planned one WHOLE file per partition
    // so a row counter is the file position (the DV-scan technique)
    val table = ParquetTable("graft_lake_stream_batch", spark,
      new CaseInsensitiveStringMap(
        util.Collections.singletonMap("mergeSchema", "true")),
      items.map(_._1).distinct, Some(physSchema),
      classOf[ParquetFileFormat])
    val ib = table.newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().toBatch
    val wholeByPath: Map[String, FilePartition] = ib.planInputPartitions()
      .toSeq.flatMap {
        case fp: FilePartition => fp.files
        case other => throw new IllegalStateException(
          s"unexpected non-file partition $other under lake stream")
      }
      .groupBy(f => f.filePath.toPath.toString) // decoded, manifest form
      .map { case (p, splits) =>
        p -> FilePartition(0,
          Array(splits.head.copy(start = 0L,
            length = splits.head.fileSize)))
      }
    val innerFactory = ib.createReaderFactory()
    items.zipWithIndex.map { case ((f, emitOnly, except, op, v), i) =>
      val upd = updByVersion.get(v).orNull
      val fl =
        if (lineageOn) linInfo.getOrElse(norm(f),
          LakeRowLineage.FileLineage(-1L, 0))
        else null
      new LakeStreamPartition(i,
        wholeByPath(norm(f)), innerFactory, emitOnly, except,
        if (changeFeed) op else null, v,
        updKeys = upd,
        keyOrds = if (upd == null) null else cdcKey.get._1,
        keyTypes = if (upd == null) null else cdcKey.get._2,
        lineage = fl)
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeStreamReaderFactory(changeFeed,
      lineageDataLen = if (lineageOn) dataSchema.length else -1,
      lineageOut =
        if (!lineageOn) null
        else StructType(dataSchema.fields ++ Seq(
          org.apache.spark.sql.types.StructField(
            LakeRowLineage.RowIdCol, LongType),
          org.apache.spark.sql.types.StructField(
            LakeRowLineage.LastUpdCol, IntegerType),
          org.apache.spark.sql.types.StructField(
            "_change_type", StringType),
          org.apache.spark.sql.types.StructField(
            "_commit_version", IntegerType))))
}

private[sources] object GraftLakeMicroBatchStream {
  /** Table property declaring the CDC pairing key for update images. */
  val CdcKeyProp = "graft.cdc.key"
}

/** NATIVE streaming SINK for a lake catalog table —
  * `df.writeStream.toTable("lake.ns.t")` with no foreachBatch in
  * sight: the table's Write exposes this through
  * `TableCapability.STREAMING_WRITE`, and each micro-batch commits as
  * one lake version through the same atomic manifest rename as every
  * batch write. Exactly-once from at-least-once replay is the
  * connector's job here (Delta's transaction-log discipline): the
  * committed snapshot's metadata records `graft.stream.epoch.<queryId>
  * -> epochId`, and a replayed epoch (failure between our commit and
  * the checkpoint's) finds its marker already at-or-past the incoming
  * id and publishes NOTHING — same version, no duplicate rows
  * (spec-pinned). Executors land parquet via Spark's own row encoder
  * ([[org.apache.spark.sql.graftbridge.ParquetRowWriterBridge]]) into
  * a per-epoch staging dir; the epoch commit renames it to a
  * `files-v<N>-<nonce>` data dir (one metadata op, never a data copy)
  * and publishes carry-forward, so a streamed table is
  * indistinguishable from an INSERT-per-batch one — time travel, stats,
  * change feed, CALL compact all apply. Files open lazily, so an
  * empty epoch publishes nothing rather than a file per partition. */
private[sources] final class GraftLakeStreamingWrite(dir: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def spark: SparkSession = SparkSession.active
  private val queryId: String = info.queryId()
  private val epochKey = s"graft.stream.epoch.$queryId"
  private val stagingRoot =
    s"$dir/_staging-stream-${queryId.replace("-", "").take(16)}"

  override def createStreamingWriterFactory(
      p: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // PARTITIONED tables stream through the FANOUT writer: each task
    // routes rows into one open file per partition value it sees
    // (`__graft_part=<v>/` subdirs inside the epoch staging dir — the
    // same key-claim layout the batch path writes), so a streamed
    // partitioned table keeps its SPJ/static-prune contract with no
    // compaction debt beyond file counts
    val router = LakePartitioning.specOf(spark, dir)
      .map(LakePartitioning.rowRouter(_, info.schema()))
    new LakeStreamWriterFactory(stagingRoot,
      org.apache.spark.sql.graftbridge.ParquetRowWriterBridge
        .prepare(spark, info.schema()), router)
  }

  private def fsOf: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val f = fsOf
    val epochDir = new org.apache.hadoop.fs.Path(
      stagingRoot, s"epoch-$epochId")
    val latest = VersionedTable.headVersion(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"streaming write into $dir: table vanished mid-stream"))
    val snap = VersionedTable.snapshotOf(spark, dir, latest)
    val already = snap.meta.get(epochKey).map(_.toLong)
    if (already.exists(_ >= epochId)) {
      // replayed epoch (we committed, the checkpoint didn't): the
      // rows are already in version `latest` or earlier — drop the
      // staged duplicates and publish nothing
      f.delete(epochDir, true)
      return
    }
    val staged =
      if (!f.exists(epochDir)) Seq.empty
      else
        // fanout epochs nest __graft_part*=<v> directory levels
        LakePartitioning.leafFiles(f, epochDir)
          .filter(_.getPath.getName.endsWith(".parquet"))
    if (staged.isEmpty) { f.delete(epochDir, true); return }
    // next FREE number (branch-staged manifests share the sequence),
    // content based on the HEAD snapshot resolved above
    val newV = VersionedTable.nextVersion(spark, dir)
    val dataDir = s"$dir/files-v$newV-stream" +
      java.util.UUID.randomUUID().toString.take(8)
    if (!f.rename(epochDir, new org.apache.hadoop.fs.Path(dataDir)))
      throw new IllegalStateException(
        s"failed to stage epoch $epochId of $queryId into $dataDir")
    val fresh = VersionedTable.listDataFiles(spark, dir, dataDir)
    VersionedTable.publishVersion(spark, dir, newV,
      snap.dataFiles ++ fresh, info.schema(), snap.deleteFiles, snap.stats,
      snap.meta + (epochKey -> epochId.toString),
      op = "stream-append")
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    fsOf.delete(new org.apache.hadoop.fs.Path(
      stagingRoot, s"epoch-$epochId"), true)
    ()
  }
}

/** Informational only today (commitEpoch lists the staging dir), but
  * carries EVERY file the task landed so the message never lies if it
  * becomes authoritative — the batch fanout path's discipline. */
private final case class LakeFileMessage(paths: Seq[String], rows: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private final class LakeStreamWriterFactory(stagingRoot: String,
    prepared: org.apache.spark.sql.graftbridge.ParquetRowWriterBridge.Prepared,
    router: Option[InternalRow => String] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private def freshPath(sub: String): String =
        s"$stagingRoot/epoch-$epochId/$sub" +
          s"part-$partitionId-$taskId-" +
          java.util.UUID.randomUUID().toString.take(8) + ".parquet"

      // unrouted: at most one lazy writer; routed (partitioned
      // table): a FANOUT writer per partition value seen by this task
      private val open = scala.collection.mutable.LinkedHashMap
        .empty[String, (String, org.apache.parquet.hadoop.ParquetWriter[InternalRow])]
      private var n = 0L

      override def write(row: InternalRow): Unit = {
        val key = router.map(_(row)).getOrElse("")
        val (_, w) = open.getOrElseUpdate(key, {
          val p = freshPath(key)
          (p, prepared.open(p)) // lazy: empty task, no file
        })
        w.write(row)
        n += 1
      }

      override def commit(): WriterCommitMessage = {
        open.values.foreach(_._2.close())
        LakeFileMessage(open.values.map(_._1).toSeq, n)
      }

      override def abort(): Unit = {
        open.values.foreach { case (path, w) =>
          w.close()
          // task-side cleanup with the SAME captured session conf
          // the writer opened the file with (spark.hadoop.* intact)
          val p = new org.apache.hadoop.fs.Path(path)
          p.getFileSystem(prepared.hadoopConf).delete(p, false)
        }
      }

      override def close(): Unit = ()
    }
}

/** One whole data file + the position policy to apply: `emitOnly`
  * non-null emits exactly those sorted positions (deleted-row
  * content); otherwise every position except the sorted `except`
  * mask. `op` non-null appends (_change_type, _commit_version). */
private[sources] final class LakeStreamPartition(val index: Int,
    val file: FilePartition, val innerFactory: PartitionReaderFactory,
    val emitOnly: Array[Long], val except: Array[Long],
    val op: String, val version: Int,
    val updKeys: Set[Vector[Any]] = null,
    val keyOrds: Array[Int] = null,
    val keyTypes: Array[org.apache.spark.sql.types.DataType] = null,
    val lineage: LakeRowLineage.FileLineage = null)
    extends InputPartition {
  override def preferredLocations(): Array[String] =
    file.preferredLocations()
}

/** `lineageDataLen` >= 0 turns the LINEAGE FEED on: the inner read
  * carries two physical identity columns after the data columns
  * (ordinals `lineageDataLen`, `lineageDataLen + 1`) and the emitted
  * row appends `[_row_id, _last_updated_version, op, version]` —
  * materialized value when present, manifest base + position / birth
  * version otherwise (exactly the table scan's resolution). */
private final class LakeStreamReaderFactory(changeFeed: Boolean,
    lineageDataLen: Int = -1, lineageOut: StructType = null)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[LakeStreamPartition]
    val r = part.innerFactory.createReader(part.file)
    val lineaged = lineageDataLen >= 0 && part.op != null
    val tag =
      if (part.op == null) null
      else InternalRow(UTF8String.fromString(part.op), part.version)
    // UPDATE pairing: a row whose declared key is on BOTH sides of
    // this version's delta re-tags as an update image — the delete
    // leg as the preimage, the insert leg as the postimage
    val updTag =
      if (part.op == null || part.updKeys == null) null
      else InternalRow(UTF8String.fromString(
        if (part.op == "insert") "update_postimage"
        else "update_preimage"), part.version)
    val joined = new JoinedRow
    // lineage feed: 4-field tail + projection that drops the two
    // physical identity columns off the inner row. Joined layout:
    // data(0..n-1), physRid(n), physLu(n+1), tail(n+2..n+5)
    val linTail = if (lineaged)
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(4) else null
    val linProj = if (lineaged) {
      val n = lineageDataLen
      org.apache.spark.sql.catalyst.ProjectingInternalRow(lineageOut,
        ((0 until n) ++ (n + 2 until n + 6)).toIndexedSeq)
    } else null
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private var i = 0 // cursor into emitOnly/except
      private var current: InternalRow = _

      private def tagFor(row: InternalRow): InternalRow = {
        if (updTag == null) return tag
        val key = Vector.tabulate(part.keyOrds.length)(k =>
          row.get(part.keyOrds(k), part.keyTypes(k)))
        if (part.updKeys.contains(key)) updTag else tag
      }

      private def lineageRow(row: InternalRow): InternalRow = {
        val n = lineageDataLen
        val fl = part.lineage
        val rid: Any =
          if (!row.isNullAt(n)) row.getLong(n)
          else if (fl != null && fl.base >= 0L) fl.base + pos
          else null
        val lu: Any =
          if (!row.isNullAt(n + 1)) row.getInt(n + 1)
          else if (fl != null) fl.birth
          else null
        linTail.update(0, rid)
        linTail.update(1, lu)
        val t = tagFor(row)
        linTail.update(2, t.getUTF8String(0))
        linTail.update(3, t.getInt(1))
        linProj.project(joined(row, linTail))
        linProj
      }

      override def next(): Boolean = {
        while (r.next()) {
          pos += 1
          val emit =
            if (part.emitOnly != null) {
              while (i < part.emitOnly.length && part.emitOnly(i) < pos)
                i += 1
              i < part.emitOnly.length && part.emitOnly(i) == pos
            } else {
              if (i < part.except.length && part.except(i) == pos) {
                i += 1; false
              } else true
            }
          if (emit) {
            current =
              if (tag == null) r.get()
              else if (lineaged) lineageRow(r.get())
              else {
                val row = r.get()
                joined(row, tagFor(row))
              }
            return true
          }
        }
        false
      }

      override def get(): InternalRow = current
      override def close(): Unit = r.close()
    }
  }
}
