package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.StructType

/** Versioned table snapshots with TIME-TRAVEL reads — the lakehouse
  * commit-log discipline (Delta/Iceberg's core idea) in its minimal
  * honest form: every commit writes its data files under an immutable
  * `files-v<N>/` directory and then publishes a manifest
  * `_manifest/<N>.txt` listing EVERY file visible in that snapshot
  * (full-snapshot manifests, not deltas — readers never reconstruct
  * state from a log replay). The manifest is written to a temp name
  * and RENAMED into place: on HDFS-like stores rename is the atomic
  * commit point, so a reader either sees version N complete or not at
  * all — no torn snapshot is observable, and a crashed writer leaves
  * only an invisible temp file plus orphaned data files that never
  * became visible.
  *
  * Reads are snapshot-isolated by construction: `read(dir, Some(n))`
  * resolves version n's manifest and scans exactly its files, however
  * many later versions have landed since — the AS OF query. `read(dir,
  * None)` resolves the highest published manifest. Appending a version
  * REUSES the previous snapshot's files (the manifest just lists them
  * again alongside the new delta's files), so commits cost the delta,
  * not the table. */
object VersionedTable {

  /** Default [[vacuum]] concurrent-commit grace window. */
  val DefaultVacuumGraceMs: Long = 15L * 60 * 1000

  /** Snapshot-metadata key recording the commit's operation label —
    * surfaced as the `operation` column of the `versions` metadata
    * table (Delta's DESCRIBE HISTORY shape). */
  val OpMetaKey = "graft.op"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new Path(dir).toUri,
      spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) = new Path(s"$dir/_manifest")

  /** Commit `df` as version (latest + 1); `carryForward` keeps the
    * HEAD snapshot's files in the new manifest (append semantics);
    * without it the new version replaces the table's contents. Returns
    * the committed version number. `op` labels the commit in the
    * history ([[GraftLakeVersionsTable]]'s `operation` column);
    * unlabeled commits record append/overwrite from `carryForward`.
    *
    * `branch` stages the commit on a named branch instead of main
    * (write-audit-publish): the commit bases on the BRANCH's head
    * (created implicitly at the main head on first write, Iceberg's
    * `wap.branch` behavior), carries the `graft.branch` label so
    * default reads skip it, and advances the branch ref; main is
    * untouched until [[fastForward]]. */
  def commit(spark: SparkSession, df: DataFrame, dir: String,
      carryForward: Boolean = true, op: Option[String] = None,
      branch: Option[String] = None): Int = branch match {
    case None =>
      commitAs(spark, df, dir, nextVersion(spark, dir), carryForward,
        op = op, baseVersion = headVersion(spark, dir))
    case Some(b) =>
      val base = ensureBranch(spark, dir, b)
      val v = commitAs(spark, df, dir, nextVersion(spark, dir),
        carryForward, meta = Map(BranchMetaKey -> b), op = op,
        baseVersion = Some(base))
      moveBranch(spark, dir, b, v)
      v
  }

  /** The branch's head, creating the branch at the MAIN head on first
    * use (Iceberg's implicit wap.branch creation). */
  private[sources] def ensureBranch(spark: SparkSession, dir: String,
      name: String): Int =
    branches(spark, dir).getOrElse(name, {
      val h = headVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"cannot stage branch '$name': no committed version at $dir"))
      createBranch(spark, dir, name, h)
      h
    })

  /** Publish `df` as the EXPLICIT version `v` — the raw commit point,
    * exposed so the two-committer race is testable. Each attempt
    * writes its data under a nonce-suffixed directory (attempts never
    * collide on the filesystem before the race), then the manifest
    * rename decides. Sequentially, a second publish of the same
    * version finds the destination taken and throws
    * IllegalStateException. Under true concurrency the rename is
    * check-then-rename ([[FastLocalFileSystem.rename]]), so both
    * committers can win and one manifest silently replaces the other
    * — ROADMAP item 4 makes it refuse-to-replace. A loser's data
    * directory is left behind referenced by no manifest — exactly
    * what [[vacuum]] collects. */
  def commitAs(spark: SparkSession, df: DataFrame, dir: String,
      v: Int, carryForward: Boolean = true,
      meta: Map[String, String] = Map.empty,
      applyDeclaredClustering: Boolean = true,
      op: Option[String] = None,
      baseVersion: Option[Int] = None,
      applyColumnMapping: Boolean = true): Int = {
    val f = fs(spark, dir)
    // carry-forward base: explicit when given (main commits base on
    // HEAD, branch commits on the branch head — with branch manifests
    // in the number sequence, v-1 may be a different line's commit)
    val base = baseVersion.getOrElse(v - 1)
    val prior =
      if (carryForward && base >= 0) snapshotOf(spark, dir, base)
      else Snapshot(Seq.empty, Seq.empty)
    // COLUMN MAPPING ([[LakeColumnMapping]]): appends to a renamed /
    // column-dropped table land their delta under the table's
    // PHYSICAL names, so every file keeps one consistent physical
    // name per column. Full-replace commits (overwrite / compact /
    // truncate: carryForward = false) write CURRENT logical names and
    // CLEAR the mapping — prior.meta is not carried there, and any
    // explicitly carried meta (compact preserves epoch markers) is
    // stripped of the schema keys below.
    val mapped =
      if (carryForward && applyColumnMapping)
        LakeColumnMapping.fromMeta(prior.meta)
          .filterNot(_.isIdentity)
          .map(LakeColumnMapping.toPhysical(df, _))
          .getOrElse(df)
      else df
    val shredded = shredFor(spark, dir, mapped)
    // declared PARTITIONING wins over declared clustering for the
    // shuffle (one shuffle per commit, never two): rows route to their
    // partition value and, when clustering is ALSO declared, sort
    // within the routed partitions so zone-maps stay monotone per file
    val partSpec = LakePartitioning.specOf(spark, dir)
    val out =
      if (partSpec.isDefined) shredded
      else if (applyDeclaredClustering)
        clusterFor(spark, dir, shredded, None)
      else shredded
    val newFiles = writeDataFiles(spark, out, dir, v, partSpec,
      if (partSpec.isDefined && applyDeclaredClustering)
        clusteringSpec(spark, dir)
      else None)
    // an append on a merge-on-read table carries the DELETE files too —
    // dropping them would resurrect deleted rows. Stats: carried files
    // keep their manifest stats by reference; only the delta's footers
    // are read (delta-sized driver IO, once per file per lifetime).
    // Snapshot metadata (stream epoch markers) carries forward so an
    // idempotence check survives interleaved non-stream commits.
    // only the DELTA's footers are read: a pre-stats carried file stays
    // stats-less (consumers fall back) rather than turning one append
    // into O(table) footer IO
    // full-replace commits re-earn identity naming: never carry the
    // column-mapping keys into a manifest whose files were rewritten
    // under logical names (compact passes the prior snapshot's meta
    // to preserve epoch markers — the schema keys must not ride along)
    val cleanMeta =
      if (carryForward) meta
      else meta.filter { case (k, _) =>
        k != LakeColumnMapping.MapMeta &&
          k != LakeColumnMapping.DroppedMeta &&
          // a full rewrite lands every file WIDE — the override is
          // spent (compact passes prior meta for epoch markers only)
          k != LakeTypeWidening.Meta &&
          // recorded schema is RECOMPUTED below, never carried into a
          // manifest whose files were fully rewritten
          k != LakeSchema.Key
      }
    // SCHEMA IN THE MANIFEST ([[LakeSchema]]): record the snapshot's
    // physical file-union schema — carried ∪ written on appends,
    // written alone on full replaces. A legacy carry-forward table
    // (prior files, no recorded schema) stays on inference: recording
    // just the delta's schema would lose older files' columns.
    val priorRecorded =
      if (carryForward) LakeSchema.fromMeta(prior.meta) else None
    val schemaMeta: Map[String, String] =
      if (carryForward && prior.dataFiles.nonEmpty &&
          priorRecorded.isEmpty) Map.empty
      else Map(LakeSchema.toMeta(
        LakeSchema.merge(priorRecorded, out.schema)))
    publish(f, dir, v, prior.dataFiles ++ newFiles, prior.deleteFiles,
      prior.stats ++ withNdv(spark, dir, newFiles,
        withBlooms(spark, dir, newFiles,
          statsFor(spark, newFiles, prior.stats))),
      prior.meta ++ cleanMeta ++ schemaMeta,
      op.getOrElse(if (carryForward) "append" else "overwrite"),
      base = if (carryForward && base >= 0) Some(base) else None)
  }

  /** SHREDDED-JSON materialization ([[LakeJsonShred]]) on every
    * data-landing path: declared paths parse ONCE at write into
    * hidden string columns — the steady-state read then never touches
    * the raw JSON for them. `df` unchanged when nothing is declared or
    * it lacks the source column. */
  private def shredFor(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame =
    LakeJsonShred
      .fromProps(GraftLakeTable.readProperties(spark, dir)) match {
      case Some((src, paths))
          if df.columns.exists(_.equalsIgnoreCase(src)) =>
        LakeJsonShred.shred(df, src, paths)
      case _ => df
    }

  /** Write-side CLUSTERING declaration, the
    * `TBLPROPERTIES('graft.write.ordered-by'='user_id')` contract
    * (Delta's OPTIMIZE ZORDER / Iceberg's write.sort-order as a TABLE
    * property, enforced at every commit rather than as an after-pass):
    * a comma-separated list of column names, or `morton2(a,b)` for the
    * q107 Z-order curve. Every data-landing path honors it —
    * [[commitAs]]/[[commit]] (facade writes, catalog INSERT/CTAS/
    * OVERWRITE through the V1 fallback), [[compact]], and the row-level
    * rewrites (UPDATE/MERGE/DELETE declare it to Spark via
    * `RequiresDistributionAndOrdering`, so the replacement files come
    * back range-clustered too). The payoff is structural, not
    * advisory: `repartitionByRange` gives every data file a DISJOINT
    * key range, so manifest-stats group pruning (q176/q177), bounded
    * CDC merges (q178), and footer zone-map skipping prune maximally
    * by construction instead of by luck of arrival order. */
  private[sources] def clusteringSpec(spark: SparkSession,
      dir: String): Option[Seq[String]] =
    Option(GraftLakeTable.readProperties(spark, dir)
        .get("graft.write.ordered-by"))
      .flatMap(parseClusterSpec)

  /** Comma-separated clustering terms, split OUTSIDE parens:
    * `a,morton2(x,y)` is two terms. */
  private[sources] def parseClusterSpec(
      s: String): Option[Seq[String]] =
    Option(s)
      .map(_.split(""",(?![^(]*\))""").map(_.trim)
        .filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

  private val Morton2Spec = """(?i)morton2\(([^,()]+),([^,()]+)\)""".r

  /** Clustering terms as Columns against `df` — loud on a missing
    * column: a declared-clustered table being written without its
    * cluster key is a contract violation, not a layout preference. */
  private def clusterColumns(spec: Seq[String],
      df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    val have = df.columns.map(_.toLowerCase).toSet
    def ref(name: String): org.apache.spark.sql.Column = {
      val n = name.trim
      if (!have.contains(n.toLowerCase))
        throw new IllegalArgumentException(
          s"graft.write.ordered-by references column '$n' absent from " +
            s"the write's schema ${df.columns.mkString("(", ",", ")")}")
      org.apache.spark.sql.functions.col(n)
    }
    spec.map {
      case Morton2Spec(a, b) => graft.ops.Relational.zValue(ref(a), ref(b))
      case name => ref(name)
    }
  }

  /** The clustering declaration as connector-API sort orders, for the
    * row-level write path: a Write exposing these through
    * `RequiresDistributionAndOrdering` makes SPARK insert the range
    * shuffle + sort above the rewrite plan (V2Writes'
    * DistributionAndOrderingUtils), so UPDATE/MERGE/DELETE replacement
    * files come back clustered without the connector touching the
    * query. `morton2(a,b)` rides as an ApplyTransform resolved against
    * the catalog's own FunctionCatalog (the q180 magic-invoke path). */
  private[sources] def clusteringV2Sort(spark: SparkSession,
      dir: String): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    clusteringSpec(spark, dir).map(_.map { term =>
      val e = term match {
        case Morton2Spec(a, b) => Expressions.apply("morton2",
          Expressions.column(a.trim), Expressions.column(b.trim))
        case name => Expressions.column(name.trim)
      }
      Expressions.sort(e, SortDirection.ASCENDING)
    }.toArray).getOrElse(Array.empty)
  }

  /** Apply declared clustering to an outgoing commit: range-partition
    * (disjoint per-file key ranges) + sort within partitions (parquet
    * row-group zone-maps monotone inside each file). No declaration →
    * `df` unchanged. AQE coalesces adjacent range partitions on small
    * commits, which preserves disjointness. */
  private[sources] def clusterFor(spark: SparkSession, dir: String,
      df: DataFrame, numPartitions: Option[Int]): DataFrame =
    clusteringSpec(spark, dir) match {
      case Some(spec) => clusterWith(spec, df, numPartitions)
      case None => df
    }

  /** Range-partition + sort by explicit terms (the [[clusterFor]]
    * mechanics with the spec supplied by the caller — e.g. a
    * compaction's one-off `order_by` override). */
  private[sources] def clusterWith(spec: Seq[String], df: DataFrame,
      numPartitions: Option[Int]): DataFrame = {
    val cs = clusterColumns(spec, df)
    val ranged = numPartitions match {
      case Some(n) => df.repartitionByRange(n, cs: _*)
      case None => df.repartitionByRange(cs: _*)
    }
    ranged.sortWithinPartitions(cs: _*)
  }

  /** Land `df` under an immutable nonce data dir for version `v` and
    * return the fully qualified paths of the parquet files written.
    * Manifests record FULLY QUALIFIED paths (scheme + authority):
    * recording only the path component would lose the bucket/namenode
    * on s3://... or hdfs://nn/... tables and make time-travel reads
    * resolve against the default filesystem. */
  private def writeDataFiles(spark: SparkSession, df: DataFrame,
      dir: String, v: Int,
      partSpec: Option[Seq[LakePartitioning.Spec]] = None,
      sortSpec: Option[Seq[String]] = None): Seq[String] = {
    val dataDir = s"$dir/files-v$v-" +
      java.util.UUID.randomUUID().toString.take(8)
    partSpec match {
      case None => df.write.parquet(dataDir)
      case Some(specs) =>
        // declared partitioning: route by the transform values and
        // let `partitionBy` give every data file EXACTLY ONE value
        // per level, recorded hive-style in its path
        // (`__graft_part=<v>/…` — the key claims
        // [[LakeKeyGroupedScan]] groups on). The routing columns are
        // consumed by partitionBy and never land in file bytes. One
        // shuffle: repartition on the routing values (bounded at the
        // bucket-count product for all-bucket specs), plus an
        // optional within-partition sort when clustering is also
        // declared.
        require(!df.columns.exists(
          _.toLowerCase.startsWith(LakePartitioning.PartColPrefix)),
          s"column prefix ${LakePartitioning.PartColPrefix} is " +
            "reserved by declared table partitioning")
        val names = specs.indices.map(LakePartitioning.partCol)
        val routed = specs.zip(names).foldLeft(df) {
          case (d, (spec, name)) =>
            d.withColumn(name, LakePartitioning.routeColumn(spec, df))
        }
        val routeCols = names
          .map(org.apache.spark.sql.functions.col)
        val buckets = specs.collect {
          case LakePartitioning.BucketSpec(n, _) => n }
        val shuffled =
          if (buckets.size == specs.size)
            routed.repartition(buckets.product, routeCols: _*)
          else routed.repartition(routeCols: _*)
        val sorted = sortSpec match {
          // route cols FIRST: the V1 file writer requires its input
          // sorted by the partition columns and would insert its own
          // (cluster-order-destroying) sort otherwise; with the
          // routing prefix the write is sort-free AND every emitted
          // file is genuinely ordered by the cluster terms — the
          // invariant the scan-reported ordering claims
          case Some(s) => shuffled.sortWithinPartitions(
            (routeCols ++ clusterColumns(s, routed)): _*)
          case None => shuffled
        }
        sorted.write.partitionBy(names: _*).parquet(dataDir)
        // an EMPTY partitioned write lands no parquet file at all —
        // CREATE TABLE's schema carrier would vanish. Land the plain
        // empty schema file instead (0 rows: no key claim needed, the
        // key-grouped scan drops proven-empty files).
        if (listDataFiles(spark, dir, dataDir).isEmpty)
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            df.schema).coalesce(1).write.mode("overwrite").parquet(dataDir)
    }
    listDataFiles(spark, dir, dataDir)
  }

  /** Publish an explicit file list as version `v` — the manifest-only
    * commit point for writers that land their data files through
    * Spark's own V2 file write (the lake catalog's row-level
    * operations, the streaming sink) rather than [[writeDataFiles]].
    * Same manifest rename as every commit; under concurrent writers it
    * is not yet a refuse-to-replace point (ROADMAP item 4).
    * `knownStats` carries prior manifests' per-file stats forward;
    * files not covered (the fresh ones) get their footers read once
    * here for stats.
    *
    * `written` is the schema the caller wrote its fresh files under
    * (empty when it landed none): a recorded schema ([[LakeSchema]])
    * unions with it, so row-level rewrites that materialize lineage
    * or shredded columns record them. Tables without a recorded
    * schema stay on inference. */
  private[sources] def publishVersion(spark: SparkSession, dir: String,
      v: Int, files: Seq[String], written: StructType,
      deletes: Seq[String] = Seq.empty,
      knownStats: Map[String, LakeFileStats.FileStats] = Map.empty,
      meta: Map[String, String] = Map.empty,
      op: String = "write"): Int = {
    val schemaMeta = LakeSchema.fromMeta(meta)
      .map(rec => LakeSchema.toMeta(LakeSchema.merge(Some(rec), written)))
    publish(fs(spark, dir), dir, v, files, deletes,
      statsFor(spark, files ++ deletes, knownStats),
      meta ++ schemaMeta, op)
  }

  /** Per-file stats for the manifest: `known` entries ride along
    * untouched (carry-forward files never re-open); uncovered files
    * read their footer ONCE here — the commit-time stats write that
    * every later group prune / bounds probe / `versions` row reads
    * back for free. Best-effort per file: an unreadable footer (foreign
    * format, corrupt) just omits that file's stats, and every consumer
    * treats missing stats conservatively. */
  private def statsFor(spark: SparkSession, files: Seq[String],
      known: Map[String, LakeFileStats.FileStats])
      : Map[String, LakeFileStats.FileStats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { p =>
      known.get(p).orElse {
        try Some(LakeFileStats.read(p, conf))
        catch { case scala.util.control.NonFatal(_) => None }
      }.map(p -> _)
    }.toMap
  }

  /** MANIFEST BLOOM FILTERS: when the table declares
    * `graft.bloom.columns` (integral columns, comma-separated), every
    * commit enriches its FRESH files' manifest stats with a per-file
    * [[graft.functions.BloomSketch]] bitset over each declared column
    * — one delta-scoped job (the files were just written; this is
    * their one read). Blooms answer what min/max cannot: point-lookup
    * pruning on a hash-distributed key, where every file of an
    * unclustered table spans the whole range. Sizing via
    * `graft.bloom.bits` (default 65536 = 8 KiB/file/col in the
    * manifest, ~1% FP at 5k distinct keys). Files landed by row-level
    * rewrites carry no bloom (kept conservatively) until compaction
    * re-earns them. */
  private def withBlooms(spark: SparkSession, dir: String,
      files: Seq[String], stats: Map[String, LakeFileStats.FileStats])
      : Map[String, LakeFileStats.FileStats] = {
    import org.apache.spark.sql.functions.col
    val props = GraftLakeTable.readProperties(spark, dir)
    val declared = Option(props.get("graft.bloom.columns"))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    if (declared.isEmpty || files.isEmpty) return stats
    val mBits = Option(props.get("graft.bloom.bits"))
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(65536)
    require(mBits > 0 && mBits % 8 == 0,
      s"graft.bloom.bits must be a positive multiple of 8, got $mBits")
    val df = spark.read.option("mergeSchema", "true").parquet(files: _*)
    val cols = declared.map { c =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"graft.bloom.columns names '$c', absent from the commit " +
            s"schema ${df.columns.mkString("(", ",", ")")}"))
      f.dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType => f
        case other => throw new IllegalArgumentException(
          s"graft.bloom.columns supports integral and string keys; " +
            s"'$c' is ${other.catalogString}")
      }
    }
    // string keys enter the bitset through the engine-agnostic
    // PolyHashMod (base-31 codepoint polynomial mod 2^31-1 — the same
    // hash the bucket transform and the read-side probe use)
    val aggs = cols.map { f =>
      val key = f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          graft.functions.PolyHashMod(col(f.name))
        case _ => col(f.name).cast("long")
      }
      graft.functions.BloomSketch.build(key, mBits, 7).as(f.name)
    }
    val byFile = df
      .groupBy(col("_metadata.file_path").as("__graft_bf"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => new Path(r.getString(0)).toString ->
        cols.zipWithIndex.flatMap { case (c, i) =>
          Option(r.get(i + 1)).map(c.name -> _.asInstanceOf[Array[Byte]])
        }.toMap)
      .toMap
    stats.map { case (p, fs) =>
      byFile.get(new Path(p).toString) match {
        case Some(bl) => p -> fs.copy(blooms = fs.blooms ++ bl)
        case None => p -> fs
      }
    }
  }

  /** MANIFEST NDV SKETCHES: when the table declares
    * `graft.ndv.columns` (integral or string columns,
    * comma-separated), every commit enriches its FRESH files'
    * manifest stats with a per-file [[graft.functions.Theta]] sketch
    * of each declared column — one delta-scoped job, same discipline
    * as [[withBlooms]]. Theta sketches MERGE losslessly, so plan time
    * unions the per-file sketches (manifest-sized driver work, zero
    * data IO) into per-column DISTINCT COUNTS reported through
    * `SupportsReportStatistics.columnStats` — the CBO then sees lake
    * tables through real NDVs instead of row counts alone: join-order
    * and broadcast decisions on `SELECT DISTINCT k`-shaped subqueries
    * flip correctly (spec- and gate-pinned). Strings enter the sketch
    * through the engine-agnostic [[graft.functions.PolyHashMod]]. */
  private def withNdv(spark: SparkSession, dir: String,
      files: Seq[String], stats: Map[String, LakeFileStats.FileStats])
      : Map[String, LakeFileStats.FileStats] = {
    import org.apache.spark.sql.functions.col
    val props = GraftLakeTable.readProperties(spark, dir)
    val declared = Option(props.get("graft.ndv.columns"))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    // HISTOGRAM columns ([[mergedHist]]): per-file KLL quantile
    // sketches for numeric columns — same discipline, SAME delta-
    // scoped job (one pass computes theta and KLL together)
    val histDeclared = Option(props.get("graft.histogram.columns"))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    if ((declared.isEmpty && histDeclared.isEmpty) || files.isEmpty)
      return stats
    val df = spark.read.option("mergeSchema", "true").parquet(files: _*)
    val cols = declared.map { c =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"graft.ndv.columns names '$c', absent from the commit " +
            s"schema ${df.columns.mkString("(", ",", ")")}"))
      f.dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType => f
        case other => throw new IllegalArgumentException(
          s"graft.ndv.columns supports integral and string keys; " +
            s"'$c' is ${other.catalogString}")
      }
    }
    val histCols = histDeclared.map { c =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"graft.histogram.columns names '$c', absent from the " +
            s"commit schema ${df.columns.mkString("(", ",", ")")}"))
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => f
        case other => throw new IllegalArgumentException(
          s"graft.histogram.columns supports numeric columns; " +
            s"'$c' is ${other.catalogString}")
      }
    }
    val aggs = cols.map { f =>
      val key = f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          graft.functions.PolyHashMod(col(f.name))
        case _ => col(f.name).cast("long")
      }
      graft.functions.Theta.build(key).as(f.name)
    } ++ histCols.map { f =>
      graft.functions.Kll.build(col(f.name).cast("double"))
        .as(s"__hist_${f.name}")
    }
    // a column may be declared for BOTH ndv and histogram — tag the
    // collected entries so the two sketch kinds never collide
    val tagged = cols.map(c => ("n", c.name)) ++
      histCols.map(c => ("h", c.name))
    val byFile = df
      .groupBy(col("_metadata.file_path").as("__graft_nf"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => new Path(r.getString(0)).toString ->
        tagged.zipWithIndex.flatMap { case ((kind, name), i) =>
          Option(r.get(i + 1)).map((kind, name) ->
            _.asInstanceOf[Array[Byte]])
        }.toMap)
      .toMap
    stats.map { case (p, fs) =>
      byFile.get(new Path(p).toString) match {
        case Some(sk) => p -> fs.copy(
          ndv = fs.ndv ++ sk.collect { case (("n", n), b) => n -> b },
          hist = fs.hist ++ sk.collect { case (("h", n), b) => n -> b })
        case None => p -> fs
      }
    }
  }

  /** Plan-time HISTOGRAM merge over a file set: per declared column,
    * the union of every file's KLL sketch. Reported only when EVERY
    * non-empty file carries the sketch (a partial merge would skew
    * the distribution). Returns the merged sketch — bin extraction is
    * the consumer's ([[LakeNdvStats.decorate]]) choice. */
  private[sources] def mergedHist(snap: Snapshot,
      files: Seq[String])
      : Map[String, org.apache.datasketches.kll.KllDoublesSketch] = {
    val nonEmpty = files.filter(p =>
      snap.stats.get(p).forall(_.rowCount > 0L))
    if (nonEmpty.isEmpty) return Map.empty
    val perFile = nonEmpty.map(p => snap.stats.get(p).map(_.hist))
    if (perFile.exists(_.isEmpty)) return Map.empty
    val maps = perFile.flatten
    val colNames = maps.head.keySet.filter(c => maps.forall(_.contains(c)))
    colNames.map { c =>
      val merged = org.apache.datasketches.kll.KllDoublesSketch
        .newHeapInstance(graft.functions.Kll.K)
      maps.foreach(m => merged.merge(
        org.apache.datasketches.kll.KllDoublesSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(m(c)))))
      c -> merged
    }.toMap
  }

  /** Plan-time NDV merge over a snapshot: per declared column, the
    * union of every data file's theta sketch → distinct-count
    * estimate. A column is reported only when EVERY non-empty file
    * carries its sketch (a partial union would under-count). */
  private[sources] def mergedNdv(snap: Snapshot,
      files: Seq[String]): Map[String, Long] = {
    val nonEmpty = files.filter(p =>
      snap.stats.get(p).forall(_.rowCount > 0L))
    if (nonEmpty.isEmpty) return Map.empty
    val perFile = nonEmpty.map(p => snap.stats.get(p).map(_.ndv))
    if (perFile.exists(_.isEmpty)) return Map.empty
    val maps = perFile.flatten
    val cols = maps.head.keySet.filter(c => maps.forall(_.contains(c)))
    cols.map { c =>
      val u = org.apache.datasketches.theta.SetOperation.builder()
        .setNominalEntries(graft.functions.Theta.NominalEntries)
        .buildUnion()
      maps.foreach(m => u.union(
        org.apache.datasketches.theta.Sketches.wrapCompactSketch(
          org.apache.datasketches.memory.Memory.wrap(m(c)))))
      c -> math.round(u.getResult.getEstimate)
    }.toMap
  }

  /** Fully qualified parquet paths under a landed data directory. */
  private[sources] def listDataFiles(spark: SparkSession, dir: String,
      dataDir: String): Seq[String] = {
    val f = fs(spark, dir)
    // partitioned commits nest hive-style `__graft_part*=<v>`
    // directory levels; flat and partitioned layouts never mix within
    // one landed data dir
    LakePartitioning.leafFiles(f, new Path(dataDir))
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .map(s => f.makeQualified(s.getPath).toString)
  }

  /** Write + atomically rename a manifest: version `v` exists iff the
    * rename landed. Shared by [[commitAs]] and [[shallowClone]].
    *
    * Line format (backward compatible — pre-stats manifests parse
    * unchanged):
    *  - `<path>` or `<path>\t<statsJson>` — data file, optionally with
    *    its per-column (min,max,nulls)+rowCount stats embedded at
    *    commit time ([[LakeFileStats.toJson]]; Jackson escapes control
    *    chars so the JSON never contains a raw tab/newline);
    *  - `D <path>[\t<statsJson>]` — positional merge-on-read DELETE
    *    file;
    *  - `M <key>=<value>` — snapshot metadata (streaming epoch
    *    markers, clustering declarations), atomic WITH the commit
    *    because it rides the same rename.
    *
    * `op` is the commit's OPERATION label (`M graft.op=<op>` — the
    * Delta DESCRIBE HISTORY discipline): carried metadata persists
    * across commits, but the op is always THIS commit's, overriding
    * whatever the prior snapshot recorded. */
  private def publish(f: FileSystem, dir: String, v: Int,
      files: Seq[String], deletes: Seq[String] = Seq.empty,
      stats0: Map[String, LakeFileStats.FileStats] = Map.empty,
      meta0: Map[String, String] = Map.empty,
      op: String = "write", base: Option[Int] = None): Int = {
    // ROW LINEAGE id assignment rides EVERY commit path through this
    // single choke point: manifest arithmetic only (no data IO — see
    // [[LakeRowLineage.assignRowIds]]). Enabled once the watermark
    // meta exists (carried forever after) or the table property
    // declares it (one tiny _properties read per commit).
    val (stats, meta) =
      if (meta0.contains(LakeRowLineage.NextKey) ||
          LakeRowLineage.declared(f, dir))
        LakeRowLineage.assignRowIds(files, stats0, meta0)
      else (stats0, meta0)
    f.mkdirs(manifestDir(dir))
    val tmp = new Path(manifestDir(dir), s".$v.txt.tmp")
    val out = f.create(tmp, true)
    def line(p: String): String =
      stats.get(p).map(s => s"$p\t${LakeFileStats.toJson(s)}")
        .getOrElse(p)
    meta.foreach { case (k, mv) =>
      require(!k.contains('=') && !k.contains('\n') && !mv.contains('\n'),
        s"manifest metadata key/value must be =/newline-free: $k=$mv")
    }
    val metaLines = (meta + (OpMetaKey -> op)).toSeq.sortBy(_._1)
      .map { case (k, mv) => s"M $k=$mv" }
    // SEGMENT-BACKED ENCODING ([[LakeManifest]]): diff against the
    // base snapshot and carry unchanged entries by segment REFERENCE —
    // an append's manifest write is O(delta), not O(table files), and
    // per-file stats sketches serialize once per file lifetime. The
    // diff base is the commit's declared base when the caller knows it
    // (main commits: head; branch commits: the branch head; restore:
    // the restored version) and the newest manifest otherwise; any
    // shape the reuse planner cannot verify byte-exact falls back to
    // one fresh consolidated segment.
    val baseRaw = base.orElse {
      if (!f.exists(manifestDir(dir))) None
      else f.listStatus(manifestDir(dir)).toSeq
        .map(_.getPath.getName)
        .filter(_.matches("\\d+\\.txt"))
        .map(_.stripSuffix(".txt").toInt)
        .sorted.lastOption
    }.flatMap { b =>
      val p = new Path(manifestDir(dir), s"$b.txt")
      if (!f.exists(p)) None
      else Some(LakeManifest.parseRaw(readFully(f, p)))
    }
    val text = LakeManifest.plan(f, dir, baseRaw, v, metaLines,
      files.map(line), deletes.map(line))
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, new Path(manifestDir(dir), s"$v.txt")))
      throw new IllegalStateException(
        s"versioned commit $v lost the publish race at $dir")
    v
  }

  /** Zero-copy SHALLOW CLONE (Delta's CLONE): publish at `dstDir` a new
    * version referencing the SOURCE table's current snapshot files —
    * no byte of data moves, which is how a 100 TB table forks for an
    * experiment in milliseconds. Fully-qualified manifest paths make
    * the cross-table reference exact on any filesystem. The clone
    * diverges independently afterwards (its commits land under its own
    * dir), and its [[vacuum]] can never reclaim source data: vacuum
    * sweeps only `files-v*` dirs under its OWN table root, so borrowed
    * references are structurally out of reach. */
  def shallowClone(spark: SparkSession, srcDir: String,
      dstDir: String): Int = {
    val srcV = headVersion(spark, srcDir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version to clone at $srcDir"))
    val v = latestVersion(spark, dstDir).map(_ + 1).getOrElse(0)
    val snap = snapshotOf(spark, srcDir, srcV)
    // stats travel with the borrowed references; snapshot META does
    // not (epoch markers describe the SOURCE table's streams) — except
    // the recorded SCHEMA, which describes the borrowed files
    publish(fs(spark, dstDir), dstDir, v, snap.dataFiles,
      snap.deleteFiles, snap.stats,
      meta0 = snap.meta.get(LakeSchema.Key)
        .map(LakeSchema.Key -> _).toMap,
      op = "clone")
  }

  /** ROLLBACK as a forward commit (Delta's RESTORE): publish version
    * `toVersion`'s exact file list — data, delete masks, stats,
    * metadata — as a NEW version `latest + 1`. Zero data movement
    * (manifest references only), and history is PRESERVED: the bad
    * versions stay time-travelable for the post-mortem, unlike a
    * destructive rollback. Fails loudly if the target manifest was
    * vacuumed past retention. */
  def restore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    val latest = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    require(toVersion >= 0 && toVersion <= latest,
      s"cannot restore $dir to version $toVersion: history is 0..$latest")
    val snap = snapshotOf(spark, dir, toVersion)
    // The ROW-ID watermark must stay monotone ACROSS the rollback
    // (Iceberg v3 keeps next-row-id monotone): republishing the
    // restored meta verbatim would regress `graft.rowid.next`, and
    // appends after the restore would recycle ids already assigned —
    // and still visible via time travel and prior change-feed reads —
    // by the rolled-back versions.
    val headNext = snapshotOf(spark, dir, latest).meta
      .get(LakeRowLineage.NextKey).map(_.toLong)
    val meta = headNext match {
      case Some(h) =>
        val restored = snap.meta.get(LakeRowLineage.NextKey)
          .map(_.toLong).getOrElse(0L)
        snap.meta +
          (LakeRowLineage.NextKey -> math.max(restored, h).toString)
      case None => snap.meta
    }
    publish(fs(spark, dir), dir, latest + 1, snap.dataFiles,
      snap.deleteFiles, snap.stats, meta, op = "restore",
      base = Some(toVersion))
  }

  // ------------------------------------------------------------- tags
  // Named immutable refs to versions (Iceberg's tags): a tag makes a
  // snapshot addressable by name (`VERSION AS OF 'prod'`) and PINS it
  // against [[vacuum]] — the governance primitive for "the snapshot we
  // trained the model on stays reproducible" without freezing the
  // whole history. Stored one file per tag under `_refs/` with the
  // same tmp+rename publish discipline as manifests: creating a tag
  // that exists loses the rename race and throws, so tags are
  // immutable once published (drop + recreate to move — an explicit,
  // auditable act).

  private def refsDir(dir: String) = new Path(s"$dir/_refs")

  /** Legal tag names; must not parse as an integer so `AS OF <ref>`
    * stays unambiguous between versions and tags. */
  private val TagName = "[A-Za-z_][A-Za-z0-9_.-]*".r

  def createTag(spark: SparkSession, dir: String, name: String,
      version: Int): Unit = {
    require(TagName.matches(name),
      s"illegal tag name '$name' (want ${TagName.regex})")
    val f = fs(spark, dir)
    // the tag must reference a still-serveable snapshot
    snapshotOf(spark, dir, version)
    f.mkdirs(refsDir(dir))
    val tmp = new Path(refsDir(dir),
      s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(s"$version\n".getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, new Path(refsDir(dir), name))) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"tag '$name' already exists at $dir (tags are immutable; " +
          "drop it first to retarget)")
    }
  }

  /** Returns true iff the tag existed. */
  def dropTag(spark: SparkSession, dir: String, name: String): Boolean =
    tags(spark, dir).contains(name) &&
      fs(spark, dir).delete(new Path(refsDir(dir), name), false)

  // --------------------------------------------------------- branches
  // Named MUTABLE refs (Iceberg's branches): a branch stages commits
  // off to the side of the main line — branch commits claim ordinary
  // numbered manifests but carry `M graft.branch=<name>`, so
  // [[headVersion]] (what default reads resolve) skips them, and the
  // branch ref file tracks the branch's own head. [[fastForward]]
  // publishes the audited branch snapshot as the next MAIN version by
  // reference (zero data copied — a manifest write, like [[restore]]).
  // This is the write-audit-publish contract: stage, inspect by name,
  // then make it the table in one atomic manifest rename. Branch refs
  // share the `_refs/` store with tags (payload `branch:<v>` vs a
  // tag's bare int, so each listing ignores the other kind).

  /** Snapshot-metadata key labeling a commit as staged on a branch —
    * [[headVersion]] skips manifests carrying it. */
  val BranchMetaKey = "graft.branch"

  /** The version DEFAULT reads resolve: the newest manifest NOT
    * staged on a branch. Scans manifests newest-first; with no
    * branch commits outstanding (the common case) this reads exactly
    * one manifest, which the caller's snapshotOf was about to read
    * anyway. */
  def headVersion(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    if (!f.exists(manifestDir(dir))) None
    else f.listStatus(manifestDir(dir)).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("\\d+\\.txt"))
      .map(_.stripSuffix(".txt").toInt)
      .sorted(Ordering.Int.reverse)
      .find(v => !snapshotOf(spark, dir, v).meta.contains(BranchMetaKey))
  }

  /** The next free version number (manifest renames make claiming it
    * atomic); branch-staged manifests count — version numbers are a
    * single sequence across main and branches. */
  private[sources] def nextVersion(spark: SparkSession, dir: String): Int =
    latestVersion(spark, dir).map(_ + 1).getOrElse(0)

  def createBranch(spark: SparkSession, dir: String, name: String,
      version: Int): Unit = {
    require(TagName.matches(name),
      s"illegal branch name '$name' (want ${TagName.regex})")
    val f = fs(spark, dir)
    snapshotOf(spark, dir, version) // must reference a serveable snapshot
    f.mkdirs(refsDir(dir))
    val tmp = new Path(refsDir(dir),
      s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    // head@base: the fork point rides in the ref so [[fastForward]]
    // can verify main has not diverged since the branch was cut
    try out.write(s"branch:$version@$version\n".getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, new Path(refsDir(dir), name))) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"ref '$name' already exists at $dir")
    }
  }

  /** Advance an existing branch ref. Not atomic against a concurrent
    * move of the SAME branch (delete + rename; single-writer per
    * branch is the operating assumption, as with Delta) — but the
    * manifest the ref points at is immutable, so readers only ever
    * see a fully published snapshot or a loud missing-ref error. */
  private[sources] def moveBranch(spark: SparkSession, dir: String, name: String,
      version: Int, newBase: Option[Int] = None): Unit = {
    val base = branchBases(spark, dir).getOrElse(name,
      throw new IllegalArgumentException(s"no branch '$name' at $dir"))
    val f = fs(spark, dir)
    val tmp = new Path(refsDir(dir),
      s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(
      s"branch:$version@${newBase.getOrElse(base)}\n".getBytes("UTF-8"))
    finally out.close()
    f.delete(new Path(refsDir(dir), name), false)
    if (!f.rename(tmp, new Path(refsDir(dir), name))) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"branch '$name' move lost a race at $dir")
    }
  }

  /** Returns true iff the branch existed. */
  def dropBranch(spark: SparkSession, dir: String,
      name: String): Boolean =
    branches(spark, dir).contains(name) &&
      fs(spark, dir).delete(new Path(refsDir(dir), name), false)

  /** All branches, name → head version. */
  def branches(spark: SparkSession, dir: String): Map[String, Int] =
    branchRefs(spark, dir).map { case (n, (head, _)) => n -> head }

  /** All branches, name → fork-base version (the main version the
    * branch was cut from, advanced on every [[fastForward]]). */
  private[sources] def branchBases(spark: SparkSession,
      dir: String): Map[String, Int] =
    branchRefs(spark, dir).map { case (n, (_, base)) => n -> base }

  /** Parse `_refs` branch payloads: `branch:<head>@<base>`, with
    * `branch:<head>` (no fork point recorded) read as base = head. */
  private def branchRefs(spark: SparkSession,
      dir: String): Map[String, (Int, Int)] = {
    val f = fs(spark, dir)
    if (!f.exists(refsDir(dir))) Map.empty
    else f.listStatus(refsDir(dir)).toSeq
      .filter(s => s.isFile && TagName.matches(s.getPath.getName))
      .flatMap { s =>
        val in = f.open(s.getPath)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        if (!text.startsWith("branch:")) None
        else text.stripPrefix("branch:").split("@") match {
          case Array(h, b) =>
            for { hv <- h.toIntOption; bv <- b.toIntOption }
              yield s.getPath.getName -> (hv, bv)
          case Array(h) =>
            h.toIntOption.map(hv => s.getPath.getName -> (hv, hv))
          case _ => None
        }
      }.toMap
  }

  /** PUBLISH a branch to main: re-publish the branch head's snapshot
    * (files, delete files, stats, metadata minus the branch label) as
    * the next MAIN version — zero data copied, one manifest rename,
    * exactly [[restore]]'s shape. TRUE fast-forward only (Iceberg's
    * fast_forward contract): if main advanced past the branch's fork
    * point, publishing would silently DISCARD those main commits, so
    * the call refuses loudly — rebase by restaging, or drop the
    * branch. On success the branch's fork point advances to the new
    * main version, so continued staging and a later second publish
    * keep working. The branch ref survives (drop it to release its
    * pins). Returns the new main version. */
  def fastForward(spark: SparkSession, dir: String,
      branch: String): Int = {
    val bv = branches(spark, dir).getOrElse(branch,
      throw new IllegalArgumentException(
        s"no branch '$branch' at $dir; known branches: " +
          (branches(spark, dir).keys.toSeq.sorted.mkString(", ") match {
            case "" => "(none)"
            case s => s
          })))
    val base = branchBases(spark, dir)(branch)
    val head = headVersion(spark, dir)
    if (!head.contains(base))
      throw new IllegalStateException(
        s"cannot fast-forward '$branch' at $dir: main is at " +
          s"${head.getOrElse(-1)} but the branch forked from $base — " +
          "main advanced since; restage the branch or drop it")
    val snap = snapshotOf(spark, dir, bv)
    val v = publish(fs(spark, dir), dir, nextVersion(spark, dir),
      snap.dataFiles, snap.deleteFiles, snap.stats,
      snap.meta - BranchMetaKey, op = "fast-forward")
    moveBranch(spark, dir, branch, bv, newBase = Some(v))
    v
  }

  /** All tags, name → pinned version. */
  def tags(spark: SparkSession, dir: String): Map[String, Int] = {
    val f = fs(spark, dir)
    if (!f.exists(refsDir(dir))) Map.empty
    else f.listStatus(refsDir(dir)).toSeq
      .filter(s => s.isFile && TagName.matches(s.getPath.getName))
      .flatMap { s =>
        val in = f.open(s.getPath)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        text.toIntOption.map(s.getPath.getName -> _)
      }.toMap
  }

  /** `AS OF <ref>` resolution: an integer is a version, anything else
    * a tag or branch name (a branch resolves to its current head).
    * Loud on an unknown ref. */
  def resolveRef(spark: SparkSession, dir: String, ref: String): Int =
    ref.toIntOption
      .orElse(tags(spark, dir).get(ref))
      .orElse(branches(spark, dir).get(ref))
      .getOrElse(throw new IllegalArgumentException(
        s"no tag or branch '$ref' at $dir; known refs: " +
          ((tags(spark, dir).keys ++ branches(spark, dir).keys)
            .toSeq.sorted.mkString(", ") match {
            case "" => "(none)"
            case s => s
          })))

  def latestVersion(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    if (!f.exists(manifestDir(dir))) None
    else f.listStatus(manifestDir(dir)).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("\\d+\\.txt"))
      .map(_.stripSuffix(".txt").toInt)
      .sorted.lastOption
  }

  /** One snapshot's file sets: data files plus the positional DELETE
    * files (merge-on-read deletion vectors) masking rows in them,
    * plus the manifest-embedded per-file stats (empty map on pre-stats
    * manifests — every consumer falls back to footer reads) and the
    * snapshot metadata (`M` lines). */
  final case class Snapshot(dataFiles: Seq[String],
      deleteFiles: Seq[String],
      stats: Map[String, LakeFileStats.FileStats] = Map.empty,
      meta: Map[String, String] = Map.empty)

  private def readFully(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    val bytes =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    new String(bytes, "UTF-8")
  }

  /** Parsed-snapshot cache. A published manifest is IMMUTABLE (the
    * rename commit point refuses an existing destination), so a parsed
    * [[Snapshot]] is valid for as long as the file exists unchanged —
    * keyed on (qualified path, mtime, length) to stay correct under
    * test-harness rewrites and table relocation. Planning a query
    * touches the head snapshot several times (schema, scan build,
    * stats decoration, DV resolution); at 100 TB file counts each
    * uncached touch is an O(files) driver read + stats-JSON parse, and
    * this cache makes all but the first free. Coarse clear-at-cap, the
    * [[LakeManifest]] segment-cache discipline. */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      Snapshot]()
  private val SnapCacheCap = 64

  /** Manifest-file read counter — the instrumentation the snapshot
    * cache spec pins "second resolution performs zero manifest IO"
    * against. */
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  def snapshotOf(spark: SparkSession, dir: String,
      version: Int): Snapshot = {
    val f = fs(spark, dir)
    val p = new Path(manifestDir(dir), s"$version.txt")
    if (!f.exists(p))
      throw new IllegalArgumentException(
        s"version $version does not exist at $dir")
    val st = f.getFileStatus(p)
    val key = (f.makeQualified(p).toString, st.getModificationTime,
      st.getLen)
    val cached = snapCache.get(key)
    if (cached != null) return cached
    manifestReads.incrementAndGet()
    val raw = LakeManifest.parseRaw(readFully(f, p))
    val meta = raw.metaLines.map(_.stripPrefix("M ")).flatMap { l =>
      val i = l.indexOf('=')
      if (i < 0) None else Some(l.take(i) -> l.drop(i + 1))
    }.toMap
    val (data, del) = LakeManifest.expand(f, dir, raw)
    def split(l: String): (String, Option[LakeFileStats.FileStats]) = {
      val i = l.indexOf('\t')
      if (i < 0) (l, None)
      else (l.take(i), LakeFileStats.fromJson(l.drop(i + 1)))
    }
    val dataParsed = data.map(split)
    val delParsed = del.map(split)
    val stats = (dataParsed ++ delParsed)
      .collect { case (p0, Some(s)) => p0 -> s }.toMap
    val snap =
      Snapshot(dataParsed.map(_._1), delParsed.map(_._1), stats, meta)
    if (snapCache.size >= SnapCacheCap) snapCache.clear()
    snapCache.put(key, snap)
    snap
  }

  /** A snapshot's DATA files (the pre-DV manifest view). */
  def filesOf(spark: SparkSession, dir: String, version: Int): Seq[String] =
    snapshotOf(spark, dir, version).dataFiles

  /** Snapshot read: `version = None` reads the head commit. One
    * `DataSourceV2Relation` over [[GraftLakeTable]] pinned to the
    * version — the catalog's own scan stack, so a facade read and a
    * SQL read of a snapshot are the same read: the schema comes from
    * the manifest ([[LakeSchema]], no footer inference), manifest
    * stats and blooms prune files, merge-on-read masks apply in the
    * positioned reader ([[GraftLakeDvScan]] — so
    * `spark.graft.lake.eqDelete.maxKeys` bounds this read's
    * equality-delete keys exactly as it bounds SQL reads), and the
    * metadata columns `_file`, `_pos`, `_row_id` and
    * `_last_updated_version` resolve when referenced. Pinning the
    * version keeps a session's `spark.graft.wap.branch` from
    * redirecting the read. A missing version throws
    * IllegalArgumentException here, not mid-scan. */
  def read(spark: SparkSession, dir: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.orElse(headVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    snapshotOf(spark, dir, v)
    DatasetBridge.ofRows(spark, DataSourceV2Relation.create(
      new GraftLakeTable(Identifier.of(Array.empty[String], dir), dir,
        Some(v)), None, None))
  }

  /** Lineage enabled for this table (property or an already-assigned
    * watermark in the snapshot meta)? */
  private[sources] def lineageEnabled(spark: SparkSession, dir: String,
      meta: Map[String, String]): Boolean =
    meta.contains(LakeRowLineage.NextKey) ||
      Option(GraftLakeTable.readProperties(spark, dir)
        .get(LakeRowLineage.Prop)).exists(_.equalsIgnoreCase("true"))

  /** Publish a METADATA-ONLY commit: identical files, masks and
    * stats, snapshot meta merged with `add` — the zero-IO commit
    * shape schema changes (type widening) ride. */
  private[sources] def publishMetaOnly(spark: SparkSession, dir: String,
      add: Map[String, String], op: String): Int = {
    val v = headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    val snap = snapshotOf(spark, dir, v)
    val newV = nextVersion(spark, dir)
    publish(fs(spark, dir), dir, newV, snap.dataFiles,
      snap.deleteFiles, snap.stats, snap.meta ++ add, op)
  }

  /** EQUALITY-DELETE file marker: equality deletes land under
    * `files-v<N>-eq<nonce>/` — the `eq` infix can never collide with
    * the positional/data nonce (a UUID prefix, hex-only: 'q' is not a
    * hex digit), so the manifest needs no format change to carry both
    * delete kinds. */
  def isEqualityDelete(p: String): Boolean =
    EqDeleteRe.findFirstIn(p).isDefined

  private val EqDeleteRe = """/files-v\d+-eq[0-9a-f]+/""".r

  /** MERGE-ON-READ EQUALITY DELETE (Iceberg's equality-delete files):
    * record the KEYS to delete — an O(keys) WRITE with zero target
    * reads, where even [[deleteWhereMergeOnRead]] must scan matching
    * files to locate row positions. The write path of streaming CDC
    * upsert at 100 TB: the batch lands its keys + rows and never opens
    * a target file. Keys apply null-safely to every data file born
    * BEFORE this commit; [[compact]] folds the masks back into data
    * files. `keys` columns must name table columns of integral,
    * string, date or timestamp type (floats refuse: NaN/-0.0 equality
    * is not a sane delete predicate). */
  def deleteByKeysMergeOnRead(spark: SparkSession, dir: String,
      keys: DataFrame): Int = {
    val v = headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    val snap = snapshotOf(spark, dir, v)
    LakeColumnMapping.fromMeta(snap.meta).filterNot(_.isIdentity)
      .foreach(_ => throw new UnsupportedOperationException(
        s"equality delete on a column-mapped table at $dir is not " +
          "supported — run compact first"))
    val newV = nextVersion(spark, dir)
    val written = writeEqDeleteFile(spark, dir, newV, keys)
    publish(fs(spark, dir), dir, newV, snap.dataFiles,
      snap.deleteFiles ++ written.map(_._1),
      snap.stats ++ written.toMap.map { case (p, s) => p -> s },
      snap.meta, op = "delete")
  }

  /** MERGE-ON-READ UPSERT BY KEY (the CDC shape equality deletes
    * exist for): ONE atomic commit that records the batch's key
    * tuples as an equality delete (killing every older version of
    * those keys in-place, no target file opened) and lands the
    * batch's rows as ordinary data files (born AT this commit, so the
    * delete — which scopes to files born BEFORE it — never eats
    * them). O(batch) total IO; re-running the read at any version
    * time-travels exactly. */
  def upsertByKeysMergeOnRead(spark: SparkSession, dir: String,
      batch: DataFrame, keyCols: Seq[String]): Int = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val v = headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    val snap = snapshotOf(spark, dir, v)
    LakeColumnMapping.fromMeta(snap.meta).filterNot(_.isIdentity)
      .foreach(_ => throw new UnsupportedOperationException(
        s"equality-delete upsert on a column-mapped table at $dir is " +
          "not supported — run compact first"))
    val newV = nextVersion(spark, dir)
    val cols = keyCols.map(k => batch.columns.find(_.equalsIgnoreCase(k))
      .getOrElse(throw new IllegalArgumentException(
        s"upsert key '$k' is not in the batch schema " +
          batch.columns.mkString("(", ",", ")"))))
    val eqWritten = writeEqDeleteFile(spark, dir, newV,
      batch.select(cols.map(org.apache.spark.sql.functions.col): _*))
    // the upsert's fresh rows shred like any commit, so declared-path
    // serving survives MoR chains instead of degrading until compaction
    val dataFiles = writeDataFiles(spark, shredFor(spark, dir, batch),
      dir, newV,
      LakePartitioning.specOf(spark, dir))
    publish(fs(spark, dir), dir, newV,
      snap.dataFiles ++ dataFiles,
      snap.deleteFiles ++ eqWritten.map(_._1),
      snap.stats ++ statsFor(spark, dataFiles, Map.empty) ++
        eqWritten.toMap.map { case (p, s) => p -> s },
      snap.meta, op = "upsert")
  }

  /** Validate + land one equality-delete file for version `v`; empty
    * key sets land nothing (the publish stays mask-free). Validation
    * reads the snapshot's schema ([[LakeSchema.physicalSchema]] — the
    * manifest record, so the write path stays O(batch), never
    * O(table)). */
  private def writeEqDeleteFile(spark: SparkSession, dir: String,
      v: Int, keys: DataFrame): Seq[(String, LakeFileStats.FileStats)] = {
    val snap = snapshotOf(spark, dir, headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir")))
    val table =
      if (snap.dataFiles.isEmpty) keys.schema
      else LakeSchema.physicalSchema(spark, snap)
    keys.schema.fields.foreach { f =>
      val tf = table.fields.find(_.name.equalsIgnoreCase(f.name))
        .getOrElse(throw new IllegalArgumentException(
          s"equality-delete key '${f.name}' is not a table column " +
            table.fieldNames.mkString("(", ",", ")")))
      require(tf.dataType == f.dataType,
        s"equality-delete key '${f.name}' is ${f.dataType.catalogString}" +
          s" but the table column is ${tf.dataType.catalogString}")
      val ok = f.dataType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => true
        case _ => false
      }
      require(ok, s"equality-delete key '${f.name}' has unsupported " +
        s"type ${f.dataType.catalogString} (integral/string/date/" +
        "timestamp keys only)")
    }
    val nonce = java.util.UUID.randomUUID().toString
      .replaceAll("[^0-9a-f]", "").take(8)
    val eqDir = s"$dir/files-v$v-eq$nonce"
    keys.distinct().repartition(1).write.parquet(eqDir)
    val written = listDataFiles(spark, dir, eqDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val stats = written.map(p => p -> LakeFileStats.read(p, conf))
    if (stats.forall(_._2.rowCount == 0L)) Seq.empty else stats
  }

  /** MERGE-ON-READ DELETE (Iceberg v2 positional deletes / Delta
    * deletion vectors): instead of rewriting any data file, record the
    * (file, row position) of every matching row in a small DELETE file
    * and publish a snapshot referencing the SAME data files plus the
    * new mask — the O(matches) delete, zero data rewrite, the shape a
    * 100 TB table wants for frequent small deletes (GDPR row erasure,
    * CDC tombstones). Reads apply the mask map-side ([[read]]);
    * [[compact]] materializes survivors and drops the masks (the
    * Iceberg `rewrite` that keeps DV chains short). `cond` evaluates
    * against the LIVE view ([[read]], which applies both positional
    * and equality masks — already-masked rows can't re-match, though
    * re-recording a position would be harmless: apply is idempotent).
    * Positions are the snapshot's `_file`/`_pos` metadata columns,
    * stable per parquet file; the delete file records the file in
    * V1 `_metadata.file_path` form, as every mask reader expects. */
  def deleteWhereMergeOnRead(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.{col, udf}
    val v = headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    val snap = snapshotOf(spark, dir, v)
    // a column-mapped table's positional deletes would evaluate the
    // condition over PHYSICAL names — refuse rather than record a
    // wrong mask; compact re-earns identity naming first
    LakeColumnMapping.fromMeta(snap.meta).filterNot(_.isIdentity)
      .foreach(_ => throw new UnsupportedOperationException(
        s"merge-on-read delete on a column-mapped table at $dir is " +
          "not supported — run compact first (it rewrites files " +
          "under the current logical names and clears the mapping)"))
    val newV = nextVersion(spark, dir)
    if (snap.dataFiles.isEmpty)
      return publish(fs(spark, dir), dir, newV, snap.dataFiles,
        snap.deleteFiles, snap.stats, snap.meta, op = "delete")
    val live = read(spark, dir, Some(v))
    // a data column named `_file` or `_pos` would shadow the metadata
    // column the delete locates rows by
    live.columns.find(c => c.equalsIgnoreCase("_file") ||
        c.equalsIgnoreCase("_pos"))
      .foreach(c => throw new UnsupportedOperationException(
        s"DELETE on $dir: the data column '$c' shadows the metadata " +
          "column the delete locates rows by"))
    // manifest (decoded) path → the URL-encoded `_metadata.file_path`
    // form; runs on matched rows only
    val urlForm = udf((p: String) => new Path(p).toUri.toString)
    // one delete file per commit: the mask is matches-sized (tiny), so
    // repartition(1) shuffles only the matches — never the scan
    val positions = live.filter(cond)
      .select(urlForm(col("_file")).as("file_path"),
        col("_pos").as("row_index"))
      .repartition(1)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val delDir = s"$dir/files-v$newV-$nonce"
    positions.write.parquet(delDir)
    val written = listDataFiles(spark, dir, delDir)
    // a no-match delete publishes a (mask-identical) version without
    // referencing the empty file; emptiness comes from the stats read
    // the manifest needs anyway (one footer open per written file)
    val conf = spark.sparkContext.hadoopConfiguration
    val writtenStats = written.map(p => p -> LakeFileStats.read(p, conf))
    val newDeletes =
      if (writtenStats.forall(_._2.rowCount == 0L)) Seq.empty[String]
      else written
    publish(fs(spark, dir), dir, newV, snap.dataFiles,
      snap.deleteFiles ++ newDeletes,
      snap.stats ++ writtenStats.filter(ws => newDeletes.contains(ws._1)),
      snap.meta, op = "delete")
  }

  /** FOLD EQUALITY DELETES INTO POSITIONAL MASKS (Iceberg's
    * `rewrite_position_delete_files` / convert-equality-deletes
    * maintenance): resolve every outstanding equality-delete key
    * against the data files it applies to, record the matching
    * (file, position) pairs as ONE positional delete file, and
    * publish a snapshot that references the SAME data files with the
    * equality files dropped — O(matches) written, zero data rewrite.
    * The point at 100 TB: a busy CDC table accumulates key-sized
    * equality masks whose DRIVER-side resolution cost grows with key
    * count ([[GraftLakeDvScanBuilder]]'s budget refuses past the
    * contract); folding converts them to position bitmaps —
    * compressed, per-file, probe-O(1) — WITHOUT the full compact
    * rewrite. Matching runs as broadcast SEMI joins over the raw
    * scan ([[eqDeletePositions]]). Returns the new version. */
  def convertEqDeletes(spark: SparkSession, dir: String): Int = {
    val v = headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    val snap = snapshotOf(spark, dir, v)
    val (eqDels, posDels) = snap.deleteFiles.partition(isEqualityDelete)
    if (eqDels.isEmpty) return v // nothing to fold
    val newV = nextVersion(spark, dir)
    // rows ALREADY positionally masked need no re-recording (apply is
    // idempotent, but the fold should stay matches-sized)
    val matched = eqDeletePositions(spark, snap, snap.dataFiles, eqDels)
    val positions = (
      if (posDels.isEmpty) matched
      else matched.join(spark.read.parquet(posDels: _*)
        .select("file_path", "row_index"),
        Seq("file_path", "row_index"), "left_anti")
    ).repartition(1)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val delDir = s"$dir/files-v$newV-$nonce"
    positions.write.parquet(delDir)
    val written = listDataFiles(spark, dir, delDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val writtenStats = written.map(p => p -> LakeFileStats.read(p, conf))
    val newDeletes =
      if (writtenStats.forall(_._2.rowCount == 0L)) Seq.empty[String]
      else written
    publish(fs(spark, dir), dir, newV, snap.dataFiles,
      posDels ++ newDeletes,
      (snap.stats -- eqDels) ++
        writtenStats.filter(ws => newDeletes.contains(ws._1)),
      snap.meta, op = "convert_deletes")
  }

  /** EQUALITY-DELETE MATCHER, shared by [[convertEqDeletes]] and the
    * change-feed stream: the rows of `files` (data files of `snap`)
    * whose key tuple one of `eqFiles` records, as distinct
    * (file_path, row_index) in V1 `_metadata.file_path` form — the
    * currency positional delete files speak. Null-safe, and scoped by
    * birth version exactly like the read path: a delete committed at
    * D masks only files born before D. The scan reads with the
    * snapshot's recorded schema ([[LakeSchema.physicalSchema]]), and
    * each equality file is one broadcast SEMI join (keys are tiny next
    * to data: map-side, no data shuffle). */
  private[sources] def eqDeletePositions(spark: SparkSession,
      snap: Snapshot, files: Seq[String], eqFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_extract}
    val tagged = spark.read.schema(LakeSchema.physicalSchema(spark, snap))
      .parquet(files: _*)
      .withColumn("__graft_fp", col("_metadata.file_path"))
      .withColumn("__graft_ri", col("_metadata.row_index"))
    eqFiles.map { ef =>
      val delV = LakePartitioning.fileVersionOfPath(ef).getOrElse(
        throw new IllegalStateException(
          s"equality-delete file $ef carries no version in its path"))
      val keys = spark.read.parquet(ef).distinct()
      val cond = keys.columns.map(k =>
        tagged(k) <=> keys(k)).reduce(_ && _) &&
        regexp_extract(col("__graft_fp"),
          "/files-v(\\d+)-", 1).cast("int") < lit(delV)
      tagged.join(broadcast(keys), cond, "left_semi")
        .select(col("__graft_fp").as("file_path"),
          col("__graft_ri").as("row_index"))
    }.reduce(_ union _).distinct()
  }

  /** STREAMING read of a lake table (Delta's streaming source, the
    * lakehouse-as-message-bus shape), MANIFEST-derived
    * ([[GraftLakeStreamProvider]]): offsets are versions, a fresh
    * stream delivers the pinned current snapshot first (merge-on-read
    * masks APPLIED), and each later trigger delivers one committed
    * version's delta — per-file exactly-once from the commit log
    * itself, never from directory globs (which would surface
    * COW-replaced files, loser-commit orphans, and delete-position
    * files no manifest references). Append-only is enforced PER
    * VERSION across the streamed range: a version that removed files
    * (overwrite, COW rewrite, compaction) or added merge-on-read
    * masks fails that batch loudly — use [[changeFeedStream]] for
    * row-level +/- deltas instead, or stream from a clone. */
  def readStream(spark: SparkSession, dir: String,
      branch: Option[String] = None): DataFrame = {
    latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    val r = spark.readStream.format("graft-lake").option("dir", dir)
    branch.fold(r)(b => r.option("branch", b)).load()
  }

  /** STREAMING CHANGE FEED (Delta CDF's streaming mode): row-level
    * deltas across versions, op-tagged `_change_type`
    * (insert/delete) + `_commit_version` — inserts from each commit's
    * added files, delete CONTENT for copy-on-write-replaced files
    * (minus already-masked rows) and for merge-on-read masks (read
    * from the parent data files at the masked positions). A
    * downstream consumer reconstructs any snapshot's state by folding
    * ops per key in version order — spec-pinned against the batch
    * change feed (q166) and oracle-gated (q184). */
  def changeFeedStream(spark: SparkSession, dir: String,
      startingVersion: Int = 0,
      maxVersionsPerTrigger: Int = 1): DataFrame = {
    latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    spark.readStream.format("graft-lake").option("dir", dir)
      .option("changeFeed", "true")
      .option("startingVersion", startingVersion.toString)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
      .load()
  }

  /** BATCH INCREMENTAL READ — Delta's `table_changes(from, to)`: the
    * row-level change feed between two committed versions as ONE
    * batch DataFrame, op-tagged `_change_type` + `_commit_version`,
    * with the same per-version delta semantics as the streaming feed
    * ([[changeFeedStream]], spec- and oracle-pinned equal): each
    * version in `[startingVersion, endingVersion]` (inclusive, v0
    * diffs against empty; branch-staged manifests skip — their rows
    * arrive via fast-forward) contributes its commit-log delta —
    * added files as inserts, removed files' previously-LIVE rows and
    * freshly masked content as deletes, and with a declared
    * `graft.cdc.key` the per-version insert/delete key intersection
    * re-tags as update pre/post images.
    *
    * Scale shape: unlike the stream (whose per-trigger masks collect
    * to the driver), the batch feed is PURE DataFrame composition —
    * per-version mask joins broadcast (masks are delete-sized), the
    * union is lazily planned, and nothing row-proportional ever
    * touches the driver. This is the surface a downstream backfill
    * consumes: `table_changes(checkpointed, head)` instead of a full
    * re-read. */
  def tableChanges(spark: SparkSession, dir: String,
      startingVersion: Int,
      endingVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val head = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    val endV = endingVersion.getOrElse(head)
    require(startingVersion >= 0 && startingVersion <= endV,
      s"table_changes range [$startingVersion, $endV] is invalid " +
        s"(head = $head)")
    def onMain(sn: Snapshot): Boolean =
      !sn.meta.contains(BranchMetaKey)
    val endSnap = snapshotOf(spark, dir, endV)
    // physical schema from the MANIFEST when recorded ([[LakeSchema]]
    // — zero footer IO; the mergeSchema inference over every
    // end-snapshot file was O(files) driver IO at plan time), with
    // hidden internals filtered exactly like the streaming feed:
    // lineage AND shredded-JSON columns (batch-equals-stream schema)
    val dataSchema = LakeDefaults.enrichFromMeta(
      org.apache.spark.sql.types.StructType(
        LakeSchema.physicalSchema(spark, endSnap).fields
          .filterNot(f => LakeRowLineage.isInternalCol(f.name) ||
            LakeJsonShred.isShredCol(f.name))),
      endSnap.meta)
    // ROW LINEAGE THROUGH THE FEED (Iceberg v3 changelog shape): on a
    // lineage-enabled table every change row carries `_row_id` (+
    // `_last_updated_version`) — inserts/postimages the new row's id,
    // deletes/preimages the old one, and an UPDATE's pre/post images
    // carry the SAME id (the rewrite materialized it), which is
    // exactly the idempotency key a downstream MERGE consumes.
    val lineageOn = lineageEnabled(spark, dir, endSnap.meta)
    val outCols = dataSchema.fieldNames.toSeq.map(col) ++
      (if (lineageOn)
        Seq(col(LakeRowLineage.RowIdCol),
          col(LakeRowLineage.LastUpdCol))
      else Seq.empty) ++
      Seq(col("_change_type"), col("_commit_version"))
    val cdcKeys: Seq[String] =
      Option(GraftLakeTable.readProperties(spark, dir)
        .get("graft.cdc.key")).toSeq
        .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))

    // physical read schema: materialized lineage columns ride along
    // on lineage tables (files without them read nulls; the manifest
    // fallback below serves those)
    val readSchema =
      if (!lineageOn) dataSchema
      else org.apache.spark.sql.types.StructType(dataSchema.fields ++
        Seq(org.apache.spark.sql.types.StructField(
            LakeRowLineage.PhysRowId,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(
            LakeRowLineage.PhysLastUpd,
            org.apache.spark.sql.types.IntegerType)))
    def readFiles(files: Seq[String],
        stats: Map[String, LakeFileStats.FileStats]): DataFrame = {
      val raw = spark.read.schema(readSchema).parquet(files: _*)
        .withColumn("__tc_f", col("_metadata.file_path"))
        .withColumn("__tc_p", col("_metadata.row_index"))
      if (!lineageOn) raw
      else {
        // per-file manifest lineage (base id, birth version) resolves
        // a row's identity exactly like the table scan: materialized
        // physical value when present, base + position / birth
        // otherwise. The map is manifest-sized and broadcasts.
        import org.apache.spark.sql.functions.{coalesce, when}
        import spark.implicits._
        val m = files.map { p =>
          (new Path(p).toString,
            stats.get(p).flatMap(_.firstRowId).getOrElse(-1L),
            LakePartitioning.fileVersionOfPath(p).getOrElse(0))
        }.toDF("__tc_lp", "__tc_lb", "__tc_lv")
        raw.join(broadcast(m), col("__tc_f") === col("__tc_lp"), "left")
          .withColumn(LakeRowLineage.RowIdCol,
            coalesce(col(LakeRowLineage.PhysRowId),
              when(col("__tc_lb") >= 0L,
                col("__tc_lb") + col("__tc_p"))).cast("long"))
          .withColumn(LakeRowLineage.LastUpdCol,
            coalesce(col(LakeRowLineage.PhysLastUpd),
              col("__tc_lv")).cast("int"))
          .drop(LakeRowLineage.PhysRowId, LakeRowLineage.PhysLastUpd,
            "__tc_lp", "__tc_lb", "__tc_lv")
      }
    }
    def posMask(posFiles: Seq[String]): Option[DataFrame] =
      if (posFiles.isEmpty) None
      else Some(spark.read.parquet(posFiles: _*)
        .select(col("file_path").as("__tc_mf"),
          col("row_index").as("__tc_mp")).distinct())
    def joinPos(df: DataFrame, mask: Option[DataFrame],
        how: String): DataFrame = mask.fold(
        if (how == "left_semi") df.limit(0) else df)(m =>
      df.join(broadcast(m), col("__tc_f") === col("__tc_mf") &&
        col("__tc_p") === col("__tc_mp"), how))
    // equality masks, version-scoped exactly like the read path
    def eqCond(df: DataFrame, keys: DataFrame, delV: Int) =
      keys.columns.map(k => df(k) <=> keys(k)).reduce(_ && _) &&
        org.apache.spark.sql.functions.regexp_extract(col("__tc_f"),
          "/files-v(\\d+)-", 1).cast("int") < lit(delV)
    def delVOf(ef: String): Int =
      LakePartitioning.fileVersionOfPath(ef).getOrElse(
        throw new IllegalStateException(
          s"equality-delete file $ef carries no version in its path"))
    /** LIVE rows: every equality delete filters further (anti). */
    def eqAnti(df: DataFrame, eqFiles: Seq[String]): DataFrame =
      eqFiles.foldLeft(df) { (cur, ef) =>
        val keys = spark.read.parquet(ef).distinct()
        cur.join(broadcast(keys), eqCond(cur, keys, delVOf(ef)),
          "left_anti")
      }
    /** MATCHED content: rows any equality delete kills (semi ∪). */
    def eqSemi(df: DataFrame, eqFiles: Seq[String]): DataFrame =
      eqFiles.map { ef =>
        val keys = spark.read.parquet(ef).distinct()
        df.join(broadcast(keys), eqCond(df, keys, delVOf(ef)),
          "left_semi")
      }.reduceOption(_ unionAll _)
        .map(_.dropDuplicates("__tc_f", "__tc_p"))
        .getOrElse(df.limit(0))
    def live(df: DataFrame, posFiles: Seq[String],
        eqFiles: Seq[String]): DataFrame =
      eqAnti(joinPos(df, posMask(posFiles), "left_anti"), eqFiles)

    val legs = Seq.newBuilder[DataFrame]
    var prev = {
      var i = startingVersion - 1
      var sn = if (i < 0) Snapshot(Seq.empty, Seq.empty)
        else snapshotOf(spark, dir, i)
      while (i >= 0 && !onMain(sn)) {
        i -= 1
        sn = if (i < 0) Snapshot(Seq.empty, Seq.empty)
          else snapshotOf(spark, dir, i)
      }
      sn
    }
    (startingVersion to endV).foreach { v =>
      val cur = snapshotOf(spark, dir, v)
      if (onMain(cur)) {
        val prevData = prev.dataFiles.toSet
        val curData = cur.dataFiles.toSet
        val added = cur.dataFiles.filterNot(prevData.contains)
        val removed = prev.dataFiles.filterNot(curData.contains)
        val kept = prev.dataFiles.filter(curData.contains)
        val newDel = cur.deleteFiles.filterNot(prev.deleteFiles.toSet)
        val (newEq, newPos) = newDel.partition(isEqualityDelete)
        val (prevEq, prevPos) =
          prev.deleteFiles.partition(isEqualityDelete)
        val (curPosAll, _) =
          (cur.deleteFiles.filterNot(isEqualityDelete), ())
        var ins: Option[DataFrame] = None
        var del: Option[DataFrame] = None
        if (added.nonEmpty) {
          // files born AT v: only positional masks can touch them
          // (equality deletes scope to files born BEFORE their commit)
          ins = Some(joinPos(readFiles(added, cur.stats),
            posMask(curPosAll), "left_anti"))
        }
        val delLegs = Seq.newBuilder[DataFrame]
        if (removed.nonEmpty)
          // a replaced file's previously-live rows
          delLegs += live(readFiles(removed, prev.stats), prevPos,
            prevEq)
        if (newDel.nonEmpty && kept.nonEmpty) {
          // freshly masked content in kept files: rows the new masks
          // kill that the PREV masks had not already killed
          val keptLive = live(readFiles(kept, prev.stats), prevPos,
            prevEq)
          val freshPos = joinPos(keptLive, posMask(newPos), "left_semi")
          val freshEq = eqSemi(keptLive, newEq)
          delLegs += freshPos.unionAll(freshEq)
            .dropDuplicates("__tc_f", "__tc_p")
        }
        val delAll = delLegs.result().reduceOption(_ unionAll _)
        (ins, delAll) match {
          case (Some(i0), Some(d0)) if cdcKeys.nonEmpty =>
            // UPDATE pairing: keys on BOTH sides of this version's
            // delta re-tag as update pre/post images (Delta CDF)
            val updKeys = i0.select(cdcKeys.map(col): _*)
              .intersect(d0.select(cdcKeys.map(col): _*))
            def tag(df: DataFrame, hit: String, miss: String) = {
              val h = df.join(broadcast(updKeys), cdcKeys, "left_semi")
                .withColumn("_change_type", lit(hit))
              val m0 = df.join(broadcast(updKeys), cdcKeys, "left_anti")
                .withColumn("_change_type", lit(miss))
              h.unionByName(m0)
            }
            legs += tag(d0, "update_preimage", "delete")
              .withColumn("_commit_version", lit(v)).select(outCols: _*)
            legs += tag(i0, "update_postimage", "insert")
              .withColumn("_commit_version", lit(v)).select(outCols: _*)
          case _ =>
            ins.foreach(i0 => legs += i0
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v)).select(outCols: _*))
            delAll.foreach(d0 => legs += d0
              .withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)).select(outCols: _*))
        }
        prev = cur
      }
    }
    legs.result().reduceOption(_ unionByName _).getOrElse {
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(dataSchema.fields ++
          (if (lineageOn) Seq(
            org.apache.spark.sql.types.StructField(
              LakeRowLineage.RowIdCol,
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(
              LakeRowLineage.LastUpdCol,
              org.apache.spark.sql.types.IntegerType))
          else Seq.empty) ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.IntegerType))))
    }
  }

  /** OPTIMIZE-style COMPACTION: rewrite the current snapshot into
    * `targetFiles` files and publish the rewrite as a NEW version with
    * identical content — the small-file remedy every streaming-fed
    * lakehouse table needs (a thousand 1 MB commits read as a thousand
    * tasks until compacted; after, as `targetFiles`). Old versions
    * keep serving untouched (compaction is just another snapshot
    * commit); [[vacuum]] reclaims the superseded small files once the
    * retention horizon passes them. Returns the new version. */
  def compact(spark: SparkSession, dir: String, targetFiles: Int,
      orderBy: Option[String] = None): Int = {
    require(targetFiles >= 1,
      s"compaction needs at least one output file, got $targetFiles")
    // content-preserving rewrite: snapshot META (epoch markers) must
    // survive, unlike a user INSERT OVERWRITE which replaces the table
    val v = headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    // layout priority: an explicit one-off `orderBy` (Delta's OPTIMIZE
    // ZORDER BY — same term syntax as graft.write.ordered-by, incl.
    // morton2(a,b)) wins over the table's declared clustering, which
    // wins over a plain round-robin repartition: compaction is exactly
    // when the table re-earns its layout
    val spec = orderBy.flatMap(parseClusterSpec)
      .orElse(clusteringSpec(spark, dir))
    // lineage-enabled tables compact THROUGH their row identity: the
    // rewrite input materializes `_row_id`/`_last_updated_version` as
    // `__graft_row_id`/`__graft_last_upd`, so ids survive the file
    // rewrite (Iceberg v3's preserve-on-rewrite contract)
    val input = withPhysLineage(spark, dir,
      snapshotOf(spark, dir, v).meta, read(spark, dir, Some(v)))
    val out = spec match {
      case Some(s) => clusterWith(s, input, Some(targetFiles))
      case None => input.repartition(targetFiles)
    }
    commitAs(spark, out, dir, nextVersion(spark, dir),
      carryForward = false, meta = snapshotOf(spark, dir, v).meta,
      applyDeclaredClustering = false, op = Some("compact"))
  }

  /** `rel` (a [[read]] of `dir`) with the lineage metadata columns
    * materialized as the hidden physical columns, on lineage tables —
    * the input of a facade rewrite that must keep row identity. */
  private def withPhysLineage(spark: SparkSession, dir: String,
      meta: Map[String, String], rel: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!lineageEnabled(spark, dir, meta)) rel
    else rel
      .withColumn(LakeRowLineage.PhysRowId, col(LakeRowLineage.RowIdCol))
      .withColumn(LakeRowLineage.PhysLastUpd,
        col(LakeRowLineage.LastUpdCol))
  }

  /** SIZE-targeted compaction — the 100 TB operating mode: you size
    * FILES (e.g. 512 MB–1 GB for parquet), not file counts. Computes
    * the target count from the current snapshot's on-disk bytes
    * (driver metadata IO only) and delegates to [[compact]], declared
    * clustering included. */
  def compactToSize(spark: SparkSession, dir: String,
      targetFileBytes: Long): Int = {
    require(targetFileBytes > 0,
      s"target file size must be positive, got $targetFileBytes")
    val v = headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir"))
    val f = fs(spark, dir)
    val total = snapshotOf(spark, dir, v).dataFiles
      .map(p => f.getFileStatus(new Path(p)).getLen).sum
    compact(spark, dir, math.max(1L,
      math.ceil(total.toDouble / targetFileBytes).toLong).toInt)
  }

  /** TRUNCATE: publish an empty snapshot that PRESERVES the current
    * schema (one schema-bearing empty parquet file) — no data scan at
    * all, unlike a delete-everything. Prior versions keep serving. */
  def truncate(spark: SparkSession, dir: String): Int =
    commit(spark, read(spark, dir).limit(0), dir, carryForward = false,
      op = Some("truncate"))

  /** Retention-based VACUUM: keep the newest `keep` published versions
    * (plus every TAGGED version — tags are retention pins, see
    * [[createTag]]) serveable and reclaim everything else — the operation the r10
    * audit spec only *discovered* candidates for. Deletes (a) every
    * data file referenced by none of the retained manifests (covers
    * superseded snapshots AND lost-race / crashed-commit orphan
    * directories, which no manifest ever referenced), (b) data
    * directories left with no referenced files (removes _SUCCESS and
    * friends), and (c) the retired manifests themselves, so a
    * time-travel read below the horizon fails loudly ("version does
    * not exist") instead of surfacing a file-not-found mid-scan.
    * Reference comparison is on fully-qualified paths, so manifests
    * written before path qualification still count. Returns the
    * deleted data-file paths.
    *
    * `graceMs` is the concurrent-writer guard (Delta vacuum's retention
    * window): a data directory whose newest entry is younger than the
    * grace is SKIPPED even when no retained manifest references it,
    * because an in-flight [[commitAs]] writes its nonce data dir FIRST
    * and only then renames its manifest into visibility — without the
    * grace, a vacuum racing that gap deletes files the about-to-publish
    * manifest references, leaving a snapshot that fails mid-scan. The
    * default (15 min) comfortably covers a commit's write-to-rename
    * window; tests and single-writer callers pass 0 explicitly. */
  def vacuum(spark: SparkSession, dir: String, keep: Int,
      graceMs: Long = DefaultVacuumGraceMs,
      retainMs: Long = 0L): Seq[String] =
    vacuumApply(spark, dir,
      vacuumPlan(spark, dir, keep, graceMs, retainMs))

  /** What [[vacuum]] would reclaim, computed WITHOUT deleting anything
    * — the `dry_run` surface (Delta's `VACUUM ... DRY RUN`).
    * `wholeDirs` are data directories no retained manifest references
    * at all (dropped recursively, removing _SUCCESS and friends),
    * `soloFiles` are dead parquet files inside directories that still
    * serve live files, `manifests` are the retired manifest paths,
    * `reported` is the parquet-file list [[vacuum]] returns, and
    * `reclaimedBytes` sums every reclaimed file's payload — the number
    * an operator wants BEFORE committing to a deletion at 100 TB. */
  final case class VacuumPlan(wholeDirs: Seq[String],
      soloFiles: Seq[String], manifests: Seq[String],
      reported: Seq[String], reclaimedBytes: Long)

  /** `retainMs > 0` adds TIME-based retention (Delta's
    * `RETAIN n HOURS`): every version whose manifest is younger than
    * `now - retainMs` stays serveable regardless of the count window —
    * the "time travel works for the last N days" operating contract. */
  def vacuumPlan(spark: SparkSession, dir: String, keep: Int,
      graceMs: Long = DefaultVacuumGraceMs,
      retainMs: Long = 0L): VacuumPlan = {
    require(keep >= 1, s"vacuum must keep at least one version, got $keep")
    val f = fs(spark, dir)
    val horizon = System.currentTimeMillis() - graceMs
    val retainHorizon = System.currentTimeMillis() - retainMs
    latestVersion(spark, dir) match {
      case None => VacuumPlan(Nil, Nil, Nil, Nil, 0L)
      case Some(latest) =>
        // the retention window counts MAIN versions: branch-staged
        // manifests above the head must not consume the keep budget
        // (with keep=1 they'd silently retire the head itself)
        val head = headVersion(spark, dir).getOrElse(latest)
        val cutoff = math.max(0, head - keep + 1)
        // tagged versions and branch HEADS are retention PINS: their
        // manifests and files stay serveable below the horizon
        // ([[createTag]], [[createBranch]]); young manifests are
        // time-pinned when retainMs is set
        val timePinned: Set[Int] =
          if (retainMs <= 0) Set.empty
          else f.listStatus(manifestDir(dir)).toSeq
            .filter(s => s.getPath.getName.matches("\\d+\\.txt") &&
              s.getModificationTime >= retainHorizon)
            .map(_.getPath.getName.stripSuffix(".txt").toInt).toSet
        val tagged = tags(spark, dir).values.toSet ++
          branches(spark, dir).values.toSet ++ timePinned
        val kept = ((cutoff to latest) ++ tagged).distinct.sorted
          .filter(v => f.exists(new Path(manifestDir(dir), s"$v.txt")))
          // a branch-labeled manifest in the window survives only as
          // its branch's HEAD (or tagged): superseded staged commits
          // are garbage. The grace guards the implicit-create race —
          // a just-renamed branch manifest whose ref move hasn't
          // landed yet looks unpinned for a moment.
          .filter { v =>
            tagged.contains(v) ||
              !snapshotOf(spark, dir, v).meta.contains(BranchMetaKey) ||
              f.getFileStatus(new Path(manifestDir(dir), s"$v.txt"))
                .getModificationTime > horizon
          }
        val referenced = kept
          .flatMap { v =>
            val s = snapshotOf(spark, dir, v)
            s.dataFiles ++ s.deleteFiles // DV files are live references
          }
          .map(p => f.makeQualified(new Path(p)).toString).toSet
        // partitioned commits nest files `__graft_part*=<v>` levels
        // down — classification MUST see them, or a data dir whose
        // only top-level entry is _SUCCESS would read as "nothing
        // referenced" and a whole-dir drop would take LIVE files with it
        def filesWithin(d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
          LakePartitioning.leafFiles(f, d)
        val dataDirs = f.listStatus(new Path(dir)).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("files-v"))
          .filter { d =>
            // newest mtime across the dir, its entries, and nested
            // partition files: a dir being actively written is young
            // on any signal
            val entries = f.listStatus(d.getPath).toSeq
            val newest = (d.getModificationTime +:
              (entries ++ filesWithin(d.getPath))
                .map(_.getModificationTime)).max
            newest <= horizon
          }
        val wholeDirs = Seq.newBuilder[String]
        val soloFiles = Seq.newBuilder[String]
        val deleted = Seq.newBuilder[String]
        var bytes = 0L
        dataDirs.foreach { d =>
          val files = filesWithin(d.getPath)
          val (live, dead) = files.partition(s =>
            referenced.contains(f.makeQualified(s.getPath).toString))
          if (live.isEmpty) {
            // nothing referenced in this dir: drop it whole
            dead.foreach { s =>
              deleted += f.makeQualified(s.getPath).toString
              bytes += s.getLen
            }
            wholeDirs += d.getPath.toString
          } else dead.filter(_.getPath.getName.endsWith(".parquet"))
            .foreach { s =>
              val q = f.makeQualified(s.getPath).toString
              deleted += q
              soloFiles += q
              bytes += s.getLen
            }
        }
        val keptSet = kept.toSet
        val manifests = f.listStatus(manifestDir(dir)).toSeq
          .map(_.getPath)
          .filter { p =>
            p.getName.matches("\\d+\\.txt") &&
              !keptSet.contains(p.getName.stripSuffix(".txt").toInt)
          }
          .map(_.toString)
        // manifest SEGMENTS ([[LakeManifest]]) are shared across
        // versions: a segment dies only when NO kept manifest
        // references it. The grace window guards the in-flight-commit
        // race exactly as it does for data files — a just-written
        // segment whose manifest rename hasn't landed is young.
        val liveSegs = LakeManifest.referencedSegments(
          kept.map(v => LakeManifest.parseRaw(readFully(f,
            new Path(manifestDir(dir), s"$v.txt")))))
        val segPath = LakeManifest.segDir(dir)
        val deadSegs =
          if (!f.exists(segPath)) Seq.empty
          else f.listStatus(segPath).toSeq
            .filter(s => !liveSegs.contains(s.getPath.getName) &&
              s.getModificationTime <= horizon)
            .map(_.getPath.toString)
        VacuumPlan(wholeDirs.result(), soloFiles.result(),
          manifests ++ deadSegs,
          deleted.result().filter(_.endsWith(".parquet")), bytes)
    }
  }

  /** Execute a [[vacuumPlan]]; returns the reclaimed parquet paths. */
  private[sources] def vacuumApply(spark: SparkSession, dir: String,
      plan: VacuumPlan): Seq[String] = {
    val f = fs(spark, dir)
    plan.wholeDirs.foreach(d => f.delete(new Path(d), true))
    plan.soloFiles.foreach(p => f.delete(new Path(p), false))
    plan.manifests.foreach(m => f.delete(new Path(m), false))
    plan.reported
  }
}
