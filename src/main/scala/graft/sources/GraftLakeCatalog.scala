package graft.sources

import java.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, ProcedureCatalog, SupportsDeleteV2, SupportsNamespaces, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, NamespaceChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.graftbridge.PredicateBridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark V2 `TableCatalog` over [[VersionedTable]] — the catalog tier
  * of the mini-lakehouse, giving the manifest/snapshot store Spark's
  * NATIVE SQL surface instead of a facade call:
  *
  * {{{
  *   spark.sql.catalog.lake      = graft.sources.GraftLakeCatalog
  *   spark.sql.catalog.lake.root = /data/lake
  *
  *   CREATE TABLE lake.ns.t (...)            -- empty version 0
  *   INSERT INTO lake.ns.t SELECT ...        -- append commit (v+1)
  *   INSERT OVERWRITE lake.ns.t SELECT ...   -- replace commit (v+1)
  *   SELECT * FROM lake.ns.t                 -- latest snapshot
  *   SELECT * FROM lake.ns.t VERSION AS OF 2 -- time travel
  *   SELECT * FROM lake.ns.t TIMESTAMP AS OF '2026-01-01'
  * }}}
  *
  * Identifiers map to directories: `lake.a.b.t` → `<root>/a/b/t`, and a
  * directory IS a table iff it has a published `_manifest/`. Writes go
  * through the V1Write fallback (`toInsertableRelation`) straight into
  * [[VersionedTable.commit]], so every SQL INSERT inherits the atomic
  * manifest-rename commit point, append-costs-the-delta carry-forward,
  * and two-committer race semantics the facade already proves — the
  * catalog adds no second write path to keep consistent. Reads
  * construct Spark's own `ParquetTable` over the snapshot's manifest
  * file list, so the full V2 scan stack applies unchanged: predicate
  * pushdown, column pruning, and (with
  * `spark.sql.parquet.aggregatePushdown`) count/min/max pushdown —
  * all spec-pinned in GraftLakeCatalogSpec.
  *
  * `TIMESTAMP AS OF` resolves against manifest PUBLISH times (the
  * rename instant, read as manifest mtime): the chosen snapshot is the
  * newest version published at-or-before the requested instant, which
  * is exactly Delta/Iceberg's rule. Spark hands the instant down in
  * MICROseconds since the epoch.
  *
  * Reference: the reference has no catalog/SQL surface at all
  * (`/root/reference/README.md` — a Python imaging API); this is part
  * of the §2.6 extension surface, mechanism-matched to Spark.
  */
final class GraftLakeCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  private def spark: SparkSession = SparkSession.active

  private def fs: FileSystem =
    FileSystem.get(new Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new
      IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (root +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  private def dirOf(namespace: Array[String]): String =
    (root +: namespace.toSeq).mkString("/")

  private def isTable(dir: String): Boolean =
    fs.exists(new Path(s"$dir/_manifest"))

  override def tableExists(ident: Identifier): Boolean =
    isTable(dirOf(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = new Path(dirOf(namespace))
    if (!fs.exists(d)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    fs.listStatus(d).toSeq
      .filter(s => s.isDirectory && isTable(s.getPath.toString))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val d = dirOf(ident)
    if (isTable(d)) return new GraftLakeTable(ident, d, None)
    // `<cat>.<table>.versions` — the metadata-table suffix resolves
    // against the PARENT when the child is not itself a table
    if (GraftLakeVersionsTable.MetadataTableNames.contains(ident.name()) &&
        ident.namespace().nonEmpty) {
      val parent = dirOf(ident.namespace())
      if (isTable(parent)) return ident.name() match {
        case "refs" =>
          new GraftLakeRefsTable(ident.namespace().mkString("."), parent)
        case "files" =>
          new GraftLakeFilesTable(ident.namespace().mkString("."), parent)
        case "partitions" =>
          new GraftLakePartitionsTable(
            ident.namespace().mkString("."), parent)
        case _ =>
          new GraftLakeVersionsTable(
            ident.namespace().mkString("."), parent)
      }
    }
    throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF <v>` — explicit snapshot pin: an integer version,
    * or a TAG name (`VERSION AS OF 'prod'`, Iceberg's ref syntax). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val d = dirOf(ident)
    if (!isTable(d)) throw new NoSuchTableException(ident)
    val v = VersionedTable.resolveRef(spark, d, version)
    // resolve eagerly so a bad AS OF fails at analysis, not mid-scan
    VersionedTable.filesOf(spark, d, v)
    new GraftLakeTable(ident, d, Some(v))
  }

  /** `TIMESTAMP AS OF <t>` — newest version PUBLISHED at-or-before the
    * instant (manifest rename time); `timestamp` arrives in micros. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val d = dirOf(ident)
    if (!isTable(d)) throw new NoSuchTableException(ident)
    val tsMs = timestamp / 1000L
    val manifests = fs.listStatus(new Path(s"$d/_manifest")).toSeq
      .filter(_.getPath.getName.matches("\\d+\\.txt"))
    val v = manifests
      .filter(_.getModificationTime <= tsMs)
      .map(_.getPath.getName.stripSuffix(".txt").toInt)
      .sorted.lastOption.getOrElse {
        // a crashed first commit can leave _manifest empty: report
        // "never published" instead of throwing on min of nothing
        val earliest = manifests.map(_.getModificationTime).minOption
          .map(m => s"earliest publish: $m ms")
          .getOrElse("no version was ever published")
        throw new IllegalArgumentException(
          s"no version of ${ident.toString} existed at " +
            s"timestamp $tsMs ms ($earliest)")
      }
    new GraftLakeTable(ident, d, Some(v))
  }

  /** CREATE TABLE — publishes version 0 as an EMPTY snapshot carrying
    * the declared schema (one schema-bearing empty parquet file), so
    * the table is immediately loadable and the first INSERT is an
    * ordinary append commit. `PARTITIONED BY (col)` /
    * `PARTITIONED BY (bucket(n, col))` persists as the
    * `graft.partitioning` property ([[LakePartitioning]]): every
    * commit routes rows so each data file owns ONE partition value,
    * and reads report key-grouped partitioning — the
    * storage-partitioned-join layout. The spec is structural and
    * immutable (declared here only, never via ALTER): changing it
    * later would falsify committed files' key claims. */
  /** DEFAULT-value DDL is admitted ([[LakeDefaults]]) so the parser
    * accepts `ADD COLUMN ... DEFAULT <const>` and the analyzer fills
    * `CURRENT_DEFAULT` into INSERTs that omit the column. */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // defaults are an ALTER-time evolution here: a CREATE-time default
    // would vanish in the carrier file's parquet roundtrip — refuse
    // loudly rather than silently dropping it
    schema.fields.find(_.metadata.contains(LakeDefaults.CurrentKey))
      .foreach(f => throw new UnsupportedOperationException(
        s"column '${f.name}': CREATE TABLE with DEFAULT is not " +
          "supported — add the column with ALTER TABLE ... ADD " +
          "COLUMN ... DEFAULT after creation"))
    if (properties.containsKey(LakePartitioning.Prop))
      throw new UnsupportedOperationException(
        s"${LakePartitioning.Prop} is derived from PARTITIONED BY; " +
          "it cannot be set as a table property")
    val d = dirOf(ident)
    // properties first: an unsupported key must reject BEFORE the
    // manifest publish makes the table exist (a crash here leaves only
    // a _properties file, which isTable ignores)
    val withPart = LakePartitioning.fromTransforms(partitions, schema)
      match {
        case None => properties
        case Some(serialized) =>
          val m = new util.HashMap[String, String](properties)
          m.put(LakePartitioning.Prop, serialized)
          m
      }
    GraftLakeTable.writeProperties(spark, d, withPart)
    val empty = spark.createDataFrame(
      new util.ArrayList[Row](), schema)
    VersionedTable.commit(spark, empty, d, carryForward = false,
      op = Some("create"))
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD COLUMN(S)` — additive evolution ONLY, the
    * lakehouse-safe subset: each added column is appended by
    * publishing a carry-forward commit whose delta is one
    * schema-bearing EMPTY parquet file, so the widened schema
    * surfaces through the manifest-recorded schema every read serves
    * ([[LakeSchema]]), prior data is
    * untouched (new column reads NULL over old files), and prior
    * snapshots keep their exact shape under `VERSION AS OF`. Rename/
    * drop/retype are rejected: they would re-interpret bytes already
    * committed, which a footer-schema store cannot do losslessly. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val d = dirOf(ident)
    if (!isTable(d)) throw new NoSuchTableException(ident)
    // SET/UNSET TBLPROPERTIES: merge into the _properties file (same
    // 'graft.'-only validation and tmp+rename publish as CREATE).
    // Declaring clustering on an existing table affects FUTURE writes
    // only — compaction is how the table re-earns its layout.
    val (propChanges, rest) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
        true
      case _ => false
    }
    // PARTITION-SPEC EVOLUTION (Iceberg's per-file spec binding):
    // SET on graft.partitioning re-declares the layout for FUTURE
    // writes only — committed files keep the spec they were routed
    // by (their birth version is structural in the path, the history
    // property maps versions to generations), so evolution is one
    // property write: zero data moves, per-generation pruning keeps
    // working, and compaction migrates the table forward to re-earn
    // single-spec layouts (SPJ / zero-exchange aggs). UNSET stays
    // refused: dropping the declaration would orphan the history.
    // The history property itself is engine-maintained.
    propChanges.foreach {
      case s: TableChange.SetProperty
          if s.property() == LakePartitioning.HistoryProp =>
        throw new UnsupportedOperationException(
          s"${LakePartitioning.HistoryProp} is engine-maintained " +
            "(written by ALTER TABLE ... SET " +
            s"TBLPROPERTIES('${LakePartitioning.Prop}'=...))")
      case r: TableChange.RemoveProperty
          if r.property() == LakePartitioning.HistoryProp ||
            r.property() == LakePartitioning.Prop =>
        throw new UnsupportedOperationException(
          s"${r.property()} cannot be UNSET (evolve the spec with " +
            s"SET TBLPROPERTIES('${LakePartitioning.Prop}'=...) " +
            "instead)")
      case _ => ()
    }
    if (propChanges.nonEmpty) {
      val cur = GraftLakeTable.readProperties(spark, d)
      val next = new util.HashMap[String, String](cur)
      propChanges.foreach {
        case s: TableChange.SetProperty
            if s.property() == LakePartitioning.Prop =>
          val newSpecs = LakePartitioning.parse(s.value()).getOrElse(
            throw new IllegalArgumentException(
              s"unparseable partition spec '${s.value()}' (supported: " +
                "identity(col), bucket(n, col), truncate(w, col), " +
                "days/months/years/hours(col))"))
          val schema = (loadTable(ident): Table).schema()
          val canonical = LakePartitioning.validateSpecs(newSpecs, schema)
            .map(_.serialized).mkString(",")
          val curSpec = Option(cur.get(LakePartitioning.Prop))
            .getOrElse("")
          if (canonical != curSpec) {
            if (Option(spark.conf.get(GraftLakeTable.WapBranchConf, null))
                .exists(_.trim.nonEmpty))
              throw new UnsupportedOperationException(
                "partition-spec evolution under an active WAP branch " +
                  "is not supported — fast_forward or drop the branch " +
                  "first")
            val head = VersionedTable.headVersion(spark, d).getOrElse(
              throw new NoSuchTableException(ident))
            val entry = s"$head:$curSpec"
            val hist = Option(cur.get(LakePartitioning.HistoryProp))
              .filter(_.trim.nonEmpty)
            next.put(LakePartitioning.HistoryProp,
              hist.map(_ + ";" + entry).getOrElse(entry))
            next.put(LakePartitioning.Prop, canonical)
          }
        case s: TableChange.SetProperty
            if s.property() == "graft.write.ordered-by" =>
          // stamp the version clustering takes effect at: committed
          // files are NOT re-sorted by a declaration, so the scan's
          // ordering report must exclude any file born before it
          next.put("graft.write.ordered-by.since",
            (VersionedTable.headVersion(spark, d).getOrElse(-1) + 1)
              .toString)
          next.put(s.property(), s.value())
        case s: TableChange.SetProperty =>
          next.put(s.property(), s.value())
        case r: TableChange.RemoveProperty =>
          next.remove(r.property())
        case _ => ()
      }
      GraftLakeTable.writeProperties(spark, d, next)
      if (rest.isEmpty) return loadTable(ident)
    }
    val head = VersionedTable.headVersion(spark, d).getOrElse(
      throw new NoSuchTableException(ident))
    val snap = VersionedTable.snapshotOf(spark, d, head)
    val logical = (loadTable(ident): Table).schema()
    val baseMapping = LakeColumnMapping.fromMeta(snap.meta)
      .getOrElse(LakeColumnMapping.identityOf(logical))
    // ---- TYPE WIDENING ([[LakeTypeWidening]]): ALTER COLUMN ... TYPE
    // publishes a metadata-only commit recording the widened logical
    // type; narrow files upcast natively at read, appends land wide,
    // time travel serves the narrow type, narrowing refuses.
    val widens = rest.collect { case u: TableChange.UpdateColumnType => u }
    if (widens.nonEmpty) {
      if (widens.size != rest.size)
        throw new UnsupportedOperationException(
          "ALTER COLUMN TYPE cannot combine with other column changes " +
            "in one statement")
      if (!baseMapping.isIdentity)
        throw new UnsupportedOperationException(
          "type widening on a column-mapped table is not supported — " +
            "run compact first")
      if (snap.deleteFiles.nonEmpty)
        throw new UnsupportedOperationException(
          "type widening with outstanding merge-on-read delete files " +
            "is not supported — compact first")
      val structural: Set[String] = (
        LakePartitioning.specOf(spark, d).toSeq.flatten.map(_.column) ++
          VersionedTable.clusteringSpec(spark, d).toSeq.flatten
            .flatMap(term => "[A-Za-z_][A-Za-z0-9_]*".r
              .findAllIn(term).filterNot(_.equalsIgnoreCase("morton2")))
        ).map(_.toLowerCase).toSet
      val prior = LakeTypeWidening.fromMeta(snap.meta)
      val added = widens.map { u =>
        val name = singleName(u.fieldNames())
        val field = logical.fields.find(_.name.equalsIgnoreCase(name))
          .getOrElse(throw new IllegalArgumentException(
            s"no such column: $name"))
        if (structural.contains(name.toLowerCase))
          throw new UnsupportedOperationException(
            s"cannot widen column '$name': it routes this table's " +
              "declared partitioning/clustering layout")
        if (!LakeTypeWidening.isWidening(field.dataType, u.newDataType()))
          throw new UnsupportedOperationException(
            s"ALTER COLUMN $name TYPE ${u.newDataType().catalogString}: " +
              s"only lossless widenings of ${field.dataType.catalogString}" +
              " are supported (byte<smallint<int<bigint, float->double)")
        field.name.toLowerCase -> u.newDataType()
      }.toMap
      // a widened DEFAULT column re-types its backfill entry with it
      // (the constant SQL parses into the wide type; old files then
      // backfill wide, meta-only columns append wide)
      val retypedDefaults = added.flatMap { case (lname, wideDt) =>
        snap.meta.get(LakeDefaults.metaKey(lname)).map { v =>
          val (n0, _, sql) = LakeDefaults.fromMeta(
            Map(LakeDefaults.metaKey(lname) -> v)).head
          LakeDefaults.metaKey(lname) ->
            LakeDefaults.encode(n0, wideDt, sql)
        }
      }
      VersionedTable.publishMetaOnly(spark, d,
        Map(LakeTypeWidening.Meta ->
          LakeTypeWidening.toMeta(prior ++ added)) ++ retypedDefaults,
        op = "widen-column")
      return loadTable(ident)
    }
    val hasEvolution = rest.exists {
      case _: TableChange.RenameColumn | _: TableChange.DeleteColumn =>
        true
      case _ => false
    }
    // ---- additive-only fast path on a never-mapped table. Two
    // shapes: a DEFAULT-carrying add ([[LakeDefaults]]) is a
    // PROPERTY-ONLY commit — zero IO, the schema and the backfill
    // value both served from snapshot meta (old files fill via the
    // readers' existence-default machinery, new files write the
    // value, time travel below the add serves absence); a plain add
    // keeps the original empty-carrier-file contract.
    if (!hasEvolution && baseMapping.isIdentity) {
      var defaultMeta = Map.empty[String, String]
      val widened = rest.foldLeft(logical) {
        case (sch, add: TableChange.AddColumn) =>
          val n0 = singleName(add.fieldNames())
          if (sch.fieldNames.exists(_.equalsIgnoreCase(n0)) ||
              defaultMeta.contains(LakeDefaults.metaKey(n0)))
            throw new IllegalArgumentException(
              s"column $n0 already exists")
          if (add.defaultValue() != null) {
            defaultMeta += (LakeDefaults.metaKey(n0) ->
              LakeDefaults.encode(n0, add.dataType(),
                LakeDefaults.sqlOf(add.defaultValue())))
            sch
          } else sch.add(StructField(n0, add.dataType(),
            nullable = true))
        case (_, other) => throw new UnsupportedOperationException(
          s"$catalogName: unsupported ALTER TABLE change " +
            other.getClass.getSimpleName +
            " (supported: ADD/RENAME/DROP COLUMN, TBLPROPERTIES)")
      }
      if (widened ne logical) {
        val empty = spark.createDataFrame(
          new util.ArrayList[Row](), widened)
        VersionedTable.commit(spark, empty, d, carryForward = true,
          op = Some("add-column"))
      }
      if (defaultMeta.nonEmpty)
        VersionedTable.publishMetaOnly(spark, d, defaultMeta,
          op = "add-column")
      return loadTable(ident)
    }
    // ---- COLUMN MAPPING path ([[LakeColumnMapping]]): RENAME / DROP
    // touch zero data bytes — the new schema is snapshot METADATA,
    // atomic with its manifest, exact under time travel. Guards:
    // outstanding merge-on-read masks and WAP staging interact with
    // rewrites the mapped state refuses, and structural columns
    // (partition / clustering keys) route every write — renaming them
    // would falsify committed layouts.
    if (snap.deleteFiles.nonEmpty) throw new UnsupportedOperationException(
      s"RENAME/DROP COLUMN on ${ident.toString} with outstanding " +
        "merge-on-read delete files is not supported — compact first")
    if (Option(spark.conf.get(GraftLakeTable.WapBranchConf, null))
        .exists(_.trim.nonEmpty))
      throw new UnsupportedOperationException(
        s"RENAME/DROP COLUMN on ${ident.toString} under " +
          s"${GraftLakeTable.WapBranchConf} is not supported — " +
          "fast_forward or drop the branch first")
    val structural: Set[String] = (
      LakePartitioning.specOf(spark, d).toSeq.flatten.map(_.column) ++
        VersionedTable.clusteringSpec(spark, d).toSeq.flatten
          .flatMap(term => "[A-Za-z_][A-Za-z0-9_]*".r
            .findAllIn(term).filterNot(_.equalsIgnoreCase("morton2")))
      ).map(_.toLowerCase).toSet
    def guardStructural(name: String, what: String): Unit =
      if (structural.contains(name.toLowerCase))
        throw new UnsupportedOperationException(
          s"cannot $what column '$name': it routes this table's " +
            "declared partitioning/clustering layout")
    val logicalTypes = logical.fields
      .map(f => f.name.toLowerCase -> f).toMap
    // META-ONLY default columns ([[LakeDefaults]] adds that no file
    // carries yet) are not physical: the mapping machinery must not
    // see them (a mapping entry with no backing file corrupts mapped
    // reads) — their rename/drop is pure meta re-keying below
    val rawFields: Set[String] =
      if (snap.dataFiles.isEmpty) Set.empty
      else LakeSchema.physicalSchema(spark, snap).fieldNames
        .map(_.toLowerCase).toSet
    val metaOnlyDefaults: Set[String] =
      LakeDefaults.fromMeta(snap.meta).map(_._1).filter { nm =>
        val phys = baseMapping.physicalOf(nm).getOrElse(nm)
        !rawFields.contains(phys.toLowerCase)
      }.map(_.toLowerCase).toSet
    var m = baseMapping.copy(fields = baseMapping.fields
      .filterNot(f => metaOnlyDefaults.contains(f._1.toLowerCase)))
    var carriers = Seq.empty[StructField] // physical fields for adds
    var defaultMeta = Map.empty[String, String]
    var removedDefaults = Set.empty[String]
    def isMetaOnly(nm: String): Boolean =
      metaOnlyDefaults.contains(nm.toLowerCase) &&
        !removedDefaults.contains(LakeDefaults.metaKey(nm))
    rest.foreach {
      case add: TableChange.AddColumn =>
        val n = singleName(add.fieldNames())
        if (m.fields.exists(_._1.equalsIgnoreCase(n)) || isMetaOnly(n))
          throw new IllegalArgumentException(s"column $n already exists")
        val phys = LakeColumnMapping.freshPhysical(
          m, LakeColumnMapping.validateName(n), head + 1)
        m = m.copy(fields = m.fields :+ (n -> phys))
        carriers :+= StructField(phys, add.dataType(), nullable = true)
        // DEFAULT on a mapped add: the backfill value keys by LOGICAL
        // name (reads enrich the logical schema; pruneToPhysical
        // carries the metadata onto the physical request)
        if (add.defaultValue() != null)
          defaultMeta += (LakeDefaults.metaKey(n) ->
            LakeDefaults.encode(n, add.dataType(),
              LakeDefaults.sqlOf(add.defaultValue())))
      case r: TableChange.RenameColumn =>
        val from = singleName(r.fieldNames())
        val to = LakeColumnMapping.validateName(r.newName())
        guardStructural(from, "rename")
        if (m.fields.exists(_._1.equalsIgnoreCase(to)) || isMetaOnly(to))
          throw new IllegalArgumentException(s"column $to already exists")
        def rekeyDefault(): Unit =
          snap.meta.get(LakeDefaults.metaKey(from)).foreach { v =>
            val (_, dt, sql) = LakeDefaults.fromMeta(
              Map(LakeDefaults.metaKey(from) -> v)).head
            removedDefaults += LakeDefaults.metaKey(from)
            defaultMeta += (LakeDefaults.metaKey(to) ->
              LakeDefaults.encode(to, dt, sql))
          }
        if (isMetaOnly(from)) rekeyDefault() // pure meta re-key
        else {
          val entry = m.fields.find(_._1.equalsIgnoreCase(from))
            .getOrElse(throw new IllegalArgumentException(
              s"no such column: $from"))
          m = m.copy(fields = m.fields.map(f =>
            if (f eq entry) (to, f._2) else f))
          // a defaulted column renames its backfill entry with it
          rekeyDefault()
        }
      case del: TableChange.DeleteColumn =>
        val n = singleName(del.fieldNames())
        if (isMetaOnly(n)) {
          guardStructural(n, "drop")
          // meta-only default: dropping it is pure meta removal
          removedDefaults += LakeDefaults.metaKey(n)
        } else m.fields.find(_._1.equalsIgnoreCase(n)) match {
          case None =>
            if (!del.ifExists())
              throw new IllegalArgumentException(s"no such column: $n")
          case Some(entry) =>
            guardStructural(n, "drop")
            if (m.fields.length == 1)
              throw new UnsupportedOperationException(
                "cannot drop a table's last column")
            m = LakeColumnMapping.Mapping(m.fields.filterNot(_ eq entry),
              m.dropped :+ entry._2)
            // dropping a defaulted column retires its backfill entry
            removedDefaults += LakeDefaults.metaKey(n)
        }
      case other => throw new UnsupportedOperationException(
        s"$catalogName: unsupported ALTER TABLE change " +
          other.getClass.getSimpleName +
          " (supported: ADD/RENAME/DROP COLUMN, TBLPROPERTIES)")
    }
    val op = rest.toSeq.map(_.getClass.getSimpleName).distinct match {
      case Seq("RenameColumn") => "rename-column"
      case Seq("DeleteColumn") => "drop-column"
      case Seq("AddColumn") => "add-column"
      case _ => "alter-schema"
    }
    if (carriers.nonEmpty) {
      // ADD on a mapped table: the carrier file must land the new
      // columns under their PHYSICAL names next to the existing
      // physical schema — commitAs must not re-map it
      val physSchema = StructType(
        baseMapping.fields.map { case (l, p) =>
          val f = logicalTypes(l.toLowerCase)
          StructField(p, f.dataType, f.nullable)
        } ++ carriers)
      val empty = spark.createDataFrame(
        new util.ArrayList[Row](), physSchema)
      VersionedTable.commitAs(spark, empty, d,
        VersionedTable.nextVersion(spark, d), carryForward = true,
        meta = m.metaEntries ++ defaultMeta, op = Some(op),
        baseVersion = Some(head), applyColumnMapping = false)
      // commitAs carries prior meta forward; retired default keys
      // (dropped columns) need an explicit strip
      if (removedDefaults.nonEmpty) {
        val v = VersionedTable.headVersion(spark, d).get
        val sn = VersionedTable.snapshotOf(spark, d, v)
        VersionedTable.publishVersion(spark, d,
          VersionedTable.nextVersion(spark, d), sn.dataFiles,
          new StructType(), sn.deleteFiles, sn.stats,
          sn.meta -- removedDefaults, op = op)
      }
    } else {
      // pure rename/drop: a manifest-only commit — the SAME files,
      // stats carried by reference, zero data IO
      VersionedTable.publishVersion(spark, d,
        VersionedTable.nextVersion(spark, d), snap.dataFiles,
        new StructType(), snap.deleteFiles, snap.stats,
        (snap.meta -- removedDefaults) ++ m.metaEntries ++ defaultMeta,
        op = op)
    }
    loadTable(ident)
  }

  private def singleName(names: Array[String]): String = {
    if (names.length != 1)
      throw new UnsupportedOperationException(
        s"$catalogName: nested column changes are not supported " +
          s"(${names.mkString(".")})")
    names(0)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = dirOf(ident)
    if (!isTable(d)) false
    else fs.delete(new Path(d), true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace()))
      throw new NoSuchNamespaceException(
        catalogName +: newIdent.namespace().toSeq)
    if (!fs.rename(new Path(dirOf(oldIdent)), new Path(dirOf(newIdent))))
      throw new IllegalStateException(
        s"rename ${oldIdent.toString} -> ${newIdent.toString} failed")
  }

  // ---------------------------------------------------- FunctionCatalog
  // Catalog-scoped SQL functions (GraftLakeFunctions): built-in to the
  // catalog, addressable from any namespace level so both
  // `SELECT <cat>.morton2(...)` and `<cat>.ns.morton2(...)` resolve.

  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    GraftLakeFunctions.names
      .map(n => Identifier.of(namespace, n)).toArray
  }

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftLakeFunctions.load(ident.name()).getOrElse(
      throw new NoSuchFunctionException(ident))

  // ---------------------------------------------------- ProcedureCatalog
  // Lifecycle maintenance as SQL: `CALL <cat>.system.compact(...)` /
  // `CALL <cat>.system.vacuum(...)` (GraftLakeProcedures). The `system`
  // namespace is conventional (Iceberg's shape) but not enforced —
  // procedures resolve from any namespace level, like the catalog
  // functions above.

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftLakeProcedures.names
      .map(n => Identifier.of(namespace, n)).toArray

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftLakeProcedures.load(ident.name(), resolveTableDir,
      resolveNewTableDir).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure ${ident.toString}; known: " +
          GraftLakeProcedures.names.mkString(", ")))

  /** 'ns.t' / 't' (catalog-relative) -> table directory, loud on a
    * path that holds no published table. */
  private def resolveTableDir(table: String): String = {
    val parts = table.split('.').toSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table name '$table'")
    val d = dirOf(Identifier.of(parts.init.toArray, parts.last))
    if (!isTable(d)) throw new NoSuchTableException(
      Identifier.of(parts.init.toArray, parts.last))
    d
  }

  /** Like [[resolveTableDir]] but for a table being CREATED (clone
    * target): must not already exist. */
  private def resolveNewTableDir(table: String): String = {
    val parts = table.split('.').toSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table name '$table'")
    val id = Identifier.of(parts.init.toArray, parts.last)
    val d = dirOf(id)
    if (isTable(d)) throw new TableAlreadyExistsException(id)
    d
  }

  // -------------------------------------------------- SupportsNamespaces
  // Namespaces are directories without a _manifest; the root itself is
  // the (implicit, always-existing) empty namespace.

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (fs.exists(new Path(dirOf(namespace))) &&
        !isTable(dirOf(namespace)))

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    val d = new Path(dirOf(namespace))
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    if (!fs.exists(d)) Array.empty
    else fs.listStatus(d).toSeq
      .filter(s => s.isDirectory && !isTable(s.getPath.toString) &&
        s.getPath.getName != "_manifest")
      .map(s => namespace :+ s.getPath.getName)
      .toArray
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    fs.mkdirs(new Path(dirOf(namespace)))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty) false
    else {
      // emptiness counts only what list(Tables|Namespaces) would show
      // as children; Spark's error class surfaces this as the proper
      // DROP NAMESPACE analysis error, not an internal failure
      val children = fs.listStatus(new Path(dirOf(namespace))).toSeq
        .filter(s => s.isDirectory && s.getPath.getName != "_manifest")
      if (!cascade && children.nonEmpty)
        throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(namespace,
            s"it contains ${children.size} tables or namespaces", None)
      fs.delete(new Path(dirOf(namespace)), true)
    }
  }
}

/** One snapshot of a lake table. Reads delegate to Spark's own
  * `ParquetTable` built over the snapshot's manifest file list (full V2
  * pushdown stack for free — filters, column pruning, aggregate
  * pushdown); writes are REJECTED on pinned snapshots and otherwise go
  * through the V1Write fallback into [[VersionedTable.commit]]:
  * INSERT INTO appends (carry-forward commit), INSERT OVERWRITE
  * replaces (the WriteBuilder's truncate() flips carry-forward off) —
  * in both cases the new version is published by the same manifest
  * rename as the facade path, so readers never observe a torn
  * snapshot. A second commit of a version already published throws;
  * two truly concurrent committers can both win today (the rename is
  * check-then-rename — ROADMAP item 4). */
final class GraftLakeTable(ident: Identifier, dir: String,
    version: Option[Int]) extends Table
    with SupportsRead with SupportsWrite with SupportsDeleteV2
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active

  /** METADATA COLUMNS, resolved only when referenced, on every
    * snapshot — clean or carrying merge-on-read masks:
    *  - `_file` (Iceberg's `_file`): the manifest path of the data file
    *    serving each row — per-row lineage for layout debugging
    *    (`SELECT _file, count(*) ... GROUP BY _file`) and targeted
    *    maintenance.
    *  - `_pos` (Iceberg's `_pos`): the row's 0-based physical position
    *    in that file, counting masked rows — what the positional
    *    delete files record, served by the positioned reader
    *    ([[GraftLakeDvScan]]).
    *  - row lineage (`_row_id`, `_last_updated_version`) on enabled
    *    tables: `_row_id` keeps Spark's PRESERVE_ON_UPDATE default
    *    (true), so an UPDATE carries it into the replacement row;
    *    `_last_updated_version` declares preserve_on_update = false,
    *    so Spark's rewrite NULLIFIES it for updated rows and the read
    *    serves the replacement file's birth = the update's own commit
    *    version. MERGE reinserts nullify both → fresh identity.
    *  - the shredded-JSON columns, so the read rewrite can reference
    *    them and a row-level DELETE can carry them into its
    *    replacement files, while `SELECT *` stays clean.
    * A DATA column named `_file` or `_pos` shadows the metadata
    * column of that name. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val data = schema().fieldNames.map(_.toLowerCase).toSet
    GraftLakeTable.positionMetaCols.filterNot(c => data(c.name)) ++
      (if (lineageOn) GraftLakeTable.lineageMetaCols
       else Array.empty[
         org.apache.spark.sql.connector.catalog.MetadataColumn]) ++
      shredMetaCols
  }

  /** Shredded-JSON hidden columns as metadata columns
    * ([[LakeJsonShred]]) — declared regardless of masks (the DV scan
    * reads them as ordinary physical columns). */
  private lazy val shredMetaCols
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    LakeJsonShred.fromProps(properties()).toArray
      .flatMap { case (_, paths) => paths.map { p =>
        new org.apache.spark.sql.connector.catalog.MetadataColumn {
          override def name(): String =
            LakeJsonShred.shredColName(p)
          override def dataType()
              : org.apache.spark.sql.types.DataType = p.dt
          override def isNullable: Boolean = true
          override def comment(): String =
            s"shredded JSON path ${p.path} (${p.dt.simpleString})"
        }: org.apache.spark.sql.connector.catalog.MetadataColumn
      }}

  /** Row lineage declared for this table (property, or an inherited
    * id watermark in the resolved snapshot's meta)? */
  private[sources] lazy val lineageOn: Boolean =
    VersionedTable.lineageEnabled(spark, dir, snapshot.meta)

  /** SHREDDED-JSON serving gate ([[LakeJsonShred]]): Some((src,
    * paths)) only when the table declares shredding AND every live
    * data file physically carries every shredded column (manifest
    * stats column inventory — zero IO). Otherwise the rewrite stays
    * off and declared paths parse the raw string: answers never
    * depend on the gate, only the plan does. */
  private[graft] lazy val shredServing
      : Option[(String, Seq[LakeJsonShred.ShredPath])] =
    LakeJsonShred.fromProps(properties()).filter { case (_, paths) =>
      // column coverage is the gate; outstanding MoR masks are NOT —
      // shredded columns are ordinary physical columns the DV scan
      // reads like any other, so parse-once serving survives the
      // between-compactions state (every data-landing path shreds)
      snapshot.dataFiles.nonEmpty && snapshot.dataFiles.forall(p =>
        snapshot.stats.get(p).exists(fs => fs.rowCount == 0L ||
          paths.forall(pa =>
            fs.cols.contains(LakeJsonShred.shredColName(pa))))) &&
        mapping.isEmpty
    }

  /** The session's write-audit-publish branch
    * (`SET spark.graft.wap.branch = audit_x`, Iceberg's WAP contract):
    * while set, this table's default READS resolve the branch head
    * (falling back to main if the table has no such branch yet) and
    * batch APPENDS/OVERWRITES and row-level DML (UPDATE/MERGE/DELETE,
    * rebased onto the branch head) stage onto the branch instead of
    * main — audit the staged state by the same table name, then
    * `CALL system.fast_forward` to publish or drop the branch to
    * discard. TRUNCATE and streaming writes refuse under WAP. */
  private def wapBranch: Option[String] =
    Option(spark.conf.get(GraftLakeTable.WapBranchConf, null))
      .map(_.trim).filter(_.nonEmpty)

  private def refuseUnderWap(what: String): Unit = wapBranch.foreach(b =>
    throw new UnsupportedOperationException(
      s"$what on ${ident.toString} is not supported while " +
        s"${GraftLakeTable.WapBranchConf}='$b' is set — fast_forward " +
        "or drop the branch first"))

  /** `UPDATE` / `MERGE INTO` / copy-on-write `DELETE` — the one
    * group-based copy-on-write rewrite ([[GraftLakeRowLevelOperation]]);
    * groups are files, untouched files carry forward by reference.
    * Only a merge-on-read DELETE short-circuits through
    * [[deleteWhere]] (Spark's metadata-only delete rule asks
    * [[canDeleteWhere]] first). A DELETE on a shredded table carries
    * the stored shredded-JSON columns through unchanged, so serving
    * survives it. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    if (version.isDefined) throw new UnsupportedOperationException(
      s"cannot modify time-travel snapshot ${ident.toString} " +
        s"VERSION AS OF ${version.get}")
    // row-level rewrites land replacement files under LOGICAL names;
    // mixing them with mapped physical files would corrupt reads
    if (mapping.isDefined) throw new UnsupportedOperationException(
      s"row-level DML on column-mapped table ${ident.toString} is " +
        "not supported — CALL system.compact first (it rewrites files " +
        "under the current logical names and clears the mapping)")
    // under WAP the rewrite bases on the branch head and its commit
    // stages onto the branch — DML participates in write-audit-publish
    val wap = wapBranch
    val carried =
      if (info.command != RowLevelOperation.Command.DELETE) Seq.empty
      else shredServing.toSeq.flatMap(_._2).map(p =>
        StructField(LakeJsonShred.shredColName(p), p.dt))
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftLakeRowLevelOperation(dir, info.command, schema(), wap,
          carried)
    }
  }

  /** Resolved once per load: AS-OF pins the version; under a WAP
    * branch the branch head (main if this table has no such branch);
    * the table's HEAD otherwise (branch-staged manifests are not the
    * table). [[VersionedTable.read]] pins the version, so a WAP
    * branch never redirects a facade read. */
  private lazy val snapshot: VersionedTable.Snapshot = {
    val v = version
      .orElse(wapBranch.flatMap(
        VersionedTable.branches(spark, dir).get(_)))
      .orElse(VersionedTable.headVersion(spark, dir))
      .getOrElse(throw new NoSuchTableException(ident))
    VersionedTable.snapshotOf(spark, dir, v)
  }

  /** The snapshot's files under the ONE schema resolver
    * ([[LakeSchema.physicalSchema]]: the manifest-recorded schema,
    * widen overrides on top). Materialized lineage columns must stay
    * readable even when that schema (a fresh append / the recorded
    * union on an old snapshot) lacks them — the positioned reader
    * reads them from older rewritten files. */
  private lazy val delegate: ParquetTable = {
    val phys = LakeSchema.physicalSchema(spark, snapshot)
    val guarded =
      if (snapshot.stats.valuesIterator.exists(
          _.cols.contains(LakeRowLineage.PhysRowId)) &&
          !phys.fieldNames.exists(_.equalsIgnoreCase(
            LakeRowLineage.PhysRowId)))
        phys.add(LakeRowLineage.PhysRowId,
            org.apache.spark.sql.types.LongType)
          .add(LakeRowLineage.PhysLastUpd,
            org.apache.spark.sql.types.IntegerType)
      else phys
    ParquetTable(ident.toString, spark,
      CaseInsensitiveStringMap.empty(), snapshot.dataFiles,
      Some(guarded), classOf[ParquetFileFormat])
  }

  override def name(): String = ident.toString

  /** Active COLUMN MAPPING ([[LakeColumnMapping]]) for the resolved
    * snapshot — version-pinned, so `VERSION AS OF` a pre-rename
    * snapshot serves the old names. Identity mappings cost nothing. */
  private[sources] lazy val mapping: Option[LakeColumnMapping.Mapping] =
    LakeColumnMapping.fromMeta(snapshot.meta).filterNot(_.isIdentity)

  override def schema(): StructType = {
    val s = mapping match {
      case Some(m) =>
        LakeColumnMapping.logicalSchema(m, (delegate: Table).schema())
      case None => (delegate: Table).schema()
    }
    // hidden physical lineage + shredded-JSON columns are served as
    // METADATA columns, never data; declared DEFAULT columns enrich
    // with the resolver metadata (and append entirely when no file
    // carries them yet)
    LakeDefaults.enrichFromMeta(
      StructType(s.fields.filterNot(f =>
        LakeRowLineage.isInternalCol(f.name) ||
          LakeJsonShred.isShredCol(f.name))),
      snapshot.meta)
  }

  /** The declared partition transform ([[LakePartitioning]]), if any —
    * what `DESCRIBE TABLE` shows and what Spark's
    * `V2ScanPartitioningAndOrdering` resolves against the catalog's
    * own `bucket` function for storage-partitioned joins. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    partSpec.map(_.map(_.transform).toArray).getOrElse(Array.empty)

  private lazy val partSpec: Option[Seq[LakePartitioning.Spec]] =
    LakePartitioning.specOf(spark, dir)

  /** Spec-evolution history ([[LakePartitioning.HistoryProp]]) —
    * empty on never-evolved tables, where the single-spec fast paths
    * below apply unchanged. */
  private lazy val partHistory
      : Seq[(Int, Option[Seq[LakePartitioning.Spec]])] =
    Option(properties().get(LakePartitioning.HistoryProp))
      .map(LakePartitioning.parseHistory).getOrElse(Seq.empty)

  /** True iff every live data file was routed by the CURRENT spec —
    * the soundness gate for key-grouped scanning on evolved tables: a
    * pre-evolution file's path claim parses under ITS generation, not
    * the current one (and may even parse under both with different
    * meanings), so SPJ re-engages only once compaction has migrated
    * every file forward. */
  private lazy val allCurrentGen: Boolean =
    partHistory.isEmpty || snapshot.dataFiles.forall { p =>
      LakePartitioning.fileVersionOfPath(p).exists(v =>
        LakePartitioning.specForFileVersion(partHistory, partSpec, v)
          == partSpec)
    }

  /** Per-GENERATION claim maps for static pruning on evolved tables
    * (empty on never-evolved ones — [[partKeys]] serves those): each
    * generation's files parse under that generation's spec; files
    * that fail to parse or belong to an unpartitioned generation fall
    * out of every map and are always kept (conservative). */
  private lazy val pruneGens
      : Seq[(Seq[LakePartitioning.Spec], Map[String, Seq[Option[Any]]])] =
    if (partHistory.isEmpty) Seq.empty
    else {
      val byGen = snapshot.dataFiles.groupBy { p =>
        LakePartitioning.fileVersionOfPath(p).flatMap(v =>
          LakePartitioning.specForFileVersion(partHistory, partSpec, v))
      }
      byGen.toSeq.collect { case (Some(specs), files) =>
        val kts = LakePartitioning.keyTypes(specs, schema())
        val claims = files.flatMap { p =>
          val norm = new org.apache.hadoop.fs.Path(p).toString
          LakePartitioning.rawValuesOfPath(norm, specs.size).flatMap {
            raws =>
              val vs = specs.lazyZip(kts).lazyZip(raws).map {
                (spec, kt, raw) =>
                  LakePartitioning.keyValue(spec, kt, raw)
              }
              if (vs.exists(_.isEmpty)) None
              else Some(norm -> vs.flatten.toSeq)
          }
        }.toMap
        (specs, claims)
      }.filter(_._2.nonEmpty)
    }

  /** Per-data-file partition key-tuple claims for the CURRENT
    * snapshot — `Some(map)` iff EVERY file either claims a value
    * tuple in its path or is stats-proven empty (dropped from the
    * map): only then is key-grouped scanning sound. A file landed by
    * a non-routing writer (row-level rewrite) degrades the table to
    * ordinary scans until compaction re-earns the layout. */
  private lazy val partKeys: Option[Map[String, Seq[Option[Any]]]] =
    partSpec.filter(_ => allCurrentGen).flatMap { specs =>
      val kts = LakePartitioning.keyTypes(specs, schema())
      // per file: None = unsound (degrade the whole table),
      // Some(None) = proven-empty file (skip), Some(Some(kv)) = claim
      val entries: Seq[Option[Option[(String, Seq[Option[Any]])]]] =
        snapshot.dataFiles.map { p =>
          val norm = new org.apache.hadoop.fs.Path(p).toString
          LakePartitioning.rawValuesOfPath(norm, specs.size) match {
            case Some(raws) =>
              val vs = specs.lazyZip(kts).lazyZip(raws).map {
                (spec, kt, raw) =>
                  LakePartitioning.keyValue(spec, kt, raw)
              }
              if (vs.exists(_.isEmpty)) None
              else Some(Some(norm -> vs.flatten.toSeq))
            case None =>
              if (snapshot.stats.get(p).exists(_.rowCount == 0L))
                Some(None)
              else None
          }
        }
      if (entries.exists(_.isEmpty)) None
      else {
        val m = entries.flatten.flatten.toMap
        if (m.isEmpty) None else Some(m)
      }
    }

  /** Scan-reported SORT ORDER (`SupportsReportOrdering`): a clustered
    * table's files are written ordered by `graft.write.ordered-by`,
    * so a key-grouped scan whose groups are single-file can DECLARE
    * that ordering and spare the query its Sort nodes (merge joins /
    * windows over the cluster key run sort-free on top of the
    * zero-exchange SPJ). Sound only when every live file was born AT
    * OR AFTER the declaration (`graft.write.ordered-by.since` — a
    * late ALTER does not re-sort committed files); the single-file-
    * per-group condition is checked where the groups are formed
    * ([[LakeKeyGroupedScan]]). */
  private lazy val orderingToReport
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val ord = VersionedTable.clusteringV2Sort(spark, dir)
    if (ord.isEmpty) ord
    else {
      val since = Option(properties().get("graft.write.ordered-by.since"))
        .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(0)
      val allClustered = snapshot.dataFiles.forall(p =>
        LakePartitioning.fileVersionOfPath(p).exists(_ >= since))
      if (allClustered) ord
      else Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]
    }
  }

  override def properties(): util.Map[String, String] =
    GraftLakeTable.readProperties(spark, dir)

  private def deleteMode: String =
    Option(properties().get(GraftLakeTable.DeleteModeProp))
      .getOrElse("copy-on-write")

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** Snapshots with merge-on-read delete files read through the
    * DV-applying scan ([[GraftLakeDvScanBuilder]]); clean snapshots
    * use Spark's ParquetTable scan stack wrapped with the
    * manifest-stats read optimizations ([[LakeReadScanBuilder]]:
    * metadata-only aggregates + runtime file pruning). */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    if (snapshot.deleteFiles.isEmpty)
      delegate.newScanBuilder(options) match {
        case f: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder =>
          // mapped tables: stats re-key to logical so every manifest
          // consumer downstream speaks the table's logical names
          val snapForRead = mapping
            .map(LakeColumnMapping.statsToLogical(_, snapshot))
            .getOrElse(snapshot)
          new LakeReadScanBuilder(f, schema(), snapForRead,
            partSpec.zip(partKeys).headOption, mapping,
            pruneGens = if (partKeys.isEmpty) pruneGens else Seq.empty,
            reportOrdering = orderingToReport,
            lineage =
              if (lineageOn)
                Some((LakeRowLineage.perFile(snapshot),
                  (delegate: Table).schema()))
              else None,
            rebuildInner = () => delegate.newScanBuilder(options) match {
              case fb: org.apache.spark.sql.execution.datasources.v2
                  .FileScanBuilder => fb
              case other => throw new IllegalStateException(
                s"unexpected delegate builder $other")
            })
        case other => other
      }
    else new GraftLakeDvScanBuilder(delegate, schema(),
      snapshot.deleteFiles, options,
      // planner row estimate = manifest row total − masks, only when
      // the manifest's stats cover every data file
      totalRows =
        if (snapshot.dataFiles.forall(snapshot.stats.contains))
          Some(snapshot.dataFiles.map(snapshot.stats(_).rowCount).sum)
        else None,
      lineage =
        if (lineageOn) Some(LakeRowLineage.perFile(snapshot)) else None,
      // read-path static file pruning over the masks (the row-level
      // rewrite constructs its own builder WITHOUT this — its commit
      // must replace every file); stats speak physical names, so
      // mapped tables skip
      pruneStats =
        if (mapping.isEmpty)
          Some(snapshot.dataFiles.flatMap(p =>
            snapshot.stats.get(p).map(p -> _)).toMap)
        else None)

  /** `DELETE FROM` lands here when it is MERGE-ON-READ — the table
    * sets `graft.delete.mode = merge-on-read`, or the snapshot already
    * carries masks — or when it is UNCONDITIONAL (the condition is
    * only `ALWAYS_TRUE`: Spark does not rewrite `DELETE FROM t` on a
    * truncatable table, and a declined unconditional delete fails at
    * planning), and every conjunct of the condition translates (the
    * analyzer ANDs the array). Every other DELETE, copy-on-write
    * included, declines here and plans as Spark's `ReplaceData`
    * through [[GraftLakeRowLevelOperation]], like UPDATE and MERGE:
    * the runtime group filter on `_file` picks exactly the files
    * holding a match, untouched files carry forward by reference.
    * `TRUNCATE TABLE` overrides the scan-everything default with a
    * schema-preserving empty commit. */
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    version.isEmpty &&
      (mergeOnRead || GraftLakeTable.unconditional(predicates)) &&
      // the mask commit targets MAIN; under WAP, declining here routes
      // the DELETE through the row-level operation, which stages on
      // the branch
      wapBranch.isEmpty &&
      // mapped tables: route to the row-level path's loud refusal
      mapping.isEmpty &&
      predicates.forall(p =>
        PredicateBridge.toV1(p).flatMap(GraftLakeTable.toColumn).isDefined)

  private def mergeOnRead: Boolean =
    deleteMode == "merge-on-read" || snapshot.deleteFiles.nonEmpty

  /** The merge-on-read DELETE records positional delete files, zero
    * data rewrite ([[VersionedTable.deleteWhereMergeOnRead]]); an
    * unconditional copy-on-write DELETE is the schema-preserving
    * empty commit ([[VersionedTable.truncate]]). */
  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    if (version.isDefined) throw new UnsupportedOperationException(
      s"cannot delete from time-travel snapshot ${ident.toString} " +
        s"VERSION AS OF ${version.get}")
    if (!mergeOnRead && GraftLakeTable.unconditional(predicates)) {
      VersionedTable.truncate(spark, dir)
      return
    }
    val cond = predicates.toSeq
      .map(p => PredicateBridge.toV1(p).flatMap(GraftLakeTable.toColumn)
        .getOrElse(throw new UnsupportedOperationException(
          s"cannot translate delete predicate $p")))
      .reduceOption(_ && _).getOrElse(lit(true))
    VersionedTable.deleteWhereMergeOnRead(spark, dir, cond)
    ()
  }

  override def truncateTable(): Boolean = {
    if (version.isDefined) throw new UnsupportedOperationException(
      s"cannot truncate time-travel snapshot ${ident.toString} " +
        s"VERSION AS OF ${version.get}")
    refuseUnderWap("TRUNCATE")
    VersionedTable.truncate(spark, dir)
    true
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (version.isDefined) throw new UnsupportedOperationException(
      s"cannot write to time-travel snapshot ${ident.toString} " +
        s"VERSION AS OF ${version.get}")
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = {
        // a declared-clustered table's writes range-shuffle in SPARK
        // (RequiresDistributionAndOrdering) — per micro-batch on the
        // streaming path, on the prepared plan for the V1 batch path
        // (so commitAs must NOT re-cluster: one shuffle, not two).
        // A PARTITIONED table's streaming writes cluster on the
        // transform instead (resolved through this catalog's own
        // `bucket` function), so each task feeds few fanout files.
        val l = LakePartitioning.writeLayout(spark, dir, partSpec)
        new LakeWrite(replace, info) with LakePartitioning.DeclaredLayout {
          override protected def layout = l
        }
      }
    }
  }

  private class LakeWrite(replace: Boolean, info: LogicalWriteInfo)
      extends V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame,
            overwrite: Boolean): Unit = {
          // the V1 fallback exec does NOT apply
          // RequiresDistributionAndOrdering (measured: files arrive
          // in plan order), so declared clustering happens in
          // commitAs — exactly one shuffle. Under a WAP branch the
          // commit stages onto the branch (created at head on first
          // write) and main stays untouched until fast_forward.
          VersionedTable.commit(SparkSession.active, data, dir,
            carryForward = !(replace || overwrite),
            branch = wapBranch)
          ()
        }
      }
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      if (replace) throw new UnsupportedOperationException(
        s"streaming into ${ident.toString}: only append output " +
          "mode is supported (complete/truncate is not)")
      refuseUnderWap("streaming write")
      new GraftLakeStreamingWrite(dir, info)
    }
  }
}

object GraftLakeTable {

  /** A DELETE condition that is only `ALWAYS_TRUE` (`DELETE FROM t`,
    * `WHERE true`): it removes every row. */
  private[sources] def unconditional(predicates: Array[Predicate]): Boolean =
    predicates.forall(_.name() == "ALWAYS_TRUE")

  /** `_file` and `_pos`, the positioned metadata columns. */
  private[sources] val positionMetaCols
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "path of the data file serving the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "0-based position of the row in its data file"
      })

  /** ROW LINEAGE metadata columns, shared by the clean and masked
    * serving paths. `_row_id` keeps PRESERVE_ON_UPDATE (an UPDATE
    * carries it into the replacement row); `_last_updated_version`
    * declares preserve_on_update = false so the rewrite NULLIFIES it
    * for updated rows and the replacement file's birth serves. */
  private[sources] val lineageMetaCols
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = LakeRowLineage.RowIdCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          "stable row id (survives compaction and row-level rewrites)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = LakeRowLineage.LastUpdCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.IntegerType
        override def isNullable: Boolean = true
        override def comment(): String =
          "version that last wrote the row"
        override def metadataInJSON(): String =
          """{"__preserve_on_update": false}"""
      })


  /** Session conf naming the write-audit-publish branch: while set,
    * lake-table reads resolve the branch and batch writes stage onto
    * it (Iceberg's `spark.wap.branch`). */
  val WapBranchConf = "spark.graft.wap.branch"

  /** Table property selecting the DELETE strategy:
    * `copy-on-write` (default) rewrites touched files;
    * `merge-on-read` records positional delete files. */
  val DeleteModeProp = "graft.delete.mode"

  private def propsPath(dir: String) = new Path(s"$dir/_properties")

  /** Property keys Spark's own DDL machinery attaches to every CREATE
    * TABLE (provider, owner, …) — managed by Spark, not user intent,
    * so they are neither persisted nor grounds for rejection. */
  private val SparkManagedProps: Set[String] = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
    TableCatalog.PROP_COMMENT, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
    TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_COLLATION)

  private[sources] def writeProperties(spark: SparkSession, dir: String,
      properties: java.util.Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    val (user, rest) = properties.asScala.toMap
      .partition(_._1.startsWith("graft."))
    // dropping a property silently would make TBLPROPERTIES lie;
    // unsupported keys fail the CREATE loudly instead
    val unsupported = rest.keySet -- SparkManagedProps
    if (unsupported.nonEmpty) throw new UnsupportedOperationException(
      "graft lake tables only persist 'graft.'-prefixed table " +
        s"properties; unsupported: ${unsupported.toSeq.sorted.mkString(", ")}")
    val f = FileSystem.get(new Path(dir).toUri,
      spark.sparkContext.hadoopConfiguration)
    if (user.nonEmpty) {
      // tmp + rename: same publish discipline as manifests — a crash
      // mid-write must not leave a truncated properties file
      val tmp = new Path(dir,
        s"._properties.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = f.create(tmp, true)
      try out.write(user.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
      f.delete(propsPath(dir), false)
      if (!f.rename(tmp, propsPath(dir)))
        throw new IllegalStateException(
          s"failed to publish table properties at $dir")
    } else {
      // UNSET of the last property: an orphaned file would make
      // SHOW TBLPROPERTIES lie (no-op when the file never existed)
      f.delete(propsPath(dir), false)
      ()
    }
  }

  private[sources] def readProperties(spark: SparkSession,
      dir: String): java.util.Map[String, String] = {
    val f = FileSystem.get(new Path(dir).toUri,
      spark.sparkContext.hadoopConfiguration)
    val p = propsPath(dir)
    if (!f.exists(p)) return java.util.Collections.emptyMap()
    val in = f.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val m = new java.util.HashMap[String, String]()
    text.split("\n").filter(_.contains("=")).foreach { l =>
      val i = l.indexOf('=')
      m.put(l.take(i), l.drop(i + 1))
    }
    m
  }

  /** V1 `Filter` → `Column`, total over the algebra a DELETE condition
    * can reach after Spark's own V2 translation (comparison, IN, null
    * tests, string matches, boolean combinators); None rejects the
    * whole statement via `canDeleteWhere` — the delete either runs
    * exactly or not at all. Dotted attribute names arrive V1-quoted;
    * the lake's tables are flat, so plain `col` resolution is exact. */
  private[sources] def toColumn(f: sources.Filter): Option[Column] =
    f match {
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case sources.EqualTo(a, v) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case sources.StringContains(a, v) => Some(col(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case sources.Not(c) => toColumn(c).map(not)
      case _ => None
    }
}
