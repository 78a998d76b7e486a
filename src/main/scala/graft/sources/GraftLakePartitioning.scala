package graft.sources

import scala.util.chaining._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, Literal, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Declared TABLE PARTITIONING for lake tables — the Iceberg
  * `PARTITIONED BY (region, bucket(8, k))` contract, and the
  * mechanism behind STORAGE-PARTITIONED JOINS (SPJ): two lake tables
  * partitioned by the same transform list join WITHOUT a shuffle,
  * because the scan reports `KeyGroupedPartitioning` and every input
  * partition declares its composite key ([[HasPartitionKey]]), so
  * Spark's `EnsureRequirements` matches the two sides' layouts
  * instead of exchanging both. At 100 TB the fact-fact join shuffle
  * is THE dominant cost; co-partitioned layouts remove it entirely.
  *
  * Mechanics:
  *  - the spec persists as the `graft.partitioning` table property
  *    (comma-joined transform terms, e.g.
  *    `identity(region),bucket(8,k)`), written by CREATE TABLE's
  *    transforms and immutable afterwards (re-partitioning committed
  *    data would falsify every existing file's key claim);
  *  - every data-landing commit routes rows by the transform values
  *    and writes `partitionBy(__graft_part, __graft_part1, …)`, so
  *    each data file holds EXACTLY ONE value per level, recorded in
  *    its path (hive-style nested `__graft_part=<v>/…` — the path IS
  *    the metadata, no manifest format change, and carry-forward/
  *    clone/fast-forward preserve it for free);
  *  - the read scan ([[LakeKeyGroupedScan]]) groups file splits by
  *    that value tuple, one [[HasPartitionKey]] group per distinct
  *    tuple, delegating the actual reading (columnar parquet path
  *    included) to Spark's own reader factory;
  *  - `bucket(N, col)` is an ENGINE-AGNOSTIC function (floorMod for
  *    integral keys, the [[graft.functions.PolyHashMod]] base-31
  *    polynomial for strings — both DuckDB-restatable), exposed
  *    through the catalog's FunctionCatalog as the `bucket` function
  *    so Spark's `V2ScanPartitioningAndOrdering` can resolve the
  *    transform ([[GraftLakeFunctions.BucketFn]]) and, when only one
  *    side is partitioned, shuffle the other side WITH the same
  *    function (`spark.sql.sources.v2.bucketing.shuffle.enabled`).
  *
  * Degradation is graceful and correctness-preserving: a file landed
  * by a path that does not route (row-level COW rewrites,
  * merge-on-read masks) simply has no key claim, the scan stops
  * reporting key-grouping, and joins fall back to ordinary exchanges
  * until `compact` re-earns the layout — the same
  * between-compactions contract as the DV stack.
  */
object LakePartitioning {

  /** Table property carrying the partition spec. */
  val Prop = "graft.partitioning"

  /** PARTITION-SPEC EVOLUTION history (Iceberg's per-file spec
    * binding): `;`-joined entries `<uptoVersion>:<spec-or-empty>`,
    * ascending. Entry `(V, S)` claims every data file born at commit
    * version ≤ V (and above the previous entry's bound) was routed by
    * spec S — an empty S marks an unpartitioned generation. A file's
    * birth version is already structural (`files-v<N>-` in its path),
    * so evolution is a PROPERTY WRITE: zero data moves, old files
    * keep pruning under their own spec, new commits route by the new
    * one, and compaction (a full rewrite at the head version)
    * migrates everything forward, re-earning single-spec layouts
    * (SPJ, zero-exchange aggs). */
  val HistoryProp = "graft.partitioning.history"

  /** Reserved routing column prefix (never lands in file data: the
    * columns are consumed by `partitionBy`). */
  val PartColPrefix = "__graft_part"

  /** Level-0 routing column name (levels 1+ are suffixed). */
  val PartCol: String = partCol(0)

  def partCol(level: Int): String =
    if (level == 0) PartColPrefix else s"$PartColPrefix$level"

  /** Hive's null-partition directory name (matches what
    * `partitionBy` writes for a null routing value). */
  val NullPartitionName = "__HIVE_DEFAULT_PARTITION__"

  sealed trait Spec {
    def column: String
    def transform: Transform
    def serialized: String
    /** The transform the READ SCAN reports for key grouping. Defaults
      * to [[transform]]; truncate overrides with a width-curried
      * single-arg function name because Spark's
      * `KeyGroupedPartitioning.satisfies0` requires every expression
      * leaf to be a clustering key — a width LITERAL leaf (which only
      * bucket escapes, via Spark's special-cased `numBucketsOpt`
      * hoisting) would disqualify the partitioning from every SPJ and
      * zero-exchange aggregate. */
    def reportedTransform: Transform = transform
  }

  /** `PARTITIONED BY (col)` — one partition per distinct value. */
  final case class IdentitySpec(column: String) extends Spec {
    override def transform: Transform = Expressions.identity(column)
    override def serialized: String = s"identity($column)"
  }

  /** `PARTITIONED BY (bucket(N, col))` — N hash buckets. */
  final case class BucketSpec(buckets: Int, column: String) extends Spec {
    override def transform: Transform = Expressions.bucket(buckets, column)
    override def serialized: String = s"bucket($buckets,$column)"
  }

  /** `PARTITIONED BY (days(ts))` — one partition per UTC day
    * (Iceberg's days transform), the canonical event-table layout:
    * time-range scans prune to their days statically. */
  final case class DaysSpec(column: String) extends Spec {
    override def transform: Transform = Expressions.days(column)
    override def serialized: String = s"days($column)"
  }

  /** `PARTITIONED BY (months(ts))` — one partition per UTC month,
    * claimed as MONTHS SINCE 1970-01 (Iceberg's epoch-month int).
    * Monotone in the column, so range filters prune statically
    * exactly like days, at month granularity. */
  final case class MonthsSpec(column: String) extends Spec {
    override def transform: Transform = Expressions.months(column)
    override def serialized: String = s"months($column)"
  }

  /** `PARTITIONED BY (years(ts))` — one partition per UTC year,
    * claimed as YEARS SINCE 1970 (Iceberg's epoch-year int). */
  final case class YearsSpec(column: String) extends Spec {
    override def transform: Transform = Expressions.years(column)
    override def serialized: String = s"years($column)"
  }

  /** `PARTITIONED BY (hours(ts))` — one partition per UTC hour,
    * claimed as HOURS SINCE EPOCH (Iceberg's epoch-hour int). */
  final case class HoursSpec(column: String) extends Spec {
    override def transform: Transform = Expressions.hours(column)
    override def serialized: String = s"hours($column)"
  }

  /** `PARTITIONED BY (truncate(w, col))` — Iceberg's width truncation:
    * strings keep their first `w` CODEPOINTS (the standard text-corpus
    * layout — shared-prefix keys co-locate), integral keys floor to a
    * multiple of `w` (`v - floorMod(v, w)`). Monotone in the column,
    * so prefix `=` AND range filters both prune statically. */
  final case class TruncateSpec(width: Int, column: String) extends Spec {
    override def transform: Transform =
      Expressions.apply("truncate",
        Expressions.literal(width), Expressions.column(column))
    override def serialized: String = s"truncate($width,$column)"
    // single-leaf form for SPJ/zero-exchange-agg (see the Spec doc);
    // the DDL surface (SHOW CREATE TABLE, .partitions) keeps the
    // standard 2-arg truncate above
    override def reportedTransform: Transform =
      Expressions.apply(s"truncate_w$width", Expressions.column(column))
  }

  private val BucketRe = """(?i)bucket\((\d+)\s*,\s*([^,()\s]+)\)""".r
  private val IdentityRe = """(?i)identity\(([^,()\s]+)\)""".r
  private val DaysRe = """(?i)days\(([^,()\s]+)\)""".r
  private val MonthsRe = """(?i)months\(([^,()\s]+)\)""".r
  private val YearsRe = """(?i)years\(([^,()\s]+)\)""".r
  private val HoursRe = """(?i)hours\(([^,()\s]+)\)""".r
  private val TruncateRe = """(?i)truncate\((\d+)\s*,\s*([^,()\s]+)\)""".r

  private def parseOne(s: String): Option[Spec] = s.trim match {
    case BucketRe(n, c) => Some(BucketSpec(n.toInt, c))
    case IdentityRe(c) => Some(IdentitySpec(c))
    case DaysRe(c) => Some(DaysSpec(c))
    case MonthsRe(c) => Some(MonthsSpec(c))
    case YearsRe(c) => Some(YearsSpec(c))
    case HoursRe(c) => Some(HoursSpec(c))
    case TruncateRe(w, c) => Some(TruncateSpec(w.toInt, c))
    case _ => None
  }

  /** Property value → ordered transform list (terms comma-split
    * OUTSIDE parens); None when any term is unparseable. */
  def parse(s: String): Option[Seq[Spec]] = {
    val terms = s.split(""",(?![^(]*\))""").toSeq
      .map(_.trim).filter(_.nonEmpty)
    val parsed = terms.map(parseOne)
    if (terms.isEmpty || parsed.exists(_.isEmpty)) None
    else Some(parsed.flatten)
  }

  /** The table's declared spec list, if any (one property read). */
  def specOf(spark: SparkSession, dir: String): Option[Seq[Spec]] =
    Option(GraftLakeTable.readProperties(spark, dir).get(Prop))
      .flatMap(parse)

  /** The write layout a lake table declares to Spark
    * ([[DeclaredLayout]]) — one rule for the batch, streaming and
    * row-level writes. A PARTITIONED table clusters on its identity/
    * bucket transforms, so each task feeds few fanout files; Spark's
    * DistributionAndOrderingUtils cannot resolve the time/truncate
    * transforms in a write distribution, so those declare nothing
    * (routing still lands per-value files — the distribution is a
    * fanout-width optimization only). A declared-CLUSTERED table
    * (`graft.write.ordered-by`) range-distributes and sorts by its
    * terms, so its files come back with disjoint key ranges. Anything
    * else declares no requirement, and Spark leaves the plan alone. */
  def writeLayout(spark: SparkSession, dir: String,
      partSpecs: Option[Seq[Spec]]): (Distribution, Array[SortOrder]) = {
    val distributable = partSpecs.map(_.filter {
      case _: IdentitySpec | _: BucketSpec => true
      case _ => false
    }).filter(_.nonEmpty)
    lazy val ordering = VersionedTable.clusteringV2Sort(spark, dir)
    distributable match {
      case Some(specs) => (Distributions.clustered(
        specs.map(_.transform: Expression).toArray), Array.empty)
      case None if partSpecs.isEmpty && ordering.nonEmpty =>
        (Distributions.ordered(ordering), ordering)
      case None => (Distributions.unspecified(), Array.empty)
    }
  }

  /** A lake Write's [[writeLayout]] as Spark's requirement. */
  trait DeclaredLayout extends RequiresDistributionAndOrdering {
    protected def layout: (Distribution, Array[SortOrder])
    override def requiredDistribution(): Distribution = layout._1
    override def requiredOrdering(): Array[SortOrder] = layout._2
  }

  /** A data file's birth commit version — structural in its path
    * (`files-v<N>-<nonce>/…`), which is what makes per-file spec
    * binding a metadata operation. */
  def fileVersionOfPath(p: String): Option[Int] =
    FileVersionRe.findFirstMatchIn(p).map(_.group(1).toInt)

  private val FileVersionRe = """/files-v(\d+)-""".r

  /** Parsed [[HistoryProp]]: (uptoVersion, specs-or-None) ascending.
    * Unparseable entries are dropped (a corrupt history entry can
    * only make pruning MORE conservative, never wrong: its files fall
    * out of every generation map and are always kept). */
  def parseHistory(s: String): Seq[(Int, Option[Seq[Spec]])] =
    s.split(";").toSeq.map(_.trim).filter(_.nonEmpty).flatMap { e =>
      e.split(":", 2) match {
        case Array(v, spec) if v.forall(_.isDigit) && v.nonEmpty =>
          Some((v.toInt,
            if (spec.trim.isEmpty) None else parse(spec.trim)))
        case _ => None
      }
    }.sortBy(_._1)

  /** The spec generation a file born at `fileV` was routed by. */
  def specForFileVersion(history: Seq[(Int, Option[Seq[Spec]])],
      current: Option[Seq[Spec]], fileV: Int): Option[Seq[Spec]] =
    history.find(_._1 >= fileV).map(_._2).getOrElse(current)

  /** Validate a spec list against a table schema (column existence,
    * transform/type compatibility, distinct columns) and return it
    * with exact-case column names — shared by CREATE
    * ([[fromTransforms]]) and spec evolution (ALTER SET [[Prop]]). */
  def validateSpecs(specs: Seq[Spec], schema: StructType): Seq[Spec] = {
    require(specs.nonEmpty && specs.length <= 4,
      s"graft lake tables support 1-4 partition transforms, " +
        s"got ${specs.length}")
    val out = specs.map { sp =>
      val field = schema.fields.find(
        _.name.equalsIgnoreCase(sp.column)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '${sp.column}' is not in the table " +
            s"schema ${schema.fieldNames.mkString("(", ",", ")")}"))
      validateType(sp, field.dataType)
      sp.copy2(field.name)
    }
    val cols = out.map(_.column.toLowerCase)
    require(cols.distinct.size == cols.size,
      s"partition transforms must reference distinct columns: " +
        out.map(_.serialized).mkString(", "))
    out
  }

  /** CREATE TABLE transforms → property value. Identity and
    * single-column bucket transforms over distinct columns — loud
    * otherwise: silently accepting an unsupported transform would
    * write files whose key claims are wrong. */
  def fromTransforms(transforms: Array[Transform],
      schema: StructType): Option[String] = {
    if (transforms.isEmpty) return None
    require(transforms.length <= 4,
      s"graft lake tables support at most 4 partition transforms, " +
        s"got ${transforms.length}")
    val specs = transforms.toSeq.map { t =>
      def intArg: Option[Int] = t.arguments().collectFirst {
        case l: Literal[_] if l.dataType() == IntegerType =>
          l.value().asInstanceOf[Int]
      }
      val spec = t.name().toLowerCase match {
        case "identity" =>
          refOf(t).map(IdentitySpec(_)).getOrElse(unsupported(t))
        case "days" =>
          refOf(t).map(DaysSpec(_)).getOrElse(unsupported(t))
        case "months" =>
          refOf(t).map(MonthsSpec(_)).getOrElse(unsupported(t))
        case "years" =>
          refOf(t).map(YearsSpec(_)).getOrElse(unsupported(t))
        case "hours" =>
          refOf(t).map(HoursSpec(_)).getOrElse(unsupported(t))
        case "bucket" =>
          (intArg, refOf(t)) match {
            case (Some(b), Some(c)) =>
              require(b >= 1 && b <= 100000,
                s"bucket count must be in [1, 100000], got $b")
              BucketSpec(b, c)
            case _ => unsupported(t)
          }
        case "truncate" =>
          // accept both argument orders (truncate(4, s) / truncate(s, 4))
          (intArg, refOf(t)) match {
            case (Some(w), Some(c)) =>
              require(w >= 1 && w <= 100000,
                s"truncate width must be in [1, 100000], got $w")
              TruncateSpec(w, c)
            case _ => unsupported(t)
          }
        case _ => unsupported(t)
      }
      spec
    }
    Some(validateSpecs(specs, schema).map(_.serialized).mkString(","))
  }

  private def unsupported(t: Transform): Nothing =
    throw new UnsupportedOperationException(
      s"unsupported partition transform '$t': graft lake tables " +
        "support identity(col), bucket(n, col), truncate(w, col), " +
        "days/months/years/hours(col) over single columns")

  private def refOf(t: Transform): Option[String] = {
    val refs = t.references()
    if (refs.length == 1 && refs(0).fieldNames().length == 1)
      Some(refs(0).fieldNames()(0))
    else None
  }

  private implicit class SpecOps(private val s: Spec) extends AnyVal {
    def copy2(col: String): Spec = s match {
      case IdentitySpec(_) => IdentitySpec(col)
      case BucketSpec(n, _) => BucketSpec(n, col)
      case DaysSpec(_) => DaysSpec(col)
      case MonthsSpec(_) => MonthsSpec(col)
      case YearsSpec(_) => YearsSpec(col)
      case HoursSpec(_) => HoursSpec(col)
      case TruncateSpec(w, _) => TruncateSpec(w, col)
    }
  }

  private def validateType(spec: Spec, dt: DataType): Unit = {
    val ok = spec match {
      case _: BucketSpec => dt match {
        case IntegerType | LongType | ShortType | ByteType |
             StringType => true
        case _ => false
      }
      case _: IdentitySpec => dt match {
        case IntegerType | LongType | ShortType | ByteType |
             StringType | DateType => true
        case _ => false
      }
      case _: DaysSpec | _: MonthsSpec | _: YearsSpec => dt match {
        case DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }
      case _: HoursSpec => dt match {
        case TimestampType | TimestampNTZType => true
        case _ => false
      }
      case _: TruncateSpec => dt match {
        case IntegerType | LongType | StringType => true
        case _ => false
      }
    }
    if (!ok) throw new UnsupportedOperationException(
      s"partitioning ${spec.serialized} over ${dt.catalogString} is " +
        "not supported (bucket: integral/string; identity also DATE; " +
        "days/months/years over DATE/TIMESTAMP; hours over TIMESTAMP; " +
        "truncate over INT/BIGINT/STRING)")
  }

  /** Months since 1970-01 of an epoch day (Iceberg's epoch-month). */
  private[sources] def monthsOfEpochDay(d: Long): Int = {
    val ld = java.time.LocalDate.ofEpochDay(d)
    (ld.getYear - 1970) * 12 + ld.getMonthValue - 1
  }

  /** Years since 1970 of an epoch day (Iceberg's epoch-year). */
  private[sources] def yearsOfEpochDay(d: Long): Int =
    java.time.LocalDate.ofEpochDay(d).getYear - 1970

  /** Iceberg integral truncation: floor to a multiple of `w`. */
  private[sources] def truncLong(w: Int, v: Long): Long =
    v - Math.floorMod(v, w.toLong)

  /** Iceberg string truncation: first `w` CODEPOINTS. */
  private[sources] def truncString(w: Int, s: String): String = {
    if (s.codePointCount(0, s.length) <= w) s
    else s.substring(0, s.offsetByCodePoints(0, w))
  }

  /** The routing expression for one level — the value `partitionBy`
    * will put in the file path. MUST agree with
    * [[GraftLakeFunctions.BucketFn]] (both sides of an SPJ and any
    * Spark-side re-shuffle must place a key in the same bucket) and
    * be DuckDB-restatable for oracles. Null keys: bucket routes them
    * to bucket 0 deterministically (null join keys never match, but
    * the rows must land somewhere co-located); every other transform
    * keeps Hive's null-partition directory. */
  def routeColumn(spec: Spec, df: DataFrame): Column = {
    val have = df.columns.find(_.equalsIgnoreCase(spec.column)).getOrElse(
      throw new IllegalArgumentException(
        s"$Prop references column '${spec.column}' absent from the " +
          s"write's schema ${df.columns.mkString("(", ",", ")")}"))
    val c = col(have)
    lazy val dt = df.schema(df.schema.fieldIndex(have)).dataType
    spec match {
      case IdentitySpec(_) => c
      case DaysSpec(_) =>
        // UTC day (session TZ is pinned UTC) — partitionBy renders
        // the DATE value ISO-8601, same claim form the parser reads
        dt match {
          case DateType => c
          case _ => to_date(c)
        }
      case MonthsSpec(_) =>
        // epoch-month int (session TZ pinned UTC, so year()/month()
        // agree with the claim parser's LocalDate arithmetic)
        ((year(c) - lit(1970)) * lit(12) + month(c) - lit(1))
          .cast(IntegerType)
      case YearsSpec(_) => (year(c) - lit(1970)).cast(IntegerType)
      case HoursSpec(_) =>
        // epoch-hour int: ts→long casts floor to SECONDS; the double
        // quotient is exact to ~1e-10 at epoch magnitudes, far from
        // the 1-second claim boundary
        floor(c.cast(TimestampType).cast(LongType) / lit(3600))
          .cast(IntegerType)
      case TruncateSpec(w, _) => dt match {
        case StringType => substring(c, 1, w)
        case LongType => c - pmod(c, lit(w.toLong))
        case _ => (c - pmod(c, lit(w))).cast(IntegerType)
      }
      case BucketSpec(n, _) =>
        val hashed = dt match {
          case StringType => graft.functions.PolyHashMod(c)
          case _ => c.cast(LongType)
        }
        coalesce(pmod(hashed, lit(n.toLong)), lit(0L)).cast(IntegerType)
    }
  }

  /** The partition values a data file claims, parsed from its path in
    * level order — raw (still hive-escaped) directory values, or None
    * for a file landed by a non-routing writer (or with the wrong
    * number of levels for this spec). */
  def rawValuesOfPath(path: String, arity: Int): Option[Seq[String]] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < arity) {
      val marker = s"/${partCol(i)}="
      val at = path.indexOf(marker)
      if (at < 0) return None
      val rest = path.substring(at + marker.length)
      val j = rest.indexOf('/')
      if (j < 0) return None
      out += rest.substring(0, j)
      i += 1
    }
    Some(out.result())
  }

  /** Level-0 claim — convenience for single-level layouts (specs,
    * layout audits). */
  def rawValueOfPath(path: String): Option[String] =
    rawValuesOfPath(path, 1).map(_.head)

  /** Raw path value → the partition key as a Catalyst internal value
    * of the transform's result type. None = unparseable (treat the
    * file as unvalued: degrade, never guess); Some(None) = null key. */
  def keyValue(spec: Spec, keyType: DataType,
      raw: String): Option[Option[Any]] = {
    if (raw == NullPartitionName) return Some(None)
    val s = unescapePath(raw)
    try {
      val v: Any = spec match {
        case _: BucketSpec => s.toInt
        case _: DaysSpec =>
          java.time.LocalDate.parse(s).toEpochDay.toInt
        case _: MonthsSpec | _: YearsSpec | _: HoursSpec => s.toInt
        case _: TruncateSpec => keyType match {
          case IntegerType => s.toInt
          case LongType => s.toLong
          case StringType => UTF8String.fromString(s)
          case _ => return None
        }
        case _: IdentitySpec => keyType match {
          case IntegerType => s.toInt
          case LongType => s.toLong
          case ShortType => s.toShort
          case ByteType => s.toByte
          case StringType => UTF8String.fromString(s)
          case DateType =>
            java.time.LocalDate.parse(s).toEpochDay.toInt
          case _ => return None
        }
      }
      Some(Some(v))
    } catch { case _: IllegalArgumentException | _: java.time.format.DateTimeParseException => None }
  }

  /** The key types the scan's [[HasPartitionKey]] rows carry. */
  def keyTypes(specs: Seq[Spec], schema: StructType): Seq[DataType] =
    specs.map {
      case _: BucketSpec => IntegerType
      case _: DaysSpec => DateType
      case _: MonthsSpec | _: YearsSpec | _: HoursSpec => IntegerType
      case spec @ (_: IdentitySpec | _: TruncateSpec) =>
        schema.fields.find(_.name.equalsIgnoreCase(spec.column))
          .map(_.dataType).getOrElse(NullType)
    }

  /** A pushed-filter VALUE (external Scala form, as V1 filters carry
    * it) → the internal claim a matching file must hold — the static
    * partition-pruning translation. None = unconvertible: the filter
    * contributes no pruning (conservative, never wrong). */
  def claimFor(spec: Spec, keyType: DataType, v: Any): Option[Any] =
    spec match {
      case BucketSpec(n, _) => v match {
        case l: Long => Some(GraftLakeFunctions.bucketOfLong(n, l))
        case i: Int => Some(GraftLakeFunctions.bucketOfLong(n, i.toLong))
        case s: Short => Some(GraftLakeFunctions.bucketOfLong(n, s.toLong))
        case b: Byte => Some(GraftLakeFunctions.bucketOfLong(n, b.toLong))
        case s: String => Some(GraftLakeFunctions.bucketOfString(n, s))
        case u: UTF8String =>
          Some(GraftLakeFunctions.bucketOfString(n, u.toString))
        case _ => None
      }
      case _: DaysSpec => epochDayOf(v)
      case _: MonthsSpec => epochDayOf(v).map(d => monthsOfEpochDay(d.toLong))
      case _: YearsSpec => epochDayOf(v).map(d => yearsOfEpochDay(d.toLong))
      case _: HoursSpec => v match {
        case t: java.sql.Timestamp =>
          Some(Math.floorDiv(t.getTime, 3600000L).toInt)
        case i: java.time.Instant =>
          Some(Math.floorDiv(i.toEpochMilli, 3600000L).toInt)
        case ldt: java.time.LocalDateTime =>
          Some(Math.floorDiv(
            ldt.toEpochSecond(java.time.ZoneOffset.UTC), 3600L).toInt)
        case _ => None
      }
      case TruncateSpec(w, _) => (keyType, v) match {
        case (LongType, l: Long) => Some(truncLong(w, l))
        case (LongType, i: Int) => Some(truncLong(w, i.toLong))
        case (IntegerType, i: Int) => Some(truncLong(w, i.toLong).toInt)
        case (StringType, s: String) =>
          Some(UTF8String.fromString(truncString(w, s)))
        case (StringType, u: UTF8String) =>
          Some(UTF8String.fromString(truncString(w, u.toString)))
        case _ => None
      }
      case _: IdentitySpec => (keyType, v) match {
        case (LongType, l: Long) => Some(l)
        case (LongType, i: Int) => Some(i.toLong)
        case (IntegerType, i: Int) => Some(i)
        case (IntegerType, l: Long)
            if l >= Int.MinValue && l <= Int.MaxValue => Some(l.toInt)
        case (ShortType, s: Short) => Some(s)
        case (ByteType, b: Byte) => Some(b)
        case (StringType, s: String) => Some(UTF8String.fromString(s))
        case (StringType, u: UTF8String) => Some(u)
        case (DateType, d: java.sql.Date) =>
          Some(d.toLocalDate.toEpochDay.toInt)
        case (DateType, ld: java.time.LocalDate) =>
          Some(ld.toEpochDay.toInt)
        case _ => None
      }
    }

  /** A pushed-filter VALUE's UTC epoch day (session TZ pinned UTC) —
    * shared by the days/months/years claim translations. */
  private def epochDayOf(v: Any): Option[Int] = v match {
    case t: java.sql.Timestamp =>
      Some(Math.floorDiv(t.getTime, 86400000L).toInt)
    case i: java.time.Instant =>
      Some(Math.floorDiv(i.toEpochMilli, 86400000L).toInt)
    case ldt: java.time.LocalDateTime =>
      Some(ldt.toLocalDate.toEpochDay.toInt)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toInt)
    case ld: java.time.LocalDate => Some(ld.toEpochDay.toInt)
    case _ => None
  }

  /** Claim-space total order (within one level's claim type). */
  private def cmpClaim(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Int, y: Int) => Some(Integer.compare(x, y))
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Short, y: Short) => Some(java.lang.Short.compare(x, y))
    case (x: Byte, y: Byte) => Some(java.lang.Byte.compare(x, y))
    case (x: UTF8String, y: UTF8String) => Some(x.compareTo(y))
    case _ => None
  }

  /** A filter LITERAL's internal Catalyst value → the claim a
    * matching file must hold. Internal forms: Long micros for
    * timestamps (UTC session), Int days for dates, UTF8String for
    * strings — so this is the claim-space twin of [[claimFor]]. */
  private def claimForInternal(spec: Spec, keyType: DataType,
      lit: org.apache.spark.sql.catalyst.expressions.Literal)
      : Option[Any] = {
    if (lit.value == null) return None
    (spec, lit.dataType, lit.value) match {
      case (BucketSpec(n, _), LongType, l: Long) =>
        Some(GraftLakeFunctions.bucketOfLong(n, l))
      case (BucketSpec(n, _), IntegerType, i: Int) =>
        Some(GraftLakeFunctions.bucketOfLong(n, i.toLong))
      case (BucketSpec(n, _), ShortType, s: Short) =>
        Some(GraftLakeFunctions.bucketOfLong(n, s.toLong))
      case (BucketSpec(n, _), ByteType, b: Byte) =>
        Some(GraftLakeFunctions.bucketOfLong(n, b.toLong))
      case (BucketSpec(n, _), StringType, u: UTF8String) =>
        Some(GraftLakeFunctions.bucketOfString(n, u.toString))
      case (_: DaysSpec, TimestampType | TimestampNTZType, m: Long) =>
        Some(Math.floorDiv(m, 86400000000L).toInt)
      case (_: DaysSpec, DateType, d: Int) => Some(d)
      case (_: MonthsSpec, TimestampType | TimestampNTZType, m: Long) =>
        Some(monthsOfEpochDay(Math.floorDiv(m, 86400000000L)))
      case (_: MonthsSpec, DateType, d: Int) =>
        Some(monthsOfEpochDay(d.toLong))
      case (_: YearsSpec, TimestampType | TimestampNTZType, m: Long) =>
        Some(yearsOfEpochDay(Math.floorDiv(m, 86400000000L)))
      case (_: YearsSpec, DateType, d: Int) =>
        Some(yearsOfEpochDay(d.toLong))
      case (_: HoursSpec, TimestampType | TimestampNTZType, m: Long) =>
        Some(Math.floorDiv(m, 3600000000L).toInt)
      case (TruncateSpec(w, _), LongType, l: Long) if keyType == LongType =>
        Some(truncLong(w, l))
      case (TruncateSpec(w, _), IntegerType, i: Int)
          if keyType == IntegerType =>
        Some(truncLong(w, i.toLong).toInt)
      case (TruncateSpec(w, _), StringType, u: UTF8String)
          if keyType == StringType =>
        Some(UTF8String.fromString(truncString(w, u.toString)))
      case (_: IdentitySpec, dt, v) if dt == keyType => v match {
        case _: Int | _: Long | _: Short | _: Byte | _: UTF8String =>
          Some(v)
        case _ => None
      }
      case _ => None
    }
  }

  /** A conservative per-file claim predicate from one CATALYST filter
    * expression on this level's partition column — None when the
    * expression does not constrain this level. Works on the filters
    * Spark hands the scan builder BEFORE parquet pushdown, so pruning
    * applies even to types parquet refuses to push (TIMESTAMP_NTZ).
    * `=`/IN apply to every transform; RANGE filters apply to the
    * MONOTONE transforms (identity, days/months/years/hours,
    * truncate): an identity claim IS the row value so bounds are
    * exact, while the floor transforms widen each bound to its whole
    * unit — day/month/year/hour, or truncate's width bucket (a file
    * on the boundary unit is kept — the in-file filter still
    * applies). Incomparable claims keep the file; null claims drop
    * under any emitted predicate (all are null-rejecting). */
  def claimPredicate(spec: Spec, keyType: DataType,
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[Option[Any] => Boolean] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def on(a: ce.Expression): Boolean = a match {
      case ar: ce.AttributeReference =>
        ar.name.equalsIgnoreCase(spec.column)
      case _ => false
    }
    def conv(l: ce.Literal): Option[Any] =
      claimForInternal(spec, keyType, l)
    // A null claim usually drops under any predicate here (real NULL
    // keys never match =/range) — EXCEPT string-keyed identity/
    // truncate levels: `partitionBy` routes EMPTY-STRING keys into
    // Hive's default-partition dir too, so a null claim may cover
    // rows whose key is ''. Probing the predicate with '' keeps the
    // file exactly when an empty-string row could match.
    val nullClaimProbe: Option[Any] = spec match {
      case _: IdentitySpec | _: TruncateSpec if keyType == StringType =>
        Some(UTF8String.fromString(""))
      case _ => None
    }
    def nn(p: Any => Boolean): Option[Option[Any] => Boolean] =
      Some(c => c.orElse(nullClaimProbe).exists(p))
    val monotone = spec match {
      case _: BucketSpec => false
      case _ => true // identity + every floor transform
    }
    // floor transforms (days/months/years/hours/truncate): a claim
    // covers a whole unit, so range bounds widen to the unit edge
    val widen = spec match {
      case _: IdentitySpec | _: BucketSpec => false
      case _ => true
    }
    def gt(l: ce.Literal, orEqual: Boolean) = conv(l).flatMap(w =>
      nn(c => cmpClaim(c, w).forall(r =>
        if (widen || orEqual) r >= 0 else r > 0)))
    def lt(l: ce.Literal, orEqual: Boolean) = conv(l).flatMap(w =>
      nn(c => cmpClaim(c, w).forall(r =>
        if (widen || orEqual) r <= 0 else r < 0)))
    e match {
      case ce.EqualTo(a, l: ce.Literal) if on(a) =>
        conv(l).flatMap(w => nn(c => c == w))
      case ce.EqualTo(l: ce.Literal, a) if on(a) =>
        conv(l).flatMap(w => nn(c => c == w))
      case ce.In(a, vs) if on(a) &&
          vs.forall(_.isInstanceOf[ce.Literal]) =>
        val ws = vs.map(v => conv(v.asInstanceOf[ce.Literal]))
        if (ws.exists(_.isEmpty)) None
        else { val set = ws.flatten.toSet; nn(set.contains) }
      case ce.InSet(a, hset) if on(a) =>
        val dt = e.children.head.dataType
        val ws = hset.toSeq.map(v =>
          claimForInternal(spec, keyType, ce.Literal(v, dt)))
        if (ws.exists(_.isEmpty)) None
        else { val set = ws.flatten.toSet; nn(set.contains) }
      case ce.GreaterThan(a, l: ce.Literal) if monotone && on(a) =>
        gt(l, orEqual = false)
      case ce.GreaterThan(l: ce.Literal, a) if monotone && on(a) =>
        lt(l, orEqual = false)
      case ce.GreaterThanOrEqual(a, l: ce.Literal) if monotone && on(a) =>
        gt(l, orEqual = true)
      case ce.GreaterThanOrEqual(l: ce.Literal, a) if monotone && on(a) =>
        lt(l, orEqual = true)
      case ce.LessThan(a, l: ce.Literal) if monotone && on(a) =>
        lt(l, orEqual = false)
      case ce.LessThan(l: ce.Literal, a) if monotone && on(a) =>
        gt(l, orEqual = false)
      case ce.LessThanOrEqual(a, l: ce.Literal) if monotone && on(a) =>
        lt(l, orEqual = true)
      case ce.LessThanOrEqual(l: ce.Literal, a) if monotone && on(a) =>
        gt(l, orEqual = true)
      case _ => None
    }
  }

  /** Directory-name escaping for the STREAMING fanout writer's
    * partition dirs. Over-escapes relative to Hive (anything outside
    * `[A-Za-z0-9_.-]`), which is safe: [[unescapePath]] decodes any
    * `%XX` byte run, so batch-written (Hive-escaped, ASCII-only
    * escapes) and stream-written dirs parse identically. Escapes the
    * UTF-8 BYTES (`%XX` per byte, Hive's own discipline) — a per-char
    * `%XXXX` form for codepoints past 0xFF would not round-trip
    * through a two-digit decoder, falsifying the file's key claim. */
  private[sources] def escapePath(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new StringBuilder(bytes.length)
    bytes.foreach { b =>
      val c = (b & 0xFF).toChar
      if (c < 128 && (c.isLetterOrDigit || c == '_' || c == '.' || c == '-'))
        sb.append(c)
      else sb.append(f"%%${b & 0xFF}%02X")
    }
    sb.toString
  }

  /** Per-row routing for the streaming fanout writer: InternalRow →
    * the nested `__graft_part=<v>/…` directory path its bytes belong
    * in. MUST agree with [[routeColumn]] (the batch path) — same
    * bucket function, same identity rendering as `partitionBy`
    * (dates as ISO-8601, nulls as Hive's default-partition name for
    * identity and bucket 0 for bucket specs). */
  def rowRouter(specs: Seq[Spec], schema: StructType)
      : InternalRow => String = {
    val levels = specs.map(levelRouter(_, schema))
    row => levels.zipWithIndex
      .map { case (r, i) => s"${partCol(i)}=${r(row)}" }
      .mkString("", "/", "/")
  }

  private def levelRouter(spec: Spec, schema: StructType)
      : InternalRow => String = {
    val ord = schema.fieldNames.indexWhere(_.equalsIgnoreCase(spec.column))
    require(ord >= 0,
      s"$Prop references column '${spec.column}' absent from the " +
        s"stream's schema ${schema.fieldNames.mkString("(", ",", ")")}")
    val dt = schema.fields(ord).dataType
    spec match {
      case BucketSpec(n, _) => row =>
        if (row.isNullAt(ord)) "0"
        else dt match {
          case LongType => GraftLakeFunctions.bucketOfLong(
            n, row.getLong(ord)).toString
          case IntegerType => GraftLakeFunctions.bucketOfLong(
            n, row.getInt(ord).toLong).toString
          case ShortType => GraftLakeFunctions.bucketOfLong(
            n, row.getShort(ord).toLong).toString
          case ByteType => GraftLakeFunctions.bucketOfLong(
            n, row.getByte(ord).toLong).toString
          case StringType => GraftLakeFunctions.bucketOfString(
            n, row.getUTF8String(ord).toString).toString
          case other => throw new UnsupportedOperationException(
            s"bucket over ${other.catalogString}")
        }
      case DaysSpec(_) => row =>
        if (row.isNullAt(ord)) NullPartitionName
        else dt match {
          case DateType => java.time.LocalDate
            .ofEpochDay(row.getInt(ord).toLong).toString
          case TimestampType | TimestampNTZType =>
            // internal micros (UTC session) → ISO day
            java.time.LocalDate.ofEpochDay(
              Math.floorDiv(row.getLong(ord), 86400000000L)).toString
          case other => throw new UnsupportedOperationException(
            s"days partition over ${other.catalogString}")
        }
      case spec @ (_: MonthsSpec | _: YearsSpec) => row =>
        if (row.isNullAt(ord)) NullPartitionName
        else {
          val epochDay = dt match {
            case DateType => row.getInt(ord).toLong
            case TimestampType | TimestampNTZType =>
              Math.floorDiv(row.getLong(ord), 86400000000L)
            case other => throw new UnsupportedOperationException(
              s"${spec.serialized} over ${other.catalogString}")
          }
          (if (spec.isInstanceOf[MonthsSpec]) monthsOfEpochDay(epochDay)
           else yearsOfEpochDay(epochDay)).toString
        }
      case HoursSpec(_) => row =>
        if (row.isNullAt(ord)) NullPartitionName
        else dt match {
          case TimestampType | TimestampNTZType =>
            Math.floorDiv(row.getLong(ord), 3600000000L).toString
          case other => throw new UnsupportedOperationException(
            s"hours partition over ${other.catalogString}")
        }
      case TruncateSpec(w, _) => row =>
        if (row.isNullAt(ord)) NullPartitionName
        else dt match {
          case LongType => truncLong(w, row.getLong(ord)).toString
          case IntegerType =>
            truncLong(w, row.getInt(ord).toLong).toString
          case StringType => escapePath(
            truncString(w, row.getUTF8String(ord).toString))
          case other => throw new UnsupportedOperationException(
            s"truncate partition over ${other.catalogString}")
        }
      case IdentitySpec(_) => row =>
        if (row.isNullAt(ord)) NullPartitionName
        else dt match {
          case LongType => row.getLong(ord).toString
          case IntegerType => row.getInt(ord).toString
          case ShortType => row.getShort(ord).toString
          case ByteType => row.getByte(ord).toString
          case StringType => escapePath(row.getUTF8String(ord).toString)
          case DateType => java.time.LocalDate
            .ofEpochDay(row.getInt(ord).toLong).toString
          case other => throw new UnsupportedOperationException(
            s"identity partition over ${other.catalogString}")
        }
    }
  }

  /** All plain files under `dir`, descending into (arbitrarily
    * nested) `__graft_part*=` partition directories — the ONE listing
    * rule every consumer (commit listing, vacuum classification,
    * streaming epoch staging) shares, so none of them can disagree
    * about what a landed data dir contains. */
  private[sources] def leafFiles(f: FileSystem,
      dir: Path): Seq[FileStatus] = {
    val entries = f.listStatus(dir).toSeq
    entries.filter(_.isFile) ++ entries
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$PartColPrefix"))
      .flatMap(s => leafFiles(f, s.getPath))
  }

  /** Hive path unescaping (`%2F` → `/`, …) — mirrors the escaping
    * `partitionBy` applies when writing partition directories.
    * Consecutive `%XX` escapes decode as a UTF-8 BYTE run (so
    * [[escapePath]]'s multi-byte sequences reassemble exactly);
    * Hive's own escapes are ASCII-only single bytes, which the same
    * rule decodes unchanged. Literal non-ASCII chars (Hive leaves
    * them raw) pass through untouched. */
  private def unescapePath(s: String): String = {
    val sb = new StringBuilder(s.length)
    val run = new java.io.ByteArrayOutputStream(8)
    def flush(): Unit = if (run.size() > 0) {
      sb.append(new String(run.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8))
      run.reset()
    }
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '%' && i + 2 < s.length) {
        try {
          run.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } catch {
          case _: NumberFormatException => flush(); sb.append(ch); i += 1
        }
      } else { flush(); sb.append(ch); i += 1 }
    }
    flush()
    sb.toString
  }
}

/** Key-grouped read scan over a partitioned lake table: the delegate
  * parquet scan's split bundles re-form ONE GROUP PER PARTITION VALUE
  * TUPLE, each group a [[FilePartition]] (the inner reader factory —
  * columnar batches included — is reused untouched) that also
  * declares its composite key ([[HasPartitionKey]]), and the scan
  * reports [[KeyGroupedPartitioning]] over the table's transform
  * list. With `spark.sql.sources.v2.bucketing.enabled=true` Spark's
  * `EnsureRequirements` then plans joins between co-partitioned
  * tables WITHOUT exchanges — the storage-partitioned join.
  *
  * Files with no key claim (proven 0-row schema carriers) are
  * dropped; the builder only engages this scan when every OTHER data
  * file claims a value tuple, so the grouping is total. Runtime file
  * pruning is deliberately NOT declared here: Spark requires
  * key-grouped partition values to be stable under runtime
  * filtering, and the SPJ itself removes the join shuffle DPP would
  * have fed. */
final class LakeKeyGroupedScan(inner: Scan,
    specs: Seq[LakePartitioning.Spec],
    keyOfPath: Map[String, Seq[Option[Any]]],
    keyTypes: Seq[DataType],
    provenEmpty: Set[String] = Set.empty,
    staticallyPruned: Set[String] = Set.empty,
    clusterOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      Array.empty,
    ndvSnap: Option[VersionedTable.Snapshot] = None,
    ndvSchema: StructType = new StructType())
    extends Scan
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private val distinctTuples: Seq[Seq[Option[Any]]] =
    keyOfPath.values.toSeq.distinct

  /** Reported SORT ORDER: each input partition is one key group; its
    * rows are genuinely ordered by the cluster terms only when the
    * group is a SINGLE file (clustered writes sort within each file;
    * two files concatenate two sorted runs). Ordering is reported
    * exactly when every group is single-file — after each routed
    * commit or a compaction — and silently withdrawn otherwise (a
    * sort node reappears; never a wrong merge-join). */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (clusterOrdering.nonEmpty &&
      keyOfPath.size == distinctTuples.size) clusterOrdering
    else Array.empty

  override def readSchema(): StructType = inner.readSchema()

  override def description(): String =
    inner.description() +
      s", KeyGrouped: ${specs.map(_.serialized).mkString(",")} " +
      s"(${distinctTuples.size} values)"

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      specs.map(_.reportedTransform: org.apache.spark.sql.connector.expressions.Expression).toArray,
      distinctTuples.size)

  override def toBatch: Batch = {
    val ib = inner.toBatch
    // PARTIALLY-CLUSTERED SPJ (skew fan-out): with
    // `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
    // .enabled`, the scan emits ONE keyed partition PER FILE and lets
    // Spark's own grouping either merge same-key splits (the default
    // SPJ) or keep the bigger side ungrouped and REPLICATE the other
    // side's matching partition over them — a hot key fans out to as
    // many tasks as it has files instead of serializing one. Without
    // the conf the scan groups per key tuple itself (exactly one
    // partition per value, the deterministic q197 shape).
    val perFile = org.apache.spark.sql.internal.SQLConf.get.getConfString(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution" +
        ".enabled", "false") == "true"
    new Batch {
      override def planInputPartitions(): Array[InputPartition] = {
        val files = ib.planInputPartitions().toSeq.flatMap {
          case fp: FilePartition => fp.files
          case other => throw new IllegalStateException(
            s"unexpected non-file partition $other under key-grouped scan")
        }
        files
          .flatMap { pf =>
            // DECODED path (SparkPath.toString is URL-encoded; the
            // claim map keys are decoded manifest paths — an encoded
            // lookup would silently drop any file whose identity
            // partition value holds a non-URI-safe char)
            val norm = pf.filePath.toPath.toString
            keyOfPath.get(norm) match {
              case some @ Some(_) => some.map(k => (k, pf))
              case None if provenEmpty.contains(norm) ||
                  staticallyPruned.contains(norm) =>
                // stats-proven 0-row schema carrier, or a file the
                // static partition prune PROVED claim-mismatched:
                // no servable rows, dropping the split is exact
                None
              case None =>
                // a claimed file failing the lookup means the two
                // normalizations diverged — silently dropping it
                // would LOSE ROWS; fail loudly instead
                throw new IllegalStateException(
                  s"key-grouped scan: data file $norm has no " +
                    "partition-key claim and is not stats-proven " +
                    "empty — path normalization diverged between " +
                    "the manifest and the scan")
            }
          }
          .pipe { keyed =>
            if (perFile)
              keyed.sortBy(_._2.filePath.toString).zipWithIndex
                .map { case ((key, pf), i) =>
                  new KeyedFilePartition(i, Array(pf),
                    InternalRow.fromSeq(key.map(_.orNull)))
                    : InputPartition
                }
            else
              keyed.groupBy(_._1)
                .toSeq
                .sortBy(_._2.head._2.filePath.toString)
                .zipWithIndex
                .map { case ((key, pfs), i) =>
                  new KeyedFilePartition(i, pfs.map(_._2).toArray,
                    InternalRow.fromSeq(key.map(_.orNull)))
                    : InputPartition
                }
          }
          .toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        ib.createReaderFactory()
    }
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val base = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }
    // manifest NDV column stats ride the SPJ scan too — restricted
    // to the scan's own (post static/bloom prune) file set
    ndvSnap.map(LakeNdvStats.decorate(base, _,
      Some(keyOfPath.keySet.map(p =>
        new org.apache.hadoop.fs.Path(p).toString)), ndvSchema))
      .getOrElse(base)
  }

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
}

/** A split bundle that is still a [[FilePartition]] (the stock parquet
  * reader factory and its columnar path apply unchanged) AND declares
  * the single partition-transform value tuple every row in it carries. */
private[sources] final class KeyedFilePartition(
    idx: Int,
    fileSplits: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: InternalRow)
    extends FilePartition(idx, fileSplits) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}
