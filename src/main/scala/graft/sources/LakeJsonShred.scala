package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, GetJsonObject, Literal}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.types.{DataType, StringType}

/** SHREDDED JSON storage (the parse-once shape of Delta/Iceberg's
  * variant shredding, Spark's own variant-shredding direction): a
  * table declaring `graft.json.shred'='props:$.plan,$.count'` has
  * every commit MATERIALIZE those paths into hidden string columns
  * (`__shred_plan`, `__shred_count`) next to the raw JSON, and a
  * resolution rule rewrites `get_json_object(props, '$.plan')` over
  * that table into the shredded column — served through the metadata-
  * column surface, so the raw string column PRUNES AWAY entirely and
  * min/max stats + predicate pushdown work on the extracted values.
  *
  * TYPED shredding: a declared path may carry a type —
  * `'props:$.k BIGINT,$.plan'` — materializing `CAST(get_json_object
  * (...) AS BIGINT)` at ingest into a NUMERIC column
  * (`__shred_k__long`), so `CAST(get_json_object(props,'$.k') AS
  * BIGINT)` rewrites to a plain columnar read and numeric predicates
  * prune files on SEMANTIC min/max (manifest + footer zone maps),
  * not lexical string order ("9" > "10" lexically). The type is part
  * of the column name, so changing a declared type simply degrades
  * the serving gate (old files lack the new column) until compaction
  * re-materializes — never a physical-vs-declared type mismatch.
  * Spark 4 runs ANSI by default, so a malformed value fails the
  * INGEST cast loudly; a committed typed column therefore holds
  * exactly what the query-time cast would produce under any eval
  * mode, which is what makes the Cast rewrite sound.
  *
  * Why it matters at 100 TB: q24-style queries parse every row's JSON
  * per query; shredding parses ONCE at ingest, and the per-query cost
  * becomes a plain columnar read of exactly the referenced paths
  * (gate: the shredded plan's ReadSchema does not contain the raw
  * column). Non-declared paths keep parsing the raw string — it is
  * still there, nothing is lost.
  *
  * The rewrite is CORRECTNESS-GATED per table: it fires only when
  * every live data file physically carries the shredded columns
  * (manifest-stats column inventory — zero IO). Commits, merge-on-read
  * upserts and compaction shred what they land, and a row-level
  * DELETE carries the stored columns of its survivors unchanged.
  * Files landed by UPDATE/MERGE rewrites or the streaming sink lack
  * them and degrade the table to raw parsing until compaction
  * re-materializes; answers never change, only the plan does. */
private[graft] object LakeJsonShred {

  /** Table property: `<jsonColumn>:<path>[ <TYPE>][,<path>[ <TYPE>]...]`. */
  val Prop = "graft.json.shred"

  val ColPrefix = "__shred_"

  /** One declared path: the JSONPath and its materialized type
    * (StringType when undeclared — the raw `get_json_object` domain). */
  final case class ShredPath(path: String, dt: DataType) {
    def isTyped: Boolean = dt != StringType
  }

  def isShredCol(name: String): Boolean =
    name.toLowerCase.startsWith(ColPrefix)

  /** Hidden-column name for a declared path. Typed paths carry the
    * type in the name (`__shred_k__long`), so a type re-declaration
    * can never read old files under a mismatched physical type — the
    * serving gate just sees the column missing. */
  def shredColName(sp: ShredPath): String = {
    val base = ColPrefix + sp.path.stripPrefix("$.")
      .replaceAll("[^A-Za-z0-9_]", "_").toLowerCase
    if (sp.isTyped)
      base + "__" + sp.dt.typeName.replaceAll("[^A-Za-z0-9_]", "_")
    else base
  }

  private val PathRe = """^(\$\.\S+)(?:\s+(.+))?$""".r

  /** (source column, declared paths) from table properties. Distinct
    * declared paths whose sanitized column names collide ($.K vs $.k,
    * $.a.b vs $.a_b) are REJECTED loudly: silently mapping two paths
    * to one column would serve the first path's values for the
    * second. */
  def fromProps(props: java.util.Map[String, String])
      : Option[(String, Seq[ShredPath])] =
    Option(props.get(Prop)).map { v =>
      val i = v.indexOf(':')
      require(i > 0, s"$Prop must be '<column>:<path>[ <type>],...' " +
        s"got '$v'")
      val paths = v.drop(i + 1).split(",").toSeq.map(_.trim)
        .filter(_.nonEmpty).map {
          case PathRe(p, null) => ShredPath(p, StringType)
          case PathRe(p, t) => ShredPath(p,
            CatalystSqlParser.parseDataType(t.trim))
          case bad => throw new IllegalArgumentException(
            s"$Prop paths must be '$$.<path>[ <TYPE>]', got '$bad'")
        }
      require(paths.nonEmpty, s"$Prop declares no paths: '$v'")
      val collided = paths.groupBy(shredColName).filter(_._2.size > 1)
      require(collided.isEmpty,
        s"$Prop declared paths collide after column-name " +
          s"sanitization: ${collided.map { case (c, ps) =>
            ps.map(_.path).mkString("{", ", ", "}") + " -> " + c
          }.mkString("; ")} — rename the paths or drop one")
      (v.take(i).trim, paths)
    }

  /** Ingest-side materialization: append one column per declared path
    * (parse-once — this is the only place the JSON is ever parsed for
    * declared paths on the steady-state read path). Typed paths cast
    * at ingest; under ANSI (the Spark 4 default) a malformed value
    * fails the COMMIT, keeping the typed column loss-free. */
  def shred(df: DataFrame, src: String, paths: Seq[ShredPath])
      : DataFrame =
    paths.foldLeft(df) { (d, p) =>
      if (d.columns.exists(_.equalsIgnoreCase(shredColName(p)))) d
      else {
        val raw = get_json_object(col(src), p.path)
        d.withColumn(shredColName(p),
          if (p.isTyped) raw.cast(p.dt) else raw)
      }
    }

  /** Resolution rule: `get_json_object(<declared col>, '<declared
    * path>')` over a gated lake relation rewrites to the shredded
    * METADATA column — directly for string-typed paths, through the
    * enclosing `CAST(... AS <declared type>)` for typed ones (the
    * cast result IS the stored column). Runs inside the analyzer's
    * resolution fixpoint, so Spark's own AddMetadataColumns then
    * threads the referenced metadata attribute down to the scan. */
  final case class ShredRewrite(
      spark: org.apache.spark.sql.SparkSession) extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = {
      // per-relation: source attr exprId → (path → (shred attr, type))
      val maps = plan.collect {
        case r: DataSourceV2Relation
            if r.table.isInstanceOf[GraftLakeTable] =>
          val t = r.table.asInstanceOf[GraftLakeTable]
          t.shredServing.flatMap { case (src, paths) =>
            r.output.find(_.name.equalsIgnoreCase(src)).map { srcAttr =>
              srcAttr.exprId -> paths.flatMap { p =>
                r.metadataOutput
                  .find(_.name.equalsIgnoreCase(shredColName(p)))
                  .map(a => p.path -> (a, p.dt))
              }.toMap
            }
          }
      }.flatten.toMap
      if (maps.isEmpty) plan
      else plan.transformAllExpressions {
        // typed: CAST(get_json_object(col, path) AS <declared type>)
        // is exactly the stored column (ingest ran the same cast)
        case c @ Cast(GetJsonObject(a: AttributeReference,
            Literal(p: org.apache.spark.unsafe.types.UTF8String,
              StringType)), dt, _, _) =>
          maps.get(a.exprId).flatMap(_.get(p.toString))
            .collect { case (attr, sdt) if sdt == dt && sdt != StringType =>
              attr: org.apache.spark.sql.catalyst.expressions.Expression
            }.getOrElse(c)
        // string-typed: the raw get_json_object value is the column
        case g @ GetJsonObject(a: AttributeReference,
            Literal(p: org.apache.spark.unsafe.types.UTF8String,
              StringType)) =>
          maps.get(a.exprId).flatMap(_.get(p.toString))
            .collect { case (attr, StringType) =>
              attr: org.apache.spark.sql.catalyst.expressions.Expression
            }.getOrElse(g)
      }
    }
  }
}
