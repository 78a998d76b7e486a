package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{BioQueries, DedupOps, EventOps, GraphOps, Key, Relational, SimilarityOps, TextOps}

/** Driver contract — see SURVEY.md §7.
  *
  * The registry: each operator family declares its keys once, as
  * `val keys: ListMap[String, Key]`, where a [[graft.ops.Key]] pairs the
  * build with its oracle, so no key exists without one. `queries` and
  * `oracleSql` are projections of the seven registries concatenated;
  * the family key sets are disjoint (`KeyRegistrySpec` pins that).
  *
  * `queries` is the declared operator inventory (SURVEY.md §2): each entry
  * is one operator exercised over the driver's star schema; `oracleSql`
  * carries the DuckDB-equivalent SQL with identical column names for the
  * hash-match correctness gate. Hash-dependent operators
  * (MinHash/SimHash/HLL) use engine-agnostic integer hashing (see
  * graft.functions.PolyHashMod) or emit in-engine-verified bounds so
  * DuckDB reproduces them exactly.
  *
  * A key run may open [[graft.ops.Scratch]] scopes; whoever materializes
  * a result calls `Scratch.release` afterwards.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** The seven family registries. */
  lazy val families: Seq[ListMap[String, Key]] = Seq(Relational.keys,
    EventOps.keys, TextOps.keys, SimilarityOps.keys, DedupOps.keys,
    GraphOps.keys, BioQueries.keys)

  /** Every declared key, family by family. */
  lazy val keys: ListMap[String, Key] = families.reduce(_ ++ _)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    keys.map { case (k, v) => k -> v.build }

  lazy val oracleSql: Map[String, String] =
    keys.map { case (k, v) => k -> v.oracle }
}
