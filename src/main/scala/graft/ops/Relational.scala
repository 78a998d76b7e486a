package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational operator inventory (SURVEY.md §2.6): scans, projection/filter,
  * joins (broadcast/shuffle/semi/anti/outer/theta-range), aggregation
  * (hash agg, count-distinct, rollup/cube/grouping-sets), window functions
  * (ranking/analytic/frames), sort/limit/top-k, set ops, scalar function
  * families (string/date/math/JSON).
  *
  * Every query here is a declarative DataFrame plan — Catalyst handles
  * predicate pushdown, column pruning, partial aggregation and join
  * strategy selection; small dimension tables are broadcast explicitly.
  * Each query carries a DuckDB oracle with identical column names/ordering.
  *
  * Floating-point aggregates are rounded on both sides: engines may sum
  * doubles in different orders, so the last ulp is not comparable but the
  * rounded value is.
  */
object Relational {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  private def ntz(s: String): Column = lit(s).cast("timestamp_ntz")

  /** Registers `tables` as scratch temp views for a SQL-text key and
    * returns each table's view name. */
  private def views(spark: SparkSession, dir: String, key: String,
      tables: String*): Map[String, String] = {
    val scratch = Scratch(spark, key)
    tables.map { n =>
      val v = scratch.name(n)
      t(spark, dir, n).createOrReplaceTempView(v)
      n -> v
    }.toMap
  }

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1 shape: scan + filter + hash aggregate (partial/final agg is
    * automatic map-side combine — the 100TB-safe agg pattern). */
  val q01PricingSummary: Q = (spark, dir) =>
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= ntz("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity),2) AS sum_qty,
      | round(sum(l_extendedprice),2) AS sum_base_price,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
      | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
      | round(avg(l_quantity),4) AS avg_qty,
      | round(avg(l_extendedprice),4) AS avg_price,
      | round(avg(l_discount),4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** Row-level projection + conjunctive filter; filters reach the parquet
    * scan as PushedFilters. Row-level IEEE arithmetic is bit-identical
    * across engines, so the raw double is emitted (rounding would
    * INTRODUCE half-boundary divergence, not remove it). */
  val q02FilterProject: Q = (spark, dir) =>
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate").between(ntz("1996-01-01"), ntz("1996-12-31")) &&
        col("l_discount") >= 0.05 && col("l_quantity") < 25)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q02Oracle: String =
    """SELECT l_orderkey, l_linenumber,
      | l_extendedprice*(1-l_discount) AS revenue
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
      |  AND l_discount >= 0.05 AND l_quantity < 25
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3 shape: 3-way join (customer broadcast into orders⋈lineitem),
    * aggregate, deterministic top-10. */
  val q03TopOrders: Q = (spark, dir) => {
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(spark, dir, "orders").filter(col("o_orderdate") < ntz("1997-01-01"))
    val l = t(spark, dir, "lineitem").filter(col("l_shipdate") > ntz("1997-01-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q03Oracle: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      | JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND l_shipdate > TIMESTAMP '1997-01-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q04
  /** Left-semi join (EXISTS) with a cross-table non-equi conjunct. */
  val q04SemiJoin: Q = (spark, dir) => {
    val o = t(spark, dir, "orders")
    val l = t(spark, dir, "lineitem")
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q04Oracle: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q05
  /** Star join: two broadcast dims (region⋈nation), then shuffle joins up
    * the fact chain; revenue per (region, nation). */
  val q05RegionRevenue: Q = (spark, dir) => {
    val r = t(spark, dir, "region")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate").between(ntz("1996-01-01"), ntz("1996-12-31")))
    val l = t(spark, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q05Oracle: String =
    """SELECT r_name, n_name,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
      | count(*) AS n_lines
      |FROM lineitem
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q06
  /** TPC-H Q6: pure scan-filter-agg, single row. */
  val q06ForecastRevenue: Q = (spark, dir) =>
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate").between(ntz("1996-01-01"), ntz("1996-12-31")) &&
        col("l_discount").between(0.04, 0.06) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"), count(lit(1)).as("n"))

  val q06Oracle: String =
    """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue,
      | count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
      |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Left-anti join (NOT EXISTS): customers with no orders in 1996 H1. */
  val q07AntiJoin: Q = (spark, dir) =>
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders")
          .filter(col("o_orderdate").between(ntz("1996-01-01"), ntz("1996-06-30"))),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val q07Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-06-30')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Left-outer join + aggregate preserving unmatched rows. */
  val q08OuterJoin: Q = (spark, dir) => {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("spend"))
      .orderBy(col("c_custkey"))
  }

  val q08Oracle: String =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      | round(coalesce(sum(o_totalprice),0),2) AS spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Exact distinct aggregation (expand + two-phase agg under the hood). */
  val q09CountDistinct: Q = (spark, dir) =>
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val q09Oracle: String =
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
      | count(DISTINCT l_partkey) AS n_parts,
      | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q29
  /** HLL sketch distinct (E4): approx_count_distinct is the scale escape
    * hatch for q09's exact expand — one pass, fixed-size sketch, no 3×
    * row blowup. Sketch VALUES are engine-specific, so the emitted
    * columns are the exact counts plus `within_bound`, a flag computed
    * IN-ENGINE asserting |approx − exact|/exact ≤ 0.05 for both sketched
    * columns — which the oracle reproduces exactly (exact counts +
    * literal TRUE). A sketch drifting out of its error bound flips the
    * flag and fails the hash match, so the oracle row genuinely gates the
    * HLL path, not just the exact one. OpsSpec pins the same bound. */
  val q29ApproxDistinct: Q = (spark, dir) => {
    // Two separate aggregations joined on the (tiny) group key: mixing
    // sketch and exact-distinct aggregates in ONE agg makes Catalyst
    // evaluate the HLL updates on the Expand-multiplied rows (~6× slower
    // than q09); split, each agg plans its natural shape and the join is
    // a broadcast over a handful of groups.
    val li = t(spark, dir, "lineitem")
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("a_o"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("a_p"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n_rows"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        col("n_rows"),
        (abs(col("a_o") - col("exact_orders")).cast("double") /
            col("exact_orders") <= 0.05 &&
          abs(col("a_p") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.05).as("within_bound"))
      .orderBy(col("l_returnflag"))
  }

  val q29Oracle: String =
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
      | count(DISTINCT l_partkey) AS exact_parts, count(*) AS n_rows,
      | TRUE AS within_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q10
  /** GROUPING SETS via SQL surface. */
  val q10GroupingSets: Q = (spark, dir) => {
    val v = views(spark, dir, "q10", "lineitem")
    spark.sql(
      s"""SELECT coalesce(l_returnflag, '(all)') AS rf,
        | coalesce(l_linestatus, '(all)') AS ls,
        | round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM ${v("lineitem")}
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)
  }

  val q10Oracle: String =
    """SELECT coalesce(l_returnflag, '(all)') AS rf,
      | coalesce(l_linestatus, '(all)') AS ls,
      | round(sum(l_quantity),2) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY rf, ls""".stripMargin

  // ---------------------------------------------------------------- q11
  /** ROLLUP over a broadcast-joined dimension hierarchy. */
  val q11Rollup: Q = (spark, dir) => {
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("c_acctbal")), 2).as("acctbal"),
        count(lit(1)).as("n_cust"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("acctbal"), col("n_cust"))
      .orderBy(col("region"), col("nation"))
  }

  val q11Oracle: String =
    """SELECT coalesce(r_name, '(all)') AS region,
      | coalesce(n_name, '(all)') AS nation,
      | round(sum(c_acctbal),2) AS acctbal, count(*) AS n_cust
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  // ---------------------------------------------------------------- q12
  /** CUBE aggregate. */
  val q12Cube: Q = (spark, dir) =>
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
        coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))

  val q12Oracle: String =
    """SELECT coalesce(l_returnflag, '(all)') AS rf,
      | coalesce(l_linestatus, '(all)') AS ls,
      | round(sum(l_quantity),2) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Per-group top-k via ranking window (the scalable top-k idiom: no
    * global sort, partial top-k per partition after the hash shuffle). */
  val q13TopKPerGroup: Q = (spark, dir) => {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    t(spark, dir, "part")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 2)
      .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
      .orderBy(col("p_brand"), col("rn"))
  }

  val q13Oracle: String =
    """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |   row_number() OVER (PARTITION BY p_brand
      |     ORDER BY p_retailprice DESC, p_partkey) AS rn
      |  FROM part) WHERE rn <= 2
      |ORDER BY p_brand, rn""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Ranking window functions: rank / dense_rank / ntile. */
  val q14WindowRank: Q = (spark, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk"), col("drnk"), col("quartile"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  val q14Oracle: String =
    """SELECT o_custkey, rnk, drnk, quartile, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |   rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
      |   ntile(4) OVER w AS quartile
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Running-total window with ROWS frame. l_quantity is integral-valued
    * so the running double sum is exact — no rounding needed. */
  val q15WindowRunning: Q = (spark, dir) => {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem;
    // l_quantity + l_extendedprice complete a total order, without which
    // the ROWS running frame is underdetermined on the tied pair and the
    // oracle (recomputed per check) can legally disagree
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "lineitem")
      .withColumn("run_qty", sum(col("l_quantity")).over(w))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("run_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  val q15Oracle: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      | sum(l_quantity) OVER (PARTITION BY l_suppkey
      |   ORDER BY l_shipdate, l_orderkey, l_linenumber,
      |     l_quantity, l_extendedprice
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty
      |FROM lineitem
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Analytic window functions: lag / lead / first_value. */
  val q16WindowLagLead: Q = (spark, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("first_price", first(col("o_totalprice")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("prev_price"), col("next_price"), col("first_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q16Oracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      | lag(o_totalprice, 1) OVER w AS prev_price,
      | lead(o_totalprice, 1) OVER w AS next_price,
      | first_value(o_totalprice) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q17
  /** RANGE frame window: peer rows (ties) enter the frame together. */
  val q17WindowRange: Q = (spark, dir) => {
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "lineitem")
      .withColumn("cum_qty", sum(col("l_quantity")).over(w))
      .withColumn("cum_n", count(lit(1)).over(w))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("cum_qty"), col("cum_n"))
      .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
  }

  val q17Oracle: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
      | sum(l_quantity) OVER w AS cum_qty,
      | count(*) OVER w AS cum_n
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity
      |  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Range/theta join, pre-aggregated: reduce the fact side to its 50
    * distinct quantities first, then the non-equi join is tiny. This is the
    * 100TB pattern — never range-join raw fact rows when a group-reduce
    * collapses the domain. */
  val q18RangeJoin: Q = (spark, dir) => {
    val liq = t(spark, dir, "lineitem")
      .groupBy(col("l_quantity").as("qty"))
      .agg(count(lit(1)).as("cnt"))
    val p = t(spark, dir, "part")
    liq.join(p, col("qty").between(col("p_size") - 2, col("p_size") + 2))
      .groupBy(col("p_brand"))
      .agg(sum(col("cnt")).as("n_lines"), count(lit(1)).as("n_pairs"))
      .orderBy(col("p_brand"))
  }

  val q18Oracle: String =
    """WITH liq AS (
      |  SELECT l_quantity AS qty, count(*) AS cnt FROM lineitem GROUP BY 1)
      |SELECT p_brand, CAST(sum(cnt) AS BIGINT) AS n_lines,
      | count(*) AS n_pairs
      |FROM liq JOIN part ON qty BETWEEN p_size - 2 AND p_size + 2
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Set operations: INTERSECT / EXCEPT over distinct key sets. */
  val q19SetOps: Q = (spark, dir) => {
    val withOrders = t(spark, dir, "orders")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val rich = t(spark, dir, "customer")
      .filter(col("c_acctbal") > 5000).select(col("c_custkey")).distinct()
    withOrders.intersect(rich).select(col("c_custkey"), lit("both").as("tag"))
      .union(withOrders.except(rich)
        .select(col("c_custkey"), lit("orders_only").as("tag")))
      .union(rich.except(withOrders)
        .select(col("c_custkey"), lit("rich_only").as("tag")))
      .orderBy(col("c_custkey"), col("tag"))
  }

  val q19Oracle: String =
    """WITH w AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
      | r AS (SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 5000)
      |SELECT c_custkey, 'both' AS tag FROM (SELECT * FROM w INTERSECT SELECT * FROM r)
      |UNION ALL
      |SELECT c_custkey, 'orders_only' AS tag FROM (SELECT * FROM w EXCEPT SELECT * FROM r)
      |UNION ALL
      |SELECT c_custkey, 'rich_only' AS tag FROM (SELECT * FROM r EXCEPT SELECT * FROM w)
      |ORDER BY c_custkey, tag""".stripMargin

  // ---------------------------------------------------------------- q20
  /** DISTINCT projection. */
  val q20Distinct: Q = (spark, dir) =>
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus")).distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q20Oracle: String =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q21
  /** String scalar-function family. */
  val q21StringFns: Q = (spark, dir) =>
    t(spark, dir, "part")
      .select(col("p_partkey"),
        lower(col("p_name")).as("lname"),
        upper(col("p_brand")).as("ubrand"),
        substring(col("p_name"), 1, 3).as("pre3"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
        concat_ws("|", col("p_type"), col("p_brand")).as("cat"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        trim(lit("  pad  ")).as("trimmed"))
      .orderBy(col("p_partkey"))

  val q21Oracle: String =
    """SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand,
      | substring(p_name, 1, 3) AS pre3,
      | CAST(length(p_name) AS BIGINT) AS name_len,
      | regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
      | regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
      | concat_ws('|', p_type, p_brand) AS cat,
      | string_split(p_name, ' ')[1] AS first_word,
      | trim('  pad  ') AS trimmed
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Date/time scalar-function family (string/long outputs to sidestep
    * timestamp-encoding differences between engines). */
  val q22DateFns: Q = (spark, dir) =>
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
          .as("month_start"),
        datediff(lit("2002-01-01").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("age_days"))
      .orderBy(col("o_orderkey"))

  val q22Oracle: String =
    """SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      | CAST(day(o_orderdate) AS BIGINT) AS dom, quarter(o_orderdate) AS qtr,
      | strftime(o_orderdate, '%Y-%m-%d') AS ds,
      | strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      | CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS age_days
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Math scalar-function family. sqrt/abs/pow-of-integral are IEEE-exact
    * (emitted raw); ln is libm-dependent so it alone is rounded. */
  val q23MathFns: Q = (spark, dir) =>
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        sqrt(col("l_extendedprice")).as("sqrt_px"),
        pow(col("l_quantity"), 2).as("qty_sq"),
        abs(col("l_discount") - 0.05).as("abs_disc"),
        ceil(col("l_extendedprice")).as("ceil_px"),
        floor(col("l_extendedprice")).as("floor_px"),
        round(log(col("l_extendedprice") + 1), 6).as("ln_px"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q23Oracle: String =
    """SELECT l_orderkey, l_linenumber,
      | sqrt(l_extendedprice) AS sqrt_px,
      | pow(l_quantity, 2) AS qty_sq,
      | abs(l_discount - 0.05) AS abs_disc,
      | CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_px,
      | CAST(floor(l_extendedprice) AS BIGINT) AS floor_px,
      | round(ln(l_extendedprice + 1), 6) AS ln_px,
      | l_orderkey % 7 AS key_mod,
      | greatest(l_tax, l_discount) AS max_rate
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q60
  /** PIVOT: per-nation order revenue spread across order-year columns.
    * The value list is explicit (1995–2001), so Catalyst compiles the
    * pivot to ONE pass of conditional aggregates — no second group-by,
    * no values-discovery job, and the shape is a plain two-level agg that
    * scales like q05. Cells are rounded sums (order-sensitive float agg);
    * empty cells stay NULL on both engines. */
  val q60Pivot: Q = (spark, dir) => {
    val years = 1995 to 2001
    val joined = t(spark, dir, "orders")
      .join(t(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate").cast("date")).as("yr"),
        col("o_totalprice"))
    joined.groupBy(col("n_name"))
      .pivot("yr", years.map(y => y: Any))
      .agg(round(sum(col("o_totalprice")), 2))
      .select(col("n_name") +: years.map(y => col(y.toString).as(s"y$y")): _*)
      .orderBy(col("n_name"))
  }

  val q60Oracle: String = {
    val cells = (1995 to 2001).map(y =>
      s"round(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = $y " +
        s"THEN o_totalprice END), 2) AS y$y").mkString(",\n | ")
    s"""SELECT n_name,
       | $cells
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin
  }

  // ---------------------------------------------------------------- q61
  /** UNPIVOT (melt): one month of lineitem measures widened into
    * (metric, val) rows — the inverse reshape of q60. Catalyst expands
    * the unpivot to an Expand node: one pass, rows×metrics output, no
    * shuffle before the final sort. Raw row-level doubles are emitted
    * (bit-identical across engines; no aggregation happens). */
  val q61Unpivot: Q = (spark, dir) =>
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate").between(ntz("1997-03-01"), ntz("1997-03-31")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  val q61Oracle: String =
    """WITH src AS (SELECT l_orderkey, l_linenumber, l_quantity,
      |  l_extendedprice, l_discount FROM lineitem
      | WHERE l_shipdate BETWEEN TIMESTAMP '1997-03-01'
      |   AND TIMESTAMP '1997-03-31')
      |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
      |       l_quantity AS val FROM src
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |FROM src
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Bucketed tables for the co-located join: orders and lineitem written
    * `bucketBy(8, orderkey).sortBy(orderkey)` into a catalog database
    * under /tmp (tag derived from the input dir, so re-runs overwrite
    * instead of accumulating). Both sides sharing bucket count + key
    * means the sort-merge join needs NO Exchange (and no Sort when each
    * bucket lands in one file) — the pre-shuffled layout a 100 TB
    * deployment maintains for its hottest join key (the OpsSpec bucketed
    * test pins the exchange-free plan with broadcast disabled). */
  private def bucketedDb(dir: String): String = s"graft_buck_${dirTag(dir)}"

  /** A short tag derived from the input dir: a root named after it is
    * overwritten by a rerun in a later session instead of accumulating. */
  private def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Handles to already-built bucketed tables (no rebuild) — the
    * steady-state read side. Requires [[bucketedOrdersLineitem]] to have
    * run in this catalog first. */
  def bucketedTables(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val db = bucketedDb(dir)
    (spark.table(s"$db.orders_b"), spark.table(s"$db.lineitem_b"))
  }

  def bucketedOrdersLineitem(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val db = bucketedDb(dir)
    val tag = db.stripPrefix("graft_buck_")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db " +
      s"LOCATION '/tmp/graft_buck_$tag'")
    // a fresh JVM's in-memory catalog forgets the tables but their files
    // persist under /tmp — clear both before writing
    for (tb <- Seq("orders_b", "lineitem_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $db.$tb")
      val p = new org.apache.hadoop.fs.Path(s"/tmp/graft_buck_$tag/$tb")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(s"$db.orders_b")
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(s"$db.lineitem_b")
    (spark.table(s"$db.orders_b"), spark.table(s"$db.lineitem_b"))
  }

  /** The co-located join/agg alone, given already-bucketed tables —
    * separated from the build so Bench can time the exchange-free probe
    * (the steady-state cost a deployment pays per query) apart from the
    * one-time bucketed-layout build (two full shuffled writes). */
  def q62Probe(o: DataFrame, l: DataFrame): DataFrame =
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))

  /** Co-located join over the bucketed tables: revenue per priority. */
  val q62BucketedJoin: Q = (spark, dir) => {
    val (o, l) = bucketedOrdersLineitem(spark, dir)
    q62Probe(o, l)
  }

  val q62Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      | round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Skewed-key join — the AQE skew-join readiness story. A hot key is
    * manufactured deterministically (the smallest orderkey's lineitem
    * rows replicated 500×, mirrored exactly in the oracle), then joined
    * to orders. At real scale one hot key like this is what stalls a
    * sort-merge join on a straggler partition; with
    * `spark.sql.adaptive.skewJoin` (on by default) AQE splits the
    * oversized partition into parallel sub-joins at runtime — OpsSpec
    * pins the `skew=true` plan node with thresholds lowered to make the
    * tiny test data register as skewed. Correctness here is unaffected
    * by whether the split triggers, so the oracle row stays hard-green
    * at any SF. */
  val q65SkewJoin: Q = (spark, dir) => {
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    skewedJoin(li, t(spark, dir, "orders"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** The skew-manufacturing join alone (shared with the OpsSpec plan
    * assertion): lineitem ∪ 500 near-copies of the min-orderkey rows
    * (price offset by the replica index — identical replicas would
    * compress to nothing in the shuffle blocks, and AQE's skew detector
    * reads COMPRESSED map-output sizes), joined to orders on the (now
    * hot) key. */
  def skewedJoin(li: DataFrame, orders: DataFrame,
      replicate: Int = 500): DataFrame = {
    val hk = li.agg(min(col("l_orderkey"))).first().getLong(0)
    val hot = li.filter(col("l_orderkey") === hk)
      .withColumn("rep", explode(sequence(lit(1), lit(replicate))))
      .withColumn("l_extendedprice", col("l_extendedprice") + col("rep"))
      .drop("rep")
    li.unionAll(hot)
      .join(orders.select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
  }

  val q65Oracle: String =
    """WITH hk AS (SELECT min(l_orderkey) AS k FROM lineitem),
      |hot AS (SELECT l.l_orderkey, l.l_extendedprice + r.i AS l_extendedprice
      |  FROM lineitem l, hk, range(1, 501) r(i) WHERE l.l_orderkey = hk.k),
      |sk AS (SELECT l_orderkey, l_extendedprice FROM lineitem
      |  UNION ALL SELECT * FROM hot)
      |SELECT o_orderpriority, count(*) AS n_lines,
      | round(sum(l_extendedprice), 2) AS revenue
      |FROM sk JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Exact percentiles (median / p90 of order value per priority) via the
    * `percentile` aggregate — the exact anchor for the approximate
    * (`percentile_approx` / t-digest) scale path, which trades the
    * per-group sort for a mergeable sketch when groups stop fitting in
    * memory. Interpolated values are rounded (the two engines interleave
    * the a+(b−a)·f arithmetic differently in the last ulp). */
  val q63Percentiles: Q = (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      // array form = ONE value-multiset buffer for both quantiles (the
      // q90 discipline); scalar calls would hold the group's values twice
      .agg(count(lit(1)).as("n"),
        expr("percentile(o_totalprice, array(0.5, 0.9))").as("ps"))
      .select(col("o_orderpriority"), col("n"),
        round(element_at(col("ps"), 1), 2).as("p50"),
        round(element_at(col("ps"), 2), 2).as("p90"))
      .orderBy(col("o_orderpriority"))

  val q63Oracle: String =
    """SELECT o_orderpriority, count(*) AS n,
      | round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
      | round(quantile_cont(o_totalprice, 0.9), 2) AS p90
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Source/sink breadth beyond parquet: the documents table round-trips
    * through JSON-lines and headered CSV (Spark's codegen'd text
    * sources, both splittable at scale) and each come-back is
    * fingerprinted with order-insensitive aggregates. The oracle
    * computes the same fingerprint from the parquet ground truth, so a
    * single lost row, mangled string, or mistyped column in either
    * format fails the hash gate. BOTH re-reads pass the explicit
    * schema — inference costs a full extra pass over the data and can
    * drift types run-to-run. Boundary: the splittable CSV read
    * (multiLine=false) requires newline-free text, which normalization
    * guarantees here; corpora with embedded newlines take the
    * JSON-lines path, whose escaping handles arbitrary text. */
  val q79TextFormats: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val base = Scratch(spark, "q79").path("data")
    docs.write.mode("overwrite").json(base + "/jsonl")
    docs.write.mode("overwrite").option("header", "true").csv(base + "/csv")
    val j = spark.read.schema(docs.schema).json(base + "/jsonl")
    val c = spark.read.option("header", "true").schema(docs.schema)
      .csv(base + "/csv")
    def fp(df: DataFrame, fmt: String): DataFrame =
      df.select(lit(fmt).as("fmt"),
          col("doc_id").cast("long").as("doc_id"),
          length(col("text")).cast("long").as("len"),
          col("n_chars").cast("long").as("n_chars"))
        .groupBy(col("fmt"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_id"),
          sum(col("len")).as("sum_len"), sum(col("n_chars")).as("sum_chars"))
    fp(c, "csv").union(fp(j, "jsonl")).orderBy(col("fmt"))
  }

  val q79Oracle: String =
    """SELECT fmt, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_id,
      | CAST(sum(length(text)) AS BIGINT) AS sum_len,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM (VALUES ('csv'), ('jsonl')) t(fmt), documents
      |GROUP BY fmt ORDER BY fmt""".stripMargin

  // ---------------------------------------------------------------- q82
  /** The pure-SQL surface end-to-end: TPC-H Q5 (local-supplier volume —
    * the classic 6-table star join with the customer-and-supplier
    * same-nation condition) submitted as SQL TEXT over registered temp
    * views via `spark.sql`, not the DataFrame DSL. Exercises the SQL
    * parser → analyzer → same Catalyst pipeline; the oracle is the
    * identical query in DuckDB dialect, so plan differences between the
    * two entry styles cannot change results. The revenue sum rounds to
    * 2 (order-sensitive double aggregate, per the file convention). */
  val q82SqlTpch5: Q = (spark, dir) => {
    val v = views(spark, dir, "q82", "customer", "orders", "lineitem",
      "supplier", "nation", "region")
    spark.sql(
      s"""SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_lines
        |FROM ${v("customer")}
        | JOIN ${v("orders")}   ON c_custkey = o_custkey
        | JOIN ${v("lineitem")} ON l_orderkey = o_orderkey
        | JOIN ${v("supplier")} ON l_suppkey = s_suppkey
        |   AND c_nationkey = s_nationkey
        | JOIN ${v("nation")}   ON s_nationkey = n_nationkey
        | JOIN ${v("region")}   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP_NTZ '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
  }

  val q82Oracle: String =
    """SELECT n_name,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      | count(*) AS n_lines
      |FROM customer
      | JOIN orders   ON c_custkey = o_custkey
      | JOIN lineitem ON l_orderkey = o_orderkey
      | JOIN supplier ON l_suppkey = s_suppkey
      |   AND c_nationkey = s_nationkey
      | JOIN nation   ON s_nationkey = n_nationkey
      | JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q90
  /** The approximate-percentile SCALE path q63 points at, now gated:
    * `approx_percentile` (Greenwald-Khanna summaries — mergeable
    * fixed-size sketches, the per-group-sort escape hatch once groups
    * stop fitting in memory) runs next to the exact percentile and the
    * emitted `within_bound` flag asserts IN-ENGINE that every sketch
    * value sits within 2% of its exact anchor. The oracle reproduces
    * the exact values and a literal TRUE — the q29 HLL pattern: a
    * sketch drifting out of bound flips the flag and fails the hash
    * match, so the approximate path is genuinely gated even though its
    * raw values are engine-specific. The flag also absorbs the sketch's
    * merge-order sensitivity (partial-agg order may nudge the estimate;
    * it cannot move it outside the bound). */
  val q90ApproxPercentile: Q = (spark, dir) => {
    val within = (a: Column, e: Column) =>
      abs(a - e).cast("double") / e <= 0.02
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      // ONE buffer per aggregate family (array-percentile form): the
      // scalar form built an independent buffer per call — the exact
      // percentile held the full per-group value multiset TWICE and the
      // GK sketch was built twice, for identical inputs. Same algorithm,
      // same values, half the aggregation state and update work.
      .agg(count(lit(1)).as("n"),
        expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ps"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)")
          .as("as"))
      .select(col("l_returnflag"), col("n"),
        round(element_at(col("ps"), 1), 2).as("p50"),
        round(element_at(col("ps"), 2), 2).as("p95"),
        element_at(col("as"), 1).as("a50"),
        element_at(col("as"), 2).as("a95"))
      .select(col("l_returnflag"), col("n"), col("p50"), col("p95"),
        (within(col("a50"), col("p50")) && within(col("a95"), col("p95")))
          .as("within_bound"))
      .orderBy(col("l_returnflag"))
  }

  val q90Oracle: String =
    """SELECT l_returnflag, count(*) AS n,
      | round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
      | round(quantile_cont(l_extendedprice, 0.95), 2) AS p95,
      | TRUE AS within_bound
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Bloom-filter pre-join pruning as a FIRST-CLASS op: the engine's own
    * deterministic Bloom sketch (graft.functions.BloomSketch — a
    * mergeable TypedImperativeAggregate bitset + codegen'd probe) built
    * over the urgent-order keys, held once on the driver (32 KB,
    * metadata-sized) and probed per lineitem row as a LITERAL binary
    * BEFORE any shuffle — the hand-rolled form
    * of the AQE runtime filter (spec-pinned separately), for the cases
    * the optimizer can't inject: persisted filters, decontamination
    * lists shipped across jobs, cross-engine pipelines.
    *
    * Because probe positions are engine-agnostic int64 affine mixes
    * (the PolyHashMod family), the DuckDB oracle rebuilds the distinct
    * position set and reproduces membership EXACTLY — n_bloom includes
    * the sketch's actual false positives (m = 2^18 bits ⇒ ~1.6% FP at
    * sf0.1's ~30k keys, 0 at sf0.01's — both reproduced bit-for-bit),
    * and n_missed pins the no-false-negative invariant at literal 0. */
  val q93BloomPrune: Q = (spark, dir) => {
    import graft.functions.BloomSketch
    val m = 1 << 18
    val urgent = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k")).distinct()
    // Driver-held 32 KB sketch probed as a LITERAL (guide §3.2's manual
    // Bloom shape, the q174 pattern): codegen references one shared
    // byte[], zero per-row copies. The previous crossJoin(broadcast(bf))
    // attached the sketch as a COLUMN, and every BloomContains eval in
    // the aggregate paid an UnsafeRow.getBinary copy of the full 32 KB —
    // ~3×32 KB × 600k lineitem rows ≈ 56 GB of allocation at sf0.1.
    val bloomBytes = urgent.agg(BloomSketch.build(col("k"), m, 7).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val inBloom = BloomSketch.mightContain(lit(bloomBytes), col("l_orderkey"))
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(broadcast(urgent), col("l_orderkey") === col("k"), "left")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(inBloom, 1L).otherwise(0L)).as("n_bloom"),
        sum(when(col("k").isNotNull && !inBloom, 1L).otherwise(0L))
          .as("n_missed"))
      .orderBy(col("l_returnflag"))
  }

  val q93Oracle: String =
    """WITH ku AS (SELECT DISTINCT o_orderkey AS k FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |pos AS (SELECT DISTINCT
      |    (((k % 2147483647) * 2654435761 + 1) % 2147483647
      |     + i.i * (((k % 2147483647) * 40503 + 97) % 2147483647))
      |      % 262144 AS p
      |  FROM ku, range(7) i(i)),
      |lk AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
      |pr AS (SELECT key,
      |    ((key % 2147483647) * 2654435761 + 1) % 2147483647 AS h1,
      |    ((key % 2147483647) * 40503 + 97) % 2147483647 AS h2 FROM lk),
      |probes AS (SELECT key, (h1 + i.i * h2) % 262144 AS p
      |  FROM pr, range(7) i(i)),
      |hits AS (SELECT probes.key, count(*) AS nh FROM probes
      |  JOIN pos ON pos.p = probes.p GROUP BY probes.key),
      |mem AS (SELECT lk.key AS key, coalesce(nh, 0) = 7 AS inb
      |  FROM lk LEFT JOIN hits ON hits.key = lk.key)
      |SELECT l_returnflag, count(*) AS n_rows,
      | CAST(sum(CASE WHEN ku.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_exact,
      | CAST(sum(CASE WHEN mem.inb THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
      | CAST(sum(CASE WHEN ku.k IS NOT NULL AND NOT mem.inb THEN 1 ELSE 0 END)
      |   AS BIGINT) AS n_missed
      |FROM lineitem
      | JOIN mem ON mem.key = l_orderkey
      | LEFT JOIN ku ON ku.k = l_orderkey
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q94
  /** Count-min sketch frequency estimation as a FIRST-CLASS op: the
    * engine's deterministic CM sketch (graft.functions.CountMin — a
    * mergeable d×w counter-matrix TypedImperativeAggregate + codegen'd
    * min-probe) built over the event user keys in ONE map-side-combined
    * pass, broadcast as a 32 KB binary, and probed per key — per-key
    * frequency WITHOUT shuffling the key space, the hot-key detector
    * that feeds the salting/skew-split decision at 100 TB (the exact
    * groupBy here exists only to exhibit the guarantee).
    *
    * w=1024 against sf0.1's 1500 users forces real collisions; the
    * min-over-4-rows estimate still never undercounts (over_est >= 0 is
    * the CM invariant, pinned per row), and because probe rows are the
    * same int64 affine family as q93's Bloom, the DuckDB oracle rebuilds
    * the counter matrix relationally and reproduces every estimate —
    * collision overshoot included — EXACTLY. */
  val q94CmsFrequency: Q = (spark, dir) => {
    import graft.functions.CountMin
    val keys = t(spark, dir, "events").select(col("user_id"))
    // Driver-held 32 KB sketch probed as a LITERAL (the q93/q127 shape):
    // the old crossJoin(broadcast(cms)) attached the sketch as a COLUMN
    // to every per-user row, and each estimateCol eval paid an
    // UnsafeRow.getBinary copy of the whole sketch — linear-in-users
    // allocation churn. As a literal, codegen references ONE shared
    // byte[] and the nested-loop attach join disappears from the plan.
    val cmsBytes = keys.agg(CountMin.build(col("user_id"), 1024).as("cms"))
      .head.getAs[Array[Byte]]("cms")
    keys.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
      .select(col("user_id"), col("n_exact"),
        CountMin.estimateCol(lit(cmsBytes), col("user_id")).as("n_est"))
      .withColumn("over_est", col("n_est") - col("n_exact"))
      .orderBy(col("user_id"))
  }

  val q94Oracle: String =
    """WITH c AS (SELECT user_id AS k, count(*) AS n FROM events GROUP BY 1),
      |h AS (SELECT k, n,
      |    ((k % 2147483647) * 2654435761 + 1) % 2147483647 AS h1,
      |    ((k % 2147483647) * 40503 + 97) % 2147483647 AS h2 FROM c),
      |probes AS (SELECT k, (h1 + r.i * h2) % 1024 AS p, r.i AS r
      |  FROM h, range(4) r(i)),
      |counters AS (SELECT r, p, sum(n) AS cnt FROM probes
      |  JOIN h USING (k) GROUP BY r, p),
      |est AS (SELECT probes.k, min(cnt) AS n_est FROM probes
      |  JOIN counters ON counters.r = probes.r AND counters.p = probes.p
      |  GROUP BY probes.k)
      |SELECT h.k AS user_id, n AS n_exact,
      | CAST(n_est AS BIGINT) AS n_est,
      | CAST(n_est - n AS BIGINT) AS over_est
      |FROM h JOIN est ON est.k = h.k
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Range-sorted parquet layout — the ZONE-MAP write path: lineitem
    * rewritten `repartitionByRange(l_shipdate) + sortWithinPartitions`,
    * so each output file covers a disjoint shipdate slice and every
    * file/row-group footer carries tight min/max stats. A later
    * date-range scan then prunes whole files/row-groups from the
    * FOOTERS, before any row is read — at 100 TB the sorted layout is
    * the difference between scanning a year and scanning the whole
    * table (this is the layout judgement behind clustering keys /
    * Z-ordering; the disjointness and the pushed-filter plan are
    * spec-pinned in OpsSpec). The oracle runs the same quarter-filtered
    * aggregate over the original table: layout must never change
    * results. */
  val q96SortedLayout: Q = (spark, dir) => {
    val path = Scratch(spark, "q96").path("data")
    t(spark, dir, "lineitem")
      .select(col("l_shipdate"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions(col("l_shipdate"))
      .write.mode("overwrite").parquet(path)
    val lo = lit("1995-01-01").cast("timestamp")
    val hi = lit("1996-01-01").cast("timestamp")
    spark.read.parquet(path)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  val q96Oracle: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      | sum(l_quantity) AS sum_qty,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-01-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Bit-spread for 16-bit Morton (Z-order) interleaving: the classic
    * magic-number doubling — x | x<<8 masked, then <<4, <<2, <<1 —
    * leaves x's 16 bits in the even positions of a 32-bit word. Pure
    * int64 shifts/masks, codegen'd, deterministic. */
  private def mortonSpread(c: Column): Column = {
    var x = c.cast("long")
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-value of two keys (16 low bits each): a's bits even, b's odd. */
  private[graft] def zValue(a: Column, b: Column): Column =
    mortonSpread(pmod(a, lit(65536)))
      .bitwiseOR(shiftleft(mortonSpread(pmod(b, lit(65536))), 1))

  /** Z-order (space-filling-curve) parquet layout — q96's multi-column
    * companion: lineitem rewritten `repartitionByRange` on the Morton
    * interleave of (l_partkey, l_suppkey), so each output file covers a
    * compact RECTANGLE-ish region of the 2-D key space and its footer
    * min/max stats are tight on BOTH columns at once. A box predicate
    * (part range AND supplier range) then prunes whole files from the
    * footers on both dimensions — the property a single-column sort
    * cannot give (sorting by partkey leaves every file spanning all
    * suppliers). At 100 TB this is the clustering-key judgement call:
    * tables are pruned on more than one dimension, and the curve buys
    * locality in all of them for one layout pass (one range shuffle,
    * identical cost to q96's). Per-file two-column stat tightness and
    * the both-dims pushed-filter plan are spec-pinned in OpsSpec; the
    * oracle runs the same box aggregate over the original table —
    * layout must never change results. */
  val q107ZorderLayout: Q = (spark, dir) => {
    val path = Scratch(spark, "q107").path("data")
    t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .withColumn("zv", zValue(col("l_partkey"), col("l_suppkey")))
      .repartitionByRange(8, col("zv"))
      .sortWithinPartitions(col("zv"))
      .drop("zv")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .filter(col("l_partkey") <= 100 && col("l_suppkey") <= 5)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  val q107Oracle: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      | sum(l_quantity) AS sum_qty,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |WHERE l_partkey <= 100 AND l_suppkey <= 5
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q102
  /** Table diff / reconciliation — the migration-validation op (did the
    * rewrite/backfill/engine-swap preserve the data?): two snapshots
    * FULL-OUTER joined on the key, each row classified deleted (left
    * only) / inserted (right only) / changed (both, any compared column
    * differs) / same, rolled up with per-status key checksums so the
    * oracle pins WHICH rows differ, not just how many. The "new"
    * snapshot here is a deterministic mutation of orders (every 97th
    * key dropped, every 101st repriced, a shifted key range inserted) —
    * standing in for the other engine's output at a real migration.
    *
    * Scale shape: one co-partitioned full-outer SMJ on the key (both
    * sides shuffle once), column comparison inline in the join output,
    * then a 4-group rollup — the whole diff is two exchanges no matter
    * how wide the table; at 100 TB you'd bucket both snapshots on the
    * key and the exchanges vanish (q62's layout). */
  val q102TableDiff: Q = (spark, dir) => {
    val base = t(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderpriority").as("prio"))
    val mutated = base
      .filter(col("k") % 97 =!= 0)
      .withColumn("price",
        when(col("k") % 101 === 0, col("price") + 1.0).otherwise(col("price")))
      .unionByName(base.filter(col("k") % 103 === 0)
        .select((col("k") + lit(1000000000L)).as("k"), col("price"),
          col("prio")))
    val joined = base.as("a").join(mutated.as("b"),
      col("a.k") === col("b.k"), "full_outer")
    val status = when(col("b.k").isNull, "deleted")
      .when(col("a.k").isNull, "inserted")
      .when(col("a.price") =!= col("b.price") ||
        col("a.prio") =!= col("b.prio"), "changed")
      .otherwise("same")
    joined.select(status.as("status"),
        coalesce(col("a.k"), col("b.k")).as("k"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"))
      .orderBy(col("status"))
  }

  val q102Oracle: String =
    """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price,
      |    o_orderpriority AS prio FROM orders),
      |mut AS (
      |  SELECT k, CASE WHEN k % 101 = 0 THEN price + 1.0 ELSE price END
      |      AS price, prio
      |  FROM base WHERE k % 97 != 0
      |  UNION ALL
      |  SELECT k + 1000000000, price, prio FROM base WHERE k % 103 = 0),
      |j AS (SELECT coalesce(a.k, b.k) AS k,
      |    CASE WHEN b.k IS NULL THEN 'deleted'
      |         WHEN a.k IS NULL THEN 'inserted'
      |         WHEN a.price != b.price OR a.prio != b.prio THEN 'changed'
      |         ELSE 'same' END AS status
      |  FROM base a FULL OUTER JOIN mut b ON a.k = b.k)
      |SELECT status, count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Correlated scalar subquery (TPC-H Q17 shape): per-brand revenue of
    * lineitems whose quantity sits below 0.2× the per-part average —
    * written as SQL text so Catalyst's subquery DECORRELATION is what
    * runs (RewriteCorrelatedScalarSubquery turns the per-row subquery
    * into one aggregate over lineitem plus a join on l_partkey; a naive
    * engine would re-run the inner aggregate per outer row). Safe for
    * the hash gate because l_quantity is integer-valued: the correlated
    * avg is an exact order-independent sum/count, so the 0.2× threshold
    * is bit-identical across engines. */
  val q83ScalarSubquery: Q = (spark, dir) => {
    val v = views(spark, dir, "q83", "lineitem", "part")
    spark.sql(
      s"""SELECT p_brand,
        | round(sum(l_extendedprice), 2) AS below_avg_revenue,
        | count(*) AS n_lines
        |FROM ${v("lineitem")} JOIN ${v("part")} ON p_partkey = l_partkey
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM ${v("lineitem")} l2
        |                    WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
  }

  val q83Oracle: String =
    """SELECT p_brand,
      | round(sum(l_extendedprice), 2) AS below_avg_revenue,
      | count(*) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
      |                    FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q84
  /** EXISTS / NOT EXISTS correlated subqueries (TPC-H Q4 shape, adapted
    * to this schema's columns): orders in 1996Q1 split by whether any of
    * their lineitems ships quantity > 45. Catalyst rewrites the EXISTS
    * branch to a left-semi join and the NOT EXISTS branch to a left-anti
    * join (RewritePredicateSubquery) — the subquery spelling of q04/q07,
    * so the SQL entry path covers both rewrites. Both branches scan
    * orders with the same pushed date filter. */
  val q84ExistsSubquery: Q = (spark, dir) => {
    val v = views(spark, dir, "q84", "orders", "lineitem")
    spark.sql(
      s"""SELECT 'exists' AS kind, o_orderpriority, count(*) AS n
        |FROM ${v("orders")}
        |WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP_NTZ '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM ${v("lineitem")}
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'not_exists' AS kind, o_orderpriority, count(*) AS n
        |FROM ${v("orders")}
        |WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP_NTZ '1996-04-01'
        |  AND NOT EXISTS (SELECT 1 FROM ${v("lineitem")}
        |                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY kind, o_orderpriority""".stripMargin)
  }

  val q84Oracle: String =
    """SELECT 'exists' AS kind, o_orderpriority, count(*) AS n
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority
      |UNION ALL
      |SELECT 'not_exists' AS kind, o_orderpriority, count(*) AS n
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01'
      |  AND NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority
      |ORDER BY kind, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q124
  /** ORC scan/sink + hive-partitioned parquet layout (q79's external-
    * format fingerprint pattern on the columnar members of the source
    * family): the documents table round-trips through (a) ORC — the
    * other splittable columnar interchange format a lake ingests — and
    * (b) parquet written `partitionBy(source)`, the directory layout
    * whose partition values live in paths, not data pages, so a
    * source-filtered read prunes whole directories BEFORE any I/O (the
    * coarsest pruning tier above q96/q107's footer zone-maps; OpsSpec
    * pins PartitionFilters + the pruned file count in the scan). Both
    * re-reads fingerprint per source against the parquet ground truth
    * — counts and integer sums, so any row/value drift in either
    * format path fails the oracle exactly. */
  val q124OrcPartitioned: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val base = Scratch(spark, "q124").path("data")
    docs.write.mode("overwrite").orc(base + "/orc")
    docs.write.mode("overwrite").partitionBy("source")
      .parquet(base + "/bysource")
    val o = spark.read.orc(base + "/orc")
    val p = spark.read.parquet(base + "/bysource")
    def fp(df: DataFrame, fmt: String): DataFrame = df
      .groupBy(lit(fmt).as("fmt"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_id"),
        sum(length(col("text"))).cast("long").as("sum_len"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
    fp(o, "orc").union(fp(p, "partitioned"))
      .orderBy(col("fmt"), col("source"))
  }

  val q124Oracle: String =
    """SELECT fmt, source, count(*) AS n_docs,
      | CAST(sum(doc_id) AS BIGINT) AS sum_id,
      | CAST(sum(length(text)) AS BIGINT) AS sum_len,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM (VALUES ('orc'), ('partitioned')) t(fmt), documents
      |GROUP BY fmt, source ORDER BY fmt, source""".stripMargin

  // ---------------------------------------------------------------- q126
  /** Dynamic partition overwrite — the idempotent partition-refresh
    * every lake pipeline runs on q124's layout: a full snapshot lands
    * `partitionBy(source)`, then a delta batch touching three sources
    * re-lands with `partitionOverwriteMode=dynamic`, which replaces
    * ONLY the partitions present in the delta (static overwrite would
    * truncate the whole table first — OpsSpec pins exactly that
    * difference). Re-running the delta converges to the same state —
    * the crash-safe re-landing semantics exactly-once ingest (q-ingest)
    * needs at the directory tier. The merged read-back fingerprints
    * per source against a relational restatement of the merge. */
  val q126DynamicOverwrite: Q = (spark, dir) => {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val base = Scratch(spark, "q126").path("data")
    docs.write.mode("overwrite").partitionBy("source").parquet(base)
    docs.filter(col("source").isin("src0", "src1", "src2"))
      .withColumn("n_chars", col("n_chars") + lit(1000L))
      .write.mode("overwrite").partitionBy("source")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(base)
    spark.read.parquet(base)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_id"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("source"))
  }

  val q126Oracle: String =
    """SELECT source, count(*) AS n_docs,
      | CAST(sum(doc_id) AS BIGINT) AS sum_id,
      | CAST(sum(CASE WHEN source IN ('src0', 'src1', 'src2')
      |   THEN n_chars + 1000 ELSE n_chars END) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q130
  /** Mergeable HLL distinct sketches (Spark 4's Datasketches surface —
    * `hll_sketch_agg`/`hll_union_agg`/`hll_sketch_estimate`): the
    * count-distinct-across-rollups pattern where per-group sketches
    * PERSIST and any later rollup unions them WITHOUT recounting the
    * fact table — at 100 TB the only way daily/weekly/all-time unique
    * users come from one scan. Per event type: exact distinct users
    * next to an in-engine within-3%-of-exact flag on the lgK=14
    * estimate (the q29/q90 sketch-gate pattern — the oracle reproduces
    * the EXACT counts and expects the engine-bound flag literally
    * TRUE); the `__all__` row estimates from the UNION of the per-type
    * sketches, never from re-scanning — OpsSpec additionally pins the
    * union estimate against a direct whole-table sketch (HLL union is
    * lossless at equal lgK: same register state either way). */
  val q130HllUnion: Q = (spark, dir) => {
    val e = t(spark, dir, "events").select(col("event_type"), col("user_id"))
    val per = e.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        countDistinct(col("user_id")).cast("long").as("n_exact"))
    val perOut = per.select(col("event_type").as("grp"), col("n_exact"),
      (abs(expr("hll_sketch_estimate(sk)") - col("n_exact")) <=
        col("n_exact") * 0.03).as("within3pct"))
    // Deliberately NOT the q93/q127 literal-probe shape: the probe side
    // here is ONE row, so the BNLJ attach is O(1) — collecting the union
    // sketch to the driver instead costs a separate job that re-runs the
    // per-type aggregate (isolated A/B r17: 0.77 s → 1.17 s). The r16
    // churn argument applies only where the probe side is
    // row-proportional (q94).
    val allSk = per.agg(expr("hll_union_agg(sk)").as("u"))
    val allOut = e.agg(countDistinct(col("user_id")).cast("long")
        .as("n_exact"))
      .crossJoin(broadcast(allSk))
      .select(lit("__all__").as("grp"), col("n_exact"),
        (abs(expr("hll_sketch_estimate(u)") - col("n_exact")) <=
          col("n_exact") * 0.03).as("within3pct"))
    perOut.unionByName(allOut).orderBy(col("grp"))
  }

  val q130Oracle: String =
    """WITH p AS (SELECT event_type AS grp,
      |    count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1),
      |a AS (SELECT '__all__' AS grp, count(DISTINCT user_id) AS n_exact
      |  FROM events)
      |SELECT grp, CAST(n_exact AS BIGINT) AS n_exact,
      | TRUE AS within3pct
      |FROM (SELECT * FROM p UNION ALL SELECT * FROM a)
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------- q131
  /** Theta-sketch set algebra (the tier q130's HLL cannot do): segment
    * OVERLAP from persisted sketches — purchasers ∩ signups and
    * purchasers \ signups estimated by intersecting two per-segment
    * theta sketches, never by rescanning or joining the fact table.
    * Exact counts ride one user-key aggregate (per-user segment flags,
    * then four sums); each sketch is a scalar aggregate broadcast as
    * one ~32 KB row. Below the 4096 nominal-entries bound the sketches
    * are in exact mode, so estimates equal truth and the within-1%
    * flags the oracle expects as literal TRUE hold with zero slack;
    * above it they hold by the estimator's ~1.6% 1σ at the flag's
    * margin. OpsSpec pins build-side mergeability and the exact-mode
    * equality directly. */
  val q131ThetaOverlap: Q = (spark, dir) => {
    import graft.functions.Theta
    val e = t(spark, dir, "events")
      .select(col("event_type"), col("user_id"))
    val flags = e.groupBy(col("user_id")).agg(
      max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"),
      max(when(col("event_type") === "signup", 1).otherwise(0)).as("s"))
    val exact = flags.agg(
      sum(col("p")).cast("long").as("n_p"),
      sum(col("s")).cast("long").as("n_s"),
      sum(col("p") * col("s")).cast("long").as("n_and"),
      sum(col("p") * (lit(1) - col("s"))).cast("long").as("n_not"))
    // Driver-held sketches probed as LITERALS (the q93/q127 shape): the
    // old double crossJoin(broadcast(sk)) attached each ~32 KB sketch as
    // a one-row relation through two nested-loop joins; as literals the
    // set-algebra estimates fold into the projection and both BNLJs
    // disappear. ONE job builds both sketches (two filtered aggregates
    // over the same scan), instead of two broadcast-build jobs.
    val skRow = e.agg(
      Theta.build(when(col("event_type") === "purchase", col("user_id")))
        .as("sk_p"),
      Theta.build(when(col("event_type") === "signup", col("user_id")))
        .as("sk_s")).head
    val skP = lit(skRow.getAs[Array[Byte]]("sk_p"))
    val skS = lit(skRow.getAs[Array[Byte]]("sk_s"))
    exact
      .select(col("n_p"), col("n_s"), col("n_and"), col("n_not"),
        Theta.estimate(skP).as("e_p"),
        Theta.estimate(skS).as("e_s"),
        Theta.intersectEstimate(skP, skS).as("e_and"),
        Theta.aNotBEstimate(skP, skS).as("e_not"))
      .selectExpr("stack(4, " +
        "'purchase', n_p, e_p, " +
        "'purchase_and_signup', n_and, e_and, " +
        "'purchase_not_signup', n_not, e_not, " +
        "'signup', n_s, e_s) AS (metric, n_exact, est)")
      .select(col("metric"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.01)
          .as("within1pct"))
      .orderBy(col("metric"))
  }

  val q131Oracle: String =
    """WITH f AS (SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
      |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s
      |  FROM events GROUP BY user_id),
      |e AS (SELECT CAST(sum(p) AS BIGINT) AS n_p,
      |    CAST(sum(s) AS BIGINT) AS n_s,
      |    CAST(sum(p * s) AS BIGINT) AS n_and,
      |    CAST(sum(p * (1 - s)) AS BIGINT) AS n_not FROM f)
      |SELECT metric, n_exact, TRUE AS within1pct FROM (
      |  SELECT 'purchase' AS metric, n_p AS n_exact FROM e
      |  UNION ALL SELECT 'purchase_and_signup', n_and FROM e
      |  UNION ALL SELECT 'purchase_not_signup', n_not FROM e
      |  UNION ALL SELECT 'signup', n_s FROM e)
      |ORDER BY metric""".stripMargin

  // ---------------------------------------------------------------- q133
  /** Mergeable KLL quantile sketches — the PERSISTED quantile tier that
    * completes the sketch family (Bloom membership q93, CMS frequency
    * q94, HLL distinct q130, theta set algebra q131): per-priority KLL
    * sketches of order value are first-class aggregate values, and the
    * `__all__` row answers the global median by MERGING them — never by
    * rescanning the fact table. `approx_percentile` (q90) is one-shot:
    * its GK summary evaporates after the query, so every new rollup
    * costs a fact scan; at 100 TB, persisted per-segment KLL state is
    * the only way arbitrary segment-union percentiles come from one
    * historical scan. Gating follows the q90/q130 sketch pattern: KLL
    * bounds normalized RANK error (~0.6% at k=800, the bound surviving
    * merges), so each row asserts in-engine that the sketch median sits
    * between the group's exact p45 and p55 values — a ±5% rank window
    * with ~8σ of margin — and the oracle reproduces the exact anchors
    * and a literal TRUE. Exact anchors ride the SAME one aggregate as
    * the sketch build (no second fact pass). */
  val q133KllQuantiles: Q = (spark, dir) => {
    import graft.functions.Kll
    val o = t(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"))
    // array-percentile form: ONE exact-value buffer for the three rank
    // anchors instead of three copies of the group's multiset (q90's fix)
    val per = o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(o_totalprice, array(0.45, 0.5, 0.55))").as("ps"),
        Kll.build(col("o_totalprice")).as("sk"))
      .select(col("o_orderpriority"), col("n"),
        element_at(col("ps"), 1).as("p45"),
        element_at(col("ps"), 2).as("p50"),
        element_at(col("ps"), 3).as("p55"), col("sk"))
    val perOut = per.select(col("o_orderpriority").as("grp"), col("n"),
      round(col("p50"), 2).as("p50_exact"),
      Kll.quantile(col("sk"), 0.5).between(col("p45"), col("p55"))
        .as("within_rank5"))
    // Deliberately NOT the q93/q127 literal-probe shape: the probe side
    // here is ONE row, so the BNLJ attach is O(1) — collecting the
    // merged sketch to the driver instead costs a separate job that
    // re-runs the per-priority KLL build (isolated A/B r17:
    // 1.21 s → 1.52 s). The r16 churn argument applies only where the
    // probe side is row-proportional (q94).
    val allSk = per.agg(Kll.merge(col("sk")).as("u"))
    val allOut = o.agg(count(lit(1)).as("n"),
        expr("percentile(o_totalprice, array(0.45, 0.5, 0.55))").as("ps"))
      .select(col("n"),
        element_at(col("ps"), 1).as("p45"),
        element_at(col("ps"), 2).as("p50"),
        element_at(col("ps"), 3).as("p55"))
      .crossJoin(broadcast(allSk))
      .select(lit("__all__").as("grp"), col("n"),
        round(col("p50"), 2).as("p50_exact"),
        Kll.quantile(col("u"), 0.5).between(col("p45"), col("p55"))
          .as("within_rank5"))
    perOut.unionByName(allOut).orderBy(col("grp"))
  }

  val q133Oracle: String =
    """WITH p AS (SELECT o_orderpriority AS grp,
      |    CAST(count(*) AS BIGINT) AS n,
      |    round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact
      |  FROM orders GROUP BY 1),
      |a AS (SELECT '__all__' AS grp, CAST(count(*) AS BIGINT) AS n,
      |    round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact
      |  FROM orders)
      |SELECT grp, n, p50_exact, TRUE AS within_rank5
      |FROM (SELECT * FROM p UNION ALL SELECT * FROM a)
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Incremental aggregate maintenance — the materialized-view refresh
    * every 100 TB warehouse lives by: the standing per-priority rollup
    * was built from history (orders before 1997-01-01) and is NEVER
    * recomputed; a delta batch (orders from 1997 on) aggregates alone
    * and MERGES into the base via full-outer-join + coalesced
    * combination. count/sum/max merge losslessly; avg is carried as
    * (sum, count) and divided only at read time — the decomposable-
    * aggregate discipline that makes the merge exact. The oracle
    * aggregates the WHOLE table directly, so the hash gate itself
    * proves merged-incremental ≡ full-recompute. Scale shape: the
    * delta aggregate touches only delta rows; the merge joins two
    * |groups|-sized tables (broadcast-sized at any fact volume). */
  val q139IncrementalAgg: Q = (spark, dir) => {
    val o = t(spark, dir, "orders")
    val cut = ntz("1997-01-01 00:00:00")
    def agg(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice")).as("s"),
        max(col("o_totalprice")).as("mx"))
    val base = agg(o.filter(col("o_orderdate") < cut))
      .select(col("o_orderpriority"), col("n").as("bn"),
        col("s").as("bs"), col("mx").as("bmx"))
    val delta = agg(o.filter(col("o_orderdate") >= cut))
      .select(col("o_orderpriority"), col("n").as("dn"),
        col("s").as("ds"), col("mx").as("dmx"))
    base.join(delta, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n"),
        round(coalesce(col("bs"), lit(0.0d)) +
          coalesce(col("ds"), lit(0.0d)), 2).as("total"),
        // greatest() skips nulls on its own; coalescing each side to a
        // 0.0 literal would silently floor the merged max at zero for
        // any group whose true max is negative.
        coalesce(greatest(col("bmx"), col("dmx")), col("bmx"),
          col("dmx")).as("mx"))
      .withColumn("avg_price", round(col("total") / col("n"), 2))
      .orderBy(col("o_orderpriority"))
  }

  val q139Oracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | round(sum(o_totalprice), 2) AS total,
      | max(o_totalprice) AS mx,
      | round(round(sum(o_totalprice), 2) / count(*), 2) AS avg_price
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Data profiling — the ingestion-time column audit (null rate,
    * cardinality, bounds) every pipeline runs before trusting a new
    * drop. The null/bounds statistics for all four columns RIDE ONE
    * scan (one aggregate row, unstacked); the four distinct counts run
    * as per-column aggregates instead of Spark's Expand-based
    * multi-distinct — deliberately: Expand multiplies every scanned
    * row ×(k+1) in memory and through the partial-agg pipeline, while
    * parquet's columnar layout means k single-column passes read the
    * SAME bytes with 1/(k+1) the in-flight rows (measured 0.75 s vs
    * 1.24 s warm at sf0.1, and each pass's map-side partial distinct
    * shrinks its exchange to the column's cardinality). Bounds emit as
    * strings through an explicit DECIMAL(18,2) pivot for doubles so
    * the rendering is engine-identical. */
  val q142Profile: Q = (spark, dir) => {
    val l = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    def dec(c: String, f: String): String =
      s"CAST(CAST($f($c) AS DECIMAL(18,2)) AS STRING)"
    val base = l.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("nn1"),
      expr("CAST(min(l_orderkey) AS STRING)").as("mn1"),
      expr("CAST(max(l_orderkey) AS STRING)").as("mx1"),
      sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("nn2"),
      expr(dec("l_quantity", "min")).as("mn2"),
      expr(dec("l_quantity", "max")).as("mx2"),
      sum(when(col("l_extendedprice").isNull, 1L).otherwise(0L)).as("nn3"),
      expr(dec("l_extendedprice", "min")).as("mn3"),
      expr(dec("l_extendedprice", "max")).as("mx3"),
      sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("nn4"),
      min(col("l_returnflag")).as("mn4"),
      max(col("l_returnflag")).as("mx4"))
      .selectExpr("n_rows", """stack(4,
        |'l_orderkey', nn1, mn1, mx1,
        |'l_quantity', nn2, mn2, mx2,
        |'l_extendedprice', nn3, mn3, mx3,
        |'l_returnflag', nn4, mn4, mx4)
        |AS (col_name, n_nulls, min_s, max_s)
        |""".stripMargin)
    val distincts = Seq("l_orderkey", "l_quantity", "l_extendedprice",
      "l_returnflag").map { c =>
      l.select(col(c)).agg(countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"),
          col("n_distinct").cast("long").as("n_distinct"))
    }.reduce(_ unionByName _)
    base.join(broadcast(distincts), Seq("col_name"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_s"), col("max_s"))
      .orderBy(col("col_name"))
  }

  val q142Oracle: String =
    """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      | CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
      |   AS BIGINT) AS nn1,
      | CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd1,
      | CAST(min(l_orderkey) AS VARCHAR) AS mn1,
      | CAST(max(l_orderkey) AS VARCHAR) AS mx1,
      | CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
      |   AS BIGINT) AS nn2,
      | CAST(count(DISTINCT l_quantity) AS BIGINT) AS nd2,
      | CAST(CAST(min(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS mn2,
      | CAST(CAST(max(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS mx2,
      | CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
      |   AS BIGINT) AS nn3,
      | CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS nd3,
      | CAST(CAST(min(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR)
      |   AS mn3,
      | CAST(CAST(max(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR)
      |   AS mx3,
      | CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
      |   AS BIGINT) AS nn4,
      | CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd4,
      | min(l_returnflag) AS mn4, max(l_returnflag) AS mx4
      |FROM lineitem)
      |SELECT col_name, n_rows, n_nulls, n_distinct, min_s, max_s FROM (
      |  SELECT 'l_orderkey' AS col_name, n_rows, nn1 AS n_nulls,
      |    nd1 AS n_distinct, mn1 AS min_s, mx1 AS max_s FROM a
      |  UNION ALL SELECT 'l_quantity', n_rows, nn2, nd2, mn2, mx2 FROM a
      |  UNION ALL SELECT 'l_extendedprice', n_rows, nn3, nd3, mn3, mx3
      |    FROM a
      |  UNION ALL SELECT 'l_returnflag', n_rows, nn4, nd4, mn4, mx4
      |    FROM a)
      |ORDER BY col_name""".stripMargin

  // ---------------------------------------------------------------- q144
  /** The normalized-rank window family in one pass — percent_rank,
    * cume_dist, ntile(4) — over one partition+order spec, so all three
    * ride a single sort with NO extra exchange (the planner pipelines
    * same-spec window functions into one Window operator; a per-
    * function query would sort three times). percent_rank/cume_dist
    * are exact small-integer ratios ((rank−1)/(n−1), k/n) — IEEE
    * division of exact ints is bit-identical on any engine, so no
    * rounding is needed; tie behavior is pinned by the deterministic
    * orderkey tie-break in the emitted top slice. */
  val q144RankFamily: Q = (spark, dir) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("o_orderpriority"), col("rn").cast("long").as("rn"),
        col("o_orderkey"), col("pr"), col("cd"), col("quartile"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  val q144Oracle: String =
    """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey,
      | pr, cd, CAST(quartile AS BIGINT) AS quartile FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    row_number() OVER w AS rn,
      |    percent_rank() OVER w AS pr,
      |    cume_dist() OVER w AS cd,
      |    ntile(4) OVER w AS quartile
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rn <= 5 ORDER BY o_orderpriority, rn""".stripMargin

  // ---------------------------------------------------------------- q147
  /** Data-quality assertion suite — the dbt-test / Great-Expectations
    * gate every ingestion runs before a table goes live, as ONE query:
    * key uniqueness (rows − distinct keys), referential integrity
    * (orders → customer orphans via LEFT ANTI join — at scale the
    * orphan probe is a broadcast of the dim key set), domain-range
    * violations (discount outside [0, 0.1]), and null checks, each a
    * (check_name, n_violations, pass) row. A data-quality gate must be
    * cheap enough to run on every landing: every check here is either
    * a rider on one scan or a key-only anti join, and the output is
    * fixed-size regardless of volume. */
  val q147QualityChecks: Q = (spark, dir) => {
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val uniq = o.agg((count(lit(1)) - countDistinct(col("o_orderkey")))
      .as("n")).select(lit("orders_pk_unique").as("check_name"),
      col("n").cast("long").as("n_violations"))
    val orphans = o.join(broadcast(c),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("orders_custkey_fk").as("check_name"),
        col("n").cast("long").as("n_violations"))
    val range = l.agg(sum(when(col("l_discount") < 0.0 ||
        col("l_discount") > 0.1, 1L).otherwise(0L)).as("n"))
      .select(lit("lineitem_discount_range").as("check_name"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_violations"))
    val nulls = l.agg(sum(when(col("l_quantity").isNull, 1L)
        .otherwise(0L)).as("n"))
      .select(lit("lineitem_quantity_notnull").as("check_name"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_violations"))
    uniq.unionByName(orphans).unionByName(range).unionByName(nulls)
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("check_name"))
  }

  val q147Oracle: String =
    """SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
      | n_violations = 0 AS pass FROM (
      |  SELECT 'orders_pk_unique' AS check_name,
      |    count(*) - count(DISTINCT o_orderkey) AS n_violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_custkey_fk', count(*) FROM orders
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      |  UNION ALL
      |  SELECT 'lineitem_discount_range',
      |    CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
      |      THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_quantity_notnull',
      |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT)
      |  FROM lineitem)
      |ORDER BY check_name""".stripMargin

  // ---------------------------------------------------------------- q151
  /** Versioned snapshots + TIME TRAVEL — the lakehouse commit-log
    * discipline (`sources/VersionedTable`): v0 commits the pre-cutoff
    * orders, v1 APPENDS the post-cutoff delta (the manifest carries
    * v0's files forward — the commit costs the delta, not the table;
    * the manifest rename is the atomic publish point). The query then
    * reads BOTH versions AS OF their commit — after v1 landed — and
    * fingerprints each snapshot; the oracle reproduces the
    * fingerprints from the cutoff-filtered source table, so the hash
    * gate proves snapshot isolation: v0's read is byte-stable no
    * matter what landed after it. */
  val q151TimeTravel: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val o = t(spark, dir, "orders")
    val cut = ntz("1997-01-01 00:00:00")
    val base = Scratch(spark, "q151").path("data")
    val v0 = VersionedTable.commit(spark, o.filter(col("o_orderdate") < cut),
      base)
    val v1 = VersionedTable.commit(spark,
      o.filter(col("o_orderdate") >= cut), base, carryForward = true)
    def fp(df: DataFrame, v: Int): DataFrame = df.agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderkey")).cast("long").as("key_sum"),
      round(sum(col("o_totalprice")), 2).as("total"))
      .select(lit(v.toLong).as("version"), col("n_rows"), col("key_sum"),
        col("total"))
    fp(VersionedTable.read(spark, base, Some(v0)), v0)
      .unionByName(fp(VersionedTable.read(spark, base, Some(v1)), v1))
      .orderBy(col("version"))
  }

  val q151Oracle: String =
    """SELECT version, n_rows, key_sum, total FROM (
      |  SELECT CAST(0 AS BIGINT) AS version,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |    round(sum(o_totalprice), 2) AS total
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      |  UNION ALL
      |  SELECT 1, count(*), CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(o_totalprice), 2)
      |  FROM orders)
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q155
  /** CUSUM changepoint detection over the monthly revenue series — the
    * classic control-chart statistic for "when did the level shift":
    * cumulative sum of deviations from the series mean, peaking at the
    * point where the before/after means differ most. All integer: prices
    * land as floor-cents, and the deviation is cross-multiplied by the
    * month count (revenue·n − total) instead of subtracting a rounded
    * mean, so the running sum is exact and the argmax flag is
    * engine-agnostic. The monthly aggregate is the only data-sized
    * shuffle; the three window passes run over the ≤ #months rows that
    * survive it (a series that grows by one row per month is driver-tiny
    * at any data volume, so the single-partition window is free). */
  val q155Cusum: Q = (spark, dir) => {
    val m = t(spark, dir, "orders")
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("month"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("month"))
      .agg(sum(col("cents")).as("revenue_cents"))
    val wAll = Window.orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRun = Window.orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.withColumn("n_months", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("revenue_cents")).over(wAll))
      .withColumn("cusum",
        sum(col("revenue_cents") * col("n_months") - col("total")).over(wRun))
      .withColumn("peak", max(abs(col("cusum"))).over(wAll))
      .select(col("month"), col("revenue_cents"), col("cusum"),
        (abs(col("cusum")) === col("peak")).as("is_changepoint"))
      .orderBy(col("month"))
  }

  val q155Oracle: String =
    """WITH m AS (SELECT
      |    CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS month,
      |    CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |      AS revenue_cents
      |  FROM orders GROUP BY 1),
      |s AS (SELECT *, CAST(count(*) OVER () AS BIGINT) AS n_months,
      |    CAST(sum(revenue_cents) OVER () AS BIGINT) AS total FROM m),
      |c AS (SELECT month, revenue_cents,
      |    CAST(sum(revenue_cents*n_months - total) OVER (ORDER BY month
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cusum
      |  FROM s)
      |SELECT month, revenue_cents, cusum,
      | abs(cusum) = max(abs(cusum)) OVER () AS is_changepoint
      |FROM c ORDER BY month""".stripMargin

  // ---------------------------------------------------------------- q156
  /** Partition-skew planning report — the measurement that DECIDES the
    * q65 salting / AQE-skew-split treatment and the q94 hot-key probe:
    * per-join-key group sizes reduced to the top-10 heaviest keys, each
    * with its ×100 integer share of all rows, plus the corpus skew
    * statistic max·n_keys/total (max group over mean group, ×100 —
    * 100 = perfectly uniform). One key aggregate is the only data-sized
    * shuffle; the scalar stats reduce from the per-key table (never the
    * facts) and attach as a 1-row broadcast, and the top-10 plans as
    * TakeOrderedAndProject with a key tie-break so the report is
    * deterministic under ties. At 100 TB this costs what any groupBy
    * on the join key costs — the report a pipeline runs BEFORE picking
    * a join strategy. */
  val q156SkewReport: Q = (spark, dir) => {
    // Stage the per-key counts ONCE: the top-10 branch and the scalar
    // stats branch sit under structurally different final aggregates,
    // which defeats ReuseExchange — unstaged, each branch re-scans the
    // facts and re-shuffles the key space. The staged table is #keys
    // rows (compact vs a second fact scan at any volume) and is
    // released before returning, with the 10-row result checkpointed
    // first so downstream never needs the freed blocks (q101
    // discipline).
    val g = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("key"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val stats = g.agg(max(col("n")).as("max_n"),
      count(lit(1)).as("n_keys"), sum(col("n")).as("total"))
    val out = g.orderBy(col("n").desc, col("key")).limit(10)
      .crossJoin(broadcast(stats))
      .select(col("key"), col("n"),
        expr("(10000 * n) DIV total").as("pct_x100"),
        expr("(100 * max_n * n_keys) DIV total").as("skew_x100"))
      .orderBy(col("n").desc, col("key"))
      .localCheckpoint()
    Checkpoints.release(g)
    out
  }

  val q156Oracle: String =
    """WITH g AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1),
      |s AS (SELECT CAST(max(n) AS BIGINT) AS max_n,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(n) AS BIGINT) AS total FROM g)
      |SELECT key, n, (10000*n)//total AS pct_x100,
      | (100*max_n*n_keys)//total AS skew_x100
      |FROM g, s ORDER BY n DESC, key LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q158
  /** Land the q158 star as ANALYZEd catalog tables (row counts + column
    * NDV/min/max histograms-less stats) — the input the cost-based
    * optimizer needs; raw parquet paths carry only sizeInBytes, which
    * disables join reorder entirely. Re-landing is skipped when the
    * session has already staged this sfDir. */
  private def cboStarTables(spark: SparkSession, dir: String): Unit = {
    if (spark.conf.getOption("graft.cbo.star.dir").contains(dir)) return
    // external tables under a root derived from the input dir, as q62's
    // bucketed database: each table is written in overwrite mode, so a
    // later session's landing replaces a prior one's files
    val base =
      s"${System.getProperty("java.io.tmpdir")}/graft_cbo_${dirTag(dir)}"
    Seq("lineitem", "part", "supplier", "nation").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cbo_$t")
      Tables(spark, dir, t).write.mode("overwrite")
        .option("path", s"$base/$t")
        .saveAsTable(s"graft_cbo_$t")
      spark.sql(
        s"ANALYZE TABLE graft_cbo_$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    spark.conf.set("graft.cbo.star.dir", dir)
  }

  /** Cost-based join-order evidence — the one Catalyst tier (CBO) the
    * suite's AQE-plus-broadcast discipline never exercised. The query
    * is written in an ADVERSARIAL syntax order: the fact chains through
    * the wide dims (supplier, nation) first and meets the selective
    * brand-filtered part dim LAST. With cbo + joinReorder on and column
    * stats in the catalog, Catalyst's DP reorder moves the part join
    * innermost (filter-first: the fact shrinks ~20× before the wide
    * chain) — the leaf order of the optimized plan is spec-pinned
    * against both the syntax order and the cbo-off plan (CboSpec). At
    * 100 TB this is the difference between shuffling the full fact
    * through two dim joins and shuffling 5% of it. */
  val q158CboStar: Q = (spark, dir) => {
    cboStarTables(spark, dir)
    // CBO flags are scoped to this builder: save the prior values and
    // restore them in the finally (the drainToMemory providerClass
    // discipline) so a shared Bench/Verify session doesn't carry CBO on
    // into every later query's optimization. The reordered plan is
    // locked into the returned Dataset's QueryExecution (lazy vals
    // cache) by forcing executedPlan while the flags are still on.
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val l = spark.table("graft_cbo_lineitem")
      val s = spark.table("graft_cbo_supplier")
      val n = spark.table("graft_cbo_nation")
      val p = spark.table("graft_cbo_part")
      val df = l.join(s, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(p.filter(col("p_brand") === "Brand#4"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("total"))
        .orderBy(col("n_name"))
      df.queryExecution.executedPlan
      df
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  val q158Oracle: String =
    """SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
      | round(sum(l_extendedprice), 2) AS total
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      | JOIN nation ON s_nationkey = n_nationkey
      | JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#4'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Lakehouse COMPACTION lifecycle proven content-lossless: orders
    * lands as a deliberately fragmented 32-file snapshot (the
    * streaming-fed small-file pathology), `VersionedTable.compact`
    * rewrites it as a 4-file version, vacuum reclaims the superseded
    * fragments — and the emitted aggregate runs over the FINAL
    * compacted table while the oracle aggregates the RAW source, so
    * the hash gate proves commit → compact → vacuum loses and mutates
    * nothing. The file-count mechanics (32 → 4, fragments physically
    * deleted, old version retired loudly) are spec-pinned in OpsSpec;
    * the scale story is the read side: post-compaction scans schedule
    * `targetFiles` tasks instead of one per micro-commit. */
  val q162Compaction: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val base = Scratch(spark, "q162").path("data")
    val orders = Tables(spark, dir, "orders")
    VersionedTable.commit(spark, orders.repartition(32), base,
      carryForward = false)
    VersionedTable.compact(spark, base, targetFiles = 4)
    // single-writer session-local table: no concurrent commit to race,
    // so the just-written fragments reclaim immediately
    VersionedTable.vacuum(spark, base, keep = 1, graceMs = 0L)
    VersionedTable.read(spark, base)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  val q162Oracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q186
  /** q162's compaction lifecycle replayed through PLAIN SQL — the
    * Iceberg `CALL catalog.system.rewrite_data_files` shape on Spark
    * 4's native ProcedureCatalog: orders lands fragmented (32-file
    * INSERT), `CALL system.compact(table => 't', target_files => 4)`
    * rewrites it, `CALL system.vacuum(keep => 1, grace_ms => 0)`
    * reclaims the fragments — no facade API in sight, the analyzer
    * resolves and type-checks the procedure arguments. The CALL
    * results gate in-engine (`four_files`: compact returned exactly 4
    * data files; `reclaimed`: vacuum physically deleted fragments) and
    * the final aggregate reads the compacted table while the oracle
    * aggregates the raw source — SQL-only lifecycle, zero loss. */
  val q186LakeCallMaintenance: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q186")
    val cat = scratch.catalog
    val srcView = scratch.name("q186_src")
    t(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"))
      .repartition(32)
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.t " +
      s"AS SELECT * FROM $srcView")
    val c = spark.sql(
      s"CALL $cat.system.compact(table => 't', target_files => 4)")
      .collect()(0)
    val v = spark.sql(
      s"CALL $cat.system.vacuum(table => 't', keep => 1, grace_ms => 0L)")
      .collect()(0)
    spark.sql(s"SELECT * FROM $cat.t")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .withColumn("four_files", lit(c.getInt(1) == 4))
      .withColumn("reclaimed", lit(v.getInt(0) > 0))
      .orderBy(col("o_orderpriority"))
  }

  val q186Oracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | round(sum(o_totalprice), 2) AS total,
      | TRUE AS four_files, TRUE AS reclaimed
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q187
  /** NATIVE streaming sink into the lake catalog —
    * `writeStream.toTable("lake.t")` with no foreachBatch: the table's
    * V2 Write exposes `STREAMING_WRITE`
    * ([[graft.sources.GraftLakeStreamingWrite]]), each micro-batch
    * lands executor-written parquet and commits as ONE lake version
    * through the same atomic manifest rename as every batch write,
    * with the epoch id recorded in snapshot metadata so a replayed
    * epoch publishes nothing (exactly-once from at-least-once —
    * spec-pinned in GraftLakeStreamSpec). Here the events log replays
    * as 4 ingest files drained one per trigger, so the table's version
    * history IS the ingest audit (in-engine `four_epochs` gate pins
    * create + 4 epoch commits = v4), and the final aggregate over the
    * streamed table equals the oracle's over the raw log — streamed
    * arrival ≡ batch load. */
  val q187LakeStreamSink: Q = (spark, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    val scratch = Scratch(spark, "q187")
    val cat = scratch.catalog
    val ingest = scratch.path("ingest")
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .repartition(4)
      .write.parquet(ingest)
    spark.sql(s"CREATE TABLE $cat.sink (event_id BIGINT, " +
      "user_id BIGINT, event_type STRING, value DOUBLE)")
    val schema = spark.read.parquet(ingest).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(ingest)
      .writeStream
      .option("checkpointLocation", scratch.path("ckpt"))
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.sink")
    q.awaitTermination()
    val v = graft.sources.VersionedTable
      .latestVersion(spark, s"${scratch.catalogRoot}/sink")
    spark.sql(s"SELECT * FROM $cat.sink")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("value")), 2).as("sum_v"))
      .withColumn("four_epochs", lit(v.contains(4)))
      .orderBy(col("event_type"))
  }

  val q187Oracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      | round(sum(value), 2) AS sum_v,
      | TRUE AS four_epochs
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q188
  /** RESTORE + CLONE through SQL procedures — lifecycle governance
    * with zero data movement: orders lands as v1 (pre-1997 CTAS) then
    * v2 (an INSERT OVERWRITE that "corrupts" the table with the
    * post-1997 slice); `CALL system.clone('t','t2')` forks the
    * corrupted state for the post-mortem (the clone's v0 REFERENCES
    * v2's files — the in-engine `zero_copy` gate pins file-list
    * equality from the manifests, no bytes moved), and
    * `CALL system.restore(table => 't', version => 1)` rolls the table
    * back by publishing v1's file list as v3 — history preserved, the
    * bad v2 stays time-travelable. The emitted rows fingerprint BOTH
    * branches (restored table = pre slice, clone = post slice) against
    * the raw source. Delta's RESTORE/CLONE shape on the analyzer's own
    * CALL path. */
  val q188LakeRestoreClone: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val scratch = Scratch(spark, "q188")
    val cat = scratch.catalog
    val preView = scratch.name("q188_pre")
    val postView = scratch.name("q188_post")
    val root = scratch.catalogRoot
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val cut = ntz("1997-01-01 00:00:00")
    o.filter(col("o_orderdate") < cut)
      .createOrReplaceTempView(preView)
    o.filter(col("o_orderdate") >= cut)
      .createOrReplaceTempView(postView)
    spark.sql(
      s"CREATE TABLE $cat.t AS SELECT * FROM $preView")    // v0+v1
    spark.sql(
      s"INSERT OVERWRITE $cat.t SELECT * FROM $postView") // v2
    spark.sql(s"CALL $cat.system.clone(source => 't', target => 't2')")
    val r = spark.sql(
      s"CALL $cat.system.restore(table => 't', version => 1)")
      .collect()(0)
    val zeroCopy = VersionedTable.filesOf(spark, s"$root/t", 2).toSet ==
      VersionedTable.filesOf(spark, s"$root/t2", 0).toSet
    def branch(name: String, from: String) = spark.sql(
      s"""SELECT '$name' AS branch, count(*) AS n,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  round(sum(o_totalprice), 2) AS total FROM $from""".stripMargin)
    branch("clone_of_bad", s"$cat.t2")
      .unionAll(branch("restored", s"$cat.t"))
      .withColumn("zero_copy", lit(zeroCopy))
      .withColumn("rolled_back", lit(r.getInt(1) == 1 && r.getInt(0) == 3))
      .orderBy(col("branch"))
  }

  val q188Oracle: String =
    """SELECT * FROM (
      |  SELECT 'clone_of_bad' AS branch, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |    round(sum(o_totalprice), 2) AS total,
      |    TRUE AS zero_copy, TRUE AS rolled_back
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  UNION ALL
      |  SELECT 'restored', CAST(count(*) AS BIGINT),
      |    CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(o_totalprice), 2), TRUE, TRUE
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      |) ORDER BY branch""".stripMargin

  // ---------------------------------------------------------------- q189
  /** METADATA-ONLY aggregates from manifest statistics — the
    * Delta/Iceberg "answer count(*) from the transaction log" shape
    * ([[graft.sources.LakeStatsAggregate]]): lineitem lands in the
    * lake over two commits, then COUNT(*)/COUNT(col)/MIN/MAX collapse
    * to ONE driver-computed row read straight from the manifest's
    * per-file stats — no cluster job, no data-file open, and (the
    * in-engine gates) ZERO parquet footer reads during the aggregate
    * with the stats-served counter advancing. On a 100 TB / 10⁶-file
    * table this is the difference between a metadata lookup and a
    * full scan. The values themselves hash-gate against DuckDB
    * aggregating the raw source. */
  val q189LakeStatsAgg: Q = (spark, dir) => {
    import graft.sources.{LakeFileStats, LakeStatsAggregate}
    val scratch = Scratch(spark, "q189")
    val cat = scratch.catalog
    val evenView = scratch.name("q189_even")
    val oddView = scratch.name("q189_odd")
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    li.filter(col("l_orderkey") % 2 === 0)
      .createOrReplaceTempView(evenView)
    li.filter(col("l_orderkey") % 2 =!= 0)
      .createOrReplaceTempView(oddView)
    spark.sql(s"CREATE TABLE $cat.t AS SELECT * FROM $evenView")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM $oddView")
    val footersBefore = LakeFileStats.footerReads.get()
    val servedBefore = LakeStatsAggregate.served.get()
    val r = spark.sql(
      s"""SELECT count(*) AS n, count(l_returnflag) AS n_flag,
         |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
         |  min(l_returnflag) AS min_flag, max(l_returnflag) AS max_flag,
         |  max(l_linenumber) AS max_line
         |FROM $cat.t""".stripMargin).collect()(0)
    val statsAnswered =
      LakeStatsAggregate.served.get() > servedBefore &&
        LakeFileStats.footerReads.get() == footersBefore
    import spark.implicits._
    Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getString(4), r.getString(5), r.getInt(6), statsAnswered))
      .toDF("n", "n_flag", "min_key", "max_key", "min_flag",
        "max_flag", "max_line", "zero_io")
  }

  val q189Oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      | CAST(count(l_returnflag) AS BIGINT) AS n_flag,
      | min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
      | min(l_returnflag) AS min_flag, max(l_returnflag) AS max_flag,
      | max(l_linenumber) AS max_line, TRUE AS zero_io
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q190
  /** RUNTIME FILE PRUNING on a star join — Iceberg's
    * DPP-over-file-stats shape ([[graft.sources.LakeRuntimeFilterScan]]):
    * lineitem lands range-clustered by `l_suppkey`
    * (`graft.write.ordered-by`, so each data file owns a disjoint key
    * slice), supplier filters to one nation, and at EXECUTION time
    * Spark's dynamic-pruning subquery hands the surviving supplier
    * keys to the fact scan, which drops every file whose manifest
    * [min,max] misses them — before a single task launches. The
    * in-engine gate pins that the runtime filter fired AND pruned
    * (kept < total files); the revenue aggregate hash-gates against
    * DuckDB's plain join. At 100 TB this is the fact-table sliver
    * read every star schema wants. */
  val q190LakeRuntimePrune: Q = (spark, dir) => {
    import graft.sources.LakeRuntimeFilterScan
    val scratch = Scratch(spark, "q190")
    val cat = scratch.catalog
    val factView = scratch.name("q190_fact")
    val suppView = scratch.name("q190_supp")
    t(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(8)
      .createOrReplaceTempView(factView)
    spark.sql(s"CREATE TABLE $cat.fact (l_suppkey BIGINT, " +
      "l_extendedprice DOUBLE, l_discount DOUBLE) " +
      "TBLPROPERTIES('graft.write.ordered-by'='l_suppkey')")
    spark.sql(s"INSERT INTO $cat.fact SELECT * FROM $factView")
    t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
      .createOrReplaceTempView(suppView)
    LakeRuntimeFilterScan.lastPrune.set(-1L)
    val r = spark.sql(
      s"""SELECT count(*) AS n,
         |  coalesce(round(sum(f.l_extendedprice * (1 - f.l_discount)), 2),
         |    0.0D) AS revenue
         |FROM $cat.fact f
         |JOIN $suppView s ON f.l_suppkey = s.s_suppkey
         |WHERE s.s_nationkey = 5""".stripMargin).collect()(0)
    val packed = LakeRuntimeFilterScan.lastPrune.get()
    val prunedFiles = packed >= 0 &&
      (packed >> 32).toInt < (packed & 0xffffffffL).toInt
    import spark.implicits._
    Seq((r.getLong(0), r.getDouble(1), prunedFiles))
      .toDF("n", "revenue", "runtime_pruned")
  }

  val q190Oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      | coalesce(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2),
      |   0.0) AS revenue,
      | TRUE AS runtime_pruned
      |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |WHERE s.s_nationkey = 5""".stripMargin

  // ---------------------------------------------------------------- q191
  /** TAGS — named immutable snapshot refs with retention pinning
    * (Iceberg's tags, [[graft.sources.VersionedTable.createTag]]):
    * orders lands pre-1997 and is tagged 'baseline'; an INSERT
    * OVERWRITE replaces the table with the post-1997 slice; vacuum
    * with keep=1 then reclaims every untagged old version — but the
    * tagged snapshot stays fully serveable BY NAME
    * (`VERSION AS OF 'baseline'`), which is the "the snapshot we
    * trained on stays reproducible" governance contract. In-engine
    * gates: the `.refs` metadata table lists the pin, the untagged
    * v0 is really gone (loud failure), and both branches' aggregates
    * hash-gate against the raw source. */
  val q191LakeTags: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q191")
    val cat = scratch.catalog
    val preView = scratch.name("q191_pre")
    val postView = scratch.name("q191_post")
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val cut = ntz("1997-01-01 00:00:00")
    o.filter(col("o_orderdate") < cut)
      .createOrReplaceTempView(preView)
    o.filter(col("o_orderdate") >= cut)
      .createOrReplaceTempView(postView)
    spark.sql(s"CREATE TABLE $cat.t AS SELECT * FROM $preView")
    spark.sql(s"CALL $cat.system.create_tag(table => 't', " +
      "tag => 'baseline')")                                   // pins v1
    spark.sql(s"INSERT OVERWRITE $cat.t SELECT * FROM $postView")
    spark.sql(s"CALL $cat.system.vacuum(table => 't', keep => 1, " +
      "grace_ms => 0L)")
    val refs = spark.sql(s"SELECT * FROM $cat.t.refs").collect()
    val pinListed = refs.length == 1 &&
      refs(0).getString(0) == "baseline" && refs(0).getInt(1) == 1
    val untaggedGone =
      try { spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").collect()
        false } catch { case _: Exception => true }
    def branch(name: String, asOf: String) = spark.sql(
      s"""SELECT '$name' AS branch, count(*) AS n,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  round(sum(o_totalprice), 2) AS total
         |FROM $cat.t $asOf""".stripMargin)
    branch("latest", "")
      .unionAll(branch("tagged", "VERSION AS OF 'baseline'"))
      .withColumn("pin_listed", lit(pinListed))
      .withColumn("untagged_gone", lit(untaggedGone))
      .orderBy(col("branch"))
  }

  val q191Oracle: String =
    """SELECT * FROM (
      |  SELECT 'latest' AS branch, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |    round(sum(o_totalprice), 2) AS total,
      |    TRUE AS pin_listed, TRUE AS untagged_gone
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  UNION ALL
      |  SELECT 'tagged', CAST(count(*) AS BIGINT),
      |    CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(o_totalprice), 2), TRUE, TRUE
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      |) ORDER BY branch""".stripMargin

  // ---------------------------------------------------------------- q192
  /** OPERATION-TAGGED COMMIT HISTORY — Delta's `DESCRIBE HISTORY`
    * discipline: every publish path records its operation label into
    * the manifest it renames into place (`M graft.op=...`, atomic
    * with the commit; [[graft.sources.VersionedTable.OpMetaKey]]), and
    * the `versions` metadata table surfaces it, so a table's audit
    * trail — who-did-what per version — is one metadata query, no log
    * replay. The query runs a six-stage lifecycle (CTAS → COW DELETE →
    * UPDATE → CALL compact → INSERT OVERWRITE) and emits the history
    * rows; the oracle restates every version's operation AND live row
    * count from the raw source, so the hash gate proves both the
    * labels and the per-snapshot counts. */
  val q192LakeHistory: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q192")
    val cat = scratch.catalog
    val srcView = scratch.name("q192_src")
    val postView = scratch.name("q192_post")
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_totalprice"))
    o.createOrReplaceTempView(srcView)
    o.filter(col("o_orderdate") >= ntz("1997-01-01 00:00:00"))
      .createOrReplaceTempView(postView)
    spark.sql(s"CREATE TABLE $cat.t AS " +
      s"SELECT * FROM $srcView")                               // v0+v1
    spark.sql(s"DELETE FROM $cat.t WHERE o_orderstatus = 'P'") // v2
    spark.sql(s"UPDATE $cat.t SET o_totalprice = 0.0 " +
      "WHERE o_orderstatus = 'F'")                             // v3
    spark.sql(s"CALL $cat.system.compact(table => 't', " +
      "target_files => 2)")                                    // v4
    spark.sql(s"INSERT OVERWRITE $cat.t " +
      s"SELECT * FROM $postView")                              // v5
    spark.sql(
      s"""SELECT version, operation, total_rows
         |FROM $cat.t.versions ORDER BY version""".stripMargin)
  }

  val q192Oracle: String =
    """SELECT * FROM (
      |  SELECT 0 AS version, 'create' AS operation,
      |    CAST(count(*) FILTER (WHERE FALSE) AS BIGINT) AS total_rows
      |  FROM orders
      |  UNION ALL SELECT 1, 'append', count(*) FROM orders
      |  UNION ALL SELECT 2, 'delete', count(*) FROM orders
      |    WHERE o_orderstatus <> 'P'
      |  UNION ALL SELECT 3, 'update', count(*) FROM orders
      |    WHERE o_orderstatus <> 'P'
      |  UNION ALL SELECT 4, 'compact', count(*) FROM orders
      |    WHERE o_orderstatus <> 'P'
      |  UNION ALL SELECT 5, 'overwrite', count(*) FROM orders
      |    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |) ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q193
  /** RUNTIME GROUP FILTERING on a source-driven MERGE —
    * Iceberg's runtime group filter on row-level operations
    * ([[graft.sources.LakeGroupScan]]): lineitem lands range-clustered
    * by `l_orderkey`, and the MERGE's source holds keys from ONE
    * narrow slice. The merge condition references the source, so
    * static group pruning cannot narrow the rewrite at plan time —
    * Spark's RowLevelOperationRuntimeGroupFiltering computes, in an
    * execution-time subquery, the `_file` of every target row the
    * source matches and the scan drops every other file, so only the
    * files holding merge keys are rewritten and the rest carry
    * forward by reference. In-engine gates pin (a) the runtime
    * filter fired and narrowed (kept < total), and (b) files really
    * carried across the commit (before ∩ after non-empty); the
    * post-merge aggregate hash-gates against DuckDB restating the
    * update arithmetically. At 100 TB this is the difference between
    * rewriting a 3-file sliver and rewriting the table. */
  val q193LakeRgfMerge: Q = (spark, dir) => {
    import graft.sources.{LakeGroupScan, VersionedTable}
    val scratch = Scratch(spark, "q193")
    val cat = scratch.catalog
    val factView = scratch.name("q193_fact")
    val deltaView = scratch.name("q193_delta")
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .createOrReplaceTempView(factView)
    spark.sql(s"CREATE TABLE $cat.fact (l_orderkey BIGINT, " +
      "l_linenumber BIGINT, l_quantity DOUBLE) " +
      "TBLPROPERTIES('graft.write.ordered-by'='l_orderkey')")
    // tiny rows: AQE would coalesce the clustering range-shuffle into
    // 1-2 files and leave nothing to prune — pin the partition count
    // for the INSERT only, restore after
    val coalescePrior =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    val shufflePrior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try spark.sql(
      s"INSERT INTO $cat.fact SELECT * FROM $factView")
    finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        coalescePrior)
      spark.conf.set("spark.sql.shuffle.partitions", shufflePrior)
    }
    val tdir = s"${scratch.catalogRoot}/fact"
    val vBefore = VersionedTable.latestVersion(spark, tdir).get
    val before = VersionedTable.filesOf(spark, tdir, vBefore).toSet
    // merge keys from one narrow clustered slice; the condition
    // references the SOURCE, so only the runtime filter can narrow
    spark.sql(s"SELECT DISTINCT l_orderkey AS k FROM $factView " +
      "WHERE l_orderkey < 100")
      .createOrReplaceTempView(deltaView)
    LakeGroupScan.lastPrune.set(-1L)
    spark.sql(
      s"""MERGE INTO $cat.fact f USING $deltaView d
         |ON f.l_orderkey = d.k
         |WHEN MATCHED THEN UPDATE SET l_quantity = f.l_quantity + 100.0D
         |""".stripMargin)
    val packed = LakeGroupScan.lastPrune.get()
    val runtimeNarrowed = packed >= 0 &&
      (packed >> 32).toInt < (packed & 0xffffffffL).toInt
    val vAfter = VersionedTable.latestVersion(spark, tdir).get
    val after = VersionedTable.filesOf(spark, tdir, vAfter).toSet
    val carried = before.intersect(after).nonEmpty &&
      (before -- after).size < before.size
    val r = spark.sql(
      s"""SELECT count(*) AS n,
         |  round(sum(l_quantity), 2) AS total_qty,
         |  CAST(sum(CASE WHEN l_orderkey < 100 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS updated_rows
         |FROM $cat.fact""".stripMargin).collect()(0)
    import spark.implicits._
    Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
      runtimeNarrowed, carried))
      .toDF("n", "total_qty", "updated_rows", "runtime_narrowed",
        "carried_files")
  }

  val q193Oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      | round(sum(l_quantity +
      |   CASE WHEN l_orderkey < 100 THEN 100.0 ELSE 0.0 END), 2)
      |   AS total_qty,
      | CAST(sum(CASE WHEN l_orderkey < 100 THEN 1 ELSE 0 END)
      |   AS BIGINT) AS updated_rows,
      | TRUE AS runtime_narrowed, TRUE AS carried_files
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q194
  /** BRANCHES + WRITE-AUDIT-PUBLISH — Iceberg's branch refs and
    * `spark.wap.branch` ([[graft.sources.VersionedTable.createBranch]],
    * `spark.graft.wap.branch`): the table holds two thirds of orders;
    * the last third lands while the session's WAP branch is set, so
    * it stages on branch 'audit' — commits claim ordinary numbered
    * manifests carrying a branch label that default reads skip. The
    * audit happens by the SAME table name inside the WAP session
    * (gate: staged count == full), main stays untouched outside it
    * (gate: main count == partial while staged), the `.refs`
    * metadata table lists the branch, and `CALL system.fast_forward`
    * publishes the audited snapshot to main BY REFERENCE — one
    * manifest rename, zero data copied. The emitted aggregate reads
    * post-publish main and hash-gates against plain orders: the
    * write-audit-publish loop is content-exact. */
  val q194LakeWap: Q = (spark, dir) => {
    import graft.sources.GraftLakeTable
    val scratch = Scratch(spark, "q194")
    val cat = scratch.catalog
    val mainView = scratch.name("q194_main")
    val lateView = scratch.name("q194_late")
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    o.filter(col("o_orderkey") % 3 =!= 0)
      .createOrReplaceTempView(mainView)
    o.filter(col("o_orderkey") % 3 === 0)
      .createOrReplaceTempView(lateView)
    spark.sql(s"CREATE TABLE $cat.t AS SELECT * FROM $mainView")
    val mainN = spark.sql(s"SELECT count(*) FROM $cat.t")
      .collect()(0).getLong(0)
    val fullN = o.count()
    spark.conf.set(GraftLakeTable.WapBranchConf, "audit")
    val (stagedVisible, mainIsolated, refListed) =
      try {
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM $lateView")
        val inWap = spark.sql(s"SELECT count(*) FROM $cat.t")
          .collect()(0).getLong(0)
        spark.conf.unset(GraftLakeTable.WapBranchConf)
        val outside = spark.sql(s"SELECT count(*) FROM $cat.t")
          .collect()(0).getLong(0)
        val refs = spark.sql(
          s"SELECT name, kind FROM $cat.t.refs").collect()
        (inWap == fullN, outside == mainN,
          refs.length == 1 && refs(0).getString(0) == "audit" &&
            refs(0).getString(1) == "branch")
      } finally spark.conf.unset(GraftLakeTable.WapBranchConf)
    spark.sql(s"CALL $cat.system.fast_forward(table => 't', " +
      "branch => 'audit')")
    spark.sql(
      s"""SELECT count(*) AS n,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  round(sum(o_totalprice), 2) AS total
         |FROM $cat.t""".stripMargin)
      .withColumn("staged_visible_in_wap", lit(stagedVisible))
      .withColumn("main_isolated", lit(mainIsolated))
      .withColumn("ref_listed", lit(refListed))
  }

  val q194Oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      | round(sum(o_totalprice), 2) AS total,
      | TRUE AS staged_visible_in_wap, TRUE AS main_isolated,
      | TRUE AS ref_listed
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q195
  /** `.files` METADATA TABLE — Iceberg's `files`
    * ([[graft.sources.GraftLakeFilesTable]]): one row per HEAD-snapshot
    * file with on-disk bytes, manifest row count, and per-column
    * bounds, computed from the manifest with zero data IO — the
    * layout-audit surface. lineitem lands range-clustered by
    * `l_orderkey`; the query audits the layout FROM the metadata
    * table alone: manifest row counts sum to the exact table count
    * (hash-gated against DuckDB), every file has positive size and
    * stats coverage, and the per-file [min,max] key ranges are
    * pairwise DISJOINT — the clustered-layout contract q185 writes,
    * proven here by metadata query instead of a data scan. */
  val q195LakeFilesMeta: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q195")
    val cat = scratch.catalog
    val srcView = scratch.name("q195_src")
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.t (l_orderkey BIGINT, " +
      "l_quantity DOUBLE) " +
      "TBLPROPERTIES('graft.write.ordered-by'='l_orderkey')")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM $srcView")
    val files = spark.sql(s"SELECT * FROM $cat.t.files " +
      "WHERE content = 'data' AND row_count > 0").collect()
    val sumRows = files.map(_.getLong(3)).sum
    val sizesPositive = files.forall(_.getLong(2) > 0L)
    val statsPresent = files.forall(r => !r.isNullAt(4))
    // per-file l_orderkey ranges decoded from the manifest stats JSON
    val ranges = files.flatMap(r =>
      graft.sources.LakeFileStats.fromJson(r.getString(4))
        .flatMap(_.cols.get("l_orderkey"))
        .flatMap(c => for { mn <- c.min; mx <- c.max } yield
          (mn.asInstanceOf[Number].longValue(),
            mx.asInstanceOf[Number].longValue())))
    val disjoint = ranges.length == files.length &&
      ranges.sortBy(_._1).sliding(2).forall {
        case Array((_, hi), (lo, _)) => hi <= lo
        case _ => true
      }
    import spark.implicits._
    Seq((sumRows, sizesPositive, statsPresent, disjoint))
      .toDF("total_rows", "sizes_positive", "stats_present",
        "ranges_disjoint")
  }

  val q195Oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS total_rows,
      | TRUE AS sizes_positive, TRUE AS stats_present,
      | TRUE AS ranges_disjoint
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q196
  /** `_file` METADATA COLUMN — Iceberg's `_file`
    * ([[graft.sources.LakeFileColumnScan]], SupportsMetadataColumns):
    * per-row data-file lineage resolved only when referenced, with
    * split granularity and filter pushdown preserved (splits re-plan
    * one-per-partition and the reader appends the path as a
    * per-partition constant). The query groups the table BY `_file`
    * and cross-checks the result against the `.files` metadata table:
    * the observed path set equals the manifest's data files exactly,
    * and every per-file observed count equals that file's manifest
    * row count — scan-level lineage and manifest bookkeeping agree
    * row-for-row. Total hash-gates against DuckDB. */
  val q196FileLineage: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q196")
    val cat = scratch.catalog
    val srcView = scratch.name("q196_src")
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.t (l_orderkey BIGINT, " +
      "l_quantity DOUBLE) " +
      "TBLPROPERTIES('graft.write.ordered-by'='l_orderkey')")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM $srcView")
    val observed = spark.sql(
      s"SELECT _file, count(*) AS n FROM $cat.t GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val manifest = spark.sql(
      s"SELECT file_path, row_count FROM $cat.t.files " +
        "WHERE content = 'data' AND row_count > 0")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val pathsMatch = observed.keySet == manifest.keySet
    val countsMatch = observed.forall { case (p, n) =>
      manifest.get(p).contains(n) }
    import spark.implicits._
    Seq((observed.values.sum, pathsMatch, countsMatch))
      .toDF("total_rows", "paths_match_manifest", "counts_match")
  }

  val q196Oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS total_rows,
      | TRUE AS paths_match_manifest, TRUE AS counts_match
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q197
  /** STORAGE-PARTITIONED JOIN ([[graft.sources.LakePartitioning]] /
    * [[graft.sources.LakeKeyGroupedScan]]) — Iceberg's SPJ: orders
    * and customer land `PARTITIONED BY (bucket(8, custkey))` (every
    * data file claims ONE bucket in its path; the engine-agnostic
    * `bucket` function routes writes AND resolves the reported
    * transform through the catalog's FunctionCatalog), the scans
    * report `KeyGroupedPartitioning`, and the fact⋈dim join plans
    * with ZERO exchanges — co-partitioned layouts replace the
    * biggest shuffle a 100 TB star schema has. The in-engine gate
    * pins an exchange-free executed join plan (broadcast disabled so
    * the gate can't be satisfied by a broadcast join); the segment
    * revenue rollup hash-gates against DuckDB's plain join. */
  val q197LakeSpj: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q197")
    val cat = scratch.catalog
    val factView = scratch.name("q197_fact")
    val dimView = scratch.name("q197_dim")
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
      .createOrReplaceTempView(factView)
    t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .createOrReplaceTempView(dimView)
    spark.sql(s"CREATE TABLE $cat.fact (o_custkey BIGINT, " +
      "o_totalprice DOUBLE) PARTITIONED BY (bucket(8, o_custkey))")
    spark.sql(s"CREATE TABLE $cat.dim (c_custkey BIGINT, " +
      "c_mktsegment STRING) PARTITIONED BY (bucket(8, c_custkey))")
    spark.sql(s"INSERT INTO $cat.fact SELECT * FROM $factView")
    spark.sql(s"INSERT INTO $cat.dim SELECT * FROM $dimView")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // gate: the join itself is exchange-free (filtered slice keeps
      // the collect cheap; SPJ planning is data-independent)
      val gate = spark.sql(
        s"""SELECT f.o_custkey, d.c_mktsegment
           |FROM $cat.fact f JOIN $cat.dim d
           |ON f.o_custkey = d.c_custkey
           |WHERE f.o_custkey < 64""".stripMargin)
      gate.collect()
      val spjFree = !gate.queryExecution.executedPlan.toString
        .toLowerCase.contains("exchange")
      val agg = spark.sql(
        s"""SELECT d.c_mktsegment, count(*) AS n,
           |  round(sum(f.o_totalprice), 2) AS revenue
           |FROM $cat.fact f JOIN $cat.dim d
           |ON f.o_custkey = d.c_custkey
           |GROUP BY d.c_mktsegment""".stripMargin)
        .collect()
      import spark.implicits._
      agg.toSeq.map(r =>
          (r.getString(0), r.getLong(1), r.getDouble(2), spjFree))
        .toDF("c_mktsegment", "n", "revenue", "spj_zero_shuffle")
        .orderBy(col("c_mktsegment"))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  val q197Oracle: String =
    """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      | round(sum(o.o_totalprice), 2) AS revenue,
      | TRUE AS spj_zero_shuffle
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q208
  /** TYPE WIDENING as a METADATA-ONLY commit
    * ([[graft.sources.LakeTypeWidening]], Delta's type-widening
    * feature): customer balances land as INT cents / FLOAT scores,
    * `ALTER COLUMN ... TYPE BIGINT/DOUBLE` publishes one zero-IO
    * commit, the committed narrow files serve through the WIDE
    * logical type (the parquet readers' native int32→long /
    * float→double upcast — no rewrite, no cast node per file), an
    * append lands values beyond int range, and time travel below the
    * widen commit still serves the NARROW type (gate: pre-widen
    * schema is IntegerType). The post-widen rollup over BOTH file
    * generations hash-gates against DuckDB. At 100 TB an outgrown
    * key type is one manifest write, not a table rewrite. */
  val q208TypeWidening: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val scratch = Scratch(spark, "q208")
    val cat = scratch.catalog
    val srcView = scratch.name("q208_src")
    val root = scratch.catalogRoot
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("int").as("c_nationkey"),
        (col("c_acctbal") * 100).cast("int").as("cents"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.c (c_custkey BIGINT, " +
      "c_nationkey INT, cents INT)")
    spark.sql(s"INSERT INTO $cat.c SELECT * FROM $srcView")
    val dataFilesBefore =
      VersionedTable.filesOf(spark, s"$root/c", 1).toSet
    spark.sql(s"ALTER TABLE $cat.c ALTER COLUMN cents TYPE BIGINT")
    // zero-IO gate: the widen commit references the SAME data files
    val vW = VersionedTable.latestVersion(spark, s"$root/c").get
    val zeroIo = VersionedTable.snapshotOf(spark, s"$root/c", vW)
      .dataFiles.toSet == dataFilesBefore
    // append beyond int range — lands wide
    spark.sql(s"INSERT INTO $cat.c VALUES (900001, 0, 5000000000)")
    // time travel below the widen serves the narrow type
    val narrow = spark.sql(s"SELECT cents FROM $cat.c VERSION AS OF 1")
      .schema("cents").dataType ==
      org.apache.spark.sql.types.IntegerType
    val rows = spark.sql(
      s"""SELECT c_nationkey, count(*) AS n, sum(cents) AS total_cents
         |FROM $cat.c GROUP BY c_nationkey""".stripMargin).collect()
    import spark.implicits._
    rows.toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        zeroIo && narrow))
      .toDF("c_nationkey", "n", "total_cents", "widen_metadata_only")
      .orderBy(col("c_nationkey"))
  }

  val q208Oracle: String =
    """WITH base AS (
      |  -- trunc(): Spark's double->int cast truncates toward zero
      |  -- where DuckDB's rounds
      |  SELECT CAST(c_nationkey AS INT) AS c_nationkey,
      |    CAST(trunc(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer
      |  UNION ALL SELECT 0, 5000000000
      |)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS total_cents,
      |  TRUE AS widen_metadata_only
      |FROM base GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q198
  /** SCHEMA EVOLUTION — RENAME/DROP COLUMN via column mapping
    * ([[graft.sources.LakeColumnMapping]], Delta's columnMapping /
    * Iceberg's field-id discipline): orders lands as (k, price,
    * status); `RENAME COLUMN price TO amount` and `DROP COLUMN
    * status` are MANIFEST-ONLY commits (zero data IO — the same
    * files serve the new schema through logical↔physical name
    * translation at the scan boundary); time travel serves the
    * pre-rename names exactly; re-adding the dropped name reads NULL
    * over old files (fresh physical name — the resurrection trap);
    * appends after the rename land under the original physical name
    * so every file stays consistent. In-engine gates pin the
    * rename/drop commits carried the SAME files and time-travel
    * totals match; the final aggregate hash-gates against DuckDB
    * restating the lifecycle from the raw source. */
  val q198LakeRenameDrop: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val scratch = Scratch(spark, "q198")
    val cat = scratch.catalog
    val srcView = scratch.name("q198_src")
    val root = scratch.catalogRoot
    t(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, price DOUBLE, " +
      "status STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM $srcView") // v1
    val filesV1 = VersionedTable.filesOf(spark, s"$root/t", 1)
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN price TO amount") // v2
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN status")            // v3
    // manifest-only evolution: v3 serves the SAME data files as v1
    val sameFiles =
      VersionedTable.filesOf(spark, s"$root/t", 3) == filesV1
    // time travel: the pre-rename snapshot keeps its exact shape
    val v1 = spark.sql(
      s"SELECT count(*) AS n, round(sum(price), 2) AS total " +
        s"FROM $cat.t VERSION AS OF 1").collect()(0)
    // re-add the dropped name: old files MUST read NULL (fresh
    // physical name), the appended row carries a real value
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN status STRING")      // v4
    spark.sql(s"INSERT INTO $cat.t VALUES (0, 1.0, 'zz')")         // v5
    val fin = spark.sql(
      s"""SELECT count(*) AS n, round(sum(amount), 2) AS total,
         |  count(status) AS n_status
         |FROM $cat.t""".stripMargin).collect()(0)
    val ttMatch = v1.getLong(0) == fin.getLong(0) - 1
    import spark.implicits._
    Seq((fin.getLong(0), fin.getDouble(1), fin.getLong(2),
        sameFiles && ttMatch))
      .toDF("n", "total", "n_status", "evolution_exact")
  }

  val q198Oracle: String =
    """SELECT CAST(count(*) + 1 AS BIGINT) AS n,
      | round(sum(o_totalprice) + 1.0, 2) AS total,
      | CAST(1 AS BIGINT) AS n_status,
      | TRUE AS evolution_exact
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q199
  /** PARTITION-LAYOUT EXPLOITATION beyond the join — the two other
    * scale dividends of `PARTITIONED BY (bucket(n, k))`
    * ([[graft.sources.LakePartitioning]]) plus its observability
    * surface: (1) STATIC PARTITION PRUNING — a point lookup keeps
    * only the files claiming `bucket(k)`, exact by the routing
    * contract where min/max zone-maps cannot prune a hash layout at
    * all (gate: kept < total via
    * [[graft.sources.LakeReadScanBuilder.lastPartitionPrune]]);
    * (2) SHUFFLE-FREE AGGREGATION — `GROUP BY k` satisfies its
    * clustered distribution straight from the scan's
    * KeyGroupedPartitioning, zero exchanges (gate: executed plan);
    * (3) the `.partitions` metadata table reports per-value file/row
    * layout from manifest claims — zero data IO — and its row total
    * must equal the table count exactly. Aggregates hash-gate
    * against DuckDB. */
  val q199LakePartitionLayout: Q = (spark, dir) => {
    import graft.sources.LakeReadScanBuilder
    val scratch = Scratch(spark, "q199")
    val cat = scratch.catalog
    val srcView = scratch.name("q199_src")
    t(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_extendedprice"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.t (l_suppkey BIGINT, " +
      "l_extendedprice DOUBLE) PARTITIONED BY (bucket(8, l_suppkey))")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM $srcView")
    // (1) static prune: the lookup reads one bucket's files
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    val point = spark.sql(
      s"""SELECT count(*) AS n, coalesce(round(sum(l_extendedprice), 2),
         |  0.0D) AS s
         |FROM $cat.t WHERE l_suppkey = 5""".stripMargin).collect()(0)
    val packed = LakeReadScanBuilder.lastPartitionPrune.get()
    val pruneFired = packed >= 0 &&
      (packed >> 32).toInt < (packed & 0xffffffffL).toInt
    // (2) shuffle-free rollup over the partition key
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    val prior = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val (top, aggFree) =
      try {
        val agg = spark.sql(
          s"""SELECT l_suppkey, count(*) AS n,
             |  round(sum(l_extendedprice), 2) AS revenue
             |FROM $cat.t GROUP BY l_suppkey""".stripMargin)
        val rows = agg.collect()
        val free = !agg.queryExecution.executedPlan.toString
          .toLowerCase.contains("exchange")
        (rows.sortBy(r => (-r.getLong(1), r.getLong(0))).take(5), free)
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    // (3) .partitions integrity: per-value rows sum to the table count
    val parts = spark.sql(
      s"SELECT sum(row_count) AS r, count(*) AS nv FROM $cat.t.partitions")
      .collect()(0)
    val total = spark.sql(s"SELECT count(*) AS c FROM $cat.t")
      .collect()(0).getLong(0)
    val partsExact = parts.getLong(0) == total && parts.getLong(1) == 8L
    import spark.implicits._
    top.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        point.getLong(0), point.getDouble(1),
        pruneFired && aggFree && partsExact))
      .toDF("l_suppkey", "n", "revenue", "point_n", "point_sum",
        "layout_exploited")
      .orderBy(col("l_suppkey"))
  }

  val q199Oracle: String =
    """WITH agg AS (
      |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
      |    round(sum(l_extendedprice), 2) AS revenue
      |  FROM lineitem GROUP BY l_suppkey
      |  ORDER BY n DESC, l_suppkey LIMIT 5
      |), pt AS (
      |  SELECT CAST(count(*) AS BIGINT) AS point_n,
      |    coalesce(round(sum(l_extendedprice), 2), 0.0) AS point_sum
      |  FROM lineitem WHERE l_suppkey = 5
      |)
      |SELECT a.l_suppkey, a.n, a.revenue, pt.point_n, pt.point_sum,
      |  TRUE AS layout_exploited
      |FROM agg a CROSS JOIN pt ORDER BY a.l_suppkey""".stripMargin

  // ---------------------------------------------------------------- q207
  /** SORT-FREE CLUSTERED MERGE JOIN — the composition of the
    * zero-exchange SPJ (q197) with scan-reported SORT ORDER
    * (`SupportsReportOrdering`): both sides land
    * `PARTITIONED BY (bucket(8, l_orderkey))` AND
    * `ordered-by l_orderkey`, every routed commit writes one
    * key-sorted file per bucket, and the scan DECLARES that ordering
    * (sound exactly when each key group is single-file —
    * [[graft.sources.LakeKeyGroupedScan.outputOrdering]]), so the
    * merge join plans with ZERO exchanges and ZERO sort nodes — the
    * fact⋈fact join at 100 TB costs a streaming zip of pre-sorted
    * files. Gates ride the output row (exchange-free + sort-free,
    * both from the executed plan); the join aggregate hash-gates
    * against DuckDB. */
  val q207SortFreeJoin: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q207")
    val cat = scratch.catalog
    val revView = scratch.name("q207_rev")
    val qtyView = scratch.name("q207_qty")
    val li = t(spark, dir, "lineitem")
    li.groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"))
      .createOrReplaceTempView(revView)
    li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("double").as("qty"))
      .createOrReplaceTempView(qtyView)
    spark.sql(s"CREATE TABLE $cat.rev (l_orderkey BIGINT, " +
      "revenue DOUBLE) PARTITIONED BY (bucket(8, l_orderkey)) " +
      "TBLPROPERTIES('graft.write.ordered-by'='l_orderkey')")
    spark.sql(s"CREATE TABLE $cat.qty (l_orderkey BIGINT, " +
      "qty DOUBLE) PARTITIONED BY (bucket(8, l_orderkey)) " +
      "TBLPROPERTIES('graft.write.ordered-by'='l_orderkey')")
    spark.sql(s"INSERT INTO $cat.rev SELECT * FROM $revView")
    spark.sql(s"INSERT INTO $cat.qty SELECT * FROM $qtyView")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true")
    val prior = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.sql(
        s"""SELECT r.l_orderkey, r.revenue, q.qty
           |FROM $cat.rev r JOIN $cat.qty q
           |ON r.l_orderkey = q.l_orderkey
           |WHERE q.qty >= 100""".stripMargin)
      val rows = j.collect()
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val free = !plan.toLowerCase.contains("exchange") &&
        "(?i)\\bsort\\b".r.findAllIn(plan).isEmpty
      import spark.implicits._
      rows.toSeq
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), free))
        .toDF("l_orderkey", "revenue", "qty", "sort_free_spj")
        .orderBy(col("l_orderkey"))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  val q207Oracle: String =
    """WITH rev AS (
      |  SELECT l_orderkey, round(sum(l_extendedprice), 2) AS revenue
      |  FROM lineitem GROUP BY l_orderkey
      |), qty AS (
      |  SELECT l_orderkey, CAST(sum(l_quantity) AS DOUBLE) AS qty
      |  FROM lineitem GROUP BY l_orderkey
      |)
      |SELECT r.l_orderkey, r.revenue, q.qty, TRUE AS sort_free_spj
      |FROM rev r JOIN qty q ON r.l_orderkey = q.l_orderkey
      |WHERE q.qty >= 100
      |ORDER BY r.l_orderkey""".stripMargin

  // ---------------------------------------------------------------- q209
  /** MANIFEST BLOOM FILTERS for point-lookup pruning
    * ([[graft.sources.LakeFileStats.FileStats.blooms]] —
    * Iceberg-puffin / Delta-index shaped secondary stats): the orders
    * table lands UNCLUSTERED (every file spans ~the full key range,
    * so min/max zone maps cannot prune a point lookup at all) with
    * `graft.bloom.columns` declaring the key; each commit embeds one
    * 8 KiB [[graft.functions.BloomSketch]] bitset per file per column
    * in the manifest, and a pushed `=`/IN drops every file whose
    * bloom proves the key absent BEFORE tasks launch (gate: kept <
    * total via [[graft.sources.LakeReadScanBuilder.lastBloomPrune]]).
    * The lookups hash-gate against DuckDB; a provably-absent key must
    * return zero rows having opened (almost) nothing. At 100 TB this
    * is the GDPR / entity-lookup path on a table whose layout serves
    * some other query. */
  val q209BloomPointLookup: Q = (spark, dir) => {
    import graft.sources.LakeReadScanBuilder
    val scratch = Scratch(spark, "q209")
    val cat = scratch.catalog
    val srcView = scratch.name("q209_src")
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(8) // hash-distributed: min/max useless for lookups
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.ord (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_totalprice DOUBLE) " +
      "TBLPROPERTIES('graft.bloom.columns'='o_orderkey')")
    spark.sql(s"INSERT INTO $cat.ord SELECT * FROM $srcView")
    LakeReadScanBuilder.lastBloomPrune.set(-1L)
    val hit = spark.sql(s"SELECT o_custkey, o_totalprice " +
      s"FROM $cat.ord WHERE o_orderkey = 1189").collect()(0)
    val p1 = LakeReadScanBuilder.lastBloomPrune.get()
    val hitPruned = p1 >= 0 &&
      (p1 >> 32).toInt < (p1 & 0xffffffffL).toInt
    // provably-absent key: zero rows, files dropped by bitset alone
    LakeReadScanBuilder.lastBloomPrune.set(-1L)
    val missRows = spark.sql(
      s"SELECT count(*) AS c FROM $cat.ord WHERE o_orderkey = -42")
      .collect()(0).getLong(0)
    val p2 = LakeReadScanBuilder.lastBloomPrune.get()
    val missPruned = p2 >= 0 &&
      (p2 >> 32).toInt < (p2 & 0xffffffffL).toInt
    val in = spark.sql(
      s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
         |FROM $cat.ord
         |WHERE o_orderkey IN (1189, 4, 7, 999999999)""".stripMargin)
      .collect()(0)
    import spark.implicits._
    Seq((hit.getLong(0), hit.getDouble(1), missRows, in.getLong(0),
      in.getDouble(1), hitPruned && missPruned))
      .toDF("cust_1189", "price_1189", "miss_rows", "in_n", "in_total",
        "bloom_pruned")
  }

  val q209Oracle: String =
    """WITH hit AS (
      |  SELECT o_custkey AS cust_1189, o_totalprice AS price_1189
      |  FROM orders WHERE o_orderkey = 1189
      |), inq AS (
      |  SELECT CAST(count(*) AS BIGINT) AS in_n,
      |    round(sum(o_totalprice), 2) AS in_total
      |  FROM orders WHERE o_orderkey IN (1189, 4, 7, 999999999)
      |)
      |SELECT hit.cust_1189, hit.price_1189, CAST(0 AS BIGINT) AS miss_rows,
      |  inq.in_n, inq.in_total, TRUE AS bloom_pruned
      |FROM hit CROSS JOIN inq""".stripMargin

  // ---------------------------------------------------------------- q210
  /** ROW LINEAGE lifecycle ([[graft.sources.LakeRowLineage]] —
    * Iceberg v3 row lineage / Delta row tracking): customer lands in
    * ONE custkey-ordered file on a `graft.row.lineage` table, so
    * `_row_id` is deterministically `rank(c_custkey) - 1` (manifest
    * `firstRowId` + position — assignment is commit-time manifest
    * arithmetic, zero data IO). An UPDATE rewrites a slice (Spark's
    * metadata-ful ReplaceData carries `_row_id` through
    * `DataWriter.write(meta, row)` and NULLIFIES
    * `_last_updated_version` per the preserve-on-update contract),
    * then compaction rewrites EVERY file — and the in-engine gate
    * pins that no row id moved across either rewrite, while updated
    * rows stamp the update's commit version and copied rows keep
    * their birth stamp. The rollup over (id sums, update stamps)
    * hash-gates against DuckDB's row_number reconstruction. At
    * 100 TB this is what makes a change-feed consumer idempotent
    * across the upstream table's own maintenance. */
  val q210RowLineage: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val scratch = Scratch(spark, "q210")
    val cat = scratch.catalog
    val srcView = scratch.name("q210_src")
    val root = scratch.catalogRoot
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("int").as("c_nationkey"))
      .repartition(1).sortWithinPartitions("c_custkey")
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.c (c_custkey BIGINT, " +
      "c_nationkey INT) TBLPROPERTIES('graft.row.lineage'='true')")
    spark.sql(s"INSERT INTO $cat.c SELECT * FROM $srcView") // v1
    // O(1) gates (the q211 digest discipline — no row-proportional
    // driver collects): the (key, id) mapping is pinned by a
    // single-row (count, xxhash64-sum) digest before and after the
    // rewrites, and the stamp contract by one violation count.
    def digest(): (Long, java.math.BigDecimal) = {
      val r = spark.sql(s"SELECT count(*), " +
        s"sum(CAST(xxhash64(c_custkey, _row_id) AS DECIMAL(38,0))) " +
        s"FROM $cat.c").collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    val born = digest()
    spark.sql(s"UPDATE $cat.c SET c_nationkey = c_nationkey " +
      "WHERE c_custkey % 10 = 0")                                  // v2
    val filesBefore = VersionedTable.filesOf(spark, s"$root/c",
      VersionedTable.latestVersion(spark, s"$root/c").get).toSet
    spark.sql(s"CALL $cat.system.compact(table => 'c', " +
      "target_files => 2)")                                        // v3
    val after = digest()
    val filesAfter = VersionedTable.filesOf(spark, s"$root/c",
      VersionedTable.latestVersion(spark, s"$root/c").get).toSet
    // gates: every id survived update + compact; the compact really
    // rewrote the files; stamps follow the preservation contract
    // (every row born at v1, so non-updated rows must stamp 1)
    val idsStable = born == after
    val rewrote = filesAfter.intersect(filesBefore).isEmpty
    val stamps = spark.sql(
      s"""SELECT count(*) FROM $cat.c
         |WHERE NOT (CASE WHEN c_custkey % 10 = 0
         |  THEN _last_updated_version = 2
         |  ELSE _last_updated_version = 1 END)""".stripMargin)
      .collect()(0).getLong(0) == 0L
    spark.sql(
      s"""SELECT c_nationkey, count(*) AS n,
         |  sum(_row_id) AS sum_row_id,
         |  sum(CASE WHEN _last_updated_version = 2 THEN 1 ELSE 0 END)
         |    AS n_updated
         |FROM $cat.c GROUP BY c_nationkey""".stripMargin)
      .withColumn("lineage_stable",
        lit(idsStable && rewrote && stamps))
      .orderBy(col("c_nationkey"))
  }

  val q210Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey, CAST(c_nationkey AS INT) AS c_nationkey,
      |    row_number() OVER (ORDER BY c_custkey) - 1 AS rid
      |  FROM customer
      |)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(rid) AS BIGINT) AS sum_row_id,
      |  CAST(sum(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_updated,
      |  TRUE AS lineage_stable
      |FROM base GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q204
  /** PARTITION-SPEC EVOLUTION lifecycle (Iceberg's per-file spec
    * binding, [[graft.sources.LakePartitioning.HistoryProp]]): the
    * customer table starts `PARTITIONED BY (c_nationkey)` (identity),
    * half the rows commit, then `ALTER TABLE ... SET TBLPROPERTIES`
    * re-declares `bucket(8, c_custkey)` — ONE property write, zero
    * data moves — and the other half commits under the new layout.
    * Gates, all hash-verified through the oracle output: (1) a
    * nation lookup still prunes the GEN-0 files by their identity
    * claims; (2) a customer point lookup prunes the GEN-1 files by
    * their bucket claims (each generation prunes under ITS OWN spec;
    * the other generation's files are conservatively kept); (3) after
    * `compact` migrates every file to the current spec, `GROUP BY
    * c_custkey` runs with ZERO exchanges — the re-earned key-grouped
    * layout. At 100 TB this is the difference between fixing a
    * mis-chosen initial layout with a metadata commit + incremental
    * compaction vs rewriting the table before anything improves. */
  val q204LakeSpecEvolution: Q = (spark, dir) => {
    import graft.sources.{LakeReadScanBuilder, VersionedTable}
    val scratch = Scratch(spark, "q204")
    val cat = scratch.catalog
    val srcView = scratch.name("q204_src")
    val root = scratch.catalogRoot
    t(spark, dir, "customer")
      .select(col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_custkey"), col("c_acctbal"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.c (c_nationkey BIGINT, " +
      "c_custkey BIGINT, c_acctbal DOUBLE) " +
      "PARTITIONED BY (c_nationkey)")
    spark.sql(s"INSERT INTO $cat.c SELECT * FROM $srcView " +
      "WHERE c_custkey % 2 = 0")
    // the evolution: one property write, committed files untouched
    spark.sql(s"ALTER TABLE $cat.c SET TBLPROPERTIES(" +
      "'graft.partitioning'='bucket(8, c_custkey)')")
    spark.sql(s"INSERT INTO $cat.c SELECT * FROM $srcView " +
      "WHERE c_custkey % 2 = 1")
    // (1) gen-0 pruning: nation lookup drops other nations' gen-0 files
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    val nat = spark.sql(s"SELECT count(*) AS n, " +
      s"round(sum(c_acctbal), 2) AS bal FROM $cat.c " +
      "WHERE c_nationkey = 5").collect()(0)
    val p0 = LakeReadScanBuilder.lastPartitionPrune.get()
    val gen0Pruned = p0 >= 0 &&
      (p0 >> 32).toInt < (p0 & 0xffffffffL).toInt
    // (2) gen-1 pruning: customer point lookup drops other buckets
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    val pt = spark.sql(s"SELECT coalesce(round(sum(c_acctbal), 2), " +
      s"0.0D) AS b FROM $cat.c WHERE c_custkey = 42").collect()(0)
    val p1 = LakeReadScanBuilder.lastPartitionPrune.get()
    val gen1Pruned = p1 >= 0 &&
      (p1 >> 32).toInt < (p1 & 0xffffffffL).toInt
    // (3) compact migrates to the current spec; the per-customer
    // rollup then satisfies its distribution straight from the scan
    VersionedTable.compact(spark, s"$root/c", 8)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    val prior = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val (nCust, aggFree) =
      try {
        val agg = spark.sql(s"SELECT c_custkey, count(*) AS n " +
          s"FROM $cat.c GROUP BY c_custkey")
        val n = agg.collect().length.toLong
        val free = !agg.queryExecution.executedPlan.toString
          .toLowerCase.contains("exchange")
        (n, free)
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    // final state: per-nation rollup over BOTH generations' rows
    val rows = spark.sql(
      s"""SELECT c_nationkey, count(*) AS n,
         |  round(sum(c_acctbal), 2) AS bal FROM $cat.c
         |GROUP BY c_nationkey""".stripMargin).collect()
    import spark.implicits._
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        nat.getLong(0), nat.getDouble(1), pt.getDouble(0), nCust,
        gen0Pruned && gen1Pruned && aggFree))
      .toDF("c_nationkey", "n", "bal", "nat5_n", "nat5_bal",
        "cust421_bal", "n_cust", "evolution_exploited")
      .orderBy(col("c_nationkey"))
  }

  val q204Oracle: String =
    """WITH nat AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nat5_n,
      |    round(sum(c_acctbal), 2) AS nat5_bal
      |  FROM customer WHERE c_nationkey = 5
      |), pt AS (
      |  SELECT coalesce(round(sum(c_acctbal), 2), 0.0) AS cust421_bal
      |  FROM customer WHERE c_custkey = 42
      |), nc AS (
      |  SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_cust
      |  FROM customer
      |)
      |SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(sum(c_acctbal), 2) AS bal,
      |  nat.nat5_n, nat.nat5_bal, pt.cust421_bal, nc.n_cust,
      |  TRUE AS evolution_exploited
      |FROM customer CROSS JOIN nat CROSS JOIN pt CROSS JOIN nc
      |GROUP BY c_nationkey, nat.nat5_n, nat.nat5_bal, pt.cust421_bal,
      |  nc.n_cust
      |ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q164
  /** Zero-copy CLONE lifecycle: orders commits to table A, A
    * shallow-clones to B (a manifest referencing A's files — no data
    * copied, the millisecond fork a 100 TB experiment branch needs),
    * B appends a delta independently, and the emitted aggregate reads
    * B's latest snapshot — original + delta — while the oracle
    * restates it as orders ∪ filtered-orders over the raw source, so
    * the hash gate proves the borrowed references resolve exactly and
    * the fork diverged without touching A (A-isolation and the
    * zero-copy/vacuum-safety mechanics are spec-pinned in OpsSpec). */
  val q164ShallowClone: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val scratch = Scratch(spark, "q164")
    val srcT = scratch.path("a")
    val dstT = scratch.path("b")
    val orders = Tables(spark, dir, "orders")
    VersionedTable.commit(spark, orders, srcT, carryForward = false)
    VersionedTable.shallowClone(spark, srcT, dstT)
    val delta = orders.filter(col("o_orderdate") >= ntz("1997-06-01 00:00:00"))
    VersionedTable.commit(spark, delta, dstT, carryForward = true)
    VersionedTable.read(spark, dstT)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  val q164Oracle: String =
    """WITH u AS (SELECT o_orderpriority, o_totalprice FROM orders
      | UNION ALL
      | SELECT o_orderpriority, o_totalprice FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00')
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | round(sum(o_totalprice), 2) AS total
      |FROM u GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q165
  /** k-anonymity generalization ladder — the privacy audit a corpus
    * must pass before release, one rung past q86's PII scrub: rows
    * group by the quasi-identifier (nation, segment, acctbal-band);
    * groups of >= K publish at full precision (level 1); smaller
    * groups GENERALIZE — first the band drops (level 2: nation ×
    * segment), then the nation (level 3: segment); whatever still
    * can't reach K reports as the suppressed residual (level 4).
    * Every row lands on exactly one rung, so Σn across levels is the
    * table — no silent drops. Pure groupBy ladder: each escalation
    * re-aggregates only the REMAINDER (shrinks geometrically), and
    * the generalized tiers aggregate pre-counted group rows, not raw
    * rows. The level-1 aggregate is localCheckpointed (it is
    * |QI-groups|-sized, tiny) because FOUR union legs derive from it —
    * unstaged, Catalyst re-plans the raw customer scan per leg; staged,
    * the 100 TB scan happens exactly once and the ladder runs on group
    * rows (q101 stage-lifecycle discipline: released before return). */
  val q165KAnonymity: Q = (spark, dir) => {
    val K = 10
    val g1 = Tables(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("band"))
      .agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint()
    val ok1 = g1.filter(col("n") >= K)
      .select(lit(1L).as("lvl"), col("c_nationkey"),
        col("c_mktsegment"), col("band"), col("n"))
    val g2 = g1.filter(col("n") < K)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("n")).cast("long").as("n"))
    val ok2 = g2.filter(col("n") >= K)
      .select(lit(2L).as("lvl"), col("c_nationkey"),
        col("c_mktsegment"), lit(-1L).as("band"), col("n"))
    val g3 = g2.filter(col("n") < K)
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("n")).cast("long").as("n"))
    val ok3 = g3.filter(col("n") >= K)
      .select(lit(3L).as("lvl"), lit(-1L).as("c_nationkey"),
        col("c_mktsegment"), lit(-1L).as("band"), col("n"))
    val dropped = g3.filter(col("n") < K)
      .select(lit(4L).as("lvl"), lit(-1L).as("c_nationkey"),
        col("c_mktsegment"), lit(-1L).as("band"), col("n"))
    val out = ok1.unionByName(ok2).unionByName(ok3).unionByName(dropped)
      .localCheckpoint()
    Checkpoints.release(g1)
    out.orderBy(col("lvl"), col("c_nationkey"), col("c_mktsegment"),
      col("band"))
  }

  val q165Oracle: String =
    """WITH c AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal/1000) AS BIGINT) AS band FROM customer),
      |g1 AS (SELECT c_nationkey, c_mktsegment, band,
      |    CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2, 3),
      |e1 AS (SELECT * FROM g1 WHERE n < 10),
      |g2 AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(sum(n) AS BIGINT) AS n FROM e1 GROUP BY 1, 2),
      |e2 AS (SELECT * FROM g2 WHERE n < 10),
      |g3 AS (SELECT c_mktsegment, CAST(sum(n) AS BIGINT) AS n
      |  FROM e2 GROUP BY 1)
      |SELECT * FROM (
      | SELECT CAST(1 AS BIGINT) AS lvl, c_nationkey, c_mktsegment,
      |   band, n FROM g1 WHERE n >= 10
      | UNION ALL
      | SELECT 2, c_nationkey, c_mktsegment, CAST(-1 AS BIGINT), n
      | FROM g2 WHERE n >= 10
      | UNION ALL
      | SELECT 3, CAST(-1 AS BIGINT), c_mktsegment, CAST(-1 AS BIGINT),
      |   n FROM g3 WHERE n >= 10
      | UNION ALL
      | SELECT 4, CAST(-1 AS BIGINT), c_mktsegment, CAST(-1 AS BIGINT),
      |   n FROM g3 WHERE n < 10)
      |ORDER BY lvl, c_nationkey, c_mktsegment, band""".stripMargin

  // ---------------------------------------------------------------- q166
  /** Row-level CHANGE FEED between snapshots — what an incremental
    * downstream consumer replays instead of re-reading the table:
    * orders lands as two overlapping snapshots (v0 = pre-1997,
    * v1 = 1996-onward, a replace commit), and the feed anti-joins the
    * two on the snapshot key: rows only in v1 are INSERTs, rows only
    * in v0 are DELETEs, the 1996 overlap appears in neither. Emitted
    * as per-(op, priority) rollups; the oracle restates both legs
    * straight off the raw source filters. Scale shape: two
    * key-partitioned anti-joins over the two snapshots — never a full
    * recompute of the consumer's state. */
  val q166ChangeFeed: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val base = Scratch(spark, "q166").path("data")
    val orders = Tables(spark, dir, "orders")
    val cut0 = ntz("1997-01-01 00:00:00")
    val cut1 = ntz("1996-01-01 00:00:00")
    VersionedTable.commit(spark,
      orders.filter(col("o_orderdate") < cut0), base, carryForward = false)
    VersionedTable.commit(spark,
      orders.filter(col("o_orderdate") >= cut1), base, carryForward = false)
    val v0 = VersionedTable.read(spark, base, Some(0))
    val v1 = VersionedTable.read(spark, base, Some(1))
    def leg(df: DataFrame, op: String): DataFrame = df
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .select(lit(op).as("op"), col("o_orderpriority"), col("n"),
        col("total"))
    leg(v1.join(v0, Seq("o_orderkey"), "left_anti"), "insert")
      .unionByName(leg(v0.join(v1, Seq("o_orderkey"), "left_anti"),
        "delete"))
      .orderBy(col("op"), col("o_orderpriority"))
  }

  val q166Oracle: String =
    """SELECT * FROM (
      | SELECT 'insert' AS op, o_orderpriority,
      |   CAST(count(*) AS BIGINT) AS n,
      |   round(sum(o_totalprice), 2) AS total
      | FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      | GROUP BY o_orderpriority
      | UNION ALL
      | SELECT 'delete', o_orderpriority, CAST(count(*) AS BIGINT),
      |   round(sum(o_totalprice), 2)
      | FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      | GROUP BY o_orderpriority)
      |ORDER BY op, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q184
  /** STREAMING change feed drained and FOLDED back into table state —
    * the composition the batch change feed (q166) and the lake stream
    * (q182) left open: orders lands as two overlapping REPLACE
    * snapshots (v0 = pre-1997, v1 = 1996-onward) plus a merge-on-read
    * DELETE of the urgent tier (v2 — masks only, zero rewrite), and
    * [[graft.sources.VersionedTable.changeFeedStream]] replays the
    * whole history as op-tagged row deltas: v1's rewrite emits v0's
    * rows as `delete` and v1's as `insert` (same commit version —
    * the re-assertion), v2 emits the masked rows' CONTENT as `delete`
    * read from the parent files at the recorded positions. The
    * consumer-side fold (per key, keep the max-version ops; an
    * `insert` there means live) reconstructs the final snapshot
    * exactly, which the oracle restates straight off the raw source —
    * proving stream-replay ≡ state, the CDC consumer contract. Scale:
    * planning is manifest-diff sized per version, delete content is
    * read via per-file position slices (never a join), and the fold
    * is one key-partitioned window — the consumer never re-reads the
    * table. */
  val q184LakeChangeStream: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    import graft.streaming.StreamOps
    val scratch = Scratch(spark, "q184")
    val base = scratch.path("changes")
    val orders = t(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderdate"),
      col("o_orderpriority"), col("o_totalprice"))
    val cut0 = ntz("1997-01-01 00:00:00")
    val cut1 = ntz("1996-01-01 00:00:00")
    VersionedTable.commit(spark,
      orders.filter(col("o_orderdate") < cut0), base,
      carryForward = false)                                          // v0
    VersionedTable.commit(spark,
      orders.filter(col("o_orderdate") >= cut1), base,
      carryForward = false)                                          // v1
    VersionedTable.deleteWhereMergeOnRead(spark, base,
      col("o_orderpriority") === "1-URGENT")                         // v2
    val feed = StreamOps.runToMemory(spark,
      VersionedTable.changeFeedStream(spark, base,
        maxVersionsPerTrigger = 8),
      scratch.name("q184_mem"), "append")
    val w = Window.partitionBy(col("o_orderkey"))
    val live = feed
      .withColumn("maxv", max(col("_commit_version")).over(w))
      .filter(col("_commit_version") === col("maxv") &&
        col("_change_type") === "insert")
    live.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  val q184Oracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | round(sum(o_totalprice), 2) AS total
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderpriority <> '1-URGENT'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q206
  /** CHANGE-FEED UPDATE PRE/POST IMAGES (Delta CDF's
    * `update_preimage`/`update_postimage`): with a declared CDC key
    * (`graft.cdc.key` table property), a version whose delta both
    * removes and adds rows re-tags the keys present on BOTH sides as
    * an update pair — the delete leg is the preimage, the insert leg
    * the postimage — so a downstream incremental aggregate
    * SUBTRACTS-THEN-ADDS instead of reprocessing the partition.
    * Orders lands identity-partitioned by priority, an UPDATE bumps
    * the URGENT tier (the group-filtered COW rewrites exactly that
    * partition), and the drained feed's update-version rollup
    * hash-gates against DuckDB: preimage totals are the original
    * urgent rows, postimage totals the bumped ones, counts equal —
    * and the subtract-then-add fold over the whole feed must equal
    * the final table total (gate). Pairing is delta-scoped at plan
    * time (two key-column scans of the version's files), never
    * table-sized. */
  val q206CdfUpdateImages: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    import graft.streaming.StreamOps
    val scratch = Scratch(spark, "q206")
    val cat = scratch.catalog
    val srcView = scratch.name("q206_src")
    val root = scratch.catalogRoot
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.ord (o_orderkey BIGINT, " +
      "o_orderpriority STRING, o_totalprice DOUBLE) " +
      "PARTITIONED BY (o_orderpriority) " +
      "TBLPROPERTIES('graft.cdc.key'='o_orderkey')")
    spark.sql(s"INSERT INTO $cat.ord SELECT * FROM $srcView")
    spark.sql(s"UPDATE $cat.ord SET o_totalprice = o_totalprice + 100.0 " +
      "WHERE o_orderpriority = '1-URGENT'")
    val updV = VersionedTable.latestVersion(spark, s"$root/ord").get
    val feed = StreamOps.runToMemory(spark,
      VersionedTable.changeFeedStream(spark, s"$root/ord"),
      scratch.name("q206_mem"), "append")
    // subtract-then-add over the whole feed ≡ final table total
    val folded = feed.agg(round(sum(
      when(col("_change_type").isin("insert", "update_postimage"),
        col("o_totalprice"))
        .otherwise(-col("o_totalprice"))), 2)).collect()(0).getDouble(0)
    val actual = spark.sql(
      s"SELECT round(sum(o_totalprice), 2) FROM $cat.ord")
      .collect()(0).getDouble(0)
    val foldExact = folded == actual
    val rows = feed.filter(col("_commit_version") === updV)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .collect()
    import spark.implicits._
    rows.toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), foldExact))
      .toDF("op", "n", "total", "fold_exact")
      .orderBy(col("op"))
  }

  val q206Oracle: String =
    """SELECT op, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(price), 2) AS total, TRUE AS fold_exact
      |FROM (
      |  SELECT 'update_preimage' AS op, o_totalprice AS price
      |  FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT 'update_postimage', o_totalprice + 100.0
      |  FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY op ORDER BY op""".stripMargin

  // ---------------------------------------------------------------- q211
  /** BATCH INCREMENTAL READ — Delta's `table_changes(from, to)`
    * ([[graft.sources.VersionedTable.tableChanges]]): the change feed
    * q206 drains as a STREAM, re-served as one batch DataFrame —
    * the surface a downstream backfill actually hits first
    * (`table_changes(checkpointed, head)` instead of a full re-read).
    * Same lifecycle as q206 (orders + cdc key, UPDATE bumps the
    * urgent tier) plus a merge-on-read DELETE of the high tier (mask
    * only, zero rewrite — the batch feed reads the deleted CONTENT
    * from the parent files), and the in-engine gate pins the batch
    * feed ROW-EQUAL (exceptAll both ways) to the drained stream over
    * the same commits. The full-feed rollup hash-gates against
    * DuckDB. Scale shape: pure DataFrame composition — per-version
    * masks broadcast, nothing row-proportional on the driver (the
    * stream collects masks per trigger; the batch feed doesn't). */
  val q211TableChanges: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    import graft.streaming.StreamOps
    val scratch = Scratch(spark, "q211")
    val cat = scratch.catalog
    val srcView = scratch.name("q211_src")
    val root = scratch.catalogRoot
    // a 10% key sample: the feed's SEMANTICS are what the key gates
    // (insert/delete/update legs, stream equality); the lifecycle
    // cost would otherwise dominate the bench suite at full SF
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.ord (o_orderkey BIGINT, " +
      "o_orderpriority STRING, o_totalprice DOUBLE) " +
      "PARTITIONED BY (o_orderpriority) " +
      "TBLPROPERTIES('graft.cdc.key'='o_orderkey')")
    spark.sql(s"INSERT INTO $cat.ord SELECT * FROM $srcView")
    spark.sql(s"UPDATE $cat.ord SET o_totalprice = o_totalprice + 100.0 " +
      "WHERE o_orderpriority = '1-URGENT'")
    VersionedTable.deleteWhereMergeOnRead(spark, s"$root/ord",
      col("o_orderpriority") === lit("2-HIGH"))
    // Two consumers per run (digest gate + final rollup), each replaying
    // the per-version feed plan — stage once, release on exit (the
    // q216/q173 discipline).
    val batch = VersionedTable.tableChanges(spark, s"$root/ord", 0)
      .localCheckpoint()
    // gate: batch ≡ stream as MULTISETS over the same commits — one
    // pass per side (count + order-insensitive row-hash sum), not the
    // four full executions a two-way exceptAll would cost
    val streamed = StreamOps.runToMemory(spark,
      VersionedTable.changeFeedStream(spark, s"$root/ord",
        maxVersionsPerTrigger = 16),
      scratch.name("q211_mem"), "append")
      .select(batch.columns.map(col): _*)
    def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*)
          .cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    val (sn, sh) = digest(streamed)
    // ONE pass over the staged feed for BOTH consumers (the digest gate
    // and the final rollup — previously two separate traversals): the
    // per-change-type rollup carries the digest terms, and the batch
    // side's global digest is their sum over the change-type-count-sized
    // checkpointed frame (counts and hash-sums are associative).
    val grouped = batch
      .groupBy(col("_change_type").as("op"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        sum(xxhash64(batch.columns.map(col): _*)
          .cast("decimal(38,0)")).as("__h"))
      .localCheckpoint() // change-type-count-sized; frees the feed blocks
    val g = grouped.agg(sum(col("n")), sum(col("__h"))).collect()(0)
    val bn = if (g.isNullAt(0)) 0L else g.getLong(0)
    val bh = if (g.isNullAt(1)) java.math.BigDecimal.ZERO else g.getDecimal(1)
    val feedsEqual = bn == sn && bh.compareTo(sh) == 0
    val rolled = grouped
      .select(col("op"), col("n"), col("total"))
      .withColumn("feeds_equal", lit(feedsEqual))
    graft.ops.Checkpoints.release(batch)
    rolled.orderBy(col("op"))
  }

  val q211Oracle: String =
    """WITH src AS (
      |  SELECT * FROM orders WHERE o_orderkey % 10 = 0
      |)
      |SELECT op, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(price), 2) AS total, TRUE AS feeds_equal
      |FROM (
      |  SELECT 'insert' AS op, o_totalprice AS price FROM src
      |  UNION ALL
      |  SELECT 'update_preimage', o_totalprice
      |  FROM src WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT 'update_postimage', o_totalprice + 100.0
      |  FROM src WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT 'delete', o_totalprice
      |  FROM src WHERE o_orderpriority = '2-HIGH')
      |GROUP BY op ORDER BY op""".stripMargin

  // ---------------------------------------------------------------- q212
  /** DEFAULT COLUMN VALUES as metadata-only schema evolution
    * ([[graft.sources.LakeDefaults]] — Iceberg v3 initial/write
    * defaults, the third zero-IO evolution next to rename/drop q198
    * and widening q208): customer lands, `ALTER TABLE ADD COLUMN
    * segment STRING DEFAULT 'standard'` publishes ONE property-only
    * commit (gate: identical data files), every committed row
    * backfills 'standard' through the readers' existence-default
    * machinery, an INSERT omitting the column writes the default
    * (analyzer CURRENT_DEFAULT), explicit values and explicit NULL
    * stick, and time travel below the add serves absence (gate).
    * The segment rollup hash-gates against DuckDB. At 100 TB: adding
    * a backfilled column is one manifest write, not a table
    * rewrite. */
  val q212DefaultValues: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val scratch = Scratch(spark, "q212")
    val cat = scratch.catalog
    val srcView = scratch.name("q212_src")
    val root = scratch.catalogRoot
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("int").as("c_nationkey"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.c (c_custkey BIGINT, " +
      "c_nationkey INT)")
    spark.sql(s"INSERT INTO $cat.c SELECT * FROM $srcView") // v1
    val filesBefore = VersionedTable.filesOf(spark, s"$root/c", 1).toSet
    spark.sql(s"ALTER TABLE $cat.c ADD COLUMN segment STRING " +
      "DEFAULT 'standard'")                                        // v2
    val v2 = VersionedTable.latestVersion(spark, s"$root/c").get
    val zeroIo = VersionedTable
      .snapshotOf(spark, s"$root/c", v2).dataFiles.toSet == filesBefore
    // write-default, explicit value, explicit NULL
    spark.sql(s"INSERT INTO $cat.c (c_custkey, c_nationkey) " +
      "VALUES (900003, 2)")
    spark.sql(s"INSERT INTO $cat.c VALUES (900001, 0, 'gold'), " +
      "(900002, 1, NULL)")
    // time travel below the add serves ABSENCE
    val preAdd = !spark.sql(s"SELECT * FROM $cat.c VERSION AS OF 1")
      .columns.map(_.toLowerCase).contains("segment")
    spark.sql(
      s"""SELECT coalesce(segment, 'absent') AS segment,
         |  count(*) AS n, sum(c_custkey) AS sum_k
         |FROM $cat.c GROUP BY 1""".stripMargin)
      .withColumn("default_metadata_only", lit(zeroIo && preAdd))
      .orderBy(col("segment"))
  }

  val q212Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey, 'standard' AS segment FROM customer
      |  UNION ALL SELECT 900003, 'standard'
      |  UNION ALL SELECT 900001, 'gold'
      |  UNION ALL SELECT 900002, NULL
      |)
      |SELECT coalesce(segment, 'absent') AS segment,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(c_custkey) AS BIGINT) AS sum_k,
      |  TRUE AS default_metadata_only
      |FROM base GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q213
  /** SHREDDED JSON storage ([[graft.sources.LakeJsonShred]] — the
    * parse-once variant-shredding shape): events lands on a table
    * declaring `graft.json.shred'='props:$.k'`, so ingest
    * materializes the path into a hidden column and the q24-style
    * aggregate's `get_json_object(props, '$.k')` REWRITES to a plain
    * columnar read — the in-engine gate pins that the executed plan's
    * ReadSchema contains the shredded column and NOT the raw string,
    * and a second gate recomputes the same aggregate through the raw
    * parse path and requires identical results. Hash-gated against
    * DuckDB's json_extract_string. At 100 TB: declared paths cost one
    * parse at ingest instead of one parse per row per query, and the
    * raw JSON column (usually the table's widest) prunes out of the
    * scan entirely. */
  val q213JsonShred: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q213")
    val cat = scratch.catalog
    val srcView = scratch.name("q213_src")
    graft.Tables(spark, dir, "events")
      .select(col("event_type"), col("props"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.e (event_type STRING, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.k')")
    spark.sql(s"INSERT INTO $cat.e SELECT * FROM $srcView")
    def agg(src: String): DataFrame = spark.sql(
      s"""SELECT event_type,
         |  sum(CAST(get_json_object(props, '$$.k') AS BIGINT)) AS k_sum,
         |  max(CAST(get_json_object(props, '$$.k') AS BIGINT)) AS k_max,
         |  count(*) AS n
         |FROM $src GROUP BY event_type""".stripMargin)
    val shredded = agg(s"$cat.e")
    // gate 1: the shredded plan reads the materialized column, never
    // the raw JSON string
    val rs = shredded.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).mkString("|")
    val planShredded = rs.contains("__shred_k") && !rs.contains("props")
    // gate 2: the raw parse path answers identically
    val raw = agg(srcView)
    val sameAnswers = shredded.exceptAll(raw).isEmpty &&
      raw.exceptAll(shredded).isEmpty
    shredded
      .withColumn("shred_plan_only", lit(planShredded && sameAnswers))
      .orderBy(col("event_type"))
  }

  val q213Oracle: String =
    """SELECT event_type,
      | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |   AS BIGINT) AS k_sum,
      | CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |   AS BIGINT) AS k_max,
      | count(*) AS n, TRUE AS shred_plan_only
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q214
  /** MANIFEST NDV SKETCHES → CBO column statistics
    * ([[graft.sources.VersionedTable.mergedNdv]],
    * [[graft.sources.LakeNdvStats]] — Iceberg-puffin-shaped secondary
    * stats feeding Spark's cost model): orders lands on a lake table
    * declaring `graft.ndv.columns'='o_orderpriority'`, each commit
    * embeds a per-file theta sketch in the manifest, and at plan time
    * the union reports distinctCount(o_orderpriority)=5 through
    * `SupportsReportStatistics.columnStats` — so a star-shaped join
    * against `SELECT DISTINCT o_orderpriority` estimates 5 rows and
    * FLIPS TO BROADCAST where the stats-less control table (same
    * data, no declaration) stays on the shuffle join under the same
    * confs (the in-engine plan-fact gate checks both). The rollup
    * hash-gates against DuckDB. At 100 TB the CBO otherwise sees lake
    * tables only through row counts — join order and build-side
    * choices on low-cardinality dimensions fly blind. */
  val q214NdvBroadcast: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q214")
    val cat = scratch.catalog
    val srcView = scratch.name("q214_src")
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.dim (o_orderkey BIGINT, " +
      "o_orderpriority STRING, o_totalprice DOUBLE) " +
      "TBLPROPERTIES('graft.ndv.columns'='o_orderpriority')")
    spark.sql(s"CREATE TABLE $cat.ctl (o_orderkey BIGINT, " +
      "o_orderpriority STRING, o_totalprice DOUBLE)")
    spark.sql(s"INSERT INTO $cat.dim SELECT * FROM $srcView")
    spark.sql(s"INSERT INTO $cat.ctl SELECT * FROM $srcView")
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      def q(tab: String): DataFrame = spark.sql(
        s"""SELECT d.o_orderpriority,
           |  count(*) AS n, round(sum(f.o_totalprice), 2) AS total
           |FROM $srcView f
           |JOIN (SELECT DISTINCT o_orderpriority FROM $cat.$tab) d
           |  ON f.o_orderpriority = d.o_orderpriority
           |GROUP BY d.o_orderpriority""".stripMargin)
      val flipped = q("dim").queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin")
      val control = !q("ctl").queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin")
      q("dim")
        .withColumn("ndv_flipped_broadcast", lit(flipped && control))
        .orderBy(col("o_orderpriority"))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  val q214Oracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(o_totalprice), 2) AS total,
      |  TRUE AS ndv_flipped_broadcast
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q215
  /** TYPED shredded JSON ([[graft.sources.LakeJsonShred]] typed
    * declarations — the Iceberg/Spark variant-shredding type tier):
    * events lands on a table declaring `graft.json.shred'='props:$.k
    * BIGINT'`, so ingest materializes `CAST(get_json_object(props,
    * '$$.k') AS BIGINT)` into a NUMERIC hidden column. Two effects,
    * both plan-fact gated in-engine: (1) `CAST(get_json_object(...)
    * AS BIGINT)` rewrites to a plain columnar read of the typed
    * column with the raw JSON pruned out of the scan; (2) a numeric
    * range predicate over the path prunes FILES on the manifest's
    * SEMANTIC min/max (the low-range commit never launches tasks) —
    * string shredding would compare lexically, where "9" > "10".
    * Hash-gated against DuckDB. At 100 TB: a range scan over a typed
    * path reads the owning files only, and the per-row cast
    * disappears from the query entirely. */
  val q215TypedShred: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q215")
    val cat = scratch.catalog
    val srcView = scratch.name("q215_src")
    // a third of events (deterministic event_id sample): the gates are
    // plan facts (typed read + file prune), not volume-dependent
    graft.Tables(spark, dir, "events")
      .where(col("event_id") % 3 === 0)
      .select(col("event_type"), col("props"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.e (event_type STRING, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.k BIGINT')")
    // two commits with DISJOINT $.k ranges: each commit's files bound
    // one side of 50, so the range predicate below can prove the low
    // commit's files irrelevant from manifest min/max alone
    spark.sql(s"INSERT INTO $cat.e SELECT * FROM $srcView " +
      "WHERE CAST(get_json_object(props, '$.k') AS BIGINT) < 50")
    spark.sql(s"INSERT INTO $cat.e SELECT * FROM $srcView " +
      "WHERE CAST(get_json_object(props, '$.k') AS BIGINT) >= 50")
    val q = spark.sql(
      s"""SELECT event_type,
         |  count(*) AS n,
         |  sum(CAST(get_json_object(props, '$$.k') AS BIGINT)) AS k_sum
         |FROM $cat.e
         |WHERE CAST(get_json_object(props, '$$.k') AS BIGINT) >= 50
         |GROUP BY event_type""".stripMargin)
    // gate 1: the plan reads the TYPED column, never the raw JSON
    graft.sources.LakeReadScanBuilder.lastStatsPrune.set(-1L)
    val rs = q.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).mkString("|")
    val planTyped = rs.contains("__shred_k__long") &&
      !rs.contains("props")
    val out = q.collect() // executes with the prune instrumentation set
    // gate 2: the static manifest min/max prune dropped the low-range
    // commit's files (kept < total)
    val word = graft.sources.LakeReadScanBuilder.lastStatsPrune.get()
    val pruned = word >= 0 && (word >> 32).toInt < word.toInt &&
      (word >> 32).toInt >= 1
    import spark.implicits._
    spark.createDataset(out.toIndexedSeq.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))))
      .toDF("event_type", "n", "k_sum")
      .withColumn("typed_shred_pruned", lit(planTyped && pruned))
      .orderBy(col("event_type"))
  }

  val q215Oracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |   AS BIGINT) AS k_sum,
      | TRUE AS typed_shred_pruned
      |FROM events
      |WHERE event_id % 3 = 0
      |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q217
  /** MANIFEST KLL HISTOGRAMS → CBO range selectivity
    * ([[graft.sources.VersionedTable.mergedHist]] — the
    * Iceberg-puffin-shaped quantile tier next to the q214 NDV
    * sketches): a dimension whose key is SKEWED (99% of rows in
    * [1,99], 1% spread over [5000,9900]) lands on a table declaring
    * `graft.histogram.columns'='k'`; each commit embeds a per-file
    * KLL sketch, plan time merges them into 64 equi-height bins
    * served through `columnStats().histogram()`, and a `k >= 4000`
    * filter estimates ~1% — flipping the join to BROADCAST — where
    * the min/max-only control table interpolates uniformly to ~60%
    * and stays on the shuffle (both plan-fact gated in-engine; the
    * rollup hash-gates against DuckDB's reconstruction). At 100 TB
    * the uniformity assumption is what mis-sizes every range scan
    * over skewed keys — real distributions fix join order and
    * build-side choices. */
  val q217HistogramSkew: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q217")
    val cat = scratch.catalog
    val srcView = scratch.name("q217_src")
    val factView = scratch.name("q217_fact")
    t(spark, dir, "customer")
      .selectExpr(
        """CASE WHEN c_custkey % 100 <> 0 THEN c_custkey % 100
          |  ELSE 5000 + (c_custkey % 5000) DIV 100 * 100
          |END AS k""".stripMargin,
        "c_acctbal")
      .createOrReplaceTempView(srcView)
    t(spark, dir, "orders")
      .selectExpr("o_orderkey % 10000 AS fk", "o_totalprice")
      .createOrReplaceTempView(factView)
    spark.sql(s"CREATE TABLE $cat.dim (k BIGINT, c_acctbal DOUBLE) " +
      "TBLPROPERTIES('graft.ndv.columns'='k', " +
      "'graft.histogram.columns'='k')")
    spark.sql(s"CREATE TABLE $cat.ctl (k BIGINT, c_acctbal DOUBLE) " +
      "TBLPROPERTIES('graft.ndv.columns'='k')")
    spark.sql(s"INSERT INTO $cat.dim SELECT * FROM $srcView")
    spark.sql(s"INSERT INTO $cat.ctl SELECT * FROM $srcView")
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8192")
      def q(tab: String): DataFrame = spark.sql(
        s"""SELECT count(*) AS n,
           |  round(sum(f.o_totalprice), 2) AS total
           |FROM $factView f
           |JOIN (SELECT k FROM $cat.$tab WHERE k >= 4000) d
           |  ON f.fk = d.k""".stripMargin)
      val flipped = q("dim").queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin")
      val control = !q("ctl").queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin")
      q("dim")
        .withColumn("histogram_flipped", lit(flipped && control))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  val q217Oracle: String =
    """WITH dim AS (
      |  SELECT CASE WHEN c_custkey % 100 <> 0 THEN c_custkey % 100
      |    ELSE 5000 + (c_custkey % 5000) // 100 * 100 END AS k
      |  FROM customer
      |), f AS (
      |  SELECT o_orderkey % 10000 AS fk, o_totalprice FROM orders
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  round(sum(f.o_totalprice), 2) AS total,
      |  TRUE AS histogram_flipped
      |FROM f JOIN dim d ON f.fk = d.k
      |WHERE d.k >= 4000""".stripMargin

  // ---------------------------------------------------------------- q216
  /** ROW LINEAGE THROUGH THE CHANGE FEED
    * ([[graft.sources.VersionedTable.tableChanges]] lineage columns —
    * Iceberg v3's changelog shape): customer lands on a lineage +
    * cdc-key table, takes an UPDATE and a DELETE, and the BATCH feed
    * now carries `_row_id`/`_last_updated_version` on every change
    * row — inserts/postimages the new identity, deletes/preimages
    * the old, and an update's pre/post images pair on the SAME id.
    * The query's result is computed FROM THE FEED: last change per
    * `_row_id` wins, survivors aggregate — and two O(1) digest gates
    * pin (1) every preimage pairs with exactly one same-id same-key
    * postimage and (2) the fold-back equals the live table
    * hash-exactly. Hash-gated against DuckDB's reconstruction. At
    * 100 TB this is what makes a downstream MERGE consuming the feed
    * idempotent across upstream maintenance: the id IS the merge key. */
  val q216LineageFeed: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val scratch = Scratch(spark, "q216")
    val cat = scratch.catalog
    val srcView = scratch.name("q216_src")
    val feedView = scratch.name("q216_feed")
    val foldedView = scratch.name("q216_folded")
    val root = scratch.catalogRoot
    // a fifth of customer (deterministic key sample): the lifecycle
    // and the id contracts are what is measured, not volume
    t(spark, dir, "customer")
      .where(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.c (c_custkey BIGINT, " +
      "c_mktsegment STRING, c_acctbal DOUBLE) " +
      "TBLPROPERTIES('graft.row.lineage'='true', " +
      "'graft.cdc.key'='c_custkey')")
    spark.sql(s"INSERT INTO $cat.c SELECT * FROM $srcView") // v1
    spark.sql(s"UPDATE $cat.c SET c_acctbal = -1.0 " +
      "WHERE c_custkey % 10 = 0")                                  // v2
    spark.sql(s"DELETE FROM $cat.c WHERE c_custkey % 7 = 0")       // v3
    // The feed has THREE consumers per run (pairing gate, fold-back
    // digest, final rollup), and each recompute replays the whole
    // per-version union + broadcast-mask + lineage-join plan. Stage it
    // once — the materialized feed is key-sample-sized — and release the
    // blocks before returning (the q173 staging discipline).
    val feed = VersionedTable.tableChanges(spark, s"$root/c", 0)
      .localCheckpoint()
    // gate 1: pre/post images pair 1:1 on (_row_id, c_custkey)
    feed.createOrReplaceTempView(feedView)
    val unpaired = spark.sql(
      s"""SELECT count(*) FROM (
         |  SELECT _row_id,
         |    sum(CASE WHEN _change_type = 'update_preimage'
         |      THEN 1 ELSE 0 END) AS pre,
         |    sum(CASE WHEN _change_type = 'update_postimage'
         |      THEN 1 ELSE 0 END) AS post,
         |    count(DISTINCT c_custkey) AS nk
         |  FROM $feedView
         |  WHERE _change_type LIKE 'update%'
         |  GROUP BY _row_id
         |  HAVING pre <> post OR nk <> 1)""".stripMargin)
      .collect()(0).getLong(0)
    // fold-back: last change per _row_id wins (postimage beats its
    // own version's preimage); survivors are the live rows
    val folded = spark.sql(
      s"""SELECT c_custkey, c_mktsegment, c_acctbal FROM (
         |  SELECT *, row_number() OVER (PARTITION BY _row_id
         |    ORDER BY _commit_version DESC,
         |      CASE WHEN _change_type IN ('insert', 'update_postimage')
         |        THEN 1 ELSE 0 END DESC) AS __rn
         |  FROM $feedView)
         |WHERE __rn = 1
         |  AND _change_type IN ('insert', 'update_postimage')""".stripMargin)
    folded.createOrReplaceTempView(foldedView)
    // gate 2: fold-back equals the live table (O(1) digest compare)
    def digest(src: String): (Long, java.math.BigDecimal) = {
      val r = spark.sql(s"SELECT count(*), " +
        s"sum(CAST(xxhash64(c_custkey, c_mktsegment, c_acctbal) " +
        s"AS DECIMAL(38,0))) FROM $src").collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    // ONE fold-back computation for BOTH consumers (the fold-back digest
    // and the final rollup — previously each recomputed the window +
    // filter over the feed): the per-segment rollup carries the digest
    // terms, and the fold-back digest is their sum over the
    // segment-count-sized checkpointed frame (counts and hash-sums are
    // associative).
    val grouped = spark.sql(
      s"""SELECT c_mktsegment, count(*) AS n,
         |  round(sum(c_acctbal), 2) AS bal,
         |  sum(CAST(xxhash64(c_custkey, c_mktsegment, c_acctbal)
         |    AS DECIMAL(38,0))) AS __h
         |FROM $foldedView GROUP BY c_mktsegment""".stripMargin)
      .localCheckpoint() // segment-count-sized; lets the feed blocks go
    val g = grouped.agg(sum(col("n")), sum(col("__h"))).collect()(0)
    val fn = if (g.isNullAt(0)) 0L else g.getLong(0)
    val fh = if (g.isNullAt(1)) java.math.BigDecimal.ZERO else g.getDecimal(1)
    val (ln, lh) = digest(s"$cat.c")
    val ok = unpaired == 0L && fn == ln && fh.compareTo(lh) == 0
    val rolled = grouped
      .select(col("c_mktsegment"), col("n"), col("bal"))
      .withColumn("lineage_feed_ok", lit(ok))
    // the scratch temp views point into the released checkpoint blocks —
    // drop them before the release so nothing dangling stays registered
    spark.catalog.dropTempView(feedView)
    spark.catalog.dropTempView(foldedView)
    graft.ops.Checkpoints.release(feed)
    rolled.orderBy(col("c_mktsegment"))
  }

  val q216Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE WHEN c_custkey % 10 = 0 THEN -1.0
      |      ELSE c_acctbal END AS c_acctbal
      |  FROM customer
      |  WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
      |)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(c_acctbal), 2) AS bal, TRUE AS lineage_feed_ok
      |FROM base GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q218
  /** SEGMENT-BACKED MANIFESTS ([[graft.sources.LakeManifest]] —
    * Iceberg's manifest-reuse discipline): customer lands in THREE
    * append commits, and the in-engine gate reads the raw manifests to
    * prove the metadata write is O(delta) — the head manifest holds
    * ZERO inline entries, references every prior commit's segments
    * unchanged plus exactly one new delta segment, and its byte size
    * grew by roughly one segment-reference line, not by the carried
    * table's re-serialized stats sketches. The rollup then hash-matches
    * DuckDB over the reassembled table, pinning that reference-reads
    * reconstruct the exact flat snapshot. At 100 TB file counts this is
    * the difference between a ~KB and a ~GB metadata write per append —
    * the commit cost that decides whether frequent small ingests are
    * viable at all. */
  val q218ManifestSegments: Q = (spark, dir) => {
    import graft.sources.LakeManifest
    val scratch = Scratch(spark, "q218")
    val cat = scratch.catalog
    val srcView = scratch.name("q218_src")
    val root = scratch.catalogRoot
    t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.c (c_custkey BIGINT, " +
      "c_mktsegment STRING)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO $cat.c SELECT * FROM $srcView " +
        s"WHERE c_custkey % 3 = $i")
    }
    val f = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    val tdir = s"$root/c"
    def rawOf(v: Int): (LakeManifest.Raw, Long) = {
      val p = new org.apache.hadoop.fs.Path(s"$tdir/_manifest/$v.txt")
      val in = f.open(p)
      val bytes =
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          bos.toByteArray
        } finally in.close()
      (LakeManifest.parseRaw(new String(bytes, "UTF-8")), bytes.length.toLong)
    }
    val versions = f.listStatus(
      new org.apache.hadoop.fs.Path(s"$tdir/_manifest")).toSeq
      .map(_.getPath.getName).filter(_.matches("\\d+\\.txt"))
      .map(_.stripSuffix(".txt").toInt).sorted
    val (head, headBytes) = rawOf(versions.last)
    val (prev, prevBytes) = rawOf(versions(versions.size - 2))
    // gate: head carries the base BY REFERENCE — no inline entries, the
    // prior segment chain intact plus one delta segment, no exclusions,
    // and manifest growth is the ~reference line, not the carried table
    val reused = head.fullySegmented && head.excludes.isEmpty &&
      head.segNames.size == prev.segNames.size + 1 &&
      head.segNames.startsWith(prev.segNames) &&
      headBytes - prevBytes < 400
    spark.table(s"$cat.c")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).as("key_sum"))
      .withColumn("segments_reused", lit(reused))
      .orderBy(col("c_mktsegment"))
  }

  val q218Oracle: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(c_custkey) AS BIGINT) AS key_sum,
      |  TRUE AS segments_reused
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q185
  /** Write-side CLUSTERING as a table property — declare
    * `TBLPROPERTIES('graft.write.ordered-by'='o_orderkey')` and every
    * INSERT/compact range-partitions its output so each data file owns
    * a DISJOINT key range (Iceberg's write.sort-order / Delta's
    * OPTIMIZE ZORDER discipline, enforced at commit instead of as an
    * after-pass). The payoff at 100 TB is structural: manifest-stats
    * group pruning (q176/q177), bounded CDC merges (q178), and footer
    * zone-maps prune maximally BY CONSTRUCTION — a bounded MERGE on a
    * clustered table rewrites exactly the files owning the key range
    * (spec-pinned 1 vs 4 in GraftLakeClusteringSpec). Here: orders
    * lands through catalog SQL INSERT, compacts to 8 files, and the
    * per-file (min,max) read from MANIFEST stats (driver metadata,
    * zero data IO) must tile the key space without overlap — the
    * in-engine `files_disjoint`/`eight_files` gates ride the result
    * row, and the content aggregate proves the re-layout lost
    * nothing. */
  val q185ClusteredWrite: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val scratch = Scratch(spark, "q185")
    val cat = scratch.catalog
    val srcView = scratch.name("q185_src")
    val root = scratch.catalogRoot
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"""CREATE TABLE $cat.t (o_orderkey BIGINT,
      | o_orderpriority STRING, o_totalprice DOUBLE)
      | TBLPROPERTIES('graft.write.ordered-by'='o_orderkey')"""
      .stripMargin)
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM $srcView")
    VersionedTable.compact(spark, s"$root/t", targetFiles = 8)
    val v = VersionedTable.latestVersion(spark, s"$root/t").get
    val ranges = VersionedTable.snapshotOf(spark, s"$root/t", v)
      .stats.values.filter(_.rowCount > 0)
      .map { st =>
        val c = st.cols("o_orderkey")
        (c.min.get.asInstanceOf[Long], c.max.get.asInstanceOf[Long])
      }.toSeq.sortBy(_._1)
    val disjoint = ranges.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => hi < lo2
      case _ => true
    }
    spark.sql(s"SELECT * FROM $cat.t")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .withColumn("files_disjoint", lit(disjoint))
      .withColumn("eight_files", lit(ranges.size == 8))
      .orderBy(col("o_orderpriority"))
  }

  val q185Oracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | round(sum(o_totalprice), 2) AS total,
      | TRUE AS files_disjoint, TRUE AS eight_files
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
      .stripMargin

  // ---------------------------------------------------------------- q167
  /** CSV + JSON source/sink roundtrip — the two text-serialization
    * formats E1's parquet/ORC family was still missing, proven
    * LOSSLESS on the worst column there is: free text (embedded
    * commas, quotes, anything the corpus carries). documents writes
    * as RFC-4180 CSV (explicit quote-escape so quoting survives) and
    * reads back multiLine with the declared schema, then the same
    * through JSON lines; the final aggregate runs over the
    * twice-roundtripped frame while the oracle aggregates the RAW
    * table — any codec mangling anywhere breaks the hash. JSON lines
    * is also the shape a 100 TB ingest usually ARRIVES in; this pins
    * the decode path end to end. */
  val q167CsvJsonRoundtrip: Q = (spark, dir) => {
    val base = Scratch(spark, "q167").path("data")
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    d.write.option("header", "true").option("escape", "\"")
      .csv(s"$base/csv")
    val viaCsv = spark.read.schema(d.schema)
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      .csv(s"$base/csv")
    viaCsv.write.json(s"$base/json")
    spark.read.schema(d.schema).json(s"$base/json")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("n_chars")).cast("long").as("chars"),
        sum(length(col("text"))).cast("long").as("text_len"),
        countDistinct(col("lang")).cast("long").as("n_langs"))
      .orderBy(col("source"))
  }

  val q167Oracle: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(n_chars) AS BIGINT) AS chars,
      | CAST(sum(length(text)) AS BIGINT) AS text_len,
      | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q170
  /** Additive SCHEMA EVOLUTION across snapshots: v0 lands orders
    * without a priority flag; v1 carry-forwards v0's files while its
    * delta adds an `is_urgent` column. The merged-schema read surfaces
    * the new column as null on pre-evolution files — the lakehouse
    * evolution contract (no rewrite of history, no reader break) —
    * and the emitted rollup groups by COALESCEd flag state, so the
    * oracle can restate exactly which rows predate the evolution.
    * (Without mergeSchema, Spark samples one footer and can silently
    * DROP the evolved column — the latent failure this key pins
    * against.) */
  val q170SchemaEvolution: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val base = Scratch(spark, "q170").path("data")
    val orders = Tables(spark, dir, "orders")
    val cut = ntz("1997-01-01 00:00:00")
    VersionedTable.commit(spark,
      orders.filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice")),
      base, carryForward = false)
    VersionedTable.commit(spark,
      orders.filter(col("o_orderdate") >= cut)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"),
          (col("o_orderpriority") === "1-URGENT").as("is_urgent")),
      base, carryForward = true)
    VersionedTable.read(spark, base)
      .groupBy(coalesce(col("is_urgent").cast("string"),
        lit("pre_evolution")).as("flag"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("flag"))
  }

  val q170Oracle: String =
    """SELECT CASE
      |   WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |     THEN 'pre_evolution'
      |   WHEN o_orderpriority = '1-URGENT' THEN 'true' ELSE 'false'
      | END AS flag,
      | CAST(count(*) AS BIGINT) AS n,
      | round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY flag""".stripMargin

  // ---------------------------------------------------------------- q175
  /** The lakehouse CATALOG tier (`sources/GraftLakeCatalog`) end-to-end
    * through Spark's NATIVE SQL surface — no facade call anywhere in
    * the query: CTAS creates the versioned table (v0 empty + v1 data),
    * INSERT INTO appends the post-cutoff delta as an atomic
    * carry-forward commit (v2), INSERT OVERWRITE replaces the contents
    * (v3) — and then every prior snapshot is read back with
    * `VERSION AS OF` plus the latest via a far-future `TIMESTAMP AS
    * OF` (publish-time resolution, Delta/Iceberg's rule). The
    * fingerprints prove snapshot ISOLATION through the catalog: v1's
    * numbers are byte-stable after two later commits including a full
    * overwrite, and the oracle restates each snapshot from the raw
    * source with the filter that defined it. Writes ride the V1Write
    * fallback into VersionedTable.commit, so SQL INSERTs inherit the
    * manifest-rename atomic commit point; reads are Spark's own
    * ParquetTable over the snapshot's file list (full pushdown stack).
    * Each run registers its own scratch catalog so reruns never share
    * cached catalog state. */
  val q175LakeCatalogSql: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q175")
    val cat = scratch.catalog
    val preView = scratch.name("q175_pre")
    val postView = scratch.name("q175_post")
    val fView = scratch.name("q175_f")
    val o = t(spark, dir, "orders")
    val cut = ntz("1997-01-01 00:00:00")
    o.filter(col("o_orderdate") < cut)
      .createOrReplaceTempView(preView)
    o.filter(col("o_orderdate") >= cut)
      .createOrReplaceTempView(postView)
    o.filter(col("o_orderstatus") === "F")
      .createOrReplaceTempView(fView)
    spark.sql(s"CREATE TABLE $cat.orders_v AS SELECT * FROM $preView")
    spark.sql(s"INSERT INTO $cat.orders_v SELECT * FROM $postView")
    spark.sql(s"INSERT OVERWRITE $cat.orders_v SELECT * FROM $fView")
    def fp(v: Long, from: String): String =
      s"""SELECT CAST($v AS BIGINT) AS version,
         |  count(*) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  round(sum(o_totalprice), 2) AS total
         |FROM $from""".stripMargin
    spark.sql(
      s"""SELECT * FROM (
         |${fp(1, s"$cat.orders_v VERSION AS OF 1")}
         |UNION ALL ${fp(2, s"$cat.orders_v VERSION AS OF 2")}
         |UNION ALL ${fp(3, s"$cat.orders_v VERSION AS OF 3")}
         |UNION ALL ${fp(99,
        s"$cat.orders_v TIMESTAMP AS OF '9999-01-01 00:00:00'")}
         |) ORDER BY version""".stripMargin)
  }

  val q175Oracle: String =
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS version,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |    round(sum(o_totalprice), 2) AS total
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      |  UNION ALL
      |  SELECT 2, count(*), CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(o_totalprice), 2) FROM orders
      |  UNION ALL
      |  SELECT 3, count(*), CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(o_totalprice), 2) FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT 99, count(*), CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(o_totalprice), 2) FROM orders WHERE o_orderstatus = 'F'
      |) ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q176
  /** SQL `DELETE FROM` + `TRUNCATE TABLE` through the lake catalog —
    * the copy-on-write DML tier: the DELETE plans as Spark's
    * `ReplaceData` through GraftLakeRowLevelOperation, the one
    * row-level rewrite UPDATE and MERGE use. Manifest stats prune the
    * files the condition cannot match at plan time, Spark's runtime
    * group filter keeps at execution only the files holding a
    * matching row (their `_file` values, from a subquery), and only
    * those are rewritten with their survivors, while every other
    * file carries forward by reference (byte-identical manifest path
    * — spec-pinned in
    * GraftLakeCatalogSpec). At 100 TB a selective delete costs a scan
    * of the touched sliver plus a manifest write, never a table
    * rewrite. The emitted fingerprints prove the full DML lifecycle:
    * v1 = CTAS load, v2 = post-DELETE (three-valued semantics: only
    * TRUE-condition rows leave), v3 = post-TRUNCATE (schema-preserving
    * empty commit) — and v1 is byte-stable AFTER both, read back
    * through `VERSION AS OF`, so deletes never mutate history
    * (GDPR-style erasure still vacuums old versions; that lifecycle is
    * q164's). Oracle restates each snapshot from the raw source with
    * the filter that defined it. */
  val q176LakeDeleteSql: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q176")
    val cat = scratch.catalog
    val srcView = scratch.name("q176_src")
    t(spark, dir, "orders").createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.orders_v AS SELECT * FROM $srcView")
    spark.sql(s"DELETE FROM $cat.orders_v " +
      "WHERE o_orderstatus = 'O' AND o_totalprice < 150000.0")
    spark.sql(s"TRUNCATE TABLE $cat.orders_v")
    def fp(v: Long): String =
      s"""SELECT CAST($v AS BIGINT) AS version,
         |  count(*) AS n_rows,
         |  coalesce(CAST(sum(o_orderkey) AS BIGINT), 0) AS key_sum,
         |  round(coalesce(sum(o_totalprice), 0.0), 2) AS total
         |FROM $cat.orders_v VERSION AS OF $v""".stripMargin
    spark.sql(
      s"""SELECT * FROM (
         |${fp(1)} UNION ALL ${fp(2)} UNION ALL ${fp(3)}
         |) ORDER BY version""".stripMargin)
  }

  val q176Oracle: String =
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS version,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    coalesce(CAST(sum(o_orderkey) AS BIGINT), 0) AS key_sum,
      |    round(coalesce(sum(o_totalprice), 0.0), 2) AS total
      |  FROM orders
      |  UNION ALL
      |  SELECT 2, count(*), coalesce(CAST(sum(o_orderkey) AS BIGINT), 0),
      |    round(coalesce(sum(o_totalprice), 0.0), 2) FROM orders
      |  WHERE NOT (o_orderstatus = 'O' AND o_totalprice < 150000.0)
      |  UNION ALL
      |  SELECT 3, 0, 0, 0.0
      |) ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q177
  /** SQL `UPDATE` + `MERGE INTO` through the lake catalog — the
    * group-based copy-on-write row-level tier
    * (GraftLakeRowLevelOperation): Spark's own rewrite plans
    * (RewriteUpdateTable / RewriteMergeIntoTable) plan a ReplaceData
    * over the operation's scan, the scan's pushFilters prunes GROUPS
    * (files that might contain matches, found by a footer-pruned
    * phase-1 job over `_metadata.file_path`) while deliberately
    * keeping every row of surviving files (parquet row filtering here
    * would silently drop the unmatched rows the rewrite must copy
    * forward), and the feedback lands through Spark's V2 parquet write
    * with the commit publishing untouched files BY REFERENCE plus the
    * rewrite — one atomic manifest rename, optimistic-concurrency
    * loud-fail on a racing committer. Lifecycle proven by fingerprint:
    * v1 = CTAS (¾ of orders), v2 = UPDATE adds 1000 to every
    * F-status total, v3 = MERGE resets matched (even-key) rows to the
    * source's original totals and inserts the missing quarter — and
    * v1/v2 stay byte-stable under `VERSION AS OF` after both
    * rewrites. The oracle restates every snapshot from the raw source
    * arithmetically (the merge algebra collapses to one CASE over all
    * orders), so the hash gate proves the rewrite loses, duplicates,
    * and resurrects nothing. */
  val q177LakeUpdateMergeSql: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q177")
    val cat = scratch.catalog
    val srcView = scratch.name("q177_src")
    t(spark, dir, "orders").createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.orders_v AS " +
      s"SELECT * FROM $srcView WHERE o_orderkey % 4 <> 0")
    spark.sql(s"UPDATE $cat.orders_v " +
      "SET o_totalprice = o_totalprice + 1000.0 " +
      "WHERE o_orderstatus = 'F'")
    spark.sql(
      s"""MERGE INTO $cat.orders_v AS t
         |USING (SELECT * FROM $srcView WHERE o_orderkey % 2 = 0) AS s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    def fp(v: Long): String =
      s"""SELECT CAST($v AS BIGINT) AS version,
         |  count(*) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  round(sum(o_totalprice), 2) AS total
         |FROM $cat.orders_v VERSION AS OF $v""".stripMargin
    spark.sql(
      s"""SELECT * FROM (
         |${fp(1)} UNION ALL ${fp(2)} UNION ALL ${fp(3)}
         |) ORDER BY version""".stripMargin)
  }

  val q177Oracle: String =
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS version,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |    round(sum(o_totalprice), 2) AS total
      |  FROM orders WHERE o_orderkey % 4 <> 0
      |  UNION ALL
      |  SELECT 2, count(*), CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(o_totalprice +
      |      CASE WHEN o_orderstatus = 'F' THEN 1000.0 ELSE 0.0 END), 2)
      |  FROM orders WHERE o_orderkey % 4 <> 0
      |  UNION ALL
      |  SELECT 3, count(*), CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
      |      WHEN o_orderstatus = 'F' THEN o_totalprice + 1000.0
      |      ELSE o_totalprice END), 2)
      |  FROM orders
      |) ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q179
  /** The `versions` METADATA TABLE (`sources/GraftLakeMetadata.scala`)
    * — lakehouse observability as plain SQL, Iceberg's `.snapshots` /
    * Delta's `DESCRIBE HISTORY` shape: `SELECT ... FROM
    * <cat>.<table>.versions` returns one row per published snapshot
    * with exact row counts taken from parquet FOOTERS — zero data
    * bytes scanned, so auditing a 100 TB table's full commit history
    * costs manifest-sized driver IO instead of #versions × count(*)
    * jobs. The query rebuilds q175's DML history (CTAS → INSERT →
    * OVERWRITE) and reads the audit trail back through the metadata
    * table; the oracle restates each version's row count from the raw
    * source with the filter that defined it, so the hash gate proves
    * footer-count == count(*) for every snapshot. */
  val q179LakeVersionsMeta: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q179")
    val cat = scratch.catalog
    val preView = scratch.name("q179_pre")
    val postView = scratch.name("q179_post")
    val fView = scratch.name("q179_f")
    val o = t(spark, dir, "orders")
    val cut = ntz("1997-01-01 00:00:00")
    o.filter(col("o_orderdate") < cut)
      .createOrReplaceTempView(preView)
    o.filter(col("o_orderdate") >= cut)
      .createOrReplaceTempView(postView)
    o.filter(col("o_orderstatus") === "F")
      .createOrReplaceTempView(fView)
    spark.sql(s"CREATE TABLE $cat.orders_v AS SELECT * FROM $preView")
    spark.sql(s"INSERT INTO $cat.orders_v SELECT * FROM $postView")
    spark.sql(s"INSERT OVERWRITE $cat.orders_v SELECT * FROM $fView")
    spark.sql(
      s"""SELECT version, total_rows, n_files >= 1 AS files_ok
         |FROM $cat.orders_v.versions ORDER BY version""".stripMargin)
  }

  val q179Oracle: String =
    """SELECT * FROM (
      |  SELECT 0 AS version,
      |    CAST(count(*) FILTER (WHERE FALSE) AS BIGINT) AS total_rows,
      |    TRUE AS files_ok FROM orders
      |  UNION ALL
      |  SELECT 1, count(*), TRUE FROM orders
      |    WHERE o_orderdate < TIMESTAMP '1997-01-01'
      |  UNION ALL
      |  SELECT 2, count(*), TRUE FROM orders
      |  UNION ALL
      |  SELECT 3, count(*), TRUE FROM orders WHERE o_orderstatus = 'F'
      |) ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q180
  /** V2 CATALOG FUNCTIONS (`sources/GraftLakeFunctions.scala`) — the
    * third and last catalog surface after tables and namespaces:
    * `SELECT <cat>.morton2(l_partkey, l_suppkey)` resolves through
    * `FunctionCatalog.loadFunction`, binds as a V2 `ScalarFunction`,
    * and executes through the MAGIC `invoke(long, long): Long` path
    * (exact-signature primitive call the resolver compiles to
    * `Invoke` — codegen-friendly, no per-row boxing; the
    * `produceResult` row fallback is spec-pinned equal). morton2 is
    * q107's Z-order curve as a user-callable function — what a
    * caller uses to WRITE key-clustered layouts that the lake's
    * footer-stats group pruning and zone-map scans then exploit. The
    * oracle restates the interleave with DuckDB's own int64 bit ops,
    * so the hash gate proves the curve bit-identical across engines. */
  val q180CatalogFunction: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q180")
    val cat = scratch.catalog
    val srcView = scratch.name("q180_src")
    t(spark, dir, "lineitem").createOrReplaceTempView(srcView)
    spark.sql(
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
         |  $cat.morton2(l_partkey, l_suppkey) AS z
         |FROM $srcView WHERE l_orderkey <= 200
         |ORDER BY l_orderkey, line_no""".stripMargin)
  }

  val q180Oracle: String =
    """WITH src AS (
      |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
      |    l_partkey % 65536 AS a, l_suppkey % 65536 AS b
      |  FROM lineitem WHERE l_orderkey <= 200),
      |s1 AS (SELECT *, (a | (a << 8)) & 16711935 AS a1,
      |  (b | (b << 8)) & 16711935 AS b1 FROM src),
      |s2 AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
      |  (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
      |s3 AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
      |  (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
      |s4 AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
      |  (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3)
      |SELECT l_orderkey, line_no,
      |  CAST(a4 | (b4 << 1) AS BIGINT) AS z
      |FROM s4 ORDER BY l_orderkey, line_no""".stripMargin

  // ---------------------------------------------------------------- q181
  /** MERGE-ON-READ deletes (positional deletion vectors — Iceberg v2
    * positional deletes / Delta DVs) through plain SQL: the table is
    * created with `TBLPROPERTIES('graft.delete.mode'='merge-on-read')`
    * and each `DELETE FROM` records only the (file, row position) of
    * matching rows in a small delete file — ZERO data rewrite, the
    * O(matches) delete a 100 TB table wants for frequent small
    * erasures — while reads apply the mask inside each partition
    * reader (one whole file per partition, sorted-positions
    * merge-join skip, no join, no shuffle —
    * `sources/GraftLakeDvScan.scala`). Successive deletes UNION their
    * masks; time travel reads any pre-delete snapshot unmasked;
    * `compact` (q162's op) materializes survivors and restores the
    * full pushdown stack. The emitted fingerprints cover v1 (load),
    * v2 (after DELETE status='F'), v3 (after a second DELETE on
    * price) — each restated by the oracle from the raw source with
    * the cumulative filters, so the hash gate proves mask apply ≡
    * actual deletion, across BOTH delete generations, with history
    * byte-stable. */
  val q181LakeMorDeleteSql: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q181")
    val cat = scratch.catalog
    val srcView = scratch.name("q181_src")
    t(spark, dir, "orders").createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.orders_v " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read') " +
      s"AS SELECT * FROM $srcView")
    spark.sql(s"DELETE FROM $cat.orders_v WHERE o_orderstatus = 'F'")
    spark.sql(s"DELETE FROM $cat.orders_v WHERE o_totalprice >= 200000.0")
    def fp(v: Long): String =
      s"""SELECT CAST($v AS BIGINT) AS version,
         |  count(*) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  round(sum(o_totalprice), 2) AS total
         |FROM $cat.orders_v VERSION AS OF $v""".stripMargin
    spark.sql(
      s"""SELECT * FROM (
         |${fp(1)} UNION ALL ${fp(2)} UNION ALL ${fp(3)}
         |) ORDER BY version""".stripMargin)
  }

  val q181Oracle: String =
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS version,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |    round(sum(o_totalprice), 2) AS total
      |  FROM orders
      |  UNION ALL
      |  SELECT 2, count(*), CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(o_totalprice), 2) FROM orders
      |  WHERE NOT o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT 3, count(*), CAST(sum(o_orderkey) AS BIGINT),
      |    round(sum(o_totalprice), 2) FROM orders
      |  WHERE NOT o_orderstatus = 'F' AND NOT o_totalprice >= 200000.0
      |) ORDER BY version""".stripMargin

  val keys: ListMap[String, Key] = ListMap(
    "q01_pricing_summary" -> Key(q01PricingSummary, q01Oracle),
    "q02_filter_project" -> Key(q02FilterProject, q02Oracle),
    "q03_top_orders" -> Key(q03TopOrders, q03Oracle),
    "q04_semi_join" -> Key(q04SemiJoin, q04Oracle),
    "q05_region_revenue" -> Key(q05RegionRevenue, q05Oracle),
    "q06_forecast_revenue" -> Key(q06ForecastRevenue, q06Oracle),
    "q07_anti_join" -> Key(q07AntiJoin, q07Oracle),
    "q08_outer_join" -> Key(q08OuterJoin, q08Oracle),
    "q09_count_distinct" -> Key(q09CountDistinct, q09Oracle),
    "q29_approx_distinct" -> Key(q29ApproxDistinct, q29Oracle),
    "q10_grouping_sets" -> Key(q10GroupingSets, q10Oracle),
    "q11_rollup" -> Key(q11Rollup, q11Oracle),
    "q12_cube" -> Key(q12Cube, q12Oracle),
    "q13_topk_per_group" -> Key(q13TopKPerGroup, q13Oracle),
    "q14_window_rank" -> Key(q14WindowRank, q14Oracle),
    "q15_window_running" -> Key(q15WindowRunning, q15Oracle),
    "q16_window_lag_lead" -> Key(q16WindowLagLead, q16Oracle),
    "q17_window_range" -> Key(q17WindowRange, q17Oracle),
    "q18_range_join" -> Key(q18RangeJoin, q18Oracle),
    "q19_set_ops" -> Key(q19SetOps, q19Oracle),
    "q20_distinct" -> Key(q20Distinct, q20Oracle),
    "q21_string_fns" -> Key(q21StringFns, q21Oracle),
    "q22_date_fns" -> Key(q22DateFns, q22Oracle),
    "q23_math_fns" -> Key(q23MathFns, q23Oracle),
    "q60_pivot" -> Key(q60Pivot, q60Oracle),
    "q61_unpivot" -> Key(q61Unpivot, q61Oracle),
    "q62_bucketed_join" -> Key(q62BucketedJoin, q62Oracle),
    "q63_percentiles" -> Key(q63Percentiles, q63Oracle),
    "q65_skew_join" -> Key(q65SkewJoin, q65Oracle),
    "q79_text_formats" -> Key(q79TextFormats, q79Oracle),
    "q82_sql_tpch5" -> Key(q82SqlTpch5, q82Oracle),
    "q83_scalar_subquery" -> Key(q83ScalarSubquery, q83Oracle),
    "q84_exists_subquery" -> Key(q84ExistsSubquery, q84Oracle),
    "q90_approx_percentile" -> Key(q90ApproxPercentile, q90Oracle),
    "q93_bloom_prune" -> Key(q93BloomPrune, q93Oracle),
    "q94_cms_frequency" -> Key(q94CmsFrequency, q94Oracle),
    "q96_sorted_layout" -> Key(q96SortedLayout, q96Oracle),
    "q107_zorder_layout" -> Key(q107ZorderLayout, q107Oracle),
    "q102_table_diff" -> Key(q102TableDiff, q102Oracle),
    "q124_orc_partitioned" -> Key(q124OrcPartitioned, q124Oracle),
    "q126_dynamic_overwrite" -> Key(q126DynamicOverwrite, q126Oracle),
    "q130_hll_union" -> Key(q130HllUnion, q130Oracle),
    "q131_theta_overlap" -> Key(q131ThetaOverlap, q131Oracle),
    "q133_kll_quantiles" -> Key(q133KllQuantiles, q133Oracle),
    "q139_incremental_agg" -> Key(q139IncrementalAgg, q139Oracle),
    "q142_profile" -> Key(q142Profile, q142Oracle),
    "q144_rank_family" -> Key(q144RankFamily, q144Oracle),
    "q147_quality_checks" -> Key(q147QualityChecks, q147Oracle),
    "q151_time_travel" -> Key(q151TimeTravel, q151Oracle),
    "q155_cusum" -> Key(q155Cusum, q155Oracle),
    "q156_skew_report" -> Key(q156SkewReport, q156Oracle),
    "q158_cbo_star" -> Key(q158CboStar, q158Oracle),
    "q162_compaction" -> Key(q162Compaction, q162Oracle),
    "q164_shallow_clone" -> Key(q164ShallowClone, q164Oracle),
    "q165_k_anonymity" -> Key(q165KAnonymity, q165Oracle),
    "q166_change_feed" -> Key(q166ChangeFeed, q166Oracle),
    "q184_lake_change_stream" -> Key(q184LakeChangeStream, q184Oracle),
    "q185_lake_clustered_write" -> Key(q185ClusteredWrite, q185Oracle),
    "q186_lake_call_maintenance" -> Key(q186LakeCallMaintenance, q186Oracle),
    "q187_lake_stream_sink" -> Key(q187LakeStreamSink, q187Oracle),
    "q188_lake_restore_clone" -> Key(q188LakeRestoreClone, q188Oracle),
    "q167_csv_json_roundtrip" -> Key(q167CsvJsonRoundtrip, q167Oracle),
    "q170_schema_evolution" -> Key(q170SchemaEvolution, q170Oracle),
    "q175_lake_catalog_sql" -> Key(q175LakeCatalogSql, q175Oracle),
    "q176_lake_delete_sql" -> Key(q176LakeDeleteSql, q176Oracle),
    "q177_lake_update_merge_sql" -> Key(q177LakeUpdateMergeSql, q177Oracle),
    "q179_lake_versions_meta" -> Key(q179LakeVersionsMeta, q179Oracle),
    "q180_catalog_function" -> Key(q180CatalogFunction, q180Oracle),
    "q181_lake_mor_delete_sql" -> Key(q181LakeMorDeleteSql, q181Oracle),
    "q189_lake_stats_agg" -> Key(q189LakeStatsAgg, q189Oracle),
    "q190_lake_runtime_prune" -> Key(q190LakeRuntimePrune, q190Oracle),
    "q191_lake_tags" -> Key(q191LakeTags, q191Oracle),
    "q192_lake_history" -> Key(q192LakeHistory, q192Oracle),
    "q193_lake_rgf_merge" -> Key(q193LakeRgfMerge, q193Oracle),
    "q194_lake_wap" -> Key(q194LakeWap, q194Oracle),
    "q195_lake_files_meta" -> Key(q195LakeFilesMeta, q195Oracle),
    "q196_file_lineage" -> Key(q196FileLineage, q196Oracle),
    "q197_lake_spj" -> Key(q197LakeSpj, q197Oracle),
    "q198_lake_rename_drop" -> Key(q198LakeRenameDrop, q198Oracle),
    "q199_lake_partition_layout" -> Key(q199LakePartitionLayout, q199Oracle),
    "q204_lake_spec_evolution" -> Key(q204LakeSpecEvolution, q204Oracle),
    "q206_cdf_update_images" -> Key(q206CdfUpdateImages, q206Oracle),
    "q207_sort_free_join" -> Key(q207SortFreeJoin, q207Oracle),
    "q208_type_widening" -> Key(q208TypeWidening, q208Oracle),
    "q209_bloom_point_lookup" -> Key(q209BloomPointLookup, q209Oracle),
    "q210_row_lineage" -> Key(q210RowLineage, q210Oracle),
    "q211_table_changes" -> Key(q211TableChanges, q211Oracle),
    "q212_default_values" -> Key(q212DefaultValues, q212Oracle),
    "q213_json_shred" -> Key(q213JsonShred, q213Oracle),
    "q214_ndv_broadcast" -> Key(q214NdvBroadcast, q214Oracle),
    "q215_typed_shred" -> Key(q215TypedShred, q215Oracle),
    "q216_lineage_feed" -> Key(q216LineageFeed, q216Oracle),
    "q217_histogram_skew" -> Key(q217HistogramSkew, q217Oracle),
    "q218_manifest_segments" -> Key(q218ManifestSegments, q218Oracle),
  )
}
