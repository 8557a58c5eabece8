package graft.ops
package relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.{QueryDef, Tables}
import Tables.load

/** The canonical TPC-H query shapes over the star schema, including the
  * correlated-subquery forms. */
object Tpch {

  /* Forty-eighth wave (round 10): the CORRELATED-SUBQUERY battery — the
    * three classic TPC-H decorrelation shapes, each stated CORRELATED on
    * the oracle side (scalar subquery / EXISTS / correlated min) and
    * DECORRELATED on the Spark side (keyed aggregate + equi-join back —
    * the plan Catalyst's RewriteCorrelatedScalarSubquery produces, built
    * explicitly so the intended physical shape is pinned rather than
    * hoped for):
    *
    *  - q292 (Q17 shape): revenue in small-quantity lineitems of parts
    *    whose quantity is below 20% of that part's average. The 0.2×avg
    *    comparison is exact integer arithmetic: qty_c·5·cnt < sum_c on
    *    the cent grid — no float avg crosses the engine boundary.
    *  - q293 (Q21 shape): suppliers who were the SOLE late shipper on a
    *    multi-supplier order (ship > order date + 30 days). EXISTS /
    *    NOT-EXISTS pair on the oracle; per-order distinct/late-distinct
    *    supplier counts + a semi filter on the Spark side.
    *  - q294 (Q2 shape): the cheapest supplier per part by floored
    *    micro unit price (extprice_c·10⁴ div qty_c), tie → lowest
    *    suppkey; correlated MIN subquery vs aggregate-and-join-back.
    *
    * Scale shapes: every subquery decorrelates to one keyed aggregate +
    * one equi-join on the same key — no per-row subquery execution, no
    * nested-loop; the classic reason a declarative plan survives 100 TB
    * where a literal correlated evaluation cannot. */

  // ------------------------------------------------------------- q292

  private def qSmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem").select(col("l_partkey"),
      expr("CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)").as("qc"),
      expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)")
        .as("epc"))
    val per = li.groupBy(col("l_partkey"))
      .agg(sum(col("qc").cast(DecimalType(38, 0))).cast(LongType)
          .as("sum_qc"),
        count(lit(1)).as("cnt"))
    li.join(per, Seq("l_partkey"))
      // qty < 0.2 * avg  <=>  5 * qc * cnt < sum_qc (exact integers)
      .filter(expr("5 * qc * cnt < sum_qc"))
      .agg(count(lit(1)).as("n_small"),
        sum(col("epc").cast(DecimalType(38, 0))).cast(LongType)
          .as("revenue_cents"))
      .select(col("n_small"),
        coalesce(col("revenue_cents"), lit(0L)).as("revenue_cents"))
  }

  private val qSmallQtyRevenueSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
      |  CAST(COALESCE(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5)
      |    AS BIGINT)), 0) AS BIGINT) AS revenue_cents
      |FROM lineitem l1
      |WHERE 5 * CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)
      |    * (SELECT COUNT(*) FROM lineitem l2
      |       WHERE l2.l_partkey = l1.l_partkey)
      |  < (SELECT SUM(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT))
      |     FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)"""
      .stripMargin

  // ------------------------------------------------------------- q293

  private val SupplierLateDays = 30

  private def qSoleLateSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        to_date(col("l_shipdate")).as("sd"))
    val o = load(s, dir, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
    val flagged = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late", datediff(col("sd"), col("od")) > SupplierLateDays)
    val per = flagged.groupBy(col("l_orderkey").as("ok"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey")))
          .as("n_late_supp"))
    flagged.filter(col("late"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
      .join(per, col("l_orderkey") === col("ok"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("l_suppkey"))
  }

  private val qSoleLateSupplierSql =
    s"""WITH f AS MATERIALIZED (
       |  SELECT l.l_orderkey, l.l_suppkey,
       |    date_diff('day', CAST(o.o_orderdate AS DATE),
       |      CAST(l.l_shipdate AS DATE)) > $SupplierLateDays AS late
       |  FROM lineitem l JOIN orders o
       |    ON o.o_orderkey = l.l_orderkey)
       |SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_orders
       |FROM (
       |  SELECT DISTINCT f1.l_orderkey, f1.l_suppkey
       |  FROM f f1
       |  WHERE f1.late
       |    AND EXISTS (SELECT 1 FROM f f2
       |      WHERE f2.l_orderkey = f1.l_orderkey
       |        AND f2.l_suppkey <> f1.l_suppkey)
       |    AND NOT EXISTS (SELECT 1 FROM f f3
       |      WHERE f3.l_orderkey = f1.l_orderkey
       |        AND f3.l_suppkey <> f1.l_suppkey AND f3.late))
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q294

  private def qCheapestSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) " +
          "* 10000 div CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)")
          .as("unit_micro"))
    val mins = li.groupBy(col("l_partkey"))
      .agg(min(col("unit_micro")).as("min_unit"))
    li.join(mins, Seq("l_partkey"))
      .filter(col("unit_micro") === col("min_unit"))
      .groupBy(col("l_partkey"), col("min_unit"))
      .agg(min(col("l_suppkey")).as("best_suppkey")) // tie -> lowest
      .select(col("l_partkey"), col("best_suppkey"),
        col("min_unit").as("unit_price_micro"))
      .orderBy(col("l_partkey"))
  }

  private val qCheapestSupplierSql =
    """WITH u AS MATERIALIZED (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) * 10000
      |      // CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)
      |      AS unit_micro
      |  FROM lineitem)
      |SELECT l_partkey,
      |  CAST(MIN(l_suppkey) AS BIGINT) AS best_suppkey,
      |  CAST(MIN(unit_micro) AS BIGINT) AS unit_price_micro
      |FROM u u1
      |WHERE u1.unit_micro = (SELECT MIN(u2.unit_micro) FROM u u2
      |  WHERE u2.l_partkey = u1.l_partkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /* Fifty-first wave (round 11): the canonical TPC-H battery, part 1 —
    * Q4 through Q11 restated on the driver's TPC-H-ish schema. Together
    * with part 2 (q305-q313) and the pre-existing Q1/Q2/Q3/Q17/Q21 shapes
    * (q01/q294/q03/q292/q293) this completes all 22 canonical TPC-H
    * query shapes as oracle-gated entries — the public standard a
    * 100-TB relational user runs first (the round-10 verdict's ask #2).
    *
    * Schema adaptations (the driver's tables lack partsupp,
    * l_commitdate/l_receiptdate/l_shipmode, c_phone/c_address,
    * p_container/p_mfgr — see TESTDATA.md):
    *  - "late" lineitems (Q4's commit<receipt) = shipped more than a
    *    stated number of days after the order date;
    *  - part-supplier facts (Q9/Q11/Q20's partsupp) derive from the
    *    lineitem history (shipped value/quantity per part-supplier);
    *  - Q8's "nation market share" keeps its region/type/share shape
    *    with the synthetic nation names.
    *
    * House exactness devices throughout (the q292 grid): every money
    * aggregate runs on the integer cent grid (`floor(x*100+0.5)`),
    * discounted revenue on the cent-percent grid
    * `epc*(100-dpct)` — no float crosses the engine boundary; sums
    * route through DECIMAL(38,0)/HUGEINT (ANSI-safe at 100 TB), ratios
    * are integer ppm with guarded division, and every output has a
    * deterministic ORDER BY with tie-breaks.
    *
    * Scale shapes: each query is one or two keyed shuffles over the
    * fact table with all dimension joins broadcast; the correlated
    * subqueries (Q4's EXISTS, Q11's scalar total) decorrelate to a
    * semi-join / one-row broadcast scalar — the only plans that
    * survive 1000 executors. */

  /** Integer cent grid: round-half-up to cents, exact in both
    * engines (floor is floor in Spark and DuckDB). */
  private def cents(c: String): Column =
    expr(s"CAST(floor($c * 100.0 + 0.5) AS BIGINT)")

  /** Discount as integer percent (the data's discounts are exact
    * hundredths, verified in TESTDATA). */
  private def pct(c: String): Column =
    expr(s"CAST(floor($c * 100.0 + 0.5) AS BIGINT)")

  /** Discounted revenue on the cent-percent grid: cents(extprice) ×
    * (100 − pct(discount)) — exact integers end to end. */
  private val RevCpExpr =
    "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) * " +
      "(100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))"

  private val RevCpSql =
    """CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
      |  (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))"""
      .stripMargin.replace("\n", " ")

  private def dec38Sum(c: Column): Column =
    sum(c.cast(DecimalType(38, 0))).cast(LongType)

  // ------------------------------------------------------------- q297
  // TPC-H Q4: order priority checking. A quarter of orders; count per
  // priority those with at least one "late" lineitem (shipped > 90
  // days after the order date — the schema's commit<receipt stand-in).
  // EXISTS on the oracle, decorrelated to a distinct semi-join here.

  private val Q4Lo = "1996-07-01"
  private val Q4Hi = "1996-10-01"
  private val LateDays = 90

  private def qPriorityCheck(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
      .filter(expr(s"CAST(o_orderdate AS DATE) >= DATE '$Q4Lo' AND " +
        s"CAST(o_orderdate AS DATE) < DATE '$Q4Hi'"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(o_orderdate AS DATE)").as("od"))
    val lateOrders = load(s, dir, "lineitem")
      .select(col("l_orderkey"),
        expr("CAST(l_shipdate AS DATE)").as("sd"))
      .join(o.select(col("o_orderkey"), col("od")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("sd"), col("od")) > LateDays)
      .select(col("l_orderkey")).distinct()
    o.join(lateOrders, o("o_orderkey") === lateOrders("l_orderkey"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val qPriorityCheckSql =
    s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
       |FROM orders o
       |WHERE CAST(o_orderdate AS DATE) >= DATE '$Q4Lo'
       |  AND CAST(o_orderdate AS DATE) < DATE '$Q4Hi'
       |  AND EXISTS (SELECT 1 FROM lineitem l
       |    WHERE l.l_orderkey = o.o_orderkey
       |      AND date_diff('day', CAST(o.o_orderdate AS DATE),
       |        CAST(l.l_shipdate AS DATE)) > $LateDays)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q298
  // TPC-H Q5: local supplier volume — revenue per nation in one
  // region/year where the supplier and the customer share the nation.

  private val Q5Region = "ASIA"
  private val Q5Lo = "1996-01-01"
  private val Q5Hi = "1997-01-01"

  private def qLocalSupplierVolume(s: SparkSession, dir: String)
      : DataFrame = {
    val o = load(s, dir, "orders")
      .filter(expr(s"CAST(o_orderdate AS DATE) >= DATE '$Q5Lo' AND " +
        s"CAST(o_orderdate AS DATE) < DATE '$Q5Hi'"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        expr(RevCpExpr).as("rev_cp"))
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = load(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = load(s, dir, "nation")
    val reg = load(s, dir, "region").filter(col("r_name") === Q5Region)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dec38Sum(expr("rev_cp")).as("revenue_cp"))
      .orderBy(col("revenue_cp").desc, col("n_name"))
  }

  private val qLocalSupplierVolumeSql =
    s"""SELECT n_name,
       |  CAST(SUM($RevCpSql) AS BIGINT) AS revenue_cp
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |  AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = '$Q5Region'
       |  AND CAST(o_orderdate AS DATE) >= DATE '$Q5Lo'
       |  AND CAST(o_orderdate AS DATE) < DATE '$Q5Hi'
       |GROUP BY 1 ORDER BY revenue_cp DESC, n_name""".stripMargin

  // ------------------------------------------------------------- q299
  // TPC-H Q6: forecasting revenue change — one tight scan-filter-agg
  // (the predicate-pushdown poster child): revenue given up to
  // discounts in a band, for one shipping year and small quantities.

  private val Q6Lo = "1996-01-01"
  private val Q6Hi = "1997-01-01"

  private def qRevenueForecast(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .filter(expr(s"CAST(l_shipdate AS DATE) >= DATE '$Q6Lo' AND " +
        s"CAST(l_shipdate AS DATE) < DATE '$Q6Hi'"))
      .filter(pct("l_discount").between(4, 6) &&
        expr("CAST(l_quantity AS BIGINT) < 24"))
      .agg(
        coalesce(dec38Sum(
            cents("l_extendedprice") * pct("l_discount")), lit(0L))
          .as("revenue_cp"),
        count(lit(1)).as("n_items"))

  private val qRevenueForecastSql =
    s"""SELECT CAST(COALESCE(SUM(
       |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
       |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)), 0)
       |  AS BIGINT) AS revenue_cp,
       |  CAST(COUNT(*) AS BIGINT) AS n_items
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) >= DATE '$Q6Lo'
       |  AND CAST(l_shipdate AS DATE) < DATE '$Q6Hi'
       |  AND CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
       |    BETWEEN 4 AND 6
       |  AND CAST(l_quantity AS BIGINT) < 24""".stripMargin

  // ------------------------------------------------------------- q300
  // TPC-H Q7: volume shipping between two nations (both directions),
  // by supplier nation × customer nation × shipping year.

  private val Q7NatA = "NATION_3"
  private val Q7NatB = "NATION_8"

  private def qVolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .filter(expr("CAST(l_shipdate AS DATE) >= DATE '1996-01-01' AND " +
        "CAST(l_shipdate AS DATE) < DATE '1998-01-01'"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast(LongType).as("l_year"),
        expr(RevCpExpr).as("rev_cp"))
    val o = load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = load(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val n1 = load(s, dir, "nation")
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val n2 = load(s, dir, "nation")
      .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("snk"))
      .join(broadcast(n2), col("c_nationkey") === col("cnk"))
      .filter((col("supp_nation") === Q7NatA &&
          col("cust_nation") === Q7NatB) ||
        (col("supp_nation") === Q7NatB && col("cust_nation") === Q7NatA))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(dec38Sum(col("rev_cp")).as("revenue_cp"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private val qVolumeShippingSql =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |  year(CAST(l_shipdate AS DATE)) AS l_year,
       |  CAST(SUM($RevCpSql) AS BIGINT) AS revenue_cp
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation sn ON s_nationkey = sn.n_nationkey
       |JOIN nation cn ON c_nationkey = cn.n_nationkey
       |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
       |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
       |  AND ((sn.n_name = '$Q7NatA' AND cn.n_name = '$Q7NatB')
       |    OR (sn.n_name = '$Q7NatB' AND cn.n_name = '$Q7NatA'))
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------- q301
  // TPC-H Q8: national market share — the share (integer ppm) of one
  // nation's suppliers in the revenue of a part type sold to one
  // region's customers, per order year.

  private val Q8Region = "ASIA"
  private val Q8Type = "ECONOMY"
  private val Q8Nation = "NATION_2"

  private def qMarketShare(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        expr(RevCpExpr).as("rev_cp"))
    val o = load(s, dir, "orders")
      .filter(expr("CAST(o_orderdate AS DATE) >= DATE '1996-01-01' AND " +
        "CAST(o_orderdate AS DATE) < DATE '1998-01-01'"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast(LongType).as("o_year"))
    val part = load(s, dir, "part").filter(col("p_type") === Q8Type)
      .select(col("p_partkey"))
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = load(s, dir, "nation")
    val reg = load(s, dir, "region").filter(col("r_name") === Q8Region)
    val supp = load(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val sn = load(s, dir, "nation")
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("snk"))
      .groupBy(col("o_year"))
      .agg(
        dec38Sum(when(col("supp_nation") === Q8Nation, col("rev_cp"))
          .otherwise(lit(0L))).as("nat_cp"),
        dec38Sum(col("rev_cp")).as("tot_cp"))
      .select(col("o_year"),
        expr("CASE WHEN tot_cp = 0 THEN 0 ELSE " +
          "CAST((CAST(nat_cp AS DECIMAL(38,0)) * 1000000) div " +
          "CAST(tot_cp AS DECIMAL(38,0)) AS BIGINT) END")
          .as("share_ppm"),
        col("nat_cp"), col("tot_cp"))
      .orderBy(col("o_year"))
  }

  private val qMarketShareSql =
    s"""WITH v AS (
       |  SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
       |    $RevCpSql AS rev_cp,
       |    sn.n_name = '$Q8Nation' AS is_nat
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN region ON cn.n_regionkey = r_regionkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation sn ON s_nationkey = sn.n_nationkey
       |  WHERE r_name = '$Q8Region' AND p_type = '$Q8Type'
       |    AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
       |    AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'),
       |g AS (
       |  SELECT o_year,
       |    SUM(CASE WHEN is_nat THEN rev_cp ELSE 0 END) AS nat_cp,
       |    SUM(rev_cp) AS tot_cp
       |  FROM v GROUP BY 1)
       |SELECT o_year,
       |  CASE WHEN tot_cp = 0 THEN 0
       |    ELSE CAST((nat_cp * 1000000) // tot_cp AS BIGINT) END
       |    AS share_ppm,
       |  CAST(nat_cp AS BIGINT) AS nat_cp,
       |  CAST(tot_cp AS BIGINT) AS tot_cp
       |FROM g ORDER BY o_year""".stripMargin

  // ------------------------------------------------------------- q302
  // TPC-H Q9: product type profit. Without partsupp the supply cost is
  // the part's retail price × quantity (the schema's stand-in):
  // profit_cp = revenue_cp − retail_cents × qty × 100, by supplier
  // nation × order year.

  private val Q9Type = "STANDARD"

  private def qProductProfit(s: SparkSession, dir: String): DataFrame = {
    val part = load(s, dir, "part").filter(col("p_type") === Q9Type)
      .select(col("p_partkey"),
        cents("p_retailprice").as("rpc"))
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        expr(RevCpExpr).as("rev_cp"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"))
    val o = load(s, dir, "orders").select(col("o_orderkey"),
      year(col("o_orderdate")).cast(LongType).as("o_year"))
    val supp = load(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = load(s, dir, "nation")
    li.join(part, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(dec38Sum(expr("rev_cp - rpc * qty * 100")).as("profit_cp"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  private val qProductProfitSql =
    s"""SELECT n_name, year(CAST(o_orderdate AS DATE)) AS o_year,
       |  CAST(SUM($RevCpSql
       |    - CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)
       |      * CAST(l_quantity AS BIGINT) * 100) AS BIGINT) AS profit_cp
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_type = '$Q9Type'
       |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin

  // ------------------------------------------------------------- q303
  // TPC-H Q10: returned item reporting — top 20 customers by revenue
  // lost to returns in one quarter.

  private val Q10Lo = "1995-10-01"
  private val Q10Hi = "1996-01-01"

  private def qReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
      .filter(expr(s"CAST(o_orderdate AS DATE) >= DATE '$Q10Lo' AND " +
        s"CAST(o_orderdate AS DATE) < DATE '$Q10Hi'"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = load(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), expr(RevCpExpr).as("rev_cp"))
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        cents("c_acctbal").as("acctbal_c"), col("c_nationkey"))
    val nat = load(s, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("acctbal_c"),
        col("n_name"))
      .agg(dec38Sum(col("rev_cp")).as("revenue_cp"))
      .orderBy(col("revenue_cp").desc, col("c_custkey"))
      .limit(20)
  }

  private val qReturnedItemsSql =
    s"""SELECT c_custkey, c_name,
       |  CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS acctbal_c,
       |  n_name, CAST(SUM($RevCpSql) AS BIGINT) AS revenue_cp
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND CAST(o_orderdate AS DATE) >= DATE '$Q10Lo'
       |  AND CAST(o_orderdate AS DATE) < DATE '$Q10Hi'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY revenue_cp DESC, c_custkey LIMIT 20""".stripMargin

  // ------------------------------------------------------------- q304
  // TPC-H Q11: important stock identification. Without partsupp the
  // per-part "value" is the shipped extended-price total from one
  // nation's suppliers; parts whose value exceeds 1/1000 of the
  // nation's total (stated as the overflow-safe integer cross-multiply
  // 1000·value > total — no division). Scalar subquery on the oracle,
  // one-row broadcast scalar here.

  private val Q11Nation = "NATION_7"

  private def qImportantParts(s: SparkSession, dir: String): DataFrame = {
    val supp = load(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = load(s, dir, "nation").filter(col("n_name") === Q11Nation)
    val li = load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        cents("l_extendedprice").as("epc"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
    val perPart = li.groupBy(col("l_partkey"))
      .agg(dec38Sum(col("epc")).as("value_c"))
    val total = perPart
      .agg(dec38Sum(col("value_c")).as("total_c"))
    // one-row broadcast scalar join (bounded by construction)
    perPart.crossJoin(broadcast(total))
      .filter(expr("CAST(value_c AS DECIMAL(38,0)) * 1000 > " +
        "CAST(total_c AS DECIMAL(38,0))"))
      .select(col("l_partkey"), col("value_c"))
      .orderBy(col("value_c").desc, col("l_partkey"))
  }

  private val qImportantPartsSql =
    s"""WITH pv AS MATERIALIZED (
       |  SELECT l_partkey, SUM(
       |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
       |    AS value_c
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name = '$Q11Nation'
       |  GROUP BY 1)
       |SELECT l_partkey, CAST(value_c AS BIGINT) AS value_c
       |FROM pv
       |WHERE value_c * 1000 > (SELECT SUM(value_c) FROM pv)
       |ORDER BY value_c DESC, l_partkey""".stripMargin

  /* Fifty-second wave (round 11): the canonical TPC-H battery, part 2 —
    * Q12, Q13, Q14, Q15, Q16, Q18, Q19, Q20 and Q22 (Q17/Q21 are
    * q292/q293). See part 1's notes above for the schema
    * adaptations and the exact-integer grid devices shared by the whole
    * battery.
    *
    * Notable adaptations in this half:
    *  - Q12's l_shipmode becomes the shipping-lateness class (LATE /
    *    ONTIME vs the order date) — the priority-vs-class matrix keeps
    *    its shape;
    *  - Q16's "customer complaints" supplier exclusion becomes the
    *    negative-account-balance suppliers, and the part-supplier
    *    relation derives from lineitem;
    *  - Q20's "excess availability" becomes the dominant-supplier
    *    predicate (shipped more than half of a part's yearly volume);
    *  - Q22's phone country code becomes the customer nation key, and
    *    "no orders" (vacuous on this data — every customer has some
    *    order) becomes no RECENT orders. */

  // ------------------------------------------------------------- q305
  // TPC-H Q12: shipping class vs order priority — for one shipping
  // year, per lateness class count the high-priority vs other orders.

  private val Q12Lo = "1997-01-01"
  private val Q12Hi = "1998-01-01"
  private val Q12LateDays = 30

  private def qShipClassPriority(s: SparkSession, dir: String)
      : DataFrame = {
    val li = load(s, dir, "lineitem")
      .filter(expr(s"CAST(l_shipdate AS DATE) >= DATE '$Q12Lo' AND " +
        s"CAST(l_shipdate AS DATE) < DATE '$Q12Hi'"))
      .select(col("l_orderkey"), expr("CAST(l_shipdate AS DATE)").as("sd"))
    val o = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(o_orderdate AS DATE)").as("od"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_class",
        when(datediff(col("sd"), col("od")) > Q12LateDays, "LATE")
          .otherwise("ONTIME"))
      .groupBy(col("ship_class"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy(col("ship_class"))
  }

  private val qShipClassPrioritySql =
    s"""SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
       |    CAST(l_shipdate AS DATE)) > $Q12LateDays
       |    THEN 'LATE' ELSE 'ONTIME' END AS ship_class,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE CAST(l_shipdate AS DATE) >= DATE '$Q12Lo'
       |  AND CAST(l_shipdate AS DATE) < DATE '$Q12Hi'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q306
  // TPC-H Q13: customer order-count distribution — LEFT join so
  // zero-order customers survive, then the histogram of counts.

  private val Q13Excl = "4-NOT SPECIFIED"

  private def qCustomerDistribution(s: SparkSession, dir: String)
      : DataFrame = {
    val cust = load(s, dir, "customer").select(col("c_custkey"))
    val o = load(s, dir, "orders")
      .filter(col("o_orderpriority") =!= Q13Excl)
      .select(col("o_orderkey"), col("o_custkey"))
    cust.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val qCustomerDistributionSql =
    s"""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
       |FROM (
       |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
       |  FROM customer
       |  LEFT JOIN orders ON c_custkey = o_custkey
       |    AND o_orderpriority <> '$Q13Excl'
       |  GROUP BY 1)
       |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ------------------------------------------------------------- q307
  // TPC-H Q14: promotion effect — promo revenue share (guarded
  // integer ppm) for one shipping month.

  private val Q14Lo = "1997-03-01"
  private val Q14Hi = "1997-04-01"

  private def qPromoEffect(s: SparkSession, dir: String): DataFrame = {
    val part = load(s, dir, "part").select(col("p_partkey"), col("p_type"))
    load(s, dir, "lineitem")
      .filter(expr(s"CAST(l_shipdate AS DATE) >= DATE '$Q14Lo' AND " +
        s"CAST(l_shipdate AS DATE) < DATE '$Q14Hi'"))
      .select(col("l_partkey"), expr(RevCpExpr).as("rev_cp"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .agg(
        dec38Sum(when(col("p_type") === "PROMO", col("rev_cp"))
          .otherwise(lit(0L))).as("promo_cp"),
        dec38Sum(col("rev_cp")).as("tot_cp"))
      .select(
        expr("CASE WHEN tot_cp IS NULL OR tot_cp = 0 THEN 0 ELSE " +
          "CAST((CAST(promo_cp AS DECIMAL(38,0)) * 1000000) div " +
          "CAST(tot_cp AS DECIMAL(38,0)) AS BIGINT) END")
          .as("promo_ppm"),
        coalesce(col("promo_cp"), lit(0L)).as("promo_cp"),
        coalesce(col("tot_cp"), lit(0L)).as("tot_cp"))
  }

  private val qPromoEffectSql =
    s"""WITH v AS (
       |  SELECT $RevCpSql AS rev_cp, p_type = 'PROMO' AS is_promo
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE CAST(l_shipdate AS DATE) >= DATE '$Q14Lo'
       |    AND CAST(l_shipdate AS DATE) < DATE '$Q14Hi'),
       |g AS (SELECT
       |  SUM(CASE WHEN is_promo THEN rev_cp ELSE 0 END) AS promo_cp,
       |  SUM(rev_cp) AS tot_cp FROM v)
       |SELECT
       |  CASE WHEN tot_cp IS NULL OR tot_cp = 0 THEN 0
       |    ELSE CAST((promo_cp * 1000000) // tot_cp AS BIGINT) END
       |    AS promo_ppm,
       |  CAST(COALESCE(promo_cp, 0) AS BIGINT) AS promo_cp,
       |  CAST(COALESCE(tot_cp, 0) AS BIGINT) AS tot_cp
       |FROM g""".stripMargin

  // ------------------------------------------------------------- q308
  // TPC-H Q15: top supplier — suppliers whose quarterly revenue equals
  // the maximum (correlated MAX on the oracle; one-row broadcast max
  // here — never a global window).

  private val Q15Lo = "1996-01-01"
  private val Q15Hi = "1996-04-01"

  private def qTopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = load(s, dir, "lineitem")
      .filter(expr(s"CAST(l_shipdate AS DATE) >= DATE '$Q15Lo' AND " +
        s"CAST(l_shipdate AS DATE) < DATE '$Q15Hi'"))
      .select(col("l_suppkey"), expr(RevCpExpr).as("rev_cp"))
      .groupBy(col("l_suppkey"))
      .agg(dec38Sum(col("rev_cp")).as("total_revenue_cp"))
    val mx = rev.agg(max(col("total_revenue_cp")).as("max_cp"))
    val supp = load(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    rev.crossJoin(broadcast(mx)) // one-row broadcast scalar
      .filter(col("total_revenue_cp") === col("max_cp"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_cp"))
      .orderBy(col("s_suppkey"))
  }

  private val qTopSupplierSql =
    s"""WITH rev AS MATERIALIZED (
       |  SELECT l_suppkey,
       |    CAST(SUM($RevCpSql) AS BIGINT) AS total_revenue_cp
       |  FROM lineitem
       |  WHERE CAST(l_shipdate AS DATE) >= DATE '$Q15Lo'
       |    AND CAST(l_shipdate AS DATE) < DATE '$Q15Hi'
       |  GROUP BY 1)
       |SELECT s_suppkey, s_name, total_revenue_cp
       |FROM supplier JOIN rev ON s_suppkey = l_suppkey
       |WHERE total_revenue_cp = (SELECT MAX(total_revenue_cp) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  // ------------------------------------------------------------- q309
  // TPC-H Q16: parts/supplier relationship — distinct suppliers per
  // (brand, type, size) over the lineitem-derived part-supplier
  // relation, excluding negative-balance suppliers (the complaints
  // stand-in), one brand, the PROMO type and a stated size set.

  private val Q16Brand = "Brand#1"
  private val Q16Sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35)

  private def qPartsSupplierCounts(s: SparkSession, dir: String)
      : DataFrame = {
    val part = load(s, dir, "part")
      .filter(col("p_brand") =!= Q16Brand && col("p_type") =!= "PROMO" &&
        col("p_size").isin(Q16Sizes.map(Integer.valueOf): _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size").cast(LongType).as("p_size"))
    val badSupp = load(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val ps = load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(badSupp, col("l_suppkey") === col("s_suppkey"),
        "left_anti")
    ps.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  private val qPartsSupplierCountsSql =
    s"""SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
       |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
       |JOIN part ON l_partkey = p_partkey
       |WHERE p_brand <> '$Q16Brand' AND p_type <> 'PROMO'
       |  AND p_size IN (${Q16Sizes.mkString(", ")})
       |  AND l_suppkey NOT IN (
       |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       |GROUP BY 1, 2, 3
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ------------------------------------------------------------- q310
  // TPC-H Q18: large-volume customers — orders whose total quantity
  // exceeds a threshold, with their customer.

  private val Q18MinQty = 250L

  private def qLargeVolumeCustomers(s: SparkSession, dir: String)
      : DataFrame = {
    val big = load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dec38Sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"))
      .filter(col("sum_qty") > Q18MinQty)
    val o = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        cents("o_totalprice").as("totalprice_c"))
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_date"), col("totalprice_c"), col("sum_qty"))
      .orderBy(col("totalprice_c").desc, col("o_orderkey"))
  }

  private val qLargeVolumeCustomersSql =
    s"""SELECT c_custkey, c_name, o_orderkey,
       |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
       |  CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
       |    AS totalprice_c,
       |  CAST(sum_qty AS BIGINT) AS sum_qty
       |FROM (
       |  SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
       |  FROM lineitem GROUP BY 1 HAVING sum_qty > $Q18MinQty) big
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY totalprice_c DESC, o_orderkey""".stripMargin

  // ------------------------------------------------------------- q311
  // TPC-H Q19: discounted revenue — the disjunctive brand/size/qty
  // predicate triple, planned as one equi-join on partkey with the
  // OR-filter above it (the decorrelated Q19 plan).

  private def qDiscountedRevenue(s: SparkSession, dir: String)
      : DataFrame = {
    val part = load(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    load(s, dir, "lineitem")
      .select(col("l_partkey"), expr("CAST(l_quantity AS BIGINT)").as("qty"),
        expr(RevCpExpr).as("rev_cp"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("qty").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("qty").between(10, 20)) ||
        (col("p_brand") === "Brand#9" && col("p_size").between(1, 15) &&
          col("qty").between(20, 30)))
      .agg(coalesce(dec38Sum(col("rev_cp")), lit(0L)).as("revenue_cp"),
        count(lit(1)).as("n_items"))
  }

  private val qDiscountedRevenueSql =
    s"""SELECT CAST(COALESCE(SUM($RevCpSql), 0) AS BIGINT) AS revenue_cp,
       |  CAST(COUNT(*) AS BIGINT) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       |    AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
       |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       |    AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
       |  OR (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 15
       |    AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)"""
      .stripMargin

  // ------------------------------------------------------------- q312
  // TPC-H Q20: potential part promotion — suppliers in one region who
  // DOMINATED some PROMO part's volume in one year (shipped more than
  // half of it): the nested part-supplier aggregate with a correlated
  // HAVING on the oracle, two keyed aggregates + a semi-join here.

  private val Q20Year = 1997
  private val Q20Region = "EUROPE"

  private def qDominantPromoSuppliers(s: SparkSession, dir: String)
      : DataFrame = {
    val promo = load(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val ps = load(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === Q20Year)
      .join(promo, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(dec38Sum(expr("CAST(l_quantity AS BIGINT)")).as("q_ps"))
    val pt = ps.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("q_ps").cast(DecimalType(38, 0))).cast(LongType)
        .as("q_p"))
    val dominant = ps.join(pt, col("l_partkey") === col("pk"))
      .filter(expr("2 * q_ps > q_p"))
      .select(col("l_suppkey")).distinct()
    val nat = load(s, dir, "nation")
    val reg = load(s, dir, "region").filter(col("r_name") === Q20Region)
    load(s, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  private val qDominantPromoSuppliersSql =
    s"""WITH ps AS MATERIALIZED (
       |  SELECT l_partkey, l_suppkey,
       |    SUM(CAST(l_quantity AS BIGINT)) AS q_ps
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_type = 'PROMO'
       |    AND year(CAST(l_shipdate AS DATE)) = $Q20Year
       |  GROUP BY 1, 2),
       |pt AS MATERIALIZED (
       |  SELECT l_partkey, SUM(q_ps) AS q_p FROM ps GROUP BY 1)
       |SELECT s_suppkey, s_name
       |FROM supplier
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = '$Q20Region'
       |  AND EXISTS (
       |    SELECT 1 FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
       |    WHERE ps.l_suppkey = s_suppkey AND 2 * ps.q_ps > pt.q_p)
       |ORDER BY s_suppkey""".stripMargin

  // ------------------------------------------------------------- q313
  // TPC-H Q22: global sales opportunity — rich customers (balance
  // above the positive-balance average, stated as the exact
  // cross-multiply bal·n > total) in a stated nation-code set with no
  // RECENT orders (anti-join; "no orders ever" is vacuous on this
  // data — every customer has at least one).

  private val Q22Codes = Seq(1L, 3L, 5L, 7L, 9L)
  private val Q22Recent = "2000-01-01"

  private def qSalesOpportunity(s: SparkSession, dir: String)
      : DataFrame = {
    val cust = load(s, dir, "customer")
      .filter(col("c_nationkey").isin(Q22Codes.map(java.lang.Long.valueOf): _*))
      .select(col("c_custkey"), col("c_nationkey").as("cntrycode"),
        cents("c_acctbal").as("bal_c"))
    val avgScalar = cust.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c").cast(DecimalType(38, 0))).as("tot_c"),
        count(lit(1)).as("n_pos"))
    val recent = load(s, dir, "orders")
      .filter(expr(s"CAST(o_orderdate AS DATE) >= DATE '$Q22Recent'"))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(avgScalar)) // one-row broadcast scalar
      // bal > avg  <=>  bal·n_pos > total (exact integers)
      .filter(expr("CAST(bal_c AS DECIMAL(38,0)) * n_pos > tot_c"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        dec38Sum(col("bal_c")).as("totacctbal_c"))
      .orderBy(col("cntrycode"))
  }

  private val qSalesOpportunitySql =
    s"""WITH cust AS MATERIALIZED (
       |  SELECT c_custkey, c_nationkey AS cntrycode,
       |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_c
       |  FROM customer
       |  WHERE c_nationkey IN (${Q22Codes.mkString(", ")})),
       |avgs AS (
       |  SELECT SUM(bal_c) AS tot_c, COUNT(*) AS n_pos
       |  FROM cust WHERE bal_c > 0)
       |SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       |  CAST(SUM(bal_c) AS BIGINT) AS totacctbal_c
       |FROM cust, avgs
       |WHERE bal_c * n_pos > tot_c
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey
       |      AND CAST(o_orderdate AS DATE) >= DATE '$Q22Recent')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q292_small_qty_revenue" -> QueryDef(qSmallQtyRevenue,
      Some(qSmallQtyRevenueSql),
      "TPC-H Q17 shape: revenue in below-20%-of-part-average quantity " +
        "lineitems; correlated scalar subqueries on the oracle, keyed " +
        "aggregate + join-back on Spark; exact cent-grid comparison"),
    "q293_sole_late_supplier" -> QueryDef(qSoleLateSupplier,
      Some(qSoleLateSupplierSql),
      "TPC-H Q21 shape: suppliers who were the sole late shipper on " +
        "multi-supplier orders; EXISTS/NOT-EXISTS on the oracle, " +
        "per-order distinct counts + semi filter on Spark"),
    "q294_cheapest_supplier" -> QueryDef(qCheapestSupplier,
      Some(qCheapestSupplierSql),
      "TPC-H Q2 shape: cheapest supplier per part by floored micro " +
        "unit price, tie to lowest suppkey; correlated MIN on the " +
        "oracle, aggregate-and-join-back on Spark"),
    "q297_tpch_q4_priority" -> QueryDef(qPriorityCheck,
      Some(qPriorityCheckSql),
      "TPC-H Q4 shape: order priority checking — EXISTS late-lineitem " +
        "decorrelated to a distinct semi-join"),
    "q298_tpch_q5_local_volume" -> QueryDef(qLocalSupplierVolume,
      Some(qLocalSupplierVolumeSql),
      "TPC-H Q5 shape: local supplier volume — 6-table star with the " +
        "customer-nation = supplier-nation colocation predicate"),
    "q299_tpch_q6_forecast" -> QueryDef(qRevenueForecast,
      Some(qRevenueForecastSql),
      "TPC-H Q6 shape: single scan-filter-agg with full predicate " +
        "pushdown, exact cent-percent revenue"),
    "q300_tpch_q7_volume_shipping" -> QueryDef(qVolumeShipping,
      Some(qVolumeShippingSql),
      "TPC-H Q7 shape: bidirectional two-nation shipping volume by year"),
    "q301_tpch_q8_market_share" -> QueryDef(qMarketShare,
      Some(qMarketShareSql),
      "TPC-H Q8 shape: national market share as guarded integer ppm"),
    "q302_tpch_q9_profit" -> QueryDef(qProductProfit,
      Some(qProductProfitSql),
      "TPC-H Q9 shape: product profit by supplier nation and year " +
        "(lineitem-derived supply cost)"),
    "q303_tpch_q10_returns" -> QueryDef(qReturnedItems,
      Some(qReturnedItemsSql),
      "TPC-H Q10 shape: top-20 customers by returned revenue"),
    "q304_tpch_q11_important_parts" -> QueryDef(qImportantParts,
      Some(qImportantPartsSql),
      "TPC-H Q11 shape: parts above a 1/1000 share of one nation's " +
        "shipped value — scalar subquery as one-row broadcast, " +
        "division-free cross-multiply"),
    "q305_tpch_q12_ship_class" -> QueryDef(qShipClassPriority,
      Some(qShipClassPrioritySql),
      "TPC-H Q12 shape: shipping-lateness class vs order priority " +
        "matrix"),
    "q306_tpch_q13_cust_dist" -> QueryDef(qCustomerDistribution,
      Some(qCustomerDistributionSql),
      "TPC-H Q13 shape: customer order-count distribution via LEFT " +
        "join (zero-order customers survive)"),
    "q307_tpch_q14_promo" -> QueryDef(qPromoEffect,
      Some(qPromoEffectSql),
      "TPC-H Q14 shape: promotion revenue share as guarded integer ppm"),
    "q308_tpch_q15_top_supplier" -> QueryDef(qTopSupplier,
      Some(qTopSupplierSql),
      "TPC-H Q15 shape: suppliers at the max quarterly revenue — " +
        "correlated MAX as one-row broadcast scalar"),
    "q309_tpch_q16_parts_suppliers" -> QueryDef(qPartsSupplierCounts,
      Some(qPartsSupplierCountsSql),
      "TPC-H Q16 shape: distinct supplier counts per brand/type/size " +
        "with NOT-IN supplier exclusion as broadcast anti-join"),
    "q310_tpch_q18_large_volume" -> QueryDef(qLargeVolumeCustomers,
      Some(qLargeVolumeCustomersSql),
      "TPC-H Q18 shape: large-volume orders (HAVING sum(qty) > " +
        "threshold) joined back to customers"),
    "q311_tpch_q19_disjunct_revenue" -> QueryDef(qDiscountedRevenue,
      Some(qDiscountedRevenueSql),
      "TPC-H Q19 shape: disjunctive brand/size/quantity predicates " +
        "over one partkey equi-join (no OR-join explosion)"),
    "q312_tpch_q20_dominant_supplier" -> QueryDef(qDominantPromoSuppliers,
      Some(qDominantPromoSuppliersSql),
      "TPC-H Q20 shape: nested part-supplier aggregate with " +
        "correlated HAVING, decorrelated to two keyed aggs + semi-join"),
    "q313_tpch_q22_sales_opportunity" -> QueryDef(qSalesOpportunity,
      Some(qSalesOpportunitySql),
      "TPC-H Q22 shape: above-average balances (exact cross-multiply) " +
        "in a code set with no recent orders (anti-join)"))
}
