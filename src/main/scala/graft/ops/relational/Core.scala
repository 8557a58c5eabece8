package graft.ops
package relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, StructField, StructType}
import graft.{QueryDef, Tables}
import Tables.{dsum, load}

/** The core relational battery: aggregation, joins, windows, set
  * operations, top-k and scalar functions. */
object Core {

  /* Relational surface of the engine: aggregation, joins (broadcast /
    * shuffle / semi / anti / as-of), windows, rollup, set ops, top-k, scalar
    * functions — the operator classes SURVEY.md §2.3–2.9 requires, exercised
    * over the driver's TPC-H-ish tables.
    *
    * Scale notes (100 TB design):
    *  - CONSTANT-size dims (region = 5 rows, nation = 25 at any SF) carry an
    *    explicit `broadcast()` hint — no shuffle of the fact, ever;
    *  - LINEARLY-GROWING dims (customer/supplier/part) carry NO hint: AQE's
    *    runtime size check broadcasts them while they fit and falls back to
    *    shuffle when they don't — a forced hint is a latent OOM at scale;
    *  - fact-fact joins (orders⋈lineitem) are plain equi-joins on the
    *    natural key so Catalyst/AQE pick shuffle-hash or sort-merge and can
    *    re-plan on skew at runtime;
    *  - every aggregate is expressed declaratively → map-side partial
    *    aggregation for free;
    *  - filters precede joins so they reach the parquet scan (pushdown).
    */

  /** TPC-H Q1-shaped pricing summary (A-class aggregation, F-class
    * predicate pushdown). Ref behavior class: SURVEY §2.5 A2/A3. */
  private def q01(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6)
          .as("sum_disc_price"),
        (sum(col("l_discount").cast(DecimalType(18, 6))).cast(DoubleType) /
          count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-shaped: dim ⋈ two facts, agg, top-k. No broadcast HINT on
    * customer: it grows linearly with SF (150k rows/SF), so a forced
    * hint that is harmless at sf0.1 becomes a driver/executor OOM at
    * true scale. AQE's runtime size check broadcasts it exactly while
    * it actually fits (`spark.sql.adaptive.autoBroadcastJoinThreshold`)
    * and shuffles it when it doesn't — the decision belongs to the
    * engine, not the query.
    *
    * JOIN ORDER is the one decision Spark does NOT make (no CBO, joins
    * execute in declaration order), so it follows the q318 Selinger
    * rule statically (round-13 verdict ask #5; the dims' filters are
    * string/date-typed, outside the integer-histogram device — the
    * selectivity arithmetic is done here once): customer's segment
    * filter keeps ~1/5 of customers while orders' date filter keeps
    * ~97%, so orders ⋈ customer runs FIRST — the fact stream then
    * joins one ~5×-smaller build side instead of nearly-all-of-orders
    * followed by a second full-width exchange of the joined fact (at
    * 100 TB the old order's second shuffle carried ~38% of lineitem;
    * this one carries it once). Inner joins commute: results are
    * bit-identical, oracle unchanged. */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val cust = load(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = load(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = load(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1996-03-15").cast("timestamp"))
    li.join(ord.join(cust, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private val q03Sql =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5-shaped: 6-way star join. Broadcast HINTS only on the
    * genuinely constant dims (region = 5 rows, nation = 25 rows at any
    * SF); customer/supplier grow with SF, so their join strategy is
    * AQE's size-based call — forced hints on linearly-growing tables
    * are a latent OOM at 100-TB scale. */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val region = load(s, dir, "region")
    val nation = load(s, dir, "nation")
    val cust = load(s, dir, "customer")
    val supp = load(s, dir, "supplier")
    val ord = load(s, dir, "orders")
    val li = load(s, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q05Sql =
    """SELECT r_name, n_name,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** ROLLUP hierarchy totals (grouping-sets class, SURVEY §2.5 A6). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("qty"))
      .orderBy(col("rflag"), col("lstatus"))

  private val qRollupSql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
      |       COALESCE(l_linestatus, 'ALL') AS lstatus,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY rflag, lstatus""".stripMargin

  /** Ranking + frames + lag (SURVEY §2.6 window class). */
  private def qWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    load(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rnk"),
        lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("running_total"))
      .filter(col("rnk") <= 3)
      .orderBy(col("o_custkey"), col("rnk"))
  }

  private val qWindowSql =
    """SELECT o_custkey, o_orderkey, rnk, prev_orderkey, running_total FROM (
      |  SELECT o_custkey, o_orderkey,
      |   ROW_NUMBER() OVER w AS rnk,
      |   LAG(o_orderkey, 1) OVER w AS prev_orderkey,
      |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |        OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |) t WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin

  /** Set operations: intersect / union / except (SURVEY §2.8). */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val cust = load(s, dir, "customer")
    val ord = load(s, dir, "orders")
    val a = cust.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val b = ord.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    val cN = cust.filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("custkey"))
    val d = ord.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    a.intersect(b).union(cN).distinct().except(d).orderBy(col("custkey"))
  }

  private val qSetOpsSql =
    """SELECT custkey FROM (
      |  SELECT custkey FROM (
      |    (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |     INTERSECT
      |     SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
      |    UNION
      |    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
      |  ) u
      |  EXCEPT
      |  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |) t ORDER BY custkey""".stripMargin

  /** Left-semi (EXISTS) + left-anti (NOT EXISTS) joins. */
  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = load(s, dir, "customer")
    val ord = load(s, dir, "orders")
    val open = ord.filter(col("o_orderstatus") === "P")
      .select(col("o_custkey"))
    val semi = cust.join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_open").as("tag"))
    val anti = cust.join(ord.select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("tag"))
    semi.unionAll(anti).orderBy(col("c_custkey"), col("tag"))
  }

  private val qSemiAntiSql =
    """SELECT c_custkey, tag FROM (
      |  SELECT c_custkey, 'has_open' AS tag FROM customer
      |   WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |  UNION ALL
      |  SELECT c_custkey, 'no_orders' AS tag FROM customer
      |   WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |) t ORDER BY c_custkey, tag""".stripMargin

  /** Top-k by aggregate (orderBy.limit → TakeOrderedAndProject). `part`
    * grows with SF → no broadcast hint; AQE size-decides (see q03/q05). */
  private def qTopK(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .join(load(s, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_brand"))
      .agg(dsum(col("l_extendedprice")).as("total"),
        dsum(col("l_quantity")).as("qty"))
      .orderBy(col("total").desc, col("p_partkey"))
      .limit(15)

  private val qTopKSql =
    """SELECT p_partkey, p_brand,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_partkey, p_brand
      |ORDER BY total DESC, p_partkey LIMIT 15""".stripMargin

  /** As-of join: each purchase event paired with the user's most recent
    * signup at-or-before it. Implemented without a pairwise join — a single
    * ordered window pass (last ignoreNulls), which is the scalable plan:
    * one shuffle on user_id, no O(n²) candidate pairs. */
  private def qAsOf(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "events")
      .withColumn("last_signup_ts",
        last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("last_signup_ts"))
      .orderBy(col("event_id"))
  }

  private val qAsOfSql =
    """SELECT event_id, user_id, ts, last_signup_ts FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |   LAST_VALUE(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
      |     OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
      |  FROM events
      |) t WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  /** Scalar function battery: string / date / hash / path normalization
    * (SURVEY §2.9 C1–C11). */
  private def qScalar(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
      .select(
        col("o_orderkey"),
        concat_ws(":", lit("ns"), col("o_orderkey").cast("string"),
          col("o_orderstatus")).as("synth_id"),
        year(col("o_orderdate")).cast(LongType).as("yr"),
        quarter(col("o_orderdate")).cast(LongType).as("qtr"),
        date_trunc("month", col("o_orderdate")).as("mon"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast(LongType).as("days_since"),
        upper(col("o_orderpriority")).as("pri_upper"),
        substring(col("o_orderpriority"), 1, 1).as("pri_code"),
        regexp_replace(
          concat(lit("/data//x/"), col("o_orderstatus"), lit("//f.parquet")),
          "/+", "/").as("norm_path"),
        md5(col("o_orderstatus")).as("status_md5"),
        length(col("o_orderpriority")).cast(LongType).as("pri_len"))
      .orderBy(col("o_orderkey"))

  private val qScalarSql =
    """SELECT o_orderkey,
      | concat_ws(':', 'ns', CAST(o_orderkey AS VARCHAR), o_orderstatus) AS synth_id,
      | CAST(year(o_orderdate) AS BIGINT) AS yr,
      | CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      | date_trunc('month', o_orderdate) AS mon,
      | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
      | upper(o_orderpriority) AS pri_upper,
      | substring(o_orderpriority, 1, 1) AS pri_code,
      | regexp_replace('/data//x/' || o_orderstatus || '//f.parquet', '/+', '/', 'g') AS norm_path,
      | md5(o_orderstatus) AS status_md5,
      | CAST(length(o_orderpriority) AS BIGINT) AS pri_len
      |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin

  /** q51: point-in-interval RANGE join via equi-bucketing
    * (SURVEY §2.4's interval-join row — the naive BETWEEN theta join is
    * a nested loop at scale; see [[graft.util.RangeJoin]]). Synthetic
    * intervals [o_orderkey·100, o_orderkey·100+249] against event-id
    * points; the oracle runs the plain BETWEEN join — the bucketed
    * equi form must be result-identical. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val points = load(s, dir, "events")
      .select(col("event_id"), col("user_id"))
    val intervals = load(s, dir, "orders")
      .select(col("o_orderkey"),
        (col("o_orderkey") * 100).as("lo"),
        (col("o_orderkey") * 100 + 249).as("hi"))
    graft.util.RangeJoin
      .pointInInterval(points, "event_id", intervals, "lo", "hi",
        bucketWidth = 256L)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_points"),
        min(col("event_id")).as("first_point"),
        max(col("event_id")).as("last_point"))
      .orderBy(col("o_orderkey"))
  }

  private val qRangeJoinSql =
    """SELECT o.o_orderkey, COUNT(*) AS n_points,
      | min(e.event_id) AS first_point, max(e.event_id) AS last_point
      |FROM orders o JOIN events e
      |  ON e.event_id BETWEEN o.o_orderkey * 100 AND o.o_orderkey * 100 + 249
      |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin

  /** q75: outer-join surface — customers with no orders and (synthetic)
    * order keys with no customer must both survive, so the gate pins
    * null-extension semantics on BOTH sides. Spark plans a single
    * shuffled full-outer hash join; the per-side aggregates make
    * missing rows visible in the hashed output. */
  private def qOuterJoins(s: SparkSession, dir: String): DataFrame = {
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val ord = load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "full_outer")
      .groupBy(coalesce(col("c_mktsegment"), lit("_nokey")).as("segment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_no_orders"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_no_customer"),
        dsumOf(col("spend")).as("segment_spend"))
      .orderBy(col("segment"))
  }

  /** Exact decimal re-sum of an already-decimal-summed double column. */
  private def dsumOf(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      .cast(org.apache.spark.sql.types.DoubleType)

  private val qOuterJoinsSql =
    """WITH o AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT COALESCE(c.c_mktsegment, '_nokey') AS segment,
      | COUNT(*) AS n_rows,
      | CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_no_orders,
      | CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_no_customer,
      | CAST(SUM(CAST(o.spend AS DECIMAL(18,2))) AS DOUBLE) AS segment_spend
      |FROM customer c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
      |GROUP BY 1 ORDER BY segment""".stripMargin

  /** q76: pivot — order counts and exact spend per priority, one output
    * column group per order status (Spark's relational pivot; the
    * oracle restates it as conditional aggregation, which is also
    * exactly what Catalyst lowers pivot to: one scan, one agg, no
    * join). */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("spend"))
      .na.fill(0L, Seq("F_n", "O_n", "P_n"))
      .orderBy(col("o_orderpriority"))

  private val qPivotSql =
    """SELECT o_orderpriority,
      | CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F_n,
      | CAST(SUM(CASE WHEN o_orderstatus = 'F'
      |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F_spend,
      | CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O_n,
      | CAST(SUM(CASE WHEN o_orderstatus = 'O'
      |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O_spend,
      | CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P_n,
      | CAST(SUM(CASE WHEN o_orderstatus = 'P'
      |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P_spend
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /* Coverage extensions: distinct/cube aggregates (A6), JSON field
    * extraction (C6), event-time tumbling windows (T8), and the multimodal
    * decode path made oracle-checkable by deriving the binary payloads
    * deterministically from source columns (the oracle recomputes the
    * expected metadata straight from those columns — an independent path
    * that cross-validates the binary encode→decode round trip).
    */

  /** A6: distinct + multi-dimensional cube with exact count distinct. */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_custs"),
        dsum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("n_custs"), col("total"))
      .orderBy(col("status"), col("priority"))

  private val qCubeSql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COUNT(*) AS n,
      |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** C6: JSON payload parse (from_json) + aggregation on the extracted
    * field — the reference's tolerant per-line JSON parse shape. */
  private def qJson(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"))
      .orderBy(col("k_mod"))

  private val qJsonSql =
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
      | COUNT(*) AS n, max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin

  /** T8: event-time tumbling window aggregation (the batch shape of the
    * streaming `groupBy(window(...))` query). */
  private def qTumbling(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  private val qTumblingSql =
    """SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start, event_type,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Skew-mitigation pattern: two-stage salted aggregation over the
    * maximally-skewed key (3 return flags over the whole lineitem).
    * The oracle is the plain GROUP BY — salting must be result-
    * invariant; what changes is the shuffle shape (nSalts balanced
    * reducers instead of one hot one per key). */
  private def qSalted(s: SparkSession, dir: String): DataFrame =
    graft.util.Salting.saltedSum(
      load(s, dir, "lineitem"),
      groupKeys = Seq(col("l_returnflag")),
      spread = col("l_orderkey"),
      sumExpr = col("l_quantity").cast(DecimalType(18, 2)),
      resultName = "sum_qty_dec", nSalts = 16)
      .select(col("l_returnflag"),
        col("sum_qty_dec").cast(DoubleType).as("sum_qty"), col("n_rows"))
      .orderBy(col("l_returnflag"))

  private val qSaltedSql =
    """SELECT l_returnflag,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q77: STREAMING top-k maintenance — the custom top-k operator
    * ([[graft.plans.TopK]]) kept current under continuous ingestion.
    * Each micro-batch folds its new documents into the retained top-k
    * table: state(id) = topk(state(id−1) ∪ batch), written to a
    * batch=<id> version dir so a replayed batch recomputes exactly the
    * same version from the same inputs (idempotent under retry, same
    * device as q72). State size is groups × k rows — constant, and the
    * per-batch fold costs |batch| + |state|, never corpus size.
    * Convergence gate: the final version equals the batch q66 answer
    * (window-rank oracle) — streaming == batch for the custom plan. */
  private def qStreamTopK(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("n_chars", LongType)))
    val result = graft.streaming.StreamScratch.withScratch("graft_stopk_") { tmp =>
      val staged = load(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("source"), col("lang"),
          col("n_chars"))).as("value"))
      // final maintained version lives in scratch — one distributed
      // persist into GateOut, never a driver collect
      graft.streaming.GateOut.persist(
        graft.streaming.VersionedMaintenance.run(tmp, staged, schema) {
          (prev, batch) =>
            val base = prev
              .map(_.select(schema.fieldNames.map(col).toSeq: _*))
              .getOrElse(batch.limit(0))
            graft.plans.TopK.perGroup(base.unionByName(batch),
              Seq(col("source")),
              Seq(col("n_chars").desc, col("doc_id").asc), 3)
        }
          .filter(col("source") =!= "src19")
          .select(col("source"), col("doc_id"), col("lang"), col("n_chars")))
    }
    result.orderBy(col("source"), col("doc_id"))
  }

  /** Top-k per group through the custom whole-operator plan
    * ([[graft.plans.TopKPerGroup]]): longest 3 documents per source,
    * tie-broken on doc_id so the result set is deterministic. The
    * post-top-k `source <> 'src19'` filter is deliberately placed ABOVE
    * the operator: the PushFilterThroughTopK rule must carry it below
    * (and from there into the scan) — TopKPlanSpec asserts the plan
    * shape, this gate asserts the semantics against the window-rank
    * formulation DuckDB runs. */
  private def qTopKGroups(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perGroup(
        load(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("lang"), col("n_chars")),
        Seq(col("source")),
        Seq(col("n_chars").desc, col("doc_id").asc), 3)
      .filter(col("source") =!= "src19")
      .orderBy(col("source"), col("doc_id"))

  private val qTopKGroupsSql =
    """SELECT source, doc_id, lang, n_chars FROM (
      |  SELECT source, doc_id, lang, n_chars,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents WHERE source <> 'src19') t
      |WHERE rn <= 3 ORDER BY source, doc_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q01_pricing_summary" -> QueryDef(q01, Some(q01Sql),
      "agg+pushdown (SURVEY A2/A3, F-class)"),
    "q03_top_revenue_orders" -> QueryDef(q03, Some(q03Sql),
      "broadcast dim join + fact join + topk"),
    "q05_star_join" -> QueryDef(q05, Some(q05Sql),
      "multi-way star join, dims broadcast"),
    "q06_rollup" -> QueryDef(qRollup, Some(qRollupSql), "rollup/grouping sets"),
    "q07_window_rank" -> QueryDef(qWindow, Some(qWindowSql),
      "row_number/lag/frames (W-class)"),
    "q08_set_ops" -> QueryDef(qSetOps, Some(qSetOpsSql),
      "intersect/union/except"),
    "q09_semi_anti_join" -> QueryDef(qSemiAnti, Some(qSemiAntiSql),
      "left_semi+left_anti"),
    "q10_topk_parts" -> QueryDef(qTopK, Some(qTopKSql),
      "TakeOrderedAndProject top-k"),
    "q11_asof_join" -> QueryDef(qAsOf, Some(qAsOfSql),
      "as-of join via ordered window (no pairwise join)"),
    "q12_scalar_functions" -> QueryDef(qScalar, Some(qScalarSql),
      "scalar string/date/hash battery (C-class)"),
    "q13_cube_distinct" -> QueryDef(qCube, Some(qCubeSql),
      "A6 cube/grouping-sets + exact count distinct"),
    "q15_json_extract" -> QueryDef(qJson, Some(qJsonSql),
      "C6 tolerant JSON parse + extraction"),
    "q17_salted_agg" -> QueryDef(qSalted, Some(qSaltedSql),
      "skew mitigation: two-stage salted agg, result-invariant"),
    "q29_tumbling_window" -> QueryDef(qTumbling, Some(qTumblingSql),
      "T8 event-time tumbling window agg"),
    "q51_range_join" -> QueryDef(qRangeJoin, Some(qRangeJoinSql),
      "point-in-interval range join via equi-bucketing (no nested loop)"),
    "q66_topk_per_group" -> QueryDef(qTopKGroups, Some(qTopKGroupsSql),
      "custom LogicalPlan+Strategy top-k-per-group (bounded heaps, no sort)"),
    "q75_outer_joins" -> QueryDef(qOuterJoins, Some(qOuterJoinsSql),
      "full-outer join with both-side null extension pinned"),
    "q76_pivot" -> QueryDef(qPivot, Some(qPivotSql),
      "relational pivot == conditional aggregation (one scan, no join)"),
    "q77_stream_topk" -> QueryDef(qStreamTopK, Some(qTopKGroupsSql),
      "streaming top-k maintenance via the custom plan == batch q66"))
}
