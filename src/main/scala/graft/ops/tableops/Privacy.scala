package graft.ops
package tableops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load

/** Privacy: erasure cascades, differential privacy, k-anonymity and
  * t-closeness. */
object Privacy {

  // --------------------------------------------------------------- q132

  /** q132: GDPR ERASURE CASCADE — the referential fan-out a CDC
    * consumer must answer for a deletion request: for a deterministic
    * request set of customers, the rows each table loses. One semi-join
    * chain customer → orders → lineitem, each equi-keyed on the child's
    * foreign key; counts and key checksums per table so the cascade is
    * auditable, not just counted. Scale shape: the request set scales
    * with the table, so no broadcast hint — AQE size-decides; all three
    * audit rows come from one union plan (single job, shared subplans
    * eligible for exchange reuse). */
  private def qGdprCascade(s: SparkSession, dir: String): DataFrame = {
    val reqs = load(s, dir, "customer")
      .filter(col("c_custkey") % 1000 === 7)
      .select(col("c_custkey"))
    val orders = load(s, dir, "orders")
      .join(reqs, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"))
    val lines = load(s, dir, "lineitem")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"))
    // ONE union plan, no driver-side collects: the three audit rows are
    // a single job (and the shared orders subplan is eligible for
    // Spark's exchange reuse instead of being re-executed per action)
    def audit(df: DataFrame, table: String, checksum: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).cast(LongType).as("n_rows_erased"),
          coalesce(sum(checksum), lit(0L)).cast(LongType).as("key_checksum"))
        .select(lit(table).as("table_name"), col("n_rows_erased"),
          col("key_checksum"))
    audit(reqs, "customer", col("c_custkey"))
      .unionAll(audit(orders, "orders", col("o_orderkey")))
      .unionAll(audit(lines, "lineitem",
        col("l_orderkey") * 10 + col("l_linenumber")))
      .orderBy(col("table_name"))
  }

  private val qGdprCascadeSql =
    """WITH reqs AS (SELECT c_custkey FROM customer
      |             WHERE c_custkey % 1000 = 7),
      |o AS (SELECT o_orderkey FROM orders
      |      WHERE o_custkey IN (SELECT c_custkey FROM reqs)),
      |l AS (SELECT l_orderkey, l_linenumber FROM lineitem
      |      WHERE l_orderkey IN (SELECT o_orderkey FROM o))
      |SELECT * FROM (
      |  SELECT 'customer' AS table_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows_erased,
      |    CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS key_checksum
      |  FROM reqs
      |  UNION ALL
      |  SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(l_orderkey * 10 + l_linenumber), 0) AS BIGINT)
      |  FROM l
      |  UNION ALL
      |  SELECT 'orders', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT)
      |  FROM o)
      |ORDER BY table_name""".stripMargin

  // ------------------------------------------------------------- q138

  /** ε = ln 2 truncated geometric mechanism. The inverse CDF is
    * precomputed HERE, once, with exact BigInt rationals, and embedded
    * as 16-hex-digit literals in BOTH plans — so the per-group noise
    * draw is a lexicographic CASE chain over the md5-derived uniform
    * (lowercase-hex compare == numeric compare, the q68 device), with
    * zero cross-engine float arithmetic anywhere.
    *
    * With α = e^-ε = 1/2 the two-sided geometric has
    * P(Z ≤ -m) = α^m/(1+α) = 2^(1-m)/3 and
    * P(Z ≤ k)  = 1 − 2^-k/3 (k ≥ 0); both are exact rationals, so the
    * 2^64-grid thresholds below are floor-exact, not float-rounded.
    * Truncation at ±[[DpTrunc]] is part of the released mechanism
    * (the truncated-geometric variant), not an approximation knob.
    *
    * Scale shape: one hash aggregate over (event_type, day); the noise
    * is a map-side scalar on the group key. Nothing else moves. */
  private val DpTrunc = 16

  /** Thresholds T(k)·2^64 for k = -DpTrunc .. DpTrunc-1 as hex; the
    * draw is the smallest k with u16 < T(k), else +DpTrunc. */
  private def dpThresholds: Seq[(Int, String)] = {
    val two64 = BigInt(1) << 64
    def thr(k: Int): BigInt =
      if (k < 0) (BigInt(1) << (65 + k)) / 3 // 2^(1-m)/3 · 2^64, m = -k
      else two64 - (two64 >> k) / 3 - (if (((two64 >> k) % 3) != 0) BigInt(1) else BigInt(0))
    (-DpTrunc until DpTrunc).map(k => k -> f"${thr(k)}%016x")
  }

  private def qDpHistogram(s: SparkSession, dir: String): DataFrame = {
    val noise = dpThresholds.foldRight(lit(DpTrunc)) { case ((k, t), el) =>
      when(col("u16") < lit(t), lit(k)).otherwise(el)
    }
    load(s, dir, "events")
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("true_n"))
      .withColumn("u16",
        substring(md5(concat(lit("dp:"), col("event_type"), lit("|"), col("day"))), 1, 16))
      .withColumn("noisy_count",
        greatest(lit(0L), col("true_n") + noise.cast("long")))
      .select(col("event_type"), col("day"), col("noisy_count"))
      .orderBy(col("event_type"), col("day"))
  }

  private val qDpHistogramSql = {
    val cases = dpThresholds
      .map { case (k, t) => s"WHEN u16 < '$t' THEN $k" }
      .mkString("\n    ")
    s"""WITH g AS (
       |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       |    CAST(COUNT(*) AS BIGINT) AS true_n
       |  FROM events GROUP BY 1, 2),
       |u AS (SELECT event_type, day, true_n,
       |        substring(md5('dp:' || event_type || '|' || day), 1, 16) AS u16
       |      FROM g),
       |z AS (SELECT event_type, day, true_n, CAST(CASE
       |    $cases
       |    ELSE $DpTrunc END AS BIGINT) AS noise FROM u)
       |SELECT event_type, day,
       |  GREATEST(CAST(0 AS BIGINT), true_n + noise) AS noisy_count
       |FROM z ORDER BY event_type, day""".stripMargin
  }

  // ------------------------------------------------------------- q146

  /** q146: K-ANONYMITY / L-DIVERSITY AUDIT. Quasi-identifier =
    * (mktsegment, nation, account-balance band); sensitive attribute =
    * the customer's order priorities. A QI group is k-anonymous when it
    * hides each member among >= 5 look-alikes, l-diverse when the
    * sensitive values seen in the group take >= 3 distinct values
    * (Sweeney 2002; Machanavajjhala et al. 2007). Balance bands are
    * exact integer cents (DECIMAL(18,2) -> cents, +10^7 offset so the
    * truncating integer division is floor for every real balance) —
    * zero float bucketing.
    *
    * Scale shape: one distinct on (custkey, priority) bounds the order
    * fan-out to <=5 rows per customer, one equi-join on custkey, one
    * hash aggregate on the QI key. Nothing broadcasts or collects. */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val qi = load(s, dir, "customer").select(
      col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
      expr("(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "+ 10000000) div 100000").as("bal_bucket"))
    val op = load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority")).distinct()
    qi.join(op, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"))
      .agg(
        countDistinct(col("c_custkey")).as("n_members"),
        countDistinct(col("o_orderpriority")).as("l_distinct"))
      .withColumn("k_ok", (col("n_members") >= 5).cast("int"))
      .withColumn("l_ok", (col("l_distinct") >= 3).cast("int"))
      .orderBy(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"))
  }

  private val qKAnonymitySql =
    """WITH qi AS (
      |  SELECT c_custkey, c_mktsegment, c_nationkey,
      |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |     + 10000000) // 100000 AS bal_bucket
      |  FROM customer),
      |op AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
      |SELECT c_mktsegment, c_nationkey, bal_bucket,
      |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_members,
      |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l_distinct,
      |  CAST(CASE WHEN COUNT(DISTINCT c_custkey) >= 5 THEN 1 ELSE 0 END
      |       AS INT) AS k_ok,
      |  CAST(CASE WHEN COUNT(DISTINCT o_orderpriority) >= 3 THEN 1 ELSE 0
      |       END AS INT) AS l_ok
      |FROM qi LEFT JOIN op ON o_custkey = c_custkey
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------- q216

  /** q216: T-CLOSENESS AUDIT — the distributional upgrade of q146's
    * k-anonymity/l-diversity: per quasi-identifier group (market
    * segment × nation) the earth-mover distance between the group's
    * order-priority distribution and the global one. Priorities are
    * ordinal with unit spacing, so 1-D EMD = Σ_k |cumP_k − cumQ_k| in
    * exact ppm; the audit flags groups with EMD > 0.2 (the classic
    * t = 0.2 bar) — groups whose sensitive-attribute shape leaks.
    *
    * Scale shape: one fact groupBy(group, priority); cumulative
    * algebra runs on the ≤(groups × 5) table against a 5-row global
    * broadcast. */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    val ords = load(s, dir, "orders")
      .join(load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"),
          col("c_nationkey")), "o_custkey")
      .select(col("c_mktsegment"), col("c_nationkey"),
        col("o_orderpriority"))
    val cells = ords.groupBy(col("c_mktsegment"), col("c_nationkey"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n_grp", sum(col("c")).over(Window.partitionBy(
        col("c_mktsegment"), col("c_nationkey"))))
    val global = ords.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("gc"))
      .withColumn("n_all", sum(col("gc")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    // complete each group against the 5-priority alphabet so absent
    // priorities contribute their full global mass to the EMD
    val spine = cells.select(col("c_mktsegment"), col("c_nationkey"),
        col("n_grp")).distinct()
      .crossJoin(broadcast(global))
    val wCum = Window.partitionBy(col("c_mktsegment"), col("c_nationkey"))
      .orderBy(col("o_orderpriority"))
    spine.join(cells, Seq("c_mktsegment", "c_nationkey",
        "o_orderpriority", "n_grp"), "left")
      .withColumn("p_ppm", expr(
        "coalesce(c, 0L) * 1000000 div n_grp"))
      .withColumn("q_ppm", expr("gc * 1000000 div n_all"))
      .withColumn("cum_gap",
        abs(sum(col("p_ppm") - col("q_ppm")).over(wCum)))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(max(col("n_grp")).as("n_orders"),
        sum(col("cum_gap")).as("emd_ppm"))
      .withColumn("t_ok", (col("emd_ppm") <= 200000L).cast("int"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("n_orders"),
        col("emd_ppm"), col("t_ok"))
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  private val qTClosenessSql =
    """WITH ords AS (
      |  SELECT c_mktsegment, c_nationkey, o_orderpriority
      |  FROM orders JOIN customer ON c_custkey = o_custkey),
      |cells AS (
      |  SELECT c_mktsegment, c_nationkey, o_orderpriority,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM ords GROUP BY 1, 2, 3),
      |grp AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    CAST(SUM(c) AS BIGINT) AS n_grp
      |  FROM cells GROUP BY 1, 2),
      |global AS (
      |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS gc,
      |    CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_all
      |  FROM ords GROUP BY 1),
      |full_cells AS (
      |  SELECT g.c_mktsegment, g.c_nationkey, g.n_grp,
      |    gl.o_orderpriority,
      |    COALESCE(c.c, 0) * 1000000 // g.n_grp AS p_ppm,
      |    gl.gc * 1000000 // gl.n_all AS q_ppm
      |  FROM grp g CROSS JOIN global gl
      |  LEFT JOIN cells c ON c.c_mktsegment = g.c_mktsegment
      |    AND c.c_nationkey = g.c_nationkey
      |    AND c.o_orderpriority = gl.o_orderpriority),
      |cum AS (
      |  SELECT c_mktsegment, c_nationkey, n_grp,
      |    abs(SUM(p_ppm - q_ppm) OVER (
      |      PARTITION BY c_mktsegment, c_nationkey
      |      ORDER BY o_orderpriority)) AS cum_gap
      |  FROM full_cells)
      |SELECT c_mktsegment, c_nationkey,
      |  CAST(MAX(n_grp) AS BIGINT) AS n_orders,
      |  CAST(SUM(cum_gap) AS BIGINT) AS emd_ppm,
      |  CAST(CASE WHEN SUM(cum_gap) <= 200000 THEN 1 ELSE 0 END AS INT)
      |    AS t_ok
      |FROM cum GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------- q249

  private val AnonK = 10L

  /** q249: k-anonymity GENERALIZATION LADDER in one scan. Level 0
    * (priority, year, month) → 1 (priority, year, quarter) → 2
    * (priority, year) → 3 (year): GROUPING SETS computes all four QI
    * grids in one aggregate; each level then folds to group count,
    * smallest/largest group, and whether min ≥ k; `chosen` marks the
    * first (least-generalized) level that satisfies k — the level a
    * release pipeline would publish at. The final fold runs on ≤4
    * rows. */
  private def qGeneralizationLadder(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val o = load(s, dir, "orders").select(
      col("o_orderpriority").as("prio"),
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"),
      quarter(col("o_orderdate")).as("qt"))
    val grids = o.groupingSets(
        Seq(Seq(col("prio"), col("yr"), col("mo")),
          Seq(col("prio"), col("yr"), col("qt")),
          Seq(col("prio"), col("yr")),
          Seq(col("yr"))),
        col("prio"), col("yr"), col("mo"), col("qt"))
      .agg(grouping_id().cast(LongType).as("gid"),
        count(lit(1)).as("n"))
    // gid over (prio, yr, mo, qt): bit 8=prio, 4=yr, 2=mo, 1=qt
    val perLevel = grids.withColumn("level", expr(
        "CASE gid WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 2 ELSE 3 END"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_groups"), min(col("n")).as("min_group"),
        max(col("n")).as("max_group"))
    val levels = (0L until 4L).toDF("level")
      .join(perLevel, Seq("level"), "left")
      .select(col("level"), coalesce(col("n_groups"), lit(0L))
          .as("n_groups"),
        coalesce(col("min_group"), lit(0L)).as("min_group"),
        coalesce(col("max_group"), lit(0L)).as("max_group"))
      .withColumn("meets_k",
        col("n_groups") > 0L && col("min_group") >= AnonK)
    // 4-row fold: the least-generalized passing level wins
    val best = levels.filter(col("meets_k"))
      .agg(min(col("level")).as("best_level"))
    levels.crossJoin(broadcast(best)) // one-row scalar
      .withColumn("chosen", col("best_level").isNotNull &&
        col("level") === col("best_level"))
      .select(col("level"), col("n_groups"), col("min_group"),
        col("max_group"), col("meets_k"), col("chosen"))
      .orderBy(col("level"))
  }

  private val qGeneralizationLadderSql =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS prio,
       |    CAST(year(o_orderdate) AS INTEGER) AS yr,
       |    CAST(month(o_orderdate) AS INTEGER) AS mo,
       |    CAST(quarter(o_orderdate) AS INTEGER) AS qt
       |  FROM orders),
       |grids AS (
       |  SELECT CAST(GROUPING(prio, yr, mo, qt) AS BIGINT) AS gid,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM o GROUP BY GROUPING SETS
       |    ((prio, yr, mo), (prio, yr, qt), (prio, yr), (yr))),
       |per_level AS (
       |  SELECT CASE gid WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 2
       |      ELSE 3 END AS level,
       |    CAST(COUNT(*) AS BIGINT) AS n_groups,
       |    CAST(MIN(n) AS BIGINT) AS min_group,
       |    CAST(MAX(n) AS BIGINT) AS max_group
       |  FROM grids GROUP BY 1),
       |levels AS (
       |  SELECT u.level, COALESCE(n_groups, 0) AS n_groups,
       |    COALESCE(min_group, 0) AS min_group,
       |    COALESCE(max_group, 0) AS max_group,
       |    COALESCE(n_groups, 0) > 0 AND COALESCE(min_group, 0) >= $AnonK
       |      AS meets_k
       |  FROM (SELECT unnest(range(0, 4)) AS level) u
       |  LEFT JOIN per_level ON per_level.level = u.level),
       |best AS (
       |  SELECT MIN(level) AS best_level FROM levels WHERE meets_k)
       |SELECT levels.level, n_groups, min_group, max_group, meets_k,
       |  best_level IS NOT NULL AND levels.level = best_level AS chosen
       |FROM levels, best
       |ORDER BY levels.level""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q132_gdpr_cascade" -> QueryDef(qGdprCascade, Some(qGdprCascadeSql),
      "GDPR erasure cascade: semi-join fan-out with per-table audit sums"),
    "q138_dp_histogram" -> QueryDef(qDpHistogram, Some(qDpHistogramSql),
      "DP histogram release: truncated geometric mechanism, " +
        "exact-rational inverse-CDF thresholds"),
    "q146_k_anonymity" -> QueryDef(qKAnonymity, Some(qKAnonymitySql),
      "k-anonymity / l-diversity audit over QI groups, integer cents bands"),
    "q216_t_closeness" -> QueryDef(qTCloseness, Some(qTClosenessSql),
      "t-closeness audit: 1-D EMD between group and global ordinal distributions, alphabet-completed"),
    "q249_generalization_ladder" -> QueryDef(qGeneralizationLadder,
      Some(qGeneralizationLadderSql),
      "k-anonymity generalization ladder in one GROUPING SETS scan"))
}
