package graft.ops
package stats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.{QueryDef, Tables}
import Tables.load

/** Experiment analysis: lifts, treatment effects, control charts, variance
  * reduction, sample ratio and sizing. */
object Experimentation {

  // ------------------------------------------------------------- q176

  /** q176: STRATIFIED-LIFT AUDIT (Simpson's-paradox guard) — the
    * experiment sanity check: an md5 A/B split of customers, outcome =
    * placed at least one URGENT order, strata = nation. Reports the
    * 2×2 table and conversion ppm per arm PER STRATUM plus the pooled
    * row (stratum −1), so an analyst can see when the pooled lift
    * direction contradicts the strata (confounded assignment). All
    * counts integers, rates floor-ppm; the pooled row is a second
    * aggregate over the same per-customer table, not a re-scan. */
  private def qStratifiedLift(s: SparkSession, dir: String): DataFrame = {
    val urgent = load(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .withColumn("arm",
        when(substring(md5(concat(lit("ab:"), col("c_custkey"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B"))
      .join(urgent.withColumn("conv", lit(1L)),
        col("o_custkey") === col("c_custkey"), "left")
      .select(col("c_nationkey"), col("arm"),
        coalesce(col("conv"), lit(0L)).as("conv"))
    def table(rows: DataFrame, stratum: Column): DataFrame =
      rows.groupBy(stratum.as("stratum"))
        .agg(
          sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === "A", col("conv")).otherwise(0L)).as("conv_a"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === "B", col("conv")).otherwise(0L)).as("conv_b"))
    table(cust, col("c_nationkey").cast(LongType))
      .unionByName(table(cust, lit(-1L)))
      .withColumn("rate_a_ppm", expr("conv_a * 1000000 div n_a"))
      .withColumn("rate_b_ppm", expr("conv_b * 1000000 div n_b"))
      .withColumn("lift_ppm", col("rate_a_ppm") - col("rate_b_ppm"))
      .orderBy(col("stratum"))
  }

  private val qStratifiedLiftSql =
    """WITH urgent AS (
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |cust AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS stratum,
      |    CASE WHEN substring(md5('ab:' || c_custkey), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END
      |      AS arm,
      |    CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS conv
      |  FROM customer LEFT JOIN urgent u ON u.o_custkey = c_custkey),
      |g AS (
      |  SELECT stratum, arm, conv FROM cust
      |  UNION ALL
      |  SELECT CAST(-1 AS BIGINT), arm, conv FROM cust),
      |tab AS (
      |  SELECT stratum,
      |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(SUM(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT)
      |      AS conv_a,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT)
      |      AS conv_b
      |  FROM g GROUP BY 1)
      |SELECT stratum, n_a, conv_a, n_b, conv_b,
      |  conv_a * 1000000 // n_a AS rate_a_ppm,
      |  conv_b * 1000000 // n_b AS rate_b_ppm,
      |  conv_a * 1000000 // n_a - conv_b * 1000000 // n_b AS lift_ppm
      |FROM tab ORDER BY stratum""".stripMargin

  // ------------------------------------------------------------- q213

  /** q213: INVERSE-PROPENSITY-WEIGHTED TREATMENT EFFECT — the
    * observational-data estimator: treatment = "user ever signed up",
    * outcome = "user ever purchased", confounder = user segment;
    * e(x) = P(T=1 | segment) from counts, ATE = mean over users of
    * T·Y/e − (1−T)·Y/(1−e), all in exact ppm (weights are 10^6 div
    * e_ppm rationals; the two weighted sums accumulate in
    * DECIMAL(38,0) before the single release division). The naive
    * (confounded) rate difference rides along per segment so the
    * report shows what the reweighting corrected.
    *
    * Scale shape: one groupBy(user) over events (map-side
    * combinable), one groupBy(segment) over users, 4-row arithmetic,
    * one broadcast of the 4-row propensity table back onto the user
    * table for the weighted sums. */
  private def qIpwAte(s: SparkSession, dir: String): DataFrame = {
    val users = load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "signup", 1L).otherwise(0L))
        .as("t"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      .withColumn("segment", pmod(col("user_id"), lit(4)))
    val prop = users.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_seg"), sum(col("t")).as("n_treat"),
        sum(when(col("t") === 1L, col("y")).otherwise(0L)).as("y_treat"),
        sum(when(col("t") === 0L, col("y")).otherwise(0L)).as("y_ctrl"))
      .withColumn("e_ppm", expr("n_treat * 1000000 div n_seg"))
      .withColumn("naive_diff_ppm", expr(
        "CASE WHEN n_treat = 0 OR n_treat = n_seg THEN 0L" +
          " ELSE y_treat * 1000000 div n_treat" +
          " - y_ctrl * 1000000 div (n_seg - n_treat) END"))
    val ate = users.join(broadcast(prop.select(col("segment"),
        col("e_ppm"))), "segment")
      .agg(count(lit(1)).as("n_users"),
        sum(expr("CASE WHEN t = 1 AND y = 1" +
          " THEN CAST(1000000000000 AS DECIMAL(38,0)) div e_ppm" +
          " ELSE CAST(0 AS DECIMAL(38,0)) END")).as("w_treat"),
        sum(expr("CASE WHEN t = 0 AND y = 1" +
          " THEN CAST(1000000000000 AS DECIMAL(38,0))" +
          " div (1000000 - e_ppm) ELSE CAST(0 AS DECIMAL(38,0)) END"))
          .as("w_ctrl"))
      .withColumn("ate_ppm", expr(
        "CAST((w_treat - w_ctrl) div n_users AS BIGINT)"))
      .select(col("n_users"), col("ate_ppm"))
    prop.crossJoin(broadcast(ate))
      .select(col("segment"), col("n_seg"), col("n_treat"), col("e_ppm"),
        col("naive_diff_ppm"), col("n_users"), col("ate_ppm"))
      .orderBy(col("segment"))
  }

  private val qIpwAteSql =
    """WITH users AS (
      |  SELECT user_id,
      |    CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS t,
      |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y,
      |    user_id % 4 AS segment
      |  FROM events GROUP BY 1),
      |prop AS (
      |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_seg,
      |    CAST(SUM(t) AS BIGINT) AS n_treat,
      |    CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
      |      AS y_treat,
      |    CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
      |      AS y_ctrl,
      |    CAST(SUM(t) * 1000000 // COUNT(*) AS BIGINT) AS e_ppm
      |  FROM users GROUP BY 1),
      |ate AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST((SUM(CASE WHEN t = 1 AND y = 1
      |        THEN CAST(1000000000000 AS HUGEINT) // e_ppm
      |        ELSE CAST(0 AS HUGEINT) END)
      |      - SUM(CASE WHEN t = 0 AND y = 1
      |        THEN CAST(1000000000000 AS HUGEINT) // (1000000 - e_ppm)
      |        ELSE CAST(0 AS HUGEINT) END)) // COUNT(*) AS BIGINT)
      |      AS ate_ppm
      |  FROM users JOIN prop USING (segment))
      |SELECT segment, n_seg, n_treat, e_ppm,
      |  CAST(CASE WHEN n_treat = 0 OR n_treat = n_seg THEN 0
      |    ELSE y_treat * 1000000 // n_treat
      |      - y_ctrl * 1000000 // (n_seg - n_treat) END AS BIGINT)
      |    AS naive_diff_ppm,
      |  n_users, ate_ppm
      |FROM prop CROSS JOIN ate ORDER BY segment""".stripMargin

  /* Fifteenth wave (round 7): MONITORING & VARIANCE REDUCTION — the
    * statistical-process-control chart (p-chart with per-day 3σ limits),
    * the jackknife standard error (the resampling estimator that is
    * deterministic by construction — no RNG to reconcile across
    * engines), and CUPED covariate adjustment (the experimentation
    * workhorse that shrinks metric variance with pre-period data).
    *
    * House rules: integer ppm/micro/milli conventions, `graft_isqrt`
    * for every square root, DECIMAL(38,0)/HUGEINT routing, signed
    * division as sign·(|x| div y), all statistics computed from
    * bounded per-day / per-variant moment tables. */

  /** Shared SQL fragment for isqrt with the ±1 correction. */
  private def sqlIsqrt(x: String, s0: String): String =
    s"$s0 - CASE WHEN $s0 > 0 AND $s0 * $s0 > $x THEN 1 ELSE 0 END" +
      s" + CASE WHEN $s0 < 3037000499 AND ($s0 + 1) * ($s0 + 1) <= $x" +
      s" THEN 1 ELSE 0 END"

  // ------------------------------------------------------------- q219

  /** q219: P-CHART (attribute control chart) of the daily error rate —
    * center line p̄ from the whole window, per-day 3σ limits
    * p̄ ± 3·√(p̄(1−p̄)/n_t) (limits vary with the day's volume, the
    * textbook varying-sample-size form), LCL clamped at 0, out-of-
    * control days flagged. The monitoring primitive an ingest pipeline
    * alarms on.
    *
    * Scale shape: one map-side-combinable groupBy(day); limits and
    * flags on the ≤31-row day table against a 1-row center broadcast. */
  private def qPChart(s: SparkSession, dir: String): DataFrame = {
    val days = load(s, dir, "events")
      .groupBy(expr("CAST(unix_date(CAST(ts AS DATE)) AS BIGINT)")
        .as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("errors"))
    val center = days.agg(sum(col("errors")).as("te"), sum(col("n")).as("tn"))
      .withColumn("pbar_ppm", expr("te * 1000000 div tn"))
      .select(col("pbar_ppm"))
    days.crossJoin(broadcast(center))
      .withColumn("p_ppm", expr("errors * 1000000 div n"))
      .withColumn("sigma_ppm", graft.functions.IntegerSqrt(expr(
        "pbar_ppm * (1000000 - pbar_ppm) div n")))
      .withColumn("lcl_ppm", greatest(lit(0L),
        expr("pbar_ppm - 3 * sigma_ppm")))
      .withColumn("ucl_ppm", expr("pbar_ppm + 3 * sigma_ppm"))
      .withColumn("ooc",
        (col("p_ppm") < col("lcl_ppm") || col("p_ppm") > col("ucl_ppm"))
          .cast("int"))
      .select(col("day"), col("n"), col("errors"), col("p_ppm"),
        col("pbar_ppm"), col("lcl_ppm"), col("ucl_ppm"), col("ooc"))
      .orderBy(col("day"))
  }

  private val qPChartSql = {
    val x = "pbar_ppm * (1000000 - pbar_ppm) // n"
    s"""WITH days AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS errors
      |  FROM events GROUP BY 1),
      |center AS (
      |  SELECT CAST(SUM(errors) * 1000000 // SUM(n) AS BIGINT)
      |    AS pbar_ppm
      |  FROM days),
      |lim AS (
      |  SELECT day, n, errors, pbar_ppm,
      |    errors * 1000000 // n AS p_ppm,
      |    CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT) AS s0,
      |    $x AS xx
      |  FROM days CROSS JOIN center),
      |sig AS (
      |  SELECT day, n, errors, p_ppm, pbar_ppm,
      |    ${sqlIsqrt("xx", "s0")} AS sigma_ppm
      |  FROM lim)
      |SELECT day, n, errors, CAST(p_ppm AS BIGINT) AS p_ppm, pbar_ppm,
      |  CAST(greatest(0, pbar_ppm - 3 * sigma_ppm) AS BIGINT) AS lcl_ppm,
      |  CAST(pbar_ppm + 3 * sigma_ppm AS BIGINT) AS ucl_ppm,
      |  CAST(CASE WHEN p_ppm < greatest(0, pbar_ppm - 3 * sigma_ppm)
      |    OR p_ppm > pbar_ppm + 3 * sigma_ppm THEN 1 ELSE 0 END AS INT)
      |    AS ooc
      |FROM sig ORDER BY day""".stripMargin
  }

  // ------------------------------------------------------------- q220

  /** q220: JACKKNIFE STANDARD ERROR of the mean event value per type,
    * leave-one-DAY-out (the delete-group jackknife practitioners use
    * when rows within a day are correlated): θ₍ᵢ₎ = (S − sᵢ)/(n − nᵢ)
    * in exact micro units, SE² = (d−1)/d · Σ(θ₍ᵢ₎ − θ̄)², released via
    * `graft_isqrt`. Resampling uncertainty with zero RNG — the only
    * bootstrap-family estimator two engines can hash-agree on.
    *
    * Scale shape: one groupBy(type, day) over events folds values to
    * day moments; the d ≤ 31 leave-one-out replicates are algebra on
    * that table — the raw data is never touched twice. */
  private def qJackknife(s: SparkSession, dir: String): DataFrame = {
    val days = load(s, dir, "events")
      .groupBy(col("event_type"),
        expr("CAST(unix_date(CAST(ts AS DATE)) AS BIGINT)").as("day"))
      .agg(count(lit(1)).as("ni"),
        sum(expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)"))
          .as("si"))
    val tot = days.groupBy(col("event_type"))
      .agg(count(lit(1)).as("d"), sum(col("ni")).as("n"),
        sum(col("si")).as("s"))
    // d = 1 leaves nothing to leave out: θ₍ᵢ₎'s denominator n − nᵢ is
    // zero and the jackknife is statistically undefined — such types
    // drop from the report (both engines; gate scales all have d ≥ 2)
    val loo = days.join(tot, "event_type")
      .filter(col("d") >= 2)
      .withColumn("theta_i", expr("(s - si) div (n - ni)"))
    val jbar = loo.groupBy(col("event_type"))
      .agg(max(col("d")).as("d"), max(col("n")).as("n"),
        max(col("s")).as("s"),
        sum(col("theta_i")).as("ts"),
        sum(expr("CAST(theta_i AS DECIMAL(38,0)) * theta_i")).as("tss"))
      // Σ(θᵢ−θ̄)² · d² = d·Σθᵢ² · d − (Σθᵢ)²·d ... keep exact: d·tss − ts²
      .withColumn("dev2_d", expr(
        "CAST(d AS DECIMAL(38,0)) * tss - CAST(ts AS DECIMAL(38,0)) * ts"))
      .withColumn("se2_micro2", expr(
        "CAST((d - 1) * dev2_d div (CAST(d AS DECIMAL(38,0)) * d * d)" +
          " AS BIGINT)"))
      .withColumn("jk_se_micro",
        graft.functions.IntegerSqrt(col("se2_micro2")))
      .withColumn("mean_micro", expr("s div n"))
    jbar.select(col("event_type"), col("n"), col("d"), col("mean_micro"),
        col("jk_se_micro"))
      .orderBy(col("event_type"))
  }

  private val qJackknifeSql = {
    s"""WITH days AS (
      |  SELECT event_type,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS ni,
      |    CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS si
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d,
      |    CAST(SUM(ni) AS BIGINT) AS n, CAST(SUM(si) AS BIGINT) AS s
      |  FROM days GROUP BY 1),
      |loo AS (
      |  SELECT days.event_type, d, n, s,
      |    (s - si) // (n - ni) AS theta_i
      |  FROM days JOIN tot USING (event_type) WHERE d >= 2),
      |agg AS (
      |  SELECT event_type, MAX(d) AS d, MAX(n) AS n, MAX(s) AS s,
      |    CAST(SUM(theta_i) AS HUGEINT) AS ts,
      |    SUM(CAST(theta_i AS HUGEINT) * theta_i) AS tss
      |  FROM loo GROUP BY 1),
      |se AS (
      |  SELECT event_type, n, d, s,
      |    CAST((d - 1) * (CAST(d AS HUGEINT) * tss - ts * ts)
      |      // (CAST(d AS HUGEINT) * d * d) AS BIGINT) AS se2,
      |    CAST(floor(sqrt(CAST((d - 1) * (CAST(d AS HUGEINT) * tss
      |      - ts * ts) // (CAST(d AS HUGEINT) * d * d) AS DOUBLE)))
      |      AS BIGINT) AS s0
      |  FROM agg)
      |SELECT event_type, n, d, CAST(s // n AS BIGINT) AS mean_micro,
      |  CAST(${sqlIsqrt("se2", "s0")} AS BIGINT) AS jk_se_micro
      |FROM se ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------------------- q221

  /** q221: CUPED VARIANCE REDUCTION — the A/B-test adjustment: per
    * user, Y = second-half purchase count, X = first-half purchase
    * count (the pre-period covariate), variant by user hash;
    * θ = cov(X,Y)/var(X) POOLED (computed once, applied to both arms —
    * computing θ per-arm reintroduces bias), adjusted mean per arm =
    * Ȳ_v − θ·(X̄_v − X̄), and the realized variance-reduction ratio
    * 1 − var(Y−θX)/var(Y). Everything from one pass of (X, Y)
    * moments; θ carried in milli, means in micro, reduction in ppm.
    *
    * Scale shape: one groupBy(user) over events, one 2-row variant
    * moment table + a 1-row pooled moment broadcast. */
  private def qCuped(s: SparkSession, dir: String): DataFrame = {
    val users = load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" &&
          col("ts") < to_timestamp(lit("2024-01-16")), 1L).otherwise(0L))
          .as("x"),
        sum(when(col("event_type") === "purchase" &&
          col("ts") >= to_timestamp(lit("2024-01-16")), 1L).otherwise(0L))
          .as("y"))
      .withColumn("variant",
        when(substring(md5(concat(lit("ab:"), col("user_id"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A")
          .otherwise("B"))
    val pooled = users.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("cov_num", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("varx_num", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("vary_num", expr(
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .withColumn("theta_milli", expr(
        "CASE WHEN varx_num = 0 THEN 0L ELSE CAST(" +
          "CASE WHEN cov_num < 0 THEN -1 ELSE 1 END" +
          " * (abs(cov_num) * 1000 div varx_num) AS BIGINT) END"))
      // var(Y−θX)·n² = vary − 2θ·cov + θ²·varx, θ in milli
      .withColumn("adj_var_num", expr(
        "vary_num - 2 * theta_milli * cov_num div 1000" +
          " + CAST(theta_milli AS DECIMAL(38,0)) * theta_milli" +
          " * varx_num div 1000000"))
      .withColumn("var_reduction_ppm", expr(
        "CASE WHEN vary_num = 0 THEN 0L ELSE CAST(" +
          "1000000 - adj_var_num * 1000000 div vary_num AS BIGINT) END"))
      .withColumn("xbar_micro", expr("sx * 1000000 div n"))
      .select(col("theta_milli"), col("var_reduction_ppm"),
        col("xbar_micro"))
    users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"))
      .crossJoin(broadcast(pooled))
      .withColumn("mean_y_micro", expr("sy * 1000000 div n"))
      .withColumn("adj_mean_micro", expr(
        "mean_y_micro - theta_milli" +
          " * (sx * 1000000 div n - xbar_micro) div 1000"))
      .select(col("variant"), col("n"), col("mean_y_micro"),
        col("adj_mean_micro"), col("theta_milli"),
        col("var_reduction_ppm"))
      .orderBy(col("variant"))
  }

  private val qCupedSql =
    """WITH users AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      AND ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y,
      |    CASE WHEN substring(md5('ab:' || user_id), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END
      |      AS variant
      |  FROM events GROUP BY 1),
      |pooled AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM users),
      |m AS (
      |  SELECT n, sx, sy,
      |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov_num,
      |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS varx_num,
      |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vary_num
      |  FROM pooled),
      |th AS (
      |  SELECT n, sx,
      |    CASE WHEN varx_num = 0 THEN 0 ELSE
      |      CASE WHEN cov_num < 0 THEN -1 ELSE 1 END
      |      * (abs(cov_num) * 1000 // varx_num) END AS theta_milli,
      |    cov_num, varx_num, vary_num
      |  FROM m),
      |red AS (
      |  SELECT CAST(theta_milli AS BIGINT) AS theta_milli,
      |    CAST(CASE WHEN vary_num = 0 THEN 0 ELSE
      |      1000000 - (vary_num - 2 * theta_milli * cov_num // 1000
      |        + CAST(theta_milli AS HUGEINT) * theta_milli * varx_num
      |          // 1000000) * 1000000 // vary_num END AS BIGINT)
      |      AS var_reduction_ppm,
      |    CAST(sx * 1000000 // n AS BIGINT) AS xbar_micro
      |  FROM th)
      |SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS mean_y_micro,
      |  CAST(SUM(y) * 1000000 // COUNT(*) - theta_milli
      |    * (SUM(x) * 1000000 // COUNT(*) - xbar_micro) // 1000
      |    AS BIGINT) AS adj_mean_micro,
      |  theta_milli, var_reduction_ppm
      |FROM users CROSS JOIN red
      |GROUP BY variant, theta_milli, var_reduction_ppm, xbar_micro
      |ORDER BY variant""".stripMargin

  /* Sixteenth wave (round 7): the two experiment-integrity checks that
    * complete the wave-13/15 experimentation family — sample-ratio
    * mismatch (the assignment-health alarm every A/B platform runs
    * before trusting any metric) and the delta-method confidence
    * interval for RATIO metrics (value per event — the metric family
    * whose naive per-user variance is simply wrong).
    *
    * House rules: integer micro/ppm conventions, `graft_isqrt`,
    * DECIMAL(38,0)/HUGEINT routing, one histogram/moment groupBy per
    * query. */

  // ------------------------------------------------------------- q222

  /** q222: SAMPLE-RATIO MISMATCH — per user segment, are the A/B arm
    * counts consistent with the designed 50/50 split: the df=1
    * goodness-of-fit statistic χ² = (2·n_A − n)²/n in exact micro
    * units (algebraically Σ(Oᵢ−n/2)²/(n/2) without ever forming the
    * fractional expectation), flagged at the 3.84 critical value
    * (α = 5%). An SRM flag means the assignment itself is broken and
    * every downstream metric is garbage — it runs FIRST.
    *
    * Scale shape: one groupBy(user) to fix each user's arm, one
    * groupBy(segment) count — 4-row arithmetic. */
  private def qSrm(s: SparkSession, dir: String): DataFrame = {
    val users = load(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
      .withColumn("segment", pmod(col("user_id"), lit(4)))
      .withColumn("arm",
        when(substring(md5(concat(lit("ab:"), col("user_id"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A")
          .otherwise("B"))
    users.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"))
      .withColumn("n_b", col("n") - col("n_a"))
      .withColumn("chi2_micro", expr(
        "CAST((2 * n_a - n) * (2 * n_a - n) AS DECIMAL(38,0))" +
          " * 1000000 div n"))
      .withColumn("chi2_micro", expr("CAST(chi2_micro AS BIGINT)"))
      .withColumn("srm", (col("chi2_micro") > 3841459L).cast("int"))
      .select(col("segment"), col("n"), col("n_a"), col("n_b"),
        col("chi2_micro"), col("srm"))
      .orderBy(col("segment"))
  }

  private val qSrmSql =
    """WITH users AS (
      |  SELECT user_id, user_id % 4 AS segment,
      |    CASE WHEN substring(md5('ab:' || user_id), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END
      |      AS arm
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a
      |  FROM users GROUP BY 1)
      |SELECT segment, n, n_a, n - n_a AS n_b,
      |  CAST(CAST((2 * n_a - n) * (2 * n_a - n) AS HUGEINT) * 1000000
      |    // n AS BIGINT) AS chi2_micro,
      |  CAST(CASE WHEN CAST((2 * n_a - n) * (2 * n_a - n) AS HUGEINT)
      |    * 1000000 // n > 3841459 THEN 1 ELSE 0 END AS INT) AS srm
      |FROM c ORDER BY segment""".stripMargin

  // ------------------------------------------------------------- q223

  /** q223: DELTA-METHOD CI FOR A RATIO METRIC — value per event, per
    * A/B arm: R = ΣY/ΣX with user-level clustering, so
    * Var(R) ≈ (σ_y² − 2R·σ_xy + R²·σ_x²) / (n·x̄²) — the delta-method
    * form every experimentation platform uses for ratio metrics
    * (naive row-level variance ignores that users, not events, are
    * the randomization unit). Carried exactly: R in micro, the three
    * central moments as DECIMAL numerators over n², SE via
    * `graft_isqrt`, CI at z = 1.959964.
    *
    * Scale shape: one groupBy(user) folding (x, y), one 2-row arm
    * moment aggregate; everything after is scalar algebra. */
  private def qRatioDelta(s: SparkSession, dir: String): DataFrame = {
    val users = load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("y"))
      .withColumn("arm",
        when(substring(md5(concat(lit("ab:"), col("user_id"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A")
          .otherwise("B"))
    users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      // R in micro cents-per-event
      .withColumn("r_micro", expr("sy * 1000000 div sx"))
      // central-moment numerators (×n²): nΣaa − (Σa)²
      .withColumn("vy", expr(
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .withColumn("vx", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("cxy", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      // numerator of Var(R): vy − 2R·cxy + R²·vx, R carried in micro
      .withColumn("var_num", expr(
        "vy - 2 * r_micro * cxy div 1000000" +
          " + CAST(r_micro AS DECIMAL(38,0)) * r_micro * vx" +
          " div 1000000000000"))
      // Var(R̄) = var_num / (n² · n · x̄²) with x̄ = sx/n →
      // = var_num / (n · sx²); SE in micro = isqrt(var_num·10¹² / (n·sx²))
      .withColumn("se2_micro2", expr(
        "CAST(greatest(CAST(0 AS DECIMAL(38,0))," +
          " var_num * 1000000000000" +
          " div (CAST(n AS DECIMAL(38,0)) * sx * sx)) AS BIGINT)"))
      .withColumn("se_micro",
        graft.functions.IntegerSqrt(col("se2_micro2")))
      .withColumn("ci_lo_micro", expr(
        "r_micro - 1959964 * se_micro div 1000000"))
      .withColumn("ci_hi_micro", expr(
        "r_micro + 1959964 * se_micro div 1000000"))
      .select(col("arm"), col("n"), col("r_micro"), col("se_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"))
      .orderBy(col("arm"))
  }

  private val qRatioDeltaSql =
    """WITH u0 AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM events GROUP BY 1),
      |users AS (
      |  SELECT user_id, x, y,
      |    CASE WHEN substring(md5('ab:' || user_id), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END
      |      AS arm
      |  FROM u0),
      |m AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM users GROUP BY 1),
      |r AS (
      |  SELECT arm, n, sx, sy,
      |    sy * 1000000 // sx AS r_micro,
      |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vy,
      |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS vx,
      |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cxy
      |  FROM m),
      |v AS (
      |  SELECT arm, n, sx, r_micro,
      |    vy - 2 * r_micro * cxy // 1000000
      |      + CAST(r_micro AS HUGEINT) * r_micro * vx // 1000000000000
      |      AS var_num
      |  FROM r),
      |se AS (
      |  SELECT arm, n, r_micro,
      |    CAST(greatest(CAST(0 AS HUGEINT), var_num * 1000000000000
      |      // (CAST(n AS HUGEINT) * sx * sx)) AS BIGINT) AS se2,
      |    CAST(floor(sqrt(CAST(greatest(CAST(0 AS HUGEINT),
      |      var_num * 1000000000000 // (CAST(n AS HUGEINT) * sx * sx))
      |      AS DOUBLE))) AS BIGINT) AS s0
      |  FROM v),
      |f AS (
      |  SELECT arm, n, CAST(r_micro AS BIGINT) AS r_micro,
      |    s0 - CASE WHEN s0 > 0 AND s0 * s0 > se2 THEN 1 ELSE 0 END
      |       + CASE WHEN s0 < 3037000499 AND (s0 + 1) * (s0 + 1) <= se2
      |           THEN 1 ELSE 0 END AS se_micro
      |  FROM se)
      |SELECT arm, n, r_micro, CAST(se_micro AS BIGINT) AS se_micro,
      |  CAST(r_micro - 1959964 * se_micro // 1000000 AS BIGINT)
      |    AS ci_lo_micro,
      |  CAST(r_micro + 1959964 * se_micro // 1000000 AS BIGINT)
      |    AS ci_hi_micro
      |FROM f ORDER BY arm""".stripMargin

  /* Seventeenth wave (round 7): experiment DESIGN — the sample-size /
    * duration planner that closes the experimentation loop the waves
    * 13/15/16 opened (design → assign → SRM → CUPED → delta-CI):
    * given the observed baseline conversion and traffic, how many users
    * per arm and how many days does each minimum-detectable-effect
    * need. */

  /** q224: MDE PLANNER — per user segment: baseline DAILY purchase
    * conversion p = P(an active user-day contains a purchase) — the
    * unit is the user-day, because per-user "ever purchased"
    * SATURATES at p ≈ 1 on a 30-day window (measured: the naive
    * framing sent the variance term negative) — and for each absolute MDE
    * δ ∈ {1%, 2%, 5%} the two-proportion sample size per arm
    * n = (z_{α/2} + z_β)² · 2·p̄(1−p̄) / δ² at α = 5% two-sided,
    * power 80% (z constants as exact micro literals: 1.959964,
    * 0.841621 — the planner every experiment platform hard-codes),
    * p̄ = p + δ/2, ceil division so the plan never under-powers, and
    * the run length in days at the segment's observed daily user
    * traffic. Everything integer: z² products in DECIMAL(38,0), the
    * δ² denominator in ppm².
    *
    * Scale shape: one groupBy(user) pass, one 4-row segment moment
    * table, a 3-literal explode — arithmetic on ≤12 rows. */
  private def qMdePlanner(s: SparkSession, dir: String): DataFrame = {
    val userDays = load(s, dir, "events")
      .groupBy(col("user_id"),
        expr("CAST(unix_date(CAST(ts AS DATE)) AS BIGINT)").as("day"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("segment", pmod(col("user_id"), lit(4)))
    val segs = userDays.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("conv"),
        expr("CAST(count(DISTINCT day) AS BIGINT)").as("window_days"))
      .withColumn("p_ppm", expr("conv * 1000000 div n_users"))
      .withColumn("daily_users", expr(
        "greatest(1L, n_users div window_days)"))
    segs
      .withColumn("mde_ppm", explode(expr(
        "array(10000L, 20000L, 50000L)")))
      // p̄ = p + δ/2; variance term 2·p̄(1−p̄) in ppm²
      // clamp: a saturated baseline must not send the variance negative
      .withColumn("pbar_ppm", expr(
        "least(999999L, p_ppm + mde_ppm div 2)"))
      .withColumn("n_per_arm", expr(
        // (z_a + z_b)² = 2801585² micro² → carry in DECIMAL, divide by
        // 10¹² to return to ppm scale, ceil against δ² ppm²
        "CAST((CAST(2801585 AS DECIMAL(38,0)) * 2801585" +
          " * 2 * pbar_ppm * (1000000 - pbar_ppm) div 1000000000000" +
          " + CAST(mde_ppm AS DECIMAL(38,0)) * mde_ppm - 1)" +
          " div (CAST(mde_ppm AS DECIMAL(38,0)) * mde_ppm) AS BIGINT)"))
      .withColumn("days_required", expr(
        // both arms drawn from the segment's daily traffic, ceil
        "(2 * n_per_arm + daily_users - 1) div daily_users"))
      .select(col("segment"), col("n_users"), col("p_ppm"),
        col("daily_users"), col("mde_ppm"), col("n_per_arm"),
        col("days_required"))
      .orderBy(col("segment"), col("mde_ppm"))
  }

  private val qMdePlannerSql =
    """WITH ud AS (
      |  SELECT user_id,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS converted,
      |    user_id % 4 AS segment
      |  FROM events GROUP BY 1, 2),
      |segs AS (
      |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(converted) AS BIGINT) AS conv,
      |    CAST(COUNT(DISTINCT day) AS BIGINT) AS window_days
      |  FROM ud GROUP BY 1),
      |base AS (
      |  SELECT segment, n_users,
      |    conv * 1000000 // n_users AS p_ppm,
      |    greatest(1, n_users // window_days) AS daily_users
      |  FROM segs),
      |grid AS (
      |  SELECT b.*, CAST(u.m AS BIGINT) AS mde_ppm,
      |    least(999999, b.p_ppm + CAST(u.m AS BIGINT) // 2) AS pbar_ppm
      |  FROM base b CROSS JOIN unnest([10000, 20000, 50000]) AS u(m)),
      |plan AS (
      |  SELECT segment, n_users, p_ppm, daily_users, mde_ppm,
      |    CAST((CAST(2801585 AS HUGEINT) * 2801585
      |        * 2 * pbar_ppm * (1000000 - pbar_ppm) // 1000000000000
      |      + CAST(mde_ppm AS HUGEINT) * mde_ppm - 1)
      |      // (CAST(mde_ppm AS HUGEINT) * mde_ppm) AS BIGINT)
      |      AS n_per_arm
      |  FROM grid)
      |SELECT segment, n_users, CAST(p_ppm AS BIGINT) AS p_ppm,
      |  CAST(daily_users AS BIGINT) AS daily_users, mde_ppm, n_per_arm,
      |  CAST((2 * n_per_arm + daily_users - 1) // daily_users AS BIGINT)
      |    AS days_required
      |FROM plan ORDER BY segment, mde_ppm""".stripMargin

  /* Twenty-sixth wave (round 8): cooperative attribution and privacy
    * planning —
    *
    *  - q248: EXACT SHAPLEY channel attribution. The model-based upgrade
    *    of q141's rule-based attribution: each touch channel's credit is
    *    its exact Shapley value over the empirical conversion-rate
    *    characteristic function v(S) = conversion ppm of users whose
    *    touch set is exactly S. With m=4 channels the lattice is 16
    *    subsets, so after ONE user-level groupBy every Shapley term is
    *    arithmetic on a broadcast-bounded table — the textbook "heavy
    *    scan, tiny lattice" decomposition that survives any corpus size.
    *  - q249: K-ANONYMITY GENERALIZATION LADDER. q146 audits one QI
    *    grid; release planning needs the minimal generalization level
    *    that reaches k — computed here for the whole ladder in ONE scan
    *    via GROUPING SETS (month → quarter → year → drop-priority),
    *    never four passes.
    *
    * House rules: integer exactness (ppm, factorial-scaled credits),
    * deterministic orders, DuckDB oracle per query, windows bounded. */

  // ------------------------------------------------------------- q248

  /** Touch channels (bit weights) and the conversion event. Shapley
    * coefficients for m=4: weight(|S|) = |S|!·(3−|S|)! over 4! = 24. */
  private val Channels = Seq(("click", 1L), ("error", 2L),
    ("signup", 4L), ("view", 8L))

  /** q248: exact SHAPLEY attribution. One linear pass folds each user
    * to (touch-bitmask, converted); the 16-row mask lattice (zero-
    * completed so v is total on the lattice) carries conversion ppm;
    * each channel's marginal Σ w(|S|)·(v(S∪i)−v(S)) runs over the 8
    * S∌i subsets — a ≤4×16 broadcast theta-join, exact integers with
    * denominator 24 reported alongside the truncated ppm. */
  private def qShapley(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(Channels.map { case (name, bit) =>
          max(when(col("event_type") === name, bit).otherwise(0L))
            .as(s"b_$name")
        }.reduce(_ + _).as("mask"), // each term is a distinct bit
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val byMask = perUser.groupBy(col("mask"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("nconv"))
    val lattice = (0L until 16L).toDF("mask")
      .join(byMask, Seq("mask"), "left")
      .select(col("mask"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("nconv"), lit(0L)).as("nconv"))
      .withColumn("v_ppm", expr(
        "CASE WHEN n = 0 THEN 0 ELSE nconv * 1000000 div n END"))
    val ch = Channels.toDF("channel", "bit")
    // S ∌ i lattice join: 4×8 pairs, all broadcast-bounded
    val pairs = broadcast(ch)
      .join(broadcast(lattice.select(col("mask").as("s"),
        col("v_ppm").as("v_s"))), expr("(s & bit) = 0"))
      .join(broadcast(lattice.select(col("mask").as("si"),
        col("v_ppm").as("v_si"))), expr("si = (s | bit)"))
      .withColumn("coef", expr(
        """CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2
          |WHEN 2 THEN 2 ELSE 6 END""".stripMargin))
    val phi = pairs.groupBy(col("channel"), col("bit"))
      .agg(sum(col("coef") * (col("v_si") - col("v_s")))
        .as("phi_scaled_24"))
    val exposure = broadcast(ch)
      .join(broadcast(lattice), expr("(mask & bit) <> 0"))
      .groupBy(col("channel"))
      .agg(sum(col("n")).as("n_exposed"),
        sum(col("nconv")).as("conv_exposed"))
    phi.join(exposure, Seq("channel"))
      .select(col("channel"), col("n_exposed"), col("conv_exposed"),
        col("phi_scaled_24"),
        expr("phi_scaled_24 div 24").as("phi_ppm"))
      .orderBy(col("channel"))
  }

  private val qShapleySql = {
    val values = Channels.map { case (n, b) => s"('$n', $b)" }
      .mkString(", ")
    s"""WITH per_user AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |    + MAX(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END)
       |    + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
       |    + MAX(CASE WHEN event_type = 'view' THEN 8 ELSE 0 END)
       |      AS mask,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS conv
       |  FROM events GROUP BY 1),
       |by_mask AS (
       |  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(conv) AS BIGINT) AS nconv
       |  FROM per_user GROUP BY 1),
       |lattice AS (
       |  SELECT u.mask, COALESCE(n, 0) AS n, COALESCE(nconv, 0) AS nconv,
       |    CASE WHEN COALESCE(n, 0) = 0 THEN 0
       |      ELSE COALESCE(nconv, 0) * 1000000 // n END AS v_ppm
       |  FROM (SELECT unnest(range(0, 16)) AS mask) u
       |  LEFT JOIN by_mask ON by_mask.mask = u.mask),
       |ch AS (SELECT * FROM (VALUES $values) v(channel, bit)),
       |pairs AS (
       |  SELECT channel, bit,
       |    CASE bit_count(ls.mask) WHEN 0 THEN 6 WHEN 1 THEN 2
       |      WHEN 2 THEN 2 ELSE 6 END AS coef,
       |    li.v_ppm - ls.v_ppm AS dv
       |  FROM ch
       |  JOIN lattice ls ON (ls.mask & bit) = 0
       |  JOIN lattice li ON li.mask = (ls.mask | bit)),
       |phi AS (
       |  SELECT channel, bit,
       |    CAST(SUM(coef * dv) AS BIGINT) AS phi_scaled_24
       |  FROM pairs GROUP BY 1, 2),
       |expo AS (
       |  SELECT channel,
       |    CAST(SUM(n) AS BIGINT) AS n_exposed,
       |    CAST(SUM(nconv) AS BIGINT) AS conv_exposed
       |  FROM ch JOIN lattice ON (lattice.mask & bit) <> 0
       |  GROUP BY 1)
       |SELECT phi.channel, n_exposed, conv_exposed, phi_scaled_24,
       |  phi_scaled_24 // 24 AS phi_ppm
       |FROM phi JOIN expo ON expo.channel = phi.channel
       |ORDER BY phi.channel""".stripMargin
  }

  /* Thirtieth wave (round 8): causal-inference and count-model
    * diagnostics — two estimator shapes the experimentation battery
    * (q210–q224) did not yet cover:
    *
    *  - q254: DIFFERENCE-IN-DIFFERENCES. The workhorse quasi-
    *    experimental estimator when randomization isn't available:
    *    (post−pre) for the treated arm minus (post−pre) for control.
    *    One conditional-aggregation pass builds all four cells; the
    *    estimate is exact integer micro-cents arithmetic on a one-row
    *    frame.
    *  - q255: INDEX OF DISPERSION (variance-to-mean ratio) on the
    *    zero-filled daily count series per event type — the diagnostic
    *    that decides Poisson vs negative-binomial rate modeling.
    *    Skipping the zero days would bias the variance, so the series
    *    is completed on the (span × type-alphabet) spine — bounded by
    *    calendar days, not rows.
    *
    * House rules: integer exactness, deterministic orders, DuckDB
    * oracle per query, windows bounded. */

  // ------------------------------------------------------------- q254

  /** Deterministic quasi-experiment over orders: treatment = even
    * customer key, post-period = orderdate year ≥ 1996. Metric: mean
    * order value in micro-cents (exact DECIMAL cents sum, truncated
    * micro division). */
  private def qDiffInDiff(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders").select(
      (col("o_custkey") % 2 === 0).cast("int").as("treated"),
      (year(col("o_orderdate")) >= 1996).cast("int").as("post"),
      expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
        .as("cents"))
    def cell(t: Int, p: Int, what: String) = what match {
      case "n" => sum(when(col("treated") === t && col("post") === p, 1L)
        .otherwise(0L))
      case "s" => sum(when(col("treated") === t && col("post") === p,
        col("cents")).otherwise(0L))
    }
    o.agg(
        cell(1, 0, "n").as("n_pre_t"), cell(1, 0, "s").as("s_pre_t"),
        cell(1, 1, "n").as("n_post_t"), cell(1, 1, "s").as("s_post_t"),
        cell(0, 0, "n").as("n_pre_c"), cell(0, 0, "s").as("s_pre_c"),
        cell(0, 1, "n").as("n_post_c"), cell(0, 1, "s").as("s_post_c"))
      .select(col("n_pre_t"), col("n_post_t"), col("n_pre_c"),
        col("n_post_c"),
        // cents-sum × 1e6 passes 2^63 at sf1 — route through DECIMAL
        expr("CASE WHEN n_pre_t = 0 THEN 0L ELSE CAST(" +
          "CAST(s_pre_t AS DECIMAL(38,0)) * 1000000 div n_pre_t " +
          "AS BIGINT) END").as("pre_t_micro"),
        expr("CASE WHEN n_post_t = 0 THEN 0L ELSE CAST(" +
          "CAST(s_post_t AS DECIMAL(38,0)) * 1000000 div n_post_t " +
          "AS BIGINT) END").as("post_t_micro"),
        expr("CASE WHEN n_pre_c = 0 THEN 0L ELSE CAST(" +
          "CAST(s_pre_c AS DECIMAL(38,0)) * 1000000 div n_pre_c " +
          "AS BIGINT) END").as("pre_c_micro"),
        expr("CASE WHEN n_post_c = 0 THEN 0L ELSE CAST(" +
          "CAST(s_post_c AS DECIMAL(38,0)) * 1000000 div n_post_c " +
          "AS BIGINT) END").as("post_c_micro"))
      .select(col("*"),
        (col("post_t_micro") - col("pre_t_micro")
          - (col("post_c_micro") - col("pre_c_micro"))).as("did_micro"))
  }

  private val qDiffInDiffSql =
    """WITH o AS (
      |  SELECT CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS treated,
      |    CASE WHEN year(o_orderdate) >= 1996 THEN 1 ELSE 0 END AS post,
      |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |cells AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN treated=1 AND post=0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pre_t,
      |    CAST(SUM(CASE WHEN treated=1 AND post=1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_post_t,
      |    CAST(SUM(CASE WHEN treated=0 AND post=0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pre_c,
      |    CAST(SUM(CASE WHEN treated=0 AND post=1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_post_c,
      |    CAST(SUM(CASE WHEN treated=1 AND post=0 THEN cents ELSE 0 END)
      |      AS BIGINT) AS s_pre_t,
      |    CAST(SUM(CASE WHEN treated=1 AND post=1 THEN cents ELSE 0 END)
      |      AS BIGINT) AS s_post_t,
      |    CAST(SUM(CASE WHEN treated=0 AND post=0 THEN cents ELSE 0 END)
      |      AS BIGINT) AS s_pre_c,
      |    CAST(SUM(CASE WHEN treated=0 AND post=1 THEN cents ELSE 0 END)
      |      AS BIGINT) AS s_post_c
      |  FROM o),
      |m AS (
      |  SELECT n_pre_t, n_post_t, n_pre_c, n_post_c,
      |    CAST(CASE WHEN n_pre_t = 0 THEN 0
      |      ELSE CAST(s_pre_t AS HUGEINT) * 1000000 // n_pre_t END
      |      AS BIGINT) AS pre_t_micro,
      |    CAST(CASE WHEN n_post_t = 0 THEN 0
      |      ELSE CAST(s_post_t AS HUGEINT) * 1000000 // n_post_t END
      |      AS BIGINT) AS post_t_micro,
      |    CAST(CASE WHEN n_pre_c = 0 THEN 0
      |      ELSE CAST(s_pre_c AS HUGEINT) * 1000000 // n_pre_c END
      |      AS BIGINT) AS pre_c_micro,
      |    CAST(CASE WHEN n_post_c = 0 THEN 0
      |      ELSE CAST(s_post_c AS HUGEINT) * 1000000 // n_post_c END
      |      AS BIGINT) AS post_c_micro
      |  FROM cells)
      |SELECT *, post_t_micro - pre_t_micro
      |  - (post_c_micro - pre_c_micro) AS did_micro
      |FROM m""".stripMargin

  // ------------------------------------------------------------- q278

  private val NeymanTotal = 10000L

  private def qNeyman(s: SparkSession, dir: String): DataFrame = {
    val m = load(s, dir, "orders")
      .select(col("o_orderpriority").as("stratum"),
        expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
          .as("x"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("nh"),
        sum(col("x").cast(DecimalType(38, 0))).as("s1"),
        sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("s2"))
      // integer variance floor: (N*S2 - S1^2) div N^2, DECIMAL(38,0)
      .withColumn("var2", expr(
        "CAST((nh * s2 - s1 * s1) div (nh * nh) AS DECIMAL(38,0))"))
      // corrected floor-sqrt (q162's device) via the native expression
      .withColumn("sd",
        graft.functions.IntegerSqrt(expr("CAST(var2 AS BIGINT)")))
      .withColumn("w", expr("nh * sd"))
    val tot = m.agg(sum(col("w")).as("wt"))
    val quota = m.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"$NeymanTotal * w div wt"))
      .withColumn("rem", expr(s"($NeymanTotal * w) % wt"))
    val base = quota.agg(sum(col("base")).as("sb"))
    val ranked = quota.crossJoin(broadcast(base))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("stratum"))))
      .withColumn("alloc", expr(
        s"base + CASE WHEN rk <= $NeymanTotal - sb THEN 1 ELSE 0 END"))
    ranked.select(col("stratum"), col("nh"), col("sd"),
        col("alloc").cast(LongType).as("alloc"))
      .orderBy(col("stratum"))
  }

  private val qNeymanSql =
    s"""WITH m0 AS (
       |  SELECT o_orderpriority AS stratum,
       |    CAST(COUNT(*) AS BIGINT) AS nh,
       |    SUM(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
       |      AS HUGEINT)) AS s1,
       |    SUM(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
       |      AS HUGEINT) * CAST(floor(o_totalprice * 100.0 + 0.5)
       |      AS BIGINT)) AS s2
       |  FROM orders GROUP BY 1),
       |v AS (SELECT stratum, nh,
       |        (nh * s2 - s1 * s1) // (nh * nh) AS var2 FROM m0),
       |s0 AS (SELECT stratum, nh, var2,
       |         CAST(floor(sqrt(CAST(var2 AS DOUBLE))) AS BIGINT) AS s
       |       FROM v),
       |s1f AS (SELECT stratum, nh, var2,
       |         s - CASE WHEN s > 0 AND s * s > var2 THEN 1 ELSE 0 END
       |           AS s
       |        FROM s0),
       |sd AS (SELECT stratum, nh,
       |         s + CASE WHEN s < 3037000499 AND
       |           (s + 1) * (s + 1) <= var2 THEN 1 ELSE 0 END AS sd
       |       FROM s1f),
       |w AS (SELECT stratum, nh, sd,
       |        CAST(nh AS HUGEINT) * sd AS w FROM sd),
       |t AS (SELECT SUM(w) AS wt FROM w),
       |q AS (SELECT stratum, nh, sd,
       |        $NeymanTotal * w // t.wt AS base,
       |        ($NeymanTotal * w) % t.wt AS rem
       |      FROM w, t),
       |b AS (SELECT SUM(base) AS sb FROM q),
       |r AS (SELECT q.*, b.sb,
       |        row_number() OVER (ORDER BY rem DESC, stratum) AS rk
       |      FROM q, b)
       |SELECT stratum, nh, CAST(sd AS BIGINT) AS sd,
       |  CAST(base + CASE WHEN rk <= $NeymanTotal - sb THEN 1 ELSE 0
       |    END AS BIGINT) AS alloc
       |FROM r ORDER BY stratum""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q176_stratified_lift" -> QueryDef(qStratifiedLift,
      Some(qStratifiedLiftSql),
      "A/B stratified-lift audit with pooled row (Simpson's-paradox " +
        "guard, exact ppm)"),
    "q213_ipw_ate" -> QueryDef(qIpwAte, Some(qIpwAteSql),
      "inverse-propensity-weighted treatment effect with per-segment propensities and naive baseline"),
    "q219_p_chart" -> QueryDef(qPChart, Some(qPChartSql),
      "p-chart control limits on daily error rate: varying-n 3-sigma bands via isqrt, out-of-control flags"),
    "q220_jackknife_se" -> QueryDef(qJackknife, Some(qJackknifeSql),
      "leave-one-day-out jackknife standard error of the mean, RNG-free resampling from day moments"),
    "q221_cuped" -> QueryDef(qCuped, Some(qCupedSql),
      "CUPED covariate adjustment: pooled theta, per-arm adjusted means, realized variance reduction"),
    "q222_srm_check" -> QueryDef(qSrm, Some(qSrmSql),
      "sample-ratio-mismatch goodness-of-fit per segment, exact micro chi-square, 3.84 alarm"),
    "q223_ratio_delta_ci" -> QueryDef(qRatioDelta, Some(qRatioDeltaSql),
      "delta-method CI for the value-per-event ratio metric, user-clustered moments, isqrt SE"),
    "q224_mde_planner" -> QueryDef(qMdePlanner, Some(qMdePlannerSql),
      "two-proportion sample-size/duration planner per segment at three MDEs, exact-micro z constants, ceil-safe"),
    "q248_shapley_attribution" -> QueryDef(qShapley, Some(qShapleySql),
      "exact Shapley channel attribution over the empirical 16-subset lattice"),
    "q254_diff_in_diff" -> QueryDef(qDiffInDiff, Some(qDiffInDiffSql),
      "difference-in-differences estimate, exact integer micro-cents"),
    "q278_neyman_allocation" -> QueryDef(qNeyman, Some(qNeymanSql),
      "Neyman stratified-sample allocation in exact integers: " +
        "DECIMAL(38,0) moments, corrected-floor isqrt sigma, " +
        "largest-remainder apportionment summing to n exactly"))
}
