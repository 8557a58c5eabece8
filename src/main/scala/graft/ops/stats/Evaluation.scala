package graft.ops
package stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import Tables.load

/** Model and predictor evaluation: accuracy, AUC, calibration, lift, PR
  * curves, conformal sets and folds. */
object Evaluation {

  // ------------------------------------------------------------- q156

  /** q156: MARKOV NEXT-EVENT PREDICTION + in-sample accuracy — the
    * simplest behavioral model a product-analytics stack ships: the
    * global first-order transition matrix (q84's per-user `lead`
    * pairs), an argmax predictor per current state (tie → smallest
    * next type, so the model is deterministic), and its in-sample
    * hit-rate per state in integer ppm. The argmax is one rank window
    * over the (states × states)-bounded transition table; scoring is
    * an equi-join of the transition pairs against the size-|states|
    * predictor table. */
  private def qMarkovAccuracy(s: SparkSession, dir: String): DataFrame = {
    val pairs = load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("cur"), col("next_type").as("nxt"))
    val trans = pairs.groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("cnt"))
    val pred = trans
      .withColumn("rk", row_number().over(Window.partitionBy(col("cur"))
        .orderBy(col("cnt").desc, col("nxt"))))
      .filter(col("rk") === 1)
      .select(col("cur"), col("nxt").as("predicted"))
    pairs.join(pred, "cur")
      .groupBy(col("cur"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("nxt") === col("predicted"), 1L).otherwise(0L))
          .as("hits"),
        max(col("predicted")).as("predicted"))
      .withColumn("acc_ppm", expr("hits * 1000000 div n"))
      .select(col("cur"), col("predicted"), col("n"), col("hits"),
        col("acc_ppm"))
      .orderBy(col("cur"))
  }

  private val qMarkovAccuracySql =
    """WITH p AS (
      |  SELECT event_type AS cur,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS nxt
      |  FROM events),
      |pairs AS (SELECT cur, nxt FROM p WHERE nxt IS NOT NULL),
      |trans AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS cnt
      |          FROM pairs GROUP BY 1, 2),
      |pred AS (
      |  SELECT cur, nxt AS predicted FROM (
      |    SELECT cur, nxt, row_number() OVER (PARTITION BY cur
      |      ORDER BY cnt DESC, nxt) AS rk FROM trans) t
      |  WHERE rk = 1)
      |SELECT pairs.cur AS cur, MAX(predicted) AS predicted,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hits,
      |  CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // COUNT(*) AS acc_ppm
      |FROM pairs JOIN pred ON pred.cur = pairs.cur
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q185

  /** q185: GROUP AUC (Mann–Whitney), integer-exact, histogram-shaped —
    * the ranking-quality statistic for "does value separate purchases
    * from the rest", per user segment. Doubled-U convention keeps
    * half-credit ties in BIGINT: 2U = Σ_v pos(v)·(2·negBelow(v) +
    * neg(v)), auc_ppm = 2U·10^6 div (2·nPos·nNeg), with the final
    * products routed through DECIMAL(38,0) (2U·10^6 overflows int64 at
    * the 100× directory).
    *
    * Scale shape: the q154/q168 lesson applied from the start — the
    * only big-data op is the map-side-combinable groupBy(segment,
    * value); ranks, tie credit, and the AUC itself come from running
    * sums over the value HISTOGRAM, never a row_number over the raw
    * table. */
  private def qGroupAuc(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(pmod(col("user_id"), lit(4)).as("segment"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val hist = ev.groupBy(col("segment"), col("v"))
      .agg(sum(col("pos")).as("p"), sum(lit(1L) - col("pos")).as("ng"))
    val w = Window.partitionBy(col("segment")).orderBy(col("v"))
    hist
      .withColumn("neg_below", sum(col("ng")).over(w) - col("ng"))
      .groupBy(col("segment"))
      .agg(sum(col("p")).as("n_pos"), sum(col("ng")).as("n_neg"),
        sum(expr("p * (2 * neg_below + ng)")).as("u2"))
      .withColumn("auc_ppm", expr(
        "CAST(CAST(u2 AS DECIMAL(38,0)) * 1000000 div " +
          "(2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"))
      .select(col("segment"), col("n_pos"), col("n_neg"), col("auc_ppm"))
      .orderBy(col("segment"))
  }

  private val qGroupAucSql =
    """WITH ev AS (
      |  SELECT user_id % 4 AS segment,
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events),
      |hist AS (
      |  SELECT segment, v, CAST(SUM(pos) AS BIGINT) AS p,
      |    CAST(SUM(1 - pos) AS BIGINT) AS ng
      |  FROM ev GROUP BY 1, 2),
      |c AS (
      |  SELECT segment, p, ng,
      |    SUM(ng) OVER (PARTITION BY segment ORDER BY v) - ng AS neg_below
      |  FROM hist)
      |SELECT segment, CAST(SUM(p) AS BIGINT) AS n_pos,
      |  CAST(SUM(ng) AS BIGINT) AS n_neg,
      |  CAST(CAST(SUM(p * (2 * neg_below + ng)) AS HUGEINT) * 1000000
      |    // (2 * CAST(SUM(p) AS HUGEINT) * SUM(ng)) AS BIGINT) AS auc_ppm
      |FROM c GROUP BY segment ORDER BY segment""".stripMargin

  /* Eleventh wave (round 7): the MODEL-EVALUATION battery — the reports
    * a training-data pipeline runs on a scored validation slice before a
    * model (or a data-quality classifier feeding the curation queries)
    * is allowed to gate anything: calibration (reliability diagram +
    * ECE), the Brier score with its Murphy decomposition, gains/lift,
    * the precision/recall operating table, and a Hellinger drift check
    * between serving windows.
    *
    * One shared device: a deterministic synthetic "classifier" over
    * `events` — score_ppm in [0, 10^6) derived from an md5-seeded
    * uniform plus a +0.25 shift on true positives (purchases). The
    * shift makes every metric non-trivial (AUC ≈ 0.7, miscalibrated by
    * construction) while staying integer-exact in both engines
    * (hex→int via `conv`/`0x`-cast, the q166 device).
    *
    * House rules throughout: the ONLY per-row work is one map-side-
    * combinable groupBy onto a ≤(segments×bins) histogram; every
    * statistic is then bounded-table arithmetic in BIGINT with
    * DECIMAL(38,0)/HUGEINT routing where products can pass 2^63; square
    * roots go through the `graft_isqrt` ±1-corrected integer device
    * (MathExpressions.scala) so no float ever reaches a compared value. */

  /** Scored validation slice: (segment, pos, score_ppm). Positives are
    * shifted up 250k ppm, then clamped — uniform noise*3/4 keeps
    * negatives in [0, 749999] so the top bin is positive-only. */
  private def scored(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(pmod(col("user_id"), lit(4)).as("segment"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"),
        expr("CAST(conv(substring(md5(concat('cal:', " +
          "CAST(event_id AS STRING))), 1, 6), 16, 10) AS BIGINT)").as("h"))
      .withColumn("score_ppm",
        least(lit(999999L), expr("(h % 1000000) * 3 div 4") +
          col("pos") * 250000L))
      .drop("h")

  private val scoredSql =
    """ev AS (
      |  SELECT user_id % 4 AS segment,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
      |    CAST(('0x' || substring(md5('cal:' || CAST(event_id AS VARCHAR)),
      |      1, 6)) AS BIGINT) AS h
      |  FROM events),
      |sc AS (
      |  SELECT segment, CAST(pos AS BIGINT) AS pos,
      |    least(999999, (h % 1000000) * 3 // 4 + pos * 250000)
      |      AS score_ppm
      |  FROM ev)""".stripMargin

  // ------------------------------------------------------------- q201

  /** q201: RELIABILITY DIAGRAM + ECE per segment — the calibration
    * report: ten equal-width confidence bins; per bin the mean
    * predicted confidence vs the observed positive rate and their gap;
    * per segment the expected calibration error Σ n_b·|gap_b| / N.
    *
    * Scale shape: one groupBy(segment, bin) histogram (map-side
    * combinable), then window arithmetic over ≤40 rows. */
  private def qReliabilityEce(s: SparkSession, dir: String): DataFrame =
    scored(s, dir)
      .groupBy(col("segment"), expr("score_ppm div 100000").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("score_ppm")).as("sum_score"))
      .withColumn("conf_ppm", expr("sum_score div n"))
      .withColumn("acc_ppm", expr("n_pos * 1000000 div n"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
      .withColumn("ece_ppm", expr(
        "CAST(sum(CAST(n AS DECIMAL(38,0)) * gap_ppm)" +
          " OVER (PARTITION BY segment)" +
          " div sum(n) OVER (PARTITION BY segment) AS BIGINT)"))
      .select(col("segment"), col("bin"), col("n"), col("n_pos"),
        col("conf_ppm"), col("acc_ppm"), col("gap_ppm"), col("ece_ppm"))
      .orderBy(col("segment"), col("bin"))

  private val qReliabilityEceSql =
    s"""WITH $scoredSql,
      |b AS (
      |  SELECT segment, score_ppm // 100000 AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(score_ppm) AS BIGINT) AS sum_score
      |  FROM sc GROUP BY 1, 2),
      |g AS (
      |  SELECT segment, bin, n, n_pos,
      |    sum_score // n AS conf_ppm,
      |    n_pos * 1000000 // n AS acc_ppm
      |  FROM b)
      |SELECT segment, bin, n, n_pos,
      |  CAST(conf_ppm AS BIGINT) AS conf_ppm,
      |  CAST(acc_ppm AS BIGINT) AS acc_ppm,
      |  CAST(abs(conf_ppm - acc_ppm) AS BIGINT) AS gap_ppm,
      |  CAST(SUM(CAST(n AS HUGEINT) * abs(conf_ppm - acc_ppm))
      |      OVER (PARTITION BY segment)
      |    // SUM(n) OVER (PARTITION BY segment) AS BIGINT) AS ece_ppm
      |FROM g ORDER BY segment, bin""".stripMargin

  // ------------------------------------------------------------- q203

  /** q203: BRIER SCORE + MURPHY DECOMPOSITION per segment — the proper
    * scoring rule behind the q201 diagram: the direct mean squared
    * error of the probabilistic forecast, plus its reliability /
    * resolution / uncertainty components over the same ten bins.
    * (With integer-truncated bin means the Murphy identity
    * brier ≈ rel − res + unc holds to rounding; all four are reported
    * independently, each exact under its own ppm convention.)
    *
    * Scale shape: the per-row pass folds score and score² into the
    * same single histogram groupBy (score² ≤ 10^12 per row, summed in
    * DECIMAL(38,0)); everything after is ≤40-row arithmetic. */
  private def qBrierDecomposition(s: SparkSession, dir: String): DataFrame = {
    val bins = scored(s, dir)
      .groupBy(col("segment"), expr("score_ppm div 100000").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("score_ppm")).as("sum_score"),
        sum(expr("CAST(score_ppm AS DECIMAL(38,0)) * score_ppm"))
          .as("sum_score2"),
        sum(expr("score_ppm * pos")).as("sum_score_pos"))
      .withColumn("conf_ppm", expr("sum_score div n"))
      .withColumn("acc_ppm", expr("n_pos * 1000000 div n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("segment"))
    bins
      .withColumn("tot_n", sum(col("n")).over(w))
      .withColumn("tot_pos", sum(col("n_pos")).over(w))
      .withColumn("base_ppm", expr("tot_pos * 1000000 div tot_n"))
      .groupBy(col("segment"))
      .agg(max(col("tot_n")).as("n"), max(col("base_ppm")).as("base_ppm"),
        sum(expr("sum_score2 - 2 * CAST(sum_score_pos AS DECIMAL(38,0))" +
          " * 1000000 + CAST(n_pos AS DECIMAL(38,0)) * 1000000000000"))
          .as("brier_num"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * (conf_ppm - acc_ppm)" +
          " * (conf_ppm - acc_ppm)")).as("rel_num"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * (acc_ppm - base_ppm)" +
          " * (acc_ppm - base_ppm)")).as("res_num"))
      .withColumn("brier_ppm", expr(
        "CAST(brier_num div (CAST(n AS DECIMAL(38,0)) * 1000000)" +
          " AS BIGINT)"))
      .withColumn("rel_ppm", expr(
        "CAST(rel_num div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)"))
      .withColumn("res_ppm", expr(
        "CAST(res_num div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)"))
      .withColumn("unc_ppm", expr(
        "base_ppm * (1000000 - base_ppm) div 1000000"))
      .select(col("segment"), col("n"), col("base_ppm"), col("brier_ppm"),
        col("rel_ppm"), col("res_ppm"), col("unc_ppm"))
      .orderBy(col("segment"))
  }

  private val qBrierDecompositionSql =
    s"""WITH $scoredSql,
      |b AS (
      |  SELECT segment, score_ppm // 100000 AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(score_ppm) AS BIGINT) AS sum_score,
      |    SUM(CAST(score_ppm AS HUGEINT) * score_ppm) AS sum_score2,
      |    CAST(SUM(score_ppm * pos) AS BIGINT) AS sum_score_pos
      |  FROM sc GROUP BY 1, 2),
      |g AS (
      |  SELECT segment, bin, n, n_pos, sum_score2, sum_score_pos,
      |    sum_score // n AS conf_ppm, n_pos * 1000000 // n AS acc_ppm,
      |    SUM(n) OVER (PARTITION BY segment) AS tot_n,
      |    SUM(n_pos) OVER (PARTITION BY segment) AS tot_pos
      |  FROM b),
      |g2 AS (
      |  SELECT *, tot_pos * 1000000 // tot_n AS base_ppm FROM g)
      |SELECT segment, CAST(MAX(tot_n) AS BIGINT) AS n,
      |  CAST(MAX(base_ppm) AS BIGINT) AS base_ppm,
      |  CAST(SUM(sum_score2 - 2 * CAST(sum_score_pos AS HUGEINT) * 1000000
      |      + CAST(n_pos AS HUGEINT) * 1000000000000)
      |    // (CAST(MAX(tot_n) AS HUGEINT) * 1000000) AS BIGINT)
      |    AS brier_ppm,
      |  CAST(SUM(CAST(n AS HUGEINT) * (conf_ppm - acc_ppm)
      |      * (conf_ppm - acc_ppm))
      |    // (CAST(MAX(tot_n) AS HUGEINT) * 1000000) AS BIGINT) AS rel_ppm,
      |  CAST(SUM(CAST(n AS HUGEINT) * (acc_ppm - base_ppm)
      |      * (acc_ppm - base_ppm))
      |    // (CAST(MAX(tot_n) AS HUGEINT) * 1000000) AS BIGINT) AS res_ppm,
      |  CAST(MAX(base_ppm) * (1000000 - MAX(base_ppm)) // 1000000
      |    AS BIGINT) AS unc_ppm
      |FROM g2 GROUP BY segment ORDER BY segment""".stripMargin

  // ------------------------------------------------------------- q204

  /** q204: GAINS / LIFT TABLE — "score the corpus, take the top slice
    * first": per descending confidence bin, cumulative share of all
    * positives captured (gain) and the capture rate relative to random
    * (lift). The campaign-targeting / active-learning budget report.
    *
    * Scale shape: the same single histogram groupBy; cumulative sums
    * are a window over ten rows, lift products routed DECIMAL. */
  private def qDecileLift(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    scored(s, dir)
      .groupBy(expr("score_ppm div 100000").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .withColumn("tot_n", sum(col("n")).over(wAll))
      .withColumn("tot_pos", sum(col("n_pos")).over(wAll))
      .withColumn("gain_ppm", expr("cum_pos * 1000000 div tot_pos"))
      .withColumn("lift_ppm", expr(
        "CAST(CAST(cum_pos AS DECIMAL(38,0)) * tot_n * 1000000" +
          " div (CAST(cum_n AS DECIMAL(38,0)) * tot_pos) AS BIGINT)"))
      .select(col("bin"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"), col("gain_ppm"), col("lift_ppm"))
      .orderBy(col("bin").desc)
  }

  private val qDecileLiftSql =
    s"""WITH $scoredSql,
      |b AS (
      |  SELECT score_ppm // 100000 AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos
      |  FROM sc GROUP BY 1),
      |c AS (
      |  SELECT bin, n, n_pos,
      |    SUM(n) OVER (ORDER BY bin DESC
      |      ROWS UNBOUNDED PRECEDING) AS cum_n,
      |    SUM(n_pos) OVER (ORDER BY bin DESC
      |      ROWS UNBOUNDED PRECEDING) AS cum_pos,
      |    SUM(n) OVER () AS tot_n, SUM(n_pos) OVER () AS tot_pos
      |  FROM b)
      |SELECT bin, n, n_pos, CAST(cum_n AS BIGINT) AS cum_n,
      |  CAST(cum_pos AS BIGINT) AS cum_pos,
      |  CAST(cum_pos * 1000000 // tot_pos AS BIGINT) AS gain_ppm,
      |  CAST(CAST(cum_pos AS HUGEINT) * tot_n * 1000000
      |    // (CAST(cum_n AS HUGEINT) * tot_pos) AS BIGINT) AS lift_ppm
      |FROM c ORDER BY bin DESC""".stripMargin

  // ------------------------------------------------------------- q205

  /** q205: PRECISION/RECALL OPERATING TABLE — confusion counts,
    * precision, recall and F1 at every decision threshold on the bin
    * grid; the table an operator reads to pick the cutoff a quality
    * classifier ships with. Emitted via the bounded fan-out
    * `sequence(0, bin)` (a bin serves every threshold at or below it)
    * — the q163 device — so no cross join and no row_number anywhere.
    *
    * Scale shape: histogram first (map-side combinable), then a ≤10×10
    * fan-out and a ten-row groupBy. */
  private def qPrCurve(s: SparkSession, dir: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    scored(s, dir)
      .groupBy(expr("score_ppm div 100000").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .withColumn("tot_pos", sum(col("n_pos")).over(wAll))
      .withColumn("k", explode(expr("sequence(0L, bin)")))
      .groupBy(col("k"))
      .agg(sum(col("n_pos")).as("tp"),
        sum(col("n") - col("n_pos")).as("fp"),
        max(col("tot_pos")).as("tot_pos"))
      .withColumn("fn", col("tot_pos") - col("tp"))
      .withColumn("precision_ppm", expr("tp * 1000000 div (tp + fp)"))
      .withColumn("recall_ppm", expr("tp * 1000000 div tot_pos"))
      .withColumn("f1_ppm", expr(
        "CASE WHEN precision_ppm + recall_ppm = 0 THEN 0L" +
          " ELSE 2 * precision_ppm * recall_ppm" +
          " div (precision_ppm + recall_ppm) END"))
      .select((col("k") * 100000L).as("threshold_ppm"), col("tp"),
        col("fp"), col("fn"), col("precision_ppm"), col("recall_ppm"),
        col("f1_ppm"))
      .orderBy(col("threshold_ppm"))
  }

  private val qPrCurveSql =
    s"""WITH $scoredSql,
      |b AS (
      |  SELECT score_ppm // 100000 AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos
      |  FROM sc GROUP BY 1),
      |t AS (SELECT *, SUM(n_pos) OVER () AS tot_pos FROM b),
      |f AS (
      |  SELECT CAST(u.k AS BIGINT) AS k, t.n, t.n_pos, t.tot_pos
      |  FROM t CROSS JOIN unnest(generate_series(0, t.bin)) AS u(k)),
      |g AS (
      |  SELECT k, CAST(SUM(n_pos) AS BIGINT) AS tp,
      |    CAST(SUM(n - n_pos) AS BIGINT) AS fp,
      |    CAST(MAX(tot_pos) AS BIGINT) AS tot_pos
      |  FROM f GROUP BY k),
      |p AS (
      |  SELECT k, tp, fp, tot_pos - tp AS fn,
      |    tp * 1000000 // (tp + fp) AS precision_ppm,
      |    tp * 1000000 // tot_pos AS recall_ppm
      |  FROM g)
      |SELECT k * 100000 AS threshold_ppm, tp, fp,
      |  CAST(fn AS BIGINT) AS fn,
      |  CAST(precision_ppm AS BIGINT) AS precision_ppm,
      |  CAST(recall_ppm AS BIGINT) AS recall_ppm,
      |  CAST(CASE WHEN precision_ppm + recall_ppm = 0 THEN 0
      |    ELSE 2 * precision_ppm * recall_ppm
      |      // (precision_ppm + recall_ppm) END AS BIGINT) AS f1_ppm
      |FROM p ORDER BY threshold_ppm""".stripMargin

  /* Thirteenth wave (round 7): the EXPERIMENTATION & UNCERTAINTY
    * battery — leave-one-out target encoding (the leakage-safe
    * categorical feature), split-conformal prediction thresholds with
    * their finite-sample coverage check, next-order recommendation
    * hit-rate, an inverse-propensity-weighted treatment-effect estimate,
    * and the Nelson–Aalen cumulative hazard (the log/product-free
    * member of the survival family — a pure Σ d/n, unlike Kaplan–Meier's
    * running product which no integer convention can gate).
    *
    * House rules: integer ppm conventions, DECIMAL(38,0)/HUGEINT
    * routing, histogram-shaped rank lookups (q154/q168 device), no
    * row_number over raw fact tables unless the partition is per-entity
    * bounded. */

  // ------------------------------------------------------------- q210

  /** q210: LEAVE-ONE-OUT TARGET ENCODING of part brand against the
    * return flag — the leakage-safe way to turn a categorical into a
    * model feature: each row's encoding excludes its own label
    * ((pos_c − y)/(n_c − 1)), plus the m-estimate smoothed encoding
    * ((pos_c + m·global)/(n_c + m), m = 100). Binary target ⇒ the LOO
    * value takes exactly two values per brand, so the full per-row
    * encoding is REPORTABLE as (loo_pos_ppm, loo_neg_ppm) without
    * materializing a per-row column.
    *
    * Scale shape: one fact⋈dim equi-join (brand is on `part`; AQE
    * picks the join strategy), one map-side-combinable groupBy(brand),
    * then 25-row arithmetic with a 1-row global broadcast. */
  private def qTargetEncoding(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val pt = load(s, dir, "part")
      .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))
    val byBrand = li.join(pt, "pk")
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val g = byBrand.agg(sum(col("n")).as("tot_n"), sum(col("pos")).as("tot_pos"))
      .withColumn("global_ppm", expr("tot_pos * 1000000 div tot_n"))
    byBrand.crossJoin(broadcast(g))
      .withColumn("rate_ppm", expr("pos * 1000000 div n"))
      .withColumn("smoothed_ppm", expr(
        "(pos * 1000000 + 100 * global_ppm) div (n + 100)"))
      .withColumn("loo_pos_ppm", expr(
        "CASE WHEN n <= 1 THEN global_ppm" +
          " ELSE (pos - 1) * 1000000 div (n - 1) END"))
      .withColumn("loo_neg_ppm", expr(
        "CASE WHEN n <= 1 THEN global_ppm" +
          " ELSE pos * 1000000 div (n - 1) END"))
      .select(col("brand"), col("n"), col("pos"), col("rate_ppm"),
        col("global_ppm"), col("smoothed_ppm"), col("loo_pos_ppm"),
        col("loo_neg_ppm"))
      .orderBy(col("brand"))
  }

  private val qTargetEncodingSql =
    """WITH li AS (
      |  SELECT l_partkey AS pk,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem),
      |bb AS (
      |  SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS pos
      |  FROM li JOIN part ON p_partkey = pk GROUP BY 1),
      |g AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS tot_n,
      |    CAST(SUM(pos) AS BIGINT) AS tot_pos,
      |    CAST(SUM(pos) * 1000000 // SUM(n) AS BIGINT) AS global_ppm
      |  FROM bb)
      |SELECT brand, n, pos,
      |  CAST(pos * 1000000 // n AS BIGINT) AS rate_ppm, global_ppm,
      |  CAST((pos * 1000000 + 100 * global_ppm) // (n + 100) AS BIGINT)
      |    AS smoothed_ppm,
      |  CAST(CASE WHEN n <= 1 THEN global_ppm
      |    ELSE (pos - 1) * 1000000 // (n - 1) END AS BIGINT)
      |    AS loo_pos_ppm,
      |  CAST(CASE WHEN n <= 1 THEN global_ppm
      |    ELSE pos * 1000000 // (n - 1) END AS BIGINT) AS loo_neg_ppm
      |FROM bb CROSS JOIN g ORDER BY brand""".stripMargin

  // ------------------------------------------------------------- q211

  /** q211: SPLIT-CONFORMAL PREDICTION THRESHOLDS + COVERAGE — the
    * distribution-free uncertainty wrapper around the wave-11
    * classifier: an md5 split makes a calibration half; nonconformity
    * is score for negatives, 10^6 − score for positives; for each
    * α ∈ {10%, 5%, 1%} the threshold is the ⌈(n_cal+1)(1−α)⌉-th
    * smallest calibration nonconformity; the report checks the
    * finite-sample guarantee by measuring coverage on the held-out
    * half (claim: ≥ 1−α in expectation).
    *
    * Scale shape: the rank lookup is the q168 histogram device — one
    * map-side-combinable groupBy(split, nonconformity), running
    * counts on the bounded value table, a conditional-min per α; the
    * coverage probe joins the 3-row threshold table back to the same
    * histogram, never the raw rows. */
  private def qConformal(s: SparkSession, dir: String): DataFrame = {
    val sc = load(s, dir, "events")
      .select(
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"),
        expr("CAST(conv(substring(md5(concat('cal:', " +
          "CAST(event_id AS STRING))), 1, 6), 16, 10) AS BIGINT)").as("h"),
        when(substring(md5(concat(lit("split:"), col("event_id"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "cal")
          .otherwise("test").as("half"))
      .withColumn("score_ppm",
        least(lit(999999L), expr("(h % 1000000) * 3 div 4") +
          col("pos") * 250000L))
      .withColumn("nc",
        when(col("pos") === 1L, lit(1000000L) - col("score_ppm"))
          .otherwise(col("score_ppm")))
    val hist = sc.groupBy(col("half"), col("nc"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("half")).orderBy(col("nc"))))
      .withColumn("n_half", sum(col("c")).over(
        Window.partitionBy(col("half"))))
    val alphas = hist.filter(col("half") === "cal")
      .withColumn("alpha_ppm", explode(expr(
        "array(100000L, 50000L, 10000L)")))
      .withColumn("k", expr(
        "(CAST(n_half + 1 AS DECIMAL(38,0)) * (1000000 - alpha_ppm)" +
          " + 999999) div 1000000"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("alpha_ppm"))
      .agg(min(col("nc")).as("threshold"), max(col("n_half")).as("n_cal"),
        max(col("k")).as("k_rank"))
    val cover = alphas.join(
      hist.filter(col("half") === "test")
        .select(col("nc"), col("c"), col("n_half").as("n_test")),
      col("nc") <= col("threshold"), "left")
      .groupBy(col("alpha_ppm"), col("n_cal"), col("k_rank"),
        col("threshold"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("covered"),
        max(col("n_test")).as("n_test"))
    cover
      .withColumn("coverage_ppm", expr("covered * 1000000 div n_test"))
      .select(col("alpha_ppm"), col("n_cal"), col("k_rank"),
        col("threshold"), col("n_test"), col("covered"),
        col("coverage_ppm"))
      .orderBy(col("alpha_ppm"))
  }

  private val qConformalSql =
    """WITH ev AS (
      |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
      |    CAST(('0x' || substring(md5('cal:' || CAST(event_id AS VARCHAR)),
      |      1, 6)) AS BIGINT) AS h,
      |    CASE WHEN substring(md5('split:' || event_id), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 'cal' ELSE 'test'
      |      END AS half
      |  FROM events),
      |sc AS (
      |  SELECT half, pos,
      |    least(999999, (h % 1000000) * 3 // 4 + pos * 250000) AS score_ppm
      |  FROM ev),
      |nc AS (
      |  SELECT half, CASE WHEN pos = 1 THEN 1000000 - score_ppm
      |    ELSE score_ppm END AS nc
      |  FROM sc),
      |hist AS (
      |  SELECT half, nc, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM nc GROUP BY 1, 2),
      |cumh AS (
      |  SELECT half, nc, c,
      |    SUM(c) OVER (PARTITION BY half ORDER BY nc) AS cum,
      |    SUM(c) OVER (PARTITION BY half) AS n_half
      |  FROM hist),
      |al AS (
      |  SELECT CAST(u.a AS BIGINT) AS alpha_ppm, cumh.*
      |  FROM cumh CROSS JOIN
      |    unnest([100000, 50000, 10000]) AS u(a)
      |  WHERE half = 'cal'),
      |th AS (
      |  SELECT alpha_ppm,
      |    CAST(MIN(CASE WHEN cum >= (CAST(n_half + 1 AS HUGEINT)
      |        * (1000000 - alpha_ppm) + 999999) // 1000000
      |      THEN nc END) AS BIGINT) AS threshold,
      |    CAST(MAX(n_half) AS BIGINT) AS n_cal,
      |    CAST(MAX((CAST(n_half + 1 AS HUGEINT) * (1000000 - alpha_ppm)
      |      + 999999) // 1000000) AS BIGINT) AS k_rank
      |  FROM al GROUP BY 1)
      |SELECT th.alpha_ppm, th.n_cal, th.k_rank, th.threshold,
      |  CAST(MAX(t.n_half) AS BIGINT) AS n_test,
      |  CAST(COALESCE(SUM(CASE WHEN t.nc <= th.threshold THEN t.c END), 0)
      |    AS BIGINT) AS covered,
      |  CAST(COALESCE(SUM(CASE WHEN t.nc <= th.threshold THEN t.c END), 0)
      |    * 1000000 // MAX(t.n_half) AS BIGINT) AS coverage_ppm
      |FROM th, cumh t
      |WHERE t.half = 'test'
      |GROUP BY 1, 2, 3, 4 ORDER BY alpha_ppm""".stripMargin

  // ------------------------------------------------------------- q212

  /** q212: NEXT-ORDER RECOMMENDATION HIT-RATE — the offline eval of a
    * popularity recommender: per customer the LAST order (by date,
    * order-key tie-break) is held out; the top-10 most-ordered parts
    * across all EARLIER orders are "recommended"; a customer counts as
    * hit if the held-out order contains any recommended part. Reported
    * per market segment so the lift of personalization work has a
    * baseline to beat.
    *
    * Scale shape: the last-order pick is a per-customer max (orders
    * per customer are bounded ~10 — one map-side-combinable groupBy +
    * re-join, no global window); popularity is a groupBy(part) with a
    * 10-row TakeOrdered broadcast back; the hit probe is one semi-join
    * of held-out lineitems against that 10-row table. */
  private def qNextOrderHitrate(s: SparkSession, dir: String): DataFrame = {
    val ord = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    // last order = max (date, key) packed — bounded per-customer agg,
    // the q164/q70 shape, never a global row_number
    val last = ord
      .withColumn("dk", expr(
        "CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)" +
          " * 10000000000 + o_orderkey"))
      .groupBy(col("o_custkey")).agg(max(col("dk")).as("dk"))
      .withColumn("last_key", expr("dk % 10000000000"))
      .select(col("o_custkey"), col("last_key"))
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val withCust = li.join(
      ord.select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
      "l_orderkey")
      .join(last, "o_custkey")
      .withColumn("held_out", col("l_orderkey") === col("last_key"))
    val top10 = withCust.filter(!col("held_out"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("l_partkey")).limit(10)
      .select(col("l_partkey").as("rec_part"))
    val seg = load(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    withCust.filter(col("held_out"))
      .join(broadcast(top10), col("l_partkey") === col("rec_part"),
        "left")
      .groupBy(col("o_custkey"))
      .agg(max(when(col("rec_part").isNotNull, 1L).otherwise(0L))
        .as("hit"))
      .join(seg, "o_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), sum(col("hit")).as("n_hits"))
      .withColumn("hitrate_ppm", expr("n_hits * 1000000 div n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  private val qNextOrderHitrateSql =
    """WITH ord AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) * 10000000000 + o_orderkey AS dk
      |  FROM orders),
      |last AS (
      |  SELECT o_custkey, MAX(dk) % 10000000000 AS last_key
      |  FROM ord GROUP BY 1),
      |wc AS (
      |  SELECT li.l_orderkey, li.l_partkey, o.o_custkey,
      |    li.l_orderkey = last.last_key AS held_out
      |  FROM lineitem li
      |  JOIN orders o ON o.o_orderkey = li.l_orderkey
      |  JOIN last ON last.o_custkey = o.o_custkey),
      |top10 AS (
      |  SELECT l_partkey AS rec_part FROM wc WHERE NOT held_out
      |  GROUP BY 1 ORDER BY COUNT(*) DESC, l_partkey LIMIT 10),
      |hits AS (
      |  SELECT wc.o_custkey,
      |    CAST(MAX(CASE WHEN t.rec_part IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS hit
      |  FROM wc LEFT JOIN top10 t ON t.rec_part = wc.l_partkey
      |  WHERE wc.held_out GROUP BY 1)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(hit) AS BIGINT) AS n_hits,
      |  CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS hitrate_ppm
      |FROM hits JOIN customer ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q240: STRATIFIED K-FOLD audit. Every doc gets a deterministic fold
    * in [0,8); the report compares each fold's language mix against the
    * global mix in exact ppm. Shapes: one groupBy to the (fold, lang)
    * grid (≤ 8×#langs rows), a fold-partitioned window for fold totals,
    * and a broadcast join of the #langs-row global shares. A skewed
    * dev_ppm column is the signal a fold split leaks distribution. */
  private def qStratifiedFolds(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .withColumn("fold",
        expr("((doc_id % 1000000007) * 1103515245 + 12345) % 2147483648 div 268435456"))
    val grid = docs.groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val globalLang = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("gn"))
      // one row per language: alphabet-bounded (PlanAuditSpec allow-list)
      .withColumn("total", sum(col("gn")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("lang"), expr("gn * 1000000 div total")
        .as("global_share_ppm"))
    grid.withColumn("fold_n", sum(col("n")).over(
        Window.partitionBy(col("fold"))))
      .withColumn("fold_share_ppm", expr("n * 1000000 div fold_n"))
      .join(broadcast(globalLang), Seq("lang"))
      .select(col("fold"), col("lang"), col("n"), col("fold_n"),
        col("fold_share_ppm"), col("global_share_ppm"),
        (col("fold_share_ppm") - col("global_share_ppm")).as("dev_ppm"))
      .orderBy(col("fold"), col("lang"))
  }

  private val qStratifiedFoldsSql =
    """WITH d AS (
      |  SELECT lang,
      |    ((doc_id % 1000000007) * 1103515245 + 12345) % 2147483648
      |      // 268435456 AS fold
      |  FROM documents),
      |grid AS (
      |  SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM d GROUP BY 1, 2),
      |g AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS gn FROM d GROUP BY 1),
      |gs AS (
      |  SELECT lang, gn * 1000000 // (SELECT COUNT(*) FROM d)
      |    AS global_share_ppm FROM g)
      |SELECT fold, grid.lang, n,
      |  CAST(SUM(n) OVER (PARTITION BY fold) AS BIGINT) AS fold_n,
      |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY fold) AS BIGINT)
      |    AS fold_share_ppm,
      |  global_share_ppm,
      |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY fold)
      |    - global_share_ppm AS BIGINT) AS dev_ppm
      |FROM grid JOIN gs ON gs.lang = grid.lang
      |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------- q260

  /** q260: isotonic fit of P(returnflag = 'R') vs l_quantity on the
    * truncated micro grid. */
  private def qIsotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val bins = load(s, dir, "lineitem")
      .groupBy(col("l_quantity").cast("long").as("x"))
      .agg(count(lit(1)).as("w"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("sy"))
    // ≤50-row quantity alphabet: bounded global window (allow-listed)
    val wOrd = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = bins
      .withColumn("cw", sum(col("w")).over(wOrd))
      .withColumn("cs", sum(col("sy")).over(wOrd))
    val lo = pref.select(col("x").as("j"), col("cw").as("cwj"),
      col("cs").as("csj"), col("w").as("wj"), col("sy").as("syj"))
    val hi = pref.select(col("x").as("k"), col("cw").as("cwk"),
      col("cs").as("csk"))
    // all (j ≤ k) interval averages on the micro grid — ≤ 1275 rows
    val avgs = lo.join(hi, col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr("(csk - csj + syj) * 1000000 div (cwk - cwj + wj)")
          .as("avg_micro"))
    val mids = bins.select(col("x").as("i"))
    // minK(j, i) = min over k ≥ i; fit(i) = max over j ≤ i
    val fit = avgs.join(mids,
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("j"), col("i")).agg(min(col("avg_micro")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("iso_fit_micro"))
    bins.join(fit, col("x") === col("i"))
      .select(col("x"), col("w"), col("sy"),
        expr("sy * 1000000 div w").as("raw_rate_micro"),
        col("iso_fit_micro"))
      .withColumn("monotone_ok",
        coalesce(col("iso_fit_micro") >=
          lag(col("iso_fit_micro"), 1).over(Window.orderBy(col("x"))),
          lit(true)))
      .orderBy(col("x"))
  }

  private val qIsotonicCalibrationSql =
    """WITH bins AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(COUNT(*) AS BIGINT) AS w,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS sy
      |  FROM lineitem GROUP BY 1),
      |pref AS (
      |  SELECT x, w, sy,
      |    CAST(SUM(w) OVER (ORDER BY x) AS BIGINT) AS cw,
      |    CAST(SUM(sy) OVER (ORDER BY x) AS BIGINT) AS cs
      |  FROM bins),
      |avgs AS (
      |  SELECT lo.x AS j, hi.x AS k,
      |    (hi.cs - lo.cs + lo.sy) * 1000000
      |      // (hi.cw - lo.cw + lo.w) AS avg_micro
      |  FROM pref lo JOIN pref hi ON lo.x <= hi.x),
      |mins AS (
      |  SELECT a.j, m.x AS i, MIN(a.avg_micro) AS mn
      |  FROM avgs a JOIN bins m ON a.j <= m.x AND m.x <= a.k
      |  GROUP BY 1, 2),
      |fit AS (
      |  SELECT i, CAST(MAX(mn) AS BIGINT) AS iso_fit_micro
      |  FROM mins GROUP BY 1)
      |SELECT b.x, b.w, b.sy,
      |  b.sy * 1000000 // b.w AS raw_rate_micro, f.iso_fit_micro,
      |  COALESCE(f.iso_fit_micro >= lag(f.iso_fit_micro, 1)
      |    OVER (ORDER BY b.x), TRUE) AS monotone_ok
      |FROM bins b JOIN fit f ON f.i = b.x
      |ORDER BY b.x""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q156_markov_accuracy" -> QueryDef(qMarkovAccuracy,
      Some(qMarkovAccuracySql),
      "first-order Markov next-event predictor + in-sample ppm accuracy"),
    "q185_group_auc" -> QueryDef(qGroupAuc, Some(qGroupAucSql),
      "Mann-Whitney AUC per segment, doubled-U tie handling, value-histogram ranks"),
    "q201_reliability_ece" -> QueryDef(qReliabilityEce,
      Some(qReliabilityEceSql),
      "calibration reliability diagram + ECE per segment, histogram-shaped, ppm-exact"),
    "q203_brier_decomposition" -> QueryDef(qBrierDecomposition,
      Some(qBrierDecompositionSql),
      "Brier score + Murphy reliability/resolution/uncertainty per segment, DECIMAL-routed"),
    "q204_decile_lift" -> QueryDef(qDecileLift, Some(qDecileLiftSql),
      "gains/lift table over descending confidence bins, windowed cumulatives"),
    "q205_pr_curve" -> QueryDef(qPrCurve, Some(qPrCurveSql),
      "precision/recall/F1 operating table at every bin threshold via bounded sequence fan-out"),
    "q210_target_encoding" -> QueryDef(qTargetEncoding,
      Some(qTargetEncodingSql),
      "leave-one-out + m-estimate target encoding of part brand vs return flag, 25-row report"),
    "q211_conformal" -> QueryDef(qConformal, Some(qConformalSql),
      "split-conformal thresholds at three alphas via histogram rank + held-out coverage check"),
    "q212_next_order_hitrate" -> QueryDef(qNextOrderHitrate,
      Some(qNextOrderHitrateSql),
      "popularity-recommender hit-rate on each customer's held-out last order, per segment"),
    "q240_stratified_folds" -> QueryDef(qStratifiedFolds,
      Some(qStratifiedFoldsSql),
      "deterministic stratified k-fold assignment + per-fold mix audit"),
    "q260_isotonic_calibration" -> QueryDef(qIsotonicCalibration,
      Some(qIsotonicCalibrationSql),
      "isotonic (PAV) calibration of return rate vs quantity on the " +
        "bounded bin alphabet, minimax form, exact micro grid"))
}
