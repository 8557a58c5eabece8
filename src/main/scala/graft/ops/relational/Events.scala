package graft.ops
package relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import Tables.load

/** Event-stream analytics: funnels, retention, transitions, rate anomalies,
  * attribution, streaks and customer value. */
object Events {

  /** q82: ordered conversion FUNNEL — view → click → purchase, each
    * stage strictly AFTER the previous one for the same user (the
    * sequence constraint is what separates a funnel from three counts).
    * Three conditional aggregations keyed on user_id: the first shuffle
    * establishes the per-user partitioning and the following joins +
    * aggs reuse that key, so at scale this is one real shuffle plus
    * co-partitioned passes — never a per-user sort or collect. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
    val u1 = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("v"))
    val u2 = e.join(u1, "user_id")
      .groupBy(col("user_id"))
      .agg(first(col("v")).as("v"),
        min(when(col("event_type") === "click" && col("ts") > col("v"),
          col("ts"))).as("c"))
    val u3 = e.join(u2, "user_id")
      .groupBy(col("user_id"))
      .agg(first(col("v")).as("v"), first(col("c")).as("c"),
        min(when(col("event_type") === "purchase" && col("ts") > col("c"),
          col("ts"))).as("p"))
    u3.agg(
      count(lit(1)).as("n_users"),
      count(col("v")).as("n_viewed"),
      count(col("c")).as("n_clicked_after_view"),
      count(col("p")).as("n_full_funnel"),
      sum(when(col("p").isNotNull, col("user_id")).otherwise(0L))
        .as("converted_checksum"))
  }

  private val qFunnelSql =
    """WITH u1 AS (
      |  SELECT user_id,
      |   min(CASE WHEN event_type = 'view' THEN ts END) AS v
      |  FROM events GROUP BY user_id),
      |u2 AS (
      |  SELECT e.user_id, u1.v,
      |   min(CASE WHEN e.event_type = 'click' AND e.ts > u1.v
      |            THEN e.ts END) AS c
      |  FROM events e JOIN u1 USING (user_id) GROUP BY e.user_id, u1.v),
      |u3 AS (
      |  SELECT e.user_id, u2.v, u2.c,
      |   min(CASE WHEN e.event_type = 'purchase' AND e.ts > u2.c
      |            THEN e.ts END) AS p
      |  FROM events e JOIN u2 USING (user_id)
      |  GROUP BY e.user_id, u2.v, u2.c)
      |SELECT COUNT(*) AS n_users,
      | COUNT(v) AS n_viewed,
      | COUNT(c) AS n_clicked_after_view,
      | COUNT(p) AS n_full_funnel,
      | CAST(SUM(CASE WHEN p IS NOT NULL THEN user_id ELSE 0 END) AS BIGINT)
      |   AS converted_checksum
      |FROM u3""".stripMargin

  /** q83: retention COHORTS — users grouped by first-activity week,
    * crossed with the weeks they were active (the classic retention
    * triangle). Two aggregations and one equi-join, all keyed on
    * user_id / week — the shape survives any user count. */
  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
    val cohorts = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = e.select(col("user_id"),
        date_trunc("week", col("ts")).as("active_week"))
      .distinct()
    cohorts.join(active, "user_id")
      .groupBy(col("cohort_week"), col("active_week"))
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("checksum"))
      .orderBy(col("cohort_week"), col("active_week"))
  }

  private val qRetentionSql =
    """WITH f AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      |  FROM events)
      |SELECT f.cohort_week, a.active_week, COUNT(*) AS n_users,
      | CAST(SUM(f.user_id) AS BIGINT) AS checksum
      |FROM f JOIN a USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, active_week""".stripMargin

  /** q84: event-transition matrix — per-user event streams turned into
    * (from, to) bigram counts via a lead window (the Markov-chain /
    * path-analysis view of a clickstream). One shuffle on user_id; the
    * within-user sort is bounded by a single user's event count. */
  private def qTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    load(s, dir, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val qTransitionsSql =
    """SELECT event_type AS from_type, next_type AS to_type,
      | COUNT(*) AS n_transitions,
      | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM (
      |  SELECT user_id, event_type,
      |   lead(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS next_type
      |  FROM events) t
      |WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  /** q85: event-rate ANOMALY detection — hourly counts per event type
    * z-scored against that type's own hourly distribution; hours with
    * |z| ≥ 2 are flagged. Both moments accumulate in exact DECIMAL
    * (counts are integers, squares are integers), so mean and variance
    * agree bit-for-bit across engines before the one sqrt/divide —
    * the q69/q70 determinism recipe applied to monitoring. Shape: one
    * narrow agg to hourly counts, one tiny per-type agg over
    * (#types × #hours) rows, broadcast back. */
  private def qRateAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = load(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("n").cast(DecimalType(38, 0))).as("s1"),
        // cast ONE factor to decimal BEFORE multiplying (the q70 recipe):
        // long*long would wrap silently past ~3e9 hourly events, and the
        // wrapped product cast to decimal looks plausible downstream
        sum(col("n").cast(DecimalType(38, 0)) * col("n")).as("s2"))
      .withColumn("mean", col("s1").cast(DoubleType) / col("n_hours"))
      .withColumn("variance",
        (col("s2").cast(DoubleType)
          - col("s1").cast(DoubleType) * col("s1").cast(DoubleType)
            / col("n_hours")) / col("n_hours"))
      .select(col("event_type"), col("mean"), col("variance"))
    hourly.join(broadcast(stats), "event_type")
      .withColumn("z", (col("n").cast(DoubleType) - col("mean"))
        / sqrt(col("variance")))
      // variance > 0 keeps a degenerate all-equal series from emitting
      // ±Inf z-scores (deterministic but meaningless)
      .filter(col("variance") > 0.0 && abs(col("z")) >= 2.0)
      .select(col("event_type"), col("hour"), col("n"), col("z"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Shared with q112 (its streaming maintenance twin). */
  private val qRateAnomalySql =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type,
      |   CAST(SUM(CAST(n AS HUGEINT)) AS DOUBLE) / COUNT(*) AS mean,
      |   (CAST(SUM(CAST(n AS HUGEINT) * n) AS DOUBLE)
      |     - CAST(SUM(CAST(n AS HUGEINT)) AS DOUBLE)
      |       * CAST(SUM(CAST(n AS HUGEINT)) AS DOUBLE) / COUNT(*))
      |     / COUNT(*) AS variance
      |  FROM hourly GROUP BY event_type)
      |SELECT h.event_type, h.hour, h.n,
      | (CAST(h.n AS DOUBLE) - s.mean) / sqrt(s.variance) AS z
      |FROM hourly h JOIN stats s USING (event_type)
      |WHERE s.variance > 0.0
      |  AND abs((CAST(h.n AS DOUBLE) - s.mean) / sqrt(s.variance)) >= 2.0
      |ORDER BY event_type, hour""".stripMargin

  /** q141: MULTI-TOUCH ATTRIBUTION — every touchpoint (view/click/
    * signup) attributes to the user's NEAREST FOLLOWING purchase within
    * a [[AttrLookbackUs]] lookback; per conversion the first touch, the
    * last touch, and linear (1/n, integer ppm) credit roll up by touch
    * type. The marketing-warehouse staple on top of a CDC event feed,
    * and the missing ORDERED complement of q82's funnel counts.
    *
    * The "nearest following purchase" is one descending-order window
    * per user (`last(..., ignoreNulls)` over ts DESC unbounded→current
    * picks the closest later purchase) — so attribution is a single
    * user_id shuffle, and the per-conversion and per-type rollups reuse
    * that partitioning. No self-join of events against events: at 100
    * TB the window formulation touches each event once, where the
    * naive touch⋈purchase interval join is quadratic in per-user
    * activity. Credit is integer ppm (1e6 div n) so the gate never
    * hashes a float. */
  private val AttrLookbackUs = 7L * 86400L * 1000000L

  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val touched = e
      .withColumn("conv_id",
        last(when(col("event_type") === "purchase", col("event_id")), true)
          .over(wDesc))
      .withColumn("conv_us",
        last(when(col("event_type") === "purchase", col("us")), true)
          .over(wDesc))
      .filter(col("event_type").isin("view", "click", "signup") &&
        col("conv_id").isNotNull &&
        col("conv_us") - col("us") <= AttrLookbackUs)
    val wAsc = Window.partitionBy(col("conv_id"))
      .orderBy(col("us"), col("event_id"))
    val wDsc = Window.partitionBy(col("conv_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    val perConv = touched
      .withColumn("n_touches", count(lit(1)).over(
        Window.partitionBy(col("conv_id"))))
      .withColumn("rnk_first", row_number().over(wAsc))
      .withColumn("rnk_last", row_number().over(wDsc))
    perConv.groupBy(col("event_type").as("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("rnk_first") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("rnk_last") === 1, 1L).otherwise(0L)).as("n_last"),
        sum(expr("1000000 div n_touches")).as("linear_ppm"))
      .orderBy(col("touch_type"))
  }

  private val qAttributionSql =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |t AS (SELECT *,
       |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END
       |      IGNORE NULLS) OVER w AS conv_id,
       |    last_value(CASE WHEN event_type = 'purchase' THEN us END
       |      IGNORE NULLS) OVER w AS conv_us
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us DESC, event_id DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |tt AS (SELECT * FROM t
       |  WHERE event_type IN ('view', 'click', 'signup')
       |    AND conv_id IS NOT NULL AND conv_us - us <= $AttrLookbackUs),
       |pc AS (SELECT *,
       |    COUNT(*) OVER (PARTITION BY conv_id) AS n_touches,
       |    ROW_NUMBER() OVER (PARTITION BY conv_id
       |      ORDER BY us, event_id) AS rnk_first,
       |    ROW_NUMBER() OVER (PARTITION BY conv_id
       |      ORDER BY us DESC, event_id DESC) AS rnk_last
       |  FROM tt)
       |SELECT event_type AS touch_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_touches,
       |  CAST(SUM(CASE WHEN rnk_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_first,
       |  CAST(SUM(CASE WHEN rnk_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_last,
       |  CAST(SUM(1000000 // n_touches) AS BIGINT) AS linear_ppm
       |FROM pc GROUP BY event_type ORDER BY touch_type""".stripMargin

  /** q142: TIME-DECAYED ENGAGEMENT SCORES — the feature-store
    * "recency-weighted activity" feature: each event's value decays by
    * half per [[DecayHalfLifeDays]] since the corpus watermark, summed
    * per user. Exactness device: the decay factor is a DYADIC rational
    * (weight = 1e6 >> e for integer e = age_days div half_life), the
    * value is micro-quantized (floor(v·1e6+0.5), bit-identical in
    * both engines), and the sum runs in DECIMAL(38,0)/HUGEINT — so a
    * recency-weighted double sum, normally un-gateable under shuffle
    * reordering, hashes exactly.
    *
    * Scale shape: the watermark is a 1-row broadcast; the score is one
    * map-side-partial hash aggregate on user_id. */
  private val DecayHalfLifeDays = 7L

  private def qDecayScore(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
    val ref = e.agg(max(col("us")).as("ref_us"))
    e.crossJoin(broadcast(ref))
      .withColumn("eexp", expr(
        s"least((ref_us - us) div ${86400000000L} div $DecayHalfLifeDays, 62L)"))
      .withColumn("v_u", expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"))
      .withColumn("w_ppm", expr("shiftright(CAST(1000000 AS BIGINT), CAST(eexp AS INT))"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(sum(CAST(v_u AS DECIMAL(38,0)) * w_ppm) div 1000000 AS BIGINT)")
          .as("score_micro"))
      .orderBy(col("user_id"))
  }

  private val qDecayScoreSql =
    s"""WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
       |r AS (SELECT MAX(us) AS ref_us FROM e),
       |w AS (SELECT user_id,
       |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_u,
       |    (CAST(1000000 AS BIGINT) >> LEAST(
       |      (r.ref_us - us) // ${86400000000L} // $DecayHalfLifeDays, 62))
       |      AS w_ppm
       |  FROM e CROSS JOIN r)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CAST(v_u AS HUGEINT) * w_ppm) // 1000000 AS BIGINT)
       |    AS score_micro
       |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q112

  /** q112: STREAMING anomaly detection — q85's hourly z-scores kept
    * current as a maintained view. The (event_type, hour) count table
    * is an additive monoid, so [[graft.streaming.VersionedMaintenance]]
    * folds each micro-batch's partial counts into the state exactly
    * (state(id) = state(id−1) ⊕ counts(batch)); the z-score derivation
    * then runs on the maintained table only — #types × #hours rows,
    * never a rescan of the event history. Gate: the final version
    * pushed through q85's exact-DECIMAL moment math hash-matches q85's
    * own oracle.
    *
    * Scale shape: each batch costs one narrow agg of the batch plus a
    * merge against a state table bounded by wall-clock hours × type
    * alphabet — the materialized-view profile, same as q80. */
  private def qStreamRateAnomaly(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("us", LongType)))
    val result = graft.streaming.StreamScratch.withScratch("graft_srate_") { tmp =>
      val staged = load(s, dir, "events")
        .select(to_json(struct(col("event_type"),
          unix_micros(col("ts")).as("us"))).as("value"))
      // 2 maintenance batches (was the 4-file default): the hourly
      // count fold is an additive monoid — batching-invariant — so two
      // folds prove the state merge at half the fixed trigger cost.
      // Oracle re-verified.
      val hourly = graft.streaming.VersionedMaintenance
        .run(tmp, staged, schema, nFiles = 2) { (prev, batch) =>
          val delta = batch
            .withColumn("hour_us",
              col("us") - pmod(col("us"), lit(3600000000L)))
            .groupBy(col("event_type"), col("hour_us"))
            .agg(count(lit(1)).as("n"))
          prev.map(_.select(col("event_type"), col("hour_us"), col("n")))
            .getOrElse(delta.limit(0))
            .unionByName(delta)
            .groupBy(col("event_type"), col("hour_us"))
            .agg(sum(col("n")).as("n"))
        }
      // q85's exact-DECIMAL derivation, verbatim, on the maintained table
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("n").cast(DecimalType(38, 0))).as("s1"),
          sum(col("n").cast(DecimalType(38, 0)) * col("n")).as("s2"))
        .withColumn("mean", col("s1").cast(DoubleType) / col("n_hours"))
        .withColumn("variance",
          (col("s2").cast(DoubleType)
            - col("s1").cast(DoubleType) * col("s1").cast(DoubleType)
              / col("n_hours")) / col("n_hours"))
        .select(col("event_type"), col("mean"), col("variance"))
      // the maintained table lives in scratch — one distributed persist
      // into GateOut, never a driver collect
      graft.streaming.GateOut.persist(
        hourly.join(broadcast(stats), "event_type")
          .withColumn("z", (col("n").cast(DoubleType) - col("mean"))
            / sqrt(col("variance")))
          .filter(col("variance") > 0.0 && abs(col("z")) >= 2.0)
          .select(col("event_type"), timestamp_micros(col("hour_us")).as("hour"),
            col("n"), col("z")))
    }
    result.orderBy(col("event_type"), col("hour"))
  }

  // --------------------------------------------------------------- q113

  /** q113: per-type OLS TREND over the hourly event rate — the "is
    * this signal rising" regression a monitoring stack fits next to
    * q85/q104's outlier flags. All five moments (k, Σx, Σy, Σxy, Σx²)
    * accumulate in DECIMAL(38,0) — x is integer hours-since-epoch, y
    * an integer count, so numerator and denominator of the closed-form
    * slope are EXACT integers and the only float op is the final
    * division (then intercept reuses that one slope double) — the
    * q69/q70 determinism recipe applied to regression. Shape: hourly
    * agg, then a five-sum agg over hours×types rows; nothing bigger
    * than the q85 profile. */
  private def qRateTrend(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(38, 0)
    val hourly = load(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("x", (unix_micros(col("hour")) / lit(3600000000L))
        .cast(LongType))
    hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n_hours"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("n").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("n")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      .filter(col("n_hours") >= 2)
      .withColumn("slope",
        (col("n_hours").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType)
          / (col("n_hours").cast(dec) * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType))
      .withColumn("intercept",
        (col("sy").cast(DoubleType) - col("slope") * col("sx").cast(DoubleType))
          / col("n_hours"))
      .select(col("event_type"), col("n_hours"), col("slope"),
        col("intercept"), (col("slope") > 0.0).as("rising"))
      .orderBy(col("event_type"))
  }

  private val qRateTrendSql =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |hx AS (SELECT event_type,
      |         CAST(epoch_us(hour) // 3600000000 AS BIGINT) AS x, n
      |       FROM hourly),
      |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |         SUM(CAST(x AS HUGEINT)) AS sx,
      |         SUM(CAST(n AS HUGEINT)) AS sy,
      |         SUM(CAST(x AS HUGEINT) * n) AS sxy,
      |         SUM(CAST(x AS HUGEINT) * x) AS sxx
      |       FROM hx GROUP BY 1
      |       HAVING COUNT(*) >= 2),
      |sl AS (SELECT event_type, n_hours, sx, sy,
      |         CAST(n_hours * sxy - sx * sy AS DOUBLE)
      |           / CAST(n_hours * sxx - sx * sx AS DOUBLE) AS slope
      |       FROM st)
      |SELECT event_type, n_hours, slope,
      |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n_hours
      |    AS intercept,
      |  slope > 0.0 AS rising
      |FROM sl ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- q178

  /** q178: GAPS-AND-ISLANDS — the canonical SQL pattern the battery
    * lacked, as user activity STREAKS: consecutive-day runs per user
    * found with the rn-difference device (day − row_number() is
    * constant inside an island), then a bounded histogram of longest
    * streaks. Per-user windows shuffle on the user key; the report
    * aggregates to the streak-length alphabet. */
  private def qStreaks(s: SparkSession, dir: String): DataFrame = {
    val days = load(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000")
          .as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val streaks = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    streaks.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest"), count(lit(1)).as("n_streaks"))
      .groupBy(col("longest"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_streaks")).as("total_streaks"))
      .orderBy(col("longest"))
  }

  private val qStreaksSql =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day
      |  FROM events),
      |streaks AS (
      |  SELECT user_id, day - row_number() OVER (PARTITION BY user_id
      |      ORDER BY day) AS grp
      |  FROM days),
      |runs AS (
      |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM streaks GROUP BY 1, 2),
      |per_user AS (
      |  SELECT user_id, MAX(len) AS longest,
      |    CAST(COUNT(*) AS BIGINT) AS n_streaks
      |  FROM runs GROUP BY 1)
      |SELECT longest, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(n_streaks) AS BIGINT) AS total_streaks
      |FROM per_user GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q179

  /** q179: STRICT ORDERED FUNNEL — view → click → purchase, each step
    * strictly after the previous one PER USER (q82's ordered-funnel
    * device promoted to a three-stage report with conversion ppm).
    * Stage k is one conditional-min aggregate over an equi-join on
    * the user key against stage k−1's timestamps — no event×event
    * self-join, cost is one shuffle per stage on the same key. The
    * report is three bounded rows: users reaching each step +
    * conversion ppm against step 1. */
  private def qStrictFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events").select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("us") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    val (n1, n2, n3) = (t1.count(), t2.count(), t3.count())
    import s.implicits._
    // degenerate slice with zero stage-1 users: a zero funnel, not a
    // division crash — mirrored by CASE WHEN n1 = 0 in the oracle
    def ppm(n: Long): Long = if (n1 == 0) 0L else n * 1000000L / n1
    Seq((1L, "view", n1, if (n1 == 0) 0L else 1000000L),
      (2L, "view>click", n2, ppm(n2)),
      (3L, "view>click>purchase", n3, ppm(n3)))
      .toDF("step", "stage", "n_users", "conv_ppm")
      .orderBy(col("step"))
  }

  private val qStrictFunnelSql =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |            FROM events),
      |t1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
      |       WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT ev.user_id, MIN(us) AS t2 FROM ev
      |       JOIN t1 ON t1.user_id = ev.user_id
      |       WHERE event_type = 'click' AND us > t1 GROUP BY 1),
      |t3 AS (SELECT ev.user_id, MIN(us) AS t3 FROM ev
      |       JOIN t2 ON t2.user_id = ev.user_id
      |       WHERE event_type = 'purchase' AND us > t2 GROUP BY 1),
      |n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n1,
      |        (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n2,
      |        (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n3)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage, n1 AS n_users,
      |    CAST(CASE WHEN n1 = 0 THEN 0 ELSE 1000000 END AS BIGINT)
      |      AS conv_ppm FROM n
      |  UNION ALL
      |  SELECT 2, 'view>click', n2,
      |    CASE WHEN n1 = 0 THEN 0 ELSE n2 * 1000000 // n1 END FROM n
      |  UNION ALL
      |  SELECT 3, 'view>click>purchase', n3,
      |    CASE WHEN n1 = 0 THEN 0 ELSE n3 * 1000000 // n1 END FROM n)
      |ORDER BY step""".stripMargin

  // ------------------------------------------------------------- q180

  /** q180: COHORT LTV CURVES — cumulative micro-quantized value per
    * signup-week cohort by week offset, the growth-analytics table
    * behind every retention deck. Cohort = the user's first-event
    * week (one min aggregate); offset weeks are integer epoch-week
    * differences; the cumulative sum is a window over the bounded
    * (cohort × offset) grid, not over events. */
  private def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events").select(col("user_id"),
      expr("unix_micros(ts) div 604800000000").as("wk"),
      expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("v"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
    val grid = ev.join(cohort, "user_id")
      .groupBy(col("cw"), (col("wk") - col("cw")).as("offset_wk"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(col("v")).as("week_value_micro"))
    grid.withColumn("cum_ltv_micro",
        sum(col("week_value_micro")).over(
          Window.partitionBy(col("cw")).orderBy(col("offset_wk"))))
      .select(col("cw").as("cohort_week"), col("offset_wk"), col("n_active"),
        col("week_value_micro"), col("cum_ltv_micro"))
      .orderBy(col("cohort_week"), col("offset_wk"))
  }

  private val qCohortLtvSql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |cohort AS (SELECT user_id, MIN(wk) AS cw FROM ev GROUP BY 1),
      |grid AS (
      |  SELECT cw, wk - cw AS offset_wk,
      |    CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active,
      |    CAST(SUM(v) AS BIGINT) AS week_value_micro
      |  FROM ev JOIN cohort ON cohort.user_id = ev.user_id
      |  GROUP BY 1, 2)
      |SELECT cw AS cohort_week, offset_wk, n_active, week_value_micro,
      |  CAST(SUM(week_value_micro) OVER (PARTITION BY cw ORDER BY offset_wk)
      |    AS BIGINT) AS cum_ltv_micro
      |FROM grid ORDER BY cohort_week, offset_wk""".stripMargin

  // ------------------------------------------------------------- q181

  /** q181: RFM SEGMENTATION — the classic customer-analytics coding:
    * per user, Recency (last event time), Frequency (event count),
    * Monetary (micro-quantized value sum) each quartiled with
    * `ntile(4)` under a DETERMINISTIC total order (metric + user id —
    * ntile over a partial order is run-to-run unstable, the same
    * trap as q177's native mode), composed into a 3-digit segment
    * code. Report: users and value share per segment — 64 bounded
    * rows. Scale note (recoded round 8, oracle unchanged): a global
    * `ntile(4).over(Window.orderBy(...))` is a SINGLE-TASK sort of the
    * whole customer base, three times over. The exact same bucket
    * assignment — SQL ntile semantics under the declared unique total
    * order (metric desc, user_id) — is computed distributed with
    * [[graft.util.Ranks.globalRank]] (range-repartition parallel sort +
    * broadcast partition offsets) and [[graft.util.Ranks.ntileFromRank]]
    * (the closed-form ntile bucket from rank and N). Cost: three range
    * shuffles of the one-row-per-user table, each with full cluster
    * parallelism, versus three one-task sorts. */
  private def qRfmSegments(s: SparkSession, dir: String): DataFrame = {
    import graft.util.Ranks
    val perUser = load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("r_us"),
        count(lit(1)).as("f"),
        sum(expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"))
          .as("m_micro"))
    val nUsers = perUser.agg(count(lit(1)).as("_nu"))
    val ranked = Ranks.globalRank(
      Ranks.globalRank(
        Ranks.globalRank(perUser,
          "_rr", col("r_us").desc, col("user_id")),
        "_rf", col("f").desc, col("user_id")),
      "_rm", col("m_micro").desc, col("user_id"))
    val coded = ranked
      .crossJoin(broadcast(nUsers)) // 1-row user-count scalar
      .withColumn("r_q", Ranks.ntileFromRank("_rr", "_nu", 4)) // 1 = most recent
      .withColumn("f_q", Ranks.ntileFromRank("_rf", "_nu", 4)) // 1 = most frequent
      .withColumn("m_q", Ranks.ntileFromRank("_rm", "_nu", 4)) // 1 = highest value
      .withColumn("segment",
        concat(col("r_q"), col("f_q"), col("m_q")))
    val tot = coded.agg(sum(col("m_micro")).as("t"))
    coded.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("m_micro")).as("value_micro"))
      .crossJoin(broadcast(tot))
      // DECIMAL-routed: value_micro * 10^6 exceeds long at sf10
      .withColumn("value_share_ppm", expr(
        "CAST(CAST(value_micro AS DECIMAL(38,0)) * 1000000 div t AS BIGINT)"))
      .select(col("segment"), col("n_users"), col("value_micro"),
        col("value_share_ppm"))
      .orderBy(col("segment"))
  }

  private val qRfmSegmentsSql =
    """WITH per_user AS (
      |  SELECT user_id, MAX(epoch_us(ts)) AS r_us,
      |    CAST(COUNT(*) AS BIGINT) AS f,
      |    CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
      |      AS BIGINT) AS m_micro
      |  FROM events GROUP BY 1),
      |coded AS (
      |  SELECT user_id, m_micro,
      |    CAST(ntile(4) OVER (ORDER BY r_us DESC, user_id) AS VARCHAR)
      |      || CAST(ntile(4) OVER (ORDER BY f DESC, user_id) AS VARCHAR)
      |      || CAST(ntile(4) OVER (ORDER BY m_micro DESC, user_id)
      |           AS VARCHAR) AS segment
      |  FROM per_user),
      |t AS (SELECT CAST(SUM(m_micro) AS BIGINT) AS t FROM coded)
      |SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(m_micro) AS BIGINT) AS value_micro,
      |  CAST(CAST(SUM(m_micro) AS HUGEINT) * 1000000 // MAX(t.t)
      |    AS BIGINT) AS value_share_ppm
      |FROM coded CROSS JOIN t GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q82_event_funnel" -> QueryDef(qFunnel, Some(qFunnelSql),
      "ordered conversion funnel (strictly-after sequencing per user)"),
    "q83_retention_cohorts" -> QueryDef(qRetention, Some(qRetentionSql),
      "retention triangle: first-activity cohorts x active weeks"),
    "q84_event_transitions" -> QueryDef(qTransitions, Some(qTransitionsSql),
      "per-user event bigram counts via lead window (path analysis)"),
    "q85_rate_anomaly" -> QueryDef(qRateAnomaly, Some(qRateAnomalySql),
      "hourly event-rate z-score anomalies (exact-decimal moments)"),
    "q112_stream_rate_anomaly" -> QueryDef(qStreamRateAnomaly,
      Some(qRateAnomalySql),
      "streaming additive-moment maintenance == batch q85 z-scores"),
    "q113_rate_trend" -> QueryDef(qRateTrend, Some(qRateTrendSql),
      "per-type OLS trend, exact DECIMAL moments, one IEEE division"),
    "q141_attribution" -> QueryDef(qAttribution, Some(qAttributionSql),
      "multi-touch attribution: first/last/linear credit via one " +
        "descending window, no interval self-join"),
    "q142_decay_score" -> QueryDef(qDecayScore, Some(qDecayScoreSql),
      "time-decayed engagement features: dyadic half-life weights, " +
        "integer-exact micro sums"),
    "q178_streaks" -> QueryDef(qStreaks, Some(qStreaksSql),
      "gaps-and-islands: consecutive-day activity streaks via the " +
        "rn-difference device, bounded histogram"),
    "q179_strict_funnel" -> QueryDef(qStrictFunnel, Some(qStrictFunnelSql),
      "strict ordered 3-step funnel (stage-chained conditional mins, " +
        "no event-by-event self-join)"),
    "q180_cohort_ltv" -> QueryDef(qCohortLtv, Some(qCohortLtvSql),
      "cohort LTV curves: cumulative micro value per signup week by " +
        "offset (bounded grid window)"),
    "q181_rfm_segments" -> QueryDef(qRfmSegments, Some(qRfmSegmentsSql),
      "RFM segmentation: deterministic ntile quartile codes, value " +
        "share per segment"))
}
