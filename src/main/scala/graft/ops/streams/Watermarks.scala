package graft.ops
package streams

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load

/** Watermark sizing: out-of-order and lateness audits. */
object Watermarks {

  // ------------------------------------------------------------- q189

  /** Block width for the two-level prefix scan — 2^16 events per
    * block keeps every within-block window partition small and the
    * block-summary table ~n/65536 rows. */
  private val ScanBlock = 65536L

  /** q189: OUT-OF-ORDER ARRIVAL AUDIT — the measurement that SIZES a
    * watermark delay (T2): per event type, how many events arrive
    * with an event time older than something already seen (arrival
    * order = event_id), the worst lateness, and the nearest-rank p99
    * lateness in milliseconds. Run this before choosing
    * `withWatermark`, not after the stream drops data.
    *
    * Scale shape — a distributed TWO-LEVEL PREFIX SCAN, because the
    * naive `max(us) OVER (PARTITION BY type ORDER BY event_id)` is a
    * per-type single-task sort (the q154/q168 trap, amplified: type is
    * a 5-value alphabet): (1) within 65536-event blocks, a running max
    * over a (type, block)-partitioned window — thousands of small
    * parallel partitions; (2) block maxes form a TINY summary table
    * whose exclusive running max per type gives each block its prefix;
    * (3) lateness = max(block prefix, within-block running max) − us.
    * The p99 then comes from the lateness-ms HISTOGRAM, nearest-rank
    * by running count — no raw-table rank window anywhere. */
  private def qOooAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        (col("event_id") / ScanBlock).cast(LongType).as("blk"))
    val wIn = Window.partitionBy(col("event_type"), col("blk"))
      .orderBy(col("event_id"))
    val wBlk = Window.partitionBy(col("event_type")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = ev.groupBy(col("event_type"), col("blk"))
      .agg(max(col("us")).as("blk_max"))
      .withColumn("prefix_max", max(col("blk_max")).over(wBlk))
    val late = ev
      .withColumn("run_max", max(col("us")).over(wIn))
      .join(blocks.select(col("event_type"), col("blk"), col("prefix_max")),
        Seq("event_type", "blk"))
      .withColumn("seen_max", greatest(col("run_max"),
        coalesce(col("prefix_max"), lit(Long.MinValue))))
      .withColumn("late_ms",
        expr("greatest(seen_max - us, 0L) div 1000"))
    val counts = late.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_ms") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_ms")).as("max_late_ms"))
    // p99 of the LATE events only, nearest-rank over the ms histogram
    val hist = late.filter(col("late_ms") > 0)
      .groupBy(col("event_type"), col("late_ms"))
      .agg(count(lit(1)).as("cnt"))
    val wMs = Window.partitionBy(col("event_type")).orderBy(col("late_ms"))
    val p99 = hist
      .withColumn("cum", sum(col("cnt")).over(wMs))
      .withColumn("nl", sum(col("cnt")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("target", expr("(nl * 99 + 99) div 100"))
      .groupBy(col("event_type"))
      .agg(min(when(col("cum") >= col("target"), col("late_ms")))
        .as("p99_late_ms"))
    counts.join(p99, Seq("event_type"), "left")
      .select(col("event_type"), col("n_events"), col("n_late"),
        col("max_late_ms"), col("p99_late_ms"))
      .orderBy(col("event_type"))
  }

  private val qOooAuditSql =
    """WITH ev AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS us
      |  FROM events),
      |r AS (
      |  SELECT event_type, us,
      |    MAX(us) OVER (PARTITION BY event_type ORDER BY event_id)
      |      AS seen_max
      |  FROM ev),
      |l AS (
      |  SELECT event_type,
      |    GREATEST(seen_max - us, 0) // 1000 AS late_ms
      |  FROM r),
      |counts AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_late,
      |    CAST(MAX(late_ms) AS BIGINT) AS max_late_ms
      |  FROM l GROUP BY 1),
      |lh AS (
      |  SELECT event_type, late_ms, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM l WHERE late_ms > 0 GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, late_ms,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY late_ms) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS nl
      |  FROM lh),
      |p AS (
      |  SELECT event_type,
      |    CAST(MIN(CASE WHEN cum >= (nl * 99 + 99) // 100
      |                  THEN late_ms END) AS BIGINT) AS p99_late_ms
      |  FROM c GROUP BY 1)
      |SELECT counts.event_type, n_events, n_late, max_late_ms,
      |  p99_late_ms
      |FROM counts LEFT JOIN p ON counts.event_type = p.event_type
      |ORDER BY counts.event_type""".stripMargin

  // ------------------------------------------------------------- q233

  /** q233: OUT-OF-ORDER ARRIVAL AUDIT — how late events arrive
    * relative to the stream's high watermark. The synthetic feed's
    * event_id is already time-ordered (measured: lateness
    * identically 0 — a vacuous audit), so arrival is modeled as the
    * ubiquitous PER-SOURCE BATCHED UPLOAD: each hour, every source
    * (user) ships its batch, batches arriving in user order — arrival
    * key (hour, user_id, us, event_id). Under that order the running
    * maximum of event time is the watermark each event met; lateness =
    * watermark − event_time. Reported as a bounded histogram
    * (minutes-late buckets capped at 10) plus per-type totals —
    * exactly the report that sizes a production `withWatermark` delay
    * (q22/q27's knob) from observed data.
    *
    * The running max is [[graft.util.Ranks.prefixMax]] — the same
    * range-partitioned device as q229's sweep, with max as the
    * combiner; the classic `max().over(partitionBy(type) orderBy ...)`
    * would funnel each type's whole arrival history through one task.
    */
  private def qOutOfOrder(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("hr", expr("us div 3600000000"))
    val wm = graft.util.Ranks.prefixMax(ev, Seq("event_type"),
      Seq(col("hr"), col("user_id"), col("us"), col("event_id")),
      col("us"), "wm_us")
    wm.withColumn("late_us", col("wm_us") - col("us"))
      .withColumn("bucket_min",
        least(expr("late_us div 60000000"), lit(10L)))
      .groupBy(col("event_type"), col("bucket_min"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"))
      .orderBy(col("event_type"), col("bucket_min"))
  }

  private val qOutOfOrderSql =
    """WITH e AS (
      |  SELECT event_type, event_id, user_id, epoch_us(ts) AS us,
      |    epoch_us(ts) // 3600000000 AS hr
      |  FROM events),
      |wm AS (
      |  SELECT event_type, us,
      |    MAX(us) OVER (PARTITION BY event_type
      |      ORDER BY hr, user_id, us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm_us
      |  FROM e),
      |l AS (SELECT event_type, wm_us - us AS late_us FROM wm)
      |SELECT event_type,
      |  CAST(LEAST(late_us // 60000000, 10) AS BIGINT) AS bucket_min,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------- q279

  /** Candidate allowed-lateness values (micros): 0, 1 s, 5 s, 30 s,
    * 60 s, 300 s. */
  private val Delays = Seq(0L, 1000000L, 5000000L, 30000000L,
    60000000L, 300000000L)
  private val TargetPpm = 999000L

  private def qWatermarkPlanner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = load(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("seen_max", max(col("us")).over(w))
      .select(greatest(col("seen_max") - col("us"), lit(0L))
        .as("lateness_us"))
    val delays = Delays.toDF("delay_us")
    val priced = late.crossJoin(broadcast(delays)) // 6-row plan table
      .groupBy(col("delay_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("lateness_us") <= col("delay_us"), 1L)
          .otherwise(0L)).as("n_on_time"))
      .withColumn("completeness_ppm",
        expr("n_on_time * 1000000 div n_events"))
    // the minimal candidate meeting the completeness target
    val minOk = priced.filter(col("completeness_ppm") >= TargetPpm)
      .agg(coalesce(min(col("delay_us")), lit(-1L)).as("min_ok"))
    priced.crossJoin(broadcast(minOk)) // one-row scalar
      .select(col("delay_us"), col("n_events"), col("n_on_time"),
        col("completeness_ppm"),
        (col("delay_us") === col("min_ok")).as("recommended"))
      .orderBy(col("delay_us"))
  }

  private val qWatermarkPlannerSql = {
    val delays = Delays.mkString("(", "), (", ")")
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
       |l AS (
       |  SELECT GREATEST(MAX(us) OVER (PARTITION BY user_id
       |      ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      CURRENT ROW) - us, 0) AS lateness_us
       |  FROM e),
       |d AS (SELECT * FROM (VALUES $delays) t(delay_us)),
       |p AS (
       |  SELECT delay_us, CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(SUM(CASE WHEN lateness_us <= delay_us THEN 1 ELSE 0
       |      END) AS BIGINT) AS n_on_time
       |  FROM l, d GROUP BY 1),
       |pp AS (SELECT *, CAST(n_on_time * 1000000 // n_events AS BIGINT)
       |         AS completeness_ppm FROM p),
       |mo AS (SELECT COALESCE(MIN(CASE WHEN completeness_ppm >=
       |         $TargetPpm THEN delay_us END), -1) AS min_ok FROM pp)
       |SELECT CAST(pp.delay_us AS BIGINT) AS delay_us, n_events,
       |  n_on_time, completeness_ppm,
       |  pp.delay_us = mo.min_ok AS recommended
       |FROM pp, mo ORDER BY delay_us""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q189_ooo_audit" -> QueryDef(qOooAudit, Some(qOooAuditSql),
      "watermark-sizing audit: two-level distributed prefix scan + lateness-histogram p99"),
    "q233_out_of_order" -> QueryDef(qOutOfOrder, Some(qOutOfOrderSql),
      "arrival-order watermark lateness audit on Ranks.prefixMax"),
    "q279_watermark_planner" -> QueryDef(qWatermarkPlanner,
      Some(qWatermarkPlannerSql),
      "watermark-delay planner: per-entity event-time lateness vs a " +
        "bounded candidate-delay table; completeness ppm per delay " +
        "and the minimal candidate meeting 99.9%"))
}
