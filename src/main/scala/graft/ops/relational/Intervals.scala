package graft.ops
package relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import Tables.load

/** Interval and as-of queries: sweep-line concurrency, FIFO cost
  * allocation, merge_asof. */
object Intervals {

  // ------------------------------------------------------------- q229

  /** Session gap: 30 minutes, in microseconds. */
  private val GapUs = 1800L * 1000000L

  /** q229: PEAK CONCURRENT SESSIONS per event type — the interval
    * sweep-line: sessionize each (user, type) stream by 30-minute gap,
    * emit +1 at each session start and −1 just after its end (end
    * exclusive at last_ts + 1µs, so single-event sessions still span an
    * instant), net the deltas per (type, timestamp) — which makes the
    * sweep key UNIQUE per type and collapses the shuffle — and take
    * the running sum's maximum plus the earliest time it is reached.
    *
    * The classic formulation is `sum(delta).over(Window.partitionBy
    * (type).orderBy(t))` — with a handful of types that funnels the
    * entire corpus timeline through a few window tasks, the same
    * single-task shape the round-8 plan gate rejects. Here the running
    * sum is [[graft.util.Ranks.prefixSum]]: a range-repartitioned
    * parallel sweep with broadcast per-group offsets — full cluster
    * parallelism at any timeline length. */
  private def qPeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val wu = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"))
    val sess = ev
      .withColumn("brk", when(coalesce(col("us") - lag(col("us"), 1)
        .over(wu), lit(GapUs + 1)) > GapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(wu))
      .groupBy(col("user_id"), col("event_type"), col("sid"))
      .agg(min(col("us")).as("s_us"), (max(col("us")) + 1).as("e_us"))
    val deltas = sess.select(col("event_type"), col("s_us").as("t"),
        lit(1L).as("d"))
      .unionByName(sess.select(col("event_type"), col("e_us").as("t"),
        lit(-1L).as("d")))
      .groupBy(col("event_type"), col("t"))
      .agg(sum(col("d")).as("dv"))
    val run = graft.util.Ranks.prefixSum(deltas, Seq("event_type"),
      Seq(col("t")), col("dv"), "run")
    val peak = run.groupBy(col("event_type")).agg(max(col("run")).as("peak"))
    run.join(broadcast(peak), "event_type")
      .filter(col("run") === col("peak"))
      .groupBy(col("event_type"))
      .agg(max(col("peak")).as("peak"), min(col("t")).as("peak_at_us"))
      .orderBy(col("event_type"))
  }

  private val qPeakConcurrencySql =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |o AS (
       |  SELECT user_id, event_type, us,
       |    lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us)
       |      AS pus
       |  FROM e),
       |b AS (
       |  SELECT user_id, event_type, us,
       |    CASE WHEN pus IS NULL OR us - pus > $GapUs THEN 1 ELSE 0 END
       |      AS brk
       |  FROM o),
       |sid AS (
       |  SELECT user_id, event_type, us,
       |    SUM(brk) OVER (PARTITION BY user_id, event_type ORDER BY us)
       |      AS sid
       |  FROM b),
       |sess AS (
       |  SELECT user_id, event_type, sid,
       |    MIN(us) AS s_us, MAX(us) + 1 AS e_us
       |  FROM sid GROUP BY 1, 2, 3),
       |d AS (
       |  SELECT event_type, s_us AS t, CAST(1 AS BIGINT) AS d FROM sess
       |  UNION ALL
       |  SELECT event_type, e_us, CAST(-1 AS BIGINT) FROM sess),
       |net AS (
       |  SELECT event_type, t, CAST(SUM(d) AS BIGINT) AS dv
       |  FROM d GROUP BY 1, 2),
       |run AS (
       |  SELECT event_type, t,
       |    CAST(SUM(dv) OVER (PARTITION BY event_type ORDER BY t)
       |      AS BIGINT) AS run
       |  FROM net),
       |pk AS (SELECT event_type, MAX(run) AS peak FROM run GROUP BY 1)
       |SELECT run.event_type, CAST(MAX(pk.peak) AS BIGINT) AS peak,
       |  CAST(MIN(t) AS BIGINT) AS peak_at_us
       |FROM run JOIN pk ON pk.event_type = run.event_type
       |  AND run.run = pk.peak
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /* Twenty-second wave (round 8): inventory accounting and journey
    * timing — two operators whose textbook formulations are imperative
    * loops, re-expressed as declarative Spark plans:
    *
    *  - q237: FIFO COST ALLOCATION (COGS). The classic "walk the receipt
    *    lots in order, draining each against issues" loop becomes pure
    *    relational algebra through the cumulative-interval isomorphism:
    *    a lot's [cum_start, cum_end) on the receipt axis matches an
    *    issue's interval on the issue axis exactly where they overlap,
    *    so FIFO matching is a per-part interval join over prefix sums —
    *    no loop, no UDF, no state.
    *  - q238: TRANSITION DWELL-TIME matrix — q231's probability matrix
    *    answers "after a view, WHAT happens"; this answers "after a
    *    view, HOW LONG until it happens", per (from, to) pair within a
    *    30-minute session, in exact microseconds.
    *
    * House rules: integer exactness (cents/micros), deterministic
    * orders, DuckDB oracle per query, windows only partitioned. */

  // ------------------------------------------------------------- q237

  /** q237: FIFO inventory cost allocation per part. Receipts are the
    * part's 'F'-status lineitems, issues its 'O'-status lineitems,
    * both in (shipdate, orderkey, linenumber) order — a deterministic
    * unique FIFO sequence. Each side gets cumulative-quantity
    * intervals via a PARTITIONED prefix-sum window (per-part row
    * counts are bounded by the part's own history, never the table);
    * lot r supplies issue i exactly
    * `max(0, min(e_r, e_i) - max(s_r, s_i))` units — the interval-
    * overlap identity that makes FIFO a join. Costs are exact integer
    * cents at the lot's unit cost (extendedprice·100 div qty,
    * truncated). The per-part equi-join with a range predicate is
    * posting-list shaped: candidate pairs per part ≈ receipts+issues
    * (each issue overlaps a contiguous lot run), never receipts×issues.
    * Output: top-20 parts by allocated cost (TakeOrdered) with the
    * unfilled-demand remainder reported beside the match. */
  private def qFifoCogs(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_partkey").as("part"), col("l_linestatus").as("st"),
        col("l_quantity").cast("long").as("qty"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)")
          .as("cents"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("part"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, 0)
    def axis(status: String) = li.filter(col("st") === status)
      .withColumn("e", sum(col("qty")).over(w))
      .withColumn("b", col("e") - col("qty"))
    val receipts = axis("F")
      .select(col("part"), col("b").as("rb"), col("e").as("re"),
        expr("cents div qty").as("unit_cents"))
    val issues = axis("O")
      .select(col("part"), col("b").as("ib"), col("e").as("ie"))
    val matched = receipts.join(issues, Seq("part"))
      .filter(col("ib") < col("re") && col("rb") < col("ie"))
      .select(col("part"),
        (least(col("re"), col("ie")) - greatest(col("rb"), col("ib")))
          .as("m"),
        col("unit_cents"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("m")).as("matched_qty"),
        sum((col("m") * col("unit_cents"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("matched_cost_cents"))
    val rTot = receipts.groupBy(col("part"))
      .agg(count(lit(1)).as("n_receipts"), max(col("re")).as("supply_qty"))
    val iTot = issues.groupBy(col("part"))
      .agg(count(lit(1)).as("n_issues"), max(col("ie")).as("demand_qty"))
    matched.join(rTot, Seq("part")).join(iTot, Seq("part"))
      .select(col("part"), col("n_receipts"), col("n_issues"),
        col("n_pairs"), col("matched_qty"),
        (col("demand_qty") - col("matched_qty")).as("unfilled_qty"),
        col("matched_cost_cents"))
      .orderBy(col("matched_cost_cents").desc, col("part"))
      .limit(20)
  }

  private val qFifoCogsSql =
    """WITH li AS (
      |  SELECT l_partkey AS part, l_linestatus AS st,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
      |    l_shipdate, l_orderkey, l_linenumber
      |  FROM lineitem),
      |ax AS (
      |  SELECT *, SUM(qty) OVER (PARTITION BY part, st
      |      ORDER BY l_shipdate, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
      |  FROM li),
      |r AS MATERIALIZED (
      |  SELECT part, e - qty AS rb, e AS re, cents // qty AS unit_cents
      |  FROM ax WHERE st = 'F'),
      |i AS MATERIALIZED (
      |  SELECT part, e - qty AS ib, e AS ie FROM ax WHERE st = 'O'),
      |m AS (
      |  SELECT r.part,
      |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(LEAST(re, ie) - GREATEST(rb, ib)) AS BIGINT)
      |      AS matched_qty,
      |    CAST(SUM(CAST(LEAST(re, ie) - GREATEST(rb, ib) AS HUGEINT)
      |      * unit_cents) AS BIGINT) AS matched_cost_cents
      |  FROM r JOIN i ON i.part = r.part AND ib < re AND rb < ie
      |  GROUP BY 1),
      |rt AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_receipts,
      |  CAST(MAX(re) AS BIGINT) AS supply_qty FROM r GROUP BY 1),
      |it AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_issues,
      |  CAST(MAX(ie) AS BIGINT) AS demand_qty FROM i GROUP BY 1)
      |SELECT m.part, n_receipts, n_issues, n_pairs, matched_qty,
      |  demand_qty - matched_qty AS unfilled_qty, matched_cost_cents
      |FROM m JOIN rt ON rt.part = m.part JOIN it ON it.part = m.part
      |ORDER BY matched_cost_cents DESC, m.part LIMIT 20""".stripMargin

  /* Fiftieth wave (round 10): the full as-of join battery —
    *
    *  - q296: MERGE-ASOF DIRECTIONS. q11 ships the classic BACKWARD
    *    as-of (last signup ≤ t); this completes the pandas
    *    `merge_asof` surface: per purchase, the backward, FORWARD
    *    (first signup ≥ t), and NEAREST signup within a 1-hour
    *    tolerance, each as a keyed RANGE-frame window — max/min over a
    *    conditional instead of last/first over a rows frame, so
    *    equal-timestamp events are handled by TIME semantics (ties all
    *    included) rather than stream-position luck. Nearest tie
    *    (equal distance both directions) resolves BACKWARD — stated,
    *    not inherited from an engine. Missing matches surface as -1
    *    sentinels (null-free atomic output). No join materializes:
    *    the whole battery is two RANGE windows over the per-user
    *    event stream, the same single-pass shape q11 proved.
    *
    * Scale shape: two keyed windows partitioned by user_id — per-key
    * streams, no global sort, no pairwise join at any corpus size. */

  // ------------------------------------------------------------- q296

  private val TolUs = 3600L * 1000000L // 1 hour

  private def qAsofDirections(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    val wb = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    ev
      .withColumn("back_t",
        max(when(col("event_type") === "signup", col("t"))).over(wb))
      .withColumn("fwd_t",
        min(when(col("event_type") === "signup", col("t"))).over(wf))
      .filter(col("event_type") === "purchase")
      .withColumn("back_ok",
        col("back_t").isNotNull && col("t") - col("back_t") <= TolUs)
      .withColumn("fwd_ok",
        col("fwd_t").isNotNull && col("fwd_t") - col("t") <= TolUs)
      .select(col("event_id"), col("user_id"), col("t").as("t_us"),
        when(col("back_ok"), col("back_t")).otherwise(-1L).as("back_us"),
        when(col("fwd_ok"), col("fwd_t")).otherwise(-1L).as("fwd_us"),
        when(col("back_ok") && (!col("fwd_ok") ||
            col("t") - col("back_t") <= col("fwd_t") - col("t")),
            col("back_t"))
          .when(col("fwd_ok"), col("fwd_t"))
          .otherwise(-1L).as("nearest_us"),
        when(col("back_ok") && (!col("fwd_ok") ||
            col("t") - col("back_t") <= col("fwd_t") - col("t")),
            "back")
          .when(col("fwd_ok"), "fwd")
          .otherwise("none").as("nearest_dir"))
      .orderBy(col("event_id"))
  }

  private val qAsofDirectionsSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t
       |  FROM events),
       |w AS (
       |  SELECT user_id, event_id, event_type, t,
       |    MAX(CASE WHEN event_type = 'signup' THEN t END)
       |      OVER (PARTITION BY user_id ORDER BY t
       |        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS back_t,
       |    MIN(CASE WHEN event_type = 'signup' THEN t END)
       |      OVER (PARTITION BY user_id ORDER BY t
       |        RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |      AS fwd_t
       |  FROM e),
       |p AS (
       |  SELECT *, back_t IS NOT NULL AND t - back_t <= $TolUs AS bok,
       |    fwd_t IS NOT NULL AND fwd_t - t <= $TolUs AS fok
       |  FROM w WHERE event_type = 'purchase')
       |SELECT event_id, user_id, t AS t_us,
       |  CASE WHEN bok THEN back_t ELSE -1 END AS back_us,
       |  CASE WHEN fok THEN fwd_t ELSE -1 END AS fwd_us,
       |  CASE WHEN bok AND (NOT fok OR t - back_t <= fwd_t - t)
       |    THEN back_t WHEN fok THEN fwd_t ELSE -1 END AS nearest_us,
       |  CASE WHEN bok AND (NOT fok OR t - back_t <= fwd_t - t)
       |    THEN 'back' WHEN fok THEN 'fwd' ELSE 'none' END
       |    AS nearest_dir
       |FROM p ORDER BY event_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q229_peak_concurrency" -> QueryDef(qPeakConcurrency,
      Some(qPeakConcurrencySql),
      "interval sweep-line on the distributed prefix-sum device"),
    "q237_fifo_cogs" -> QueryDef(qFifoCogs, Some(qFifoCogsSql),
      "FIFO cost allocation as a per-part prefix-sum interval join"),
    "q296_asof_directions" -> QueryDef(qAsofDirections,
      Some(qAsofDirectionsSql),
      "full merge_asof battery: backward / forward / nearest signup " +
        "per purchase within a 1-hour tolerance, keyed RANGE-frame " +
        "windows (tie-robust time semantics), nearest tie resolves " +
        "backward, -1 sentinels for no match"))
}
