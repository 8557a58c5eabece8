package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import Tables.load

/** Fifty-sixth wave (round 13, verdict stretches #7/#8): the stats
  * catalog composes with STREAMING, and ANALYZE itself goes
  * incremental — the two moves that keep a stats-driven planner
  * viable on a 100-TB/day pipeline:
  *
  *  - q319: STREAMING ANALYZED JOIN. A two-micro-batch CDC enrichment
  *    re-reads the persisted q295-shaped stats table EVERY trigger and
  *    lets [[StatsPlanner.analyzedJoinFromStats]] pick that batch's
  *    physical join — after batch 0 the "nightly ANALYZE" lands a
  *    refreshed export (the fact table doubled), so the per-batch
  *    decision FLIPS from broadcast to shuffle mid-stream with no
  *    restart: batch 0 enriches under a broadcast plan, batch 1 under
  *    a pinned merge join. Batch ids, decisions, estimates, the cap,
  *    and the enriched aggregates are all hash-gated — the oracle
  *    replays both exports' equi-depth arithmetic and both batches'
  *    joins.
  *
  *  - q320: INCREMENTAL ANALYZE. Yesterday's histogram (over the 90%
  *    base slice) is MERGED with a histogram over only the 10% delta
  *    slice ([[StatsPlanner.mergeHistograms]] — pure B-row integer
  *    arithmetic, no re-scan of the base), and the merged estimates
  *    are gated against a full recompute at nine probe thresholds:
  *    the output carries est_merged, est_full, and the integer-ppm
  *    error, so the oracle checks the merge construction itself
  *    (union CDF at every bucket bound, equal-mass cuts pulled back
  *    through the piecewise-linear inverse — all truncating-integer,
  *    replayed exactly in SQL). MergeStatsSpec gates the tolerance.
  *
  * Scale shapes: q319's per-trigger planning cost is a B+K-row
  * catalog read — no fact scan; q320's incremental pass scans ONLY
  * the new slice (10% here, a day's partition at 100 TB) and folds it
  * into the export with ≤4B-breakpoint driver arithmetic. */
object Wave56 {

  private val B = 16
  private val McvK = 4

  // ------------------------------------------------------------- q319

  private val T319 = 3459L // vc > $34.59 ≈ half the stream survives

  private def qStreamCbo(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import org.apache.spark.sql.streaming.Trigger
    val ev = load(s, dir, "events").select(
      col("user_id").as("uid"),
      expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"),
      col("event_id").as("eid"))
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    // yesterday = even event ids (replayed as batch 0); the refreshed
    // nightly export covers the doubled table
    val statsA = StatsPlanner
      .exportStats(ev.filter(pmod(col("eid"), lit(2)) === 0), "vc", B, McvK)
    val statsB = StatsPlanner.exportStats(ev, "vc", B, McvK)
    val estA = StatsPlanner.fromStatsTable(statsA, "vc").estimateGt(T319)
    // the absolute broadcast cap, pinned BETWEEN yesterday's and
    // today's estimate so the gate exercises both branches — in
    // production this is a fixed row budget and data growth crosses it
    // the same way
    val cap = 3L * estA / 2L
    // q27's lifecycle tuning: checkpoint-file checksums are pure
    // overhead on a local-disk replay (cluster deployments keep the
    // Spark default)
    val result = graft.GraftSession.withConf(s,
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") {
      graft.streaming.StreamScratch.withScratch("graft_scbo_") {
      tmp =>
        statsA.write.mode("overwrite").parquet(s"$tmp/stats")
        val in = graft.streaming.SliceReplay.stage(tmp,
          ev.select(
            to_json(struct(col("uid"), col("vc"), col("eid"))).as("value"),
            pmod(col("eid"), lit(2)).cast(LongType).as("slice")), 2)(s)
        val schema = new StructType()
          .add("uid", LongType).add("vc", LongType).add("eid", LongType)
        val out = graft.streaming.GateOut.dir()
        val q = s.readStream.option("maxFilesPerTrigger", 1).text(in)
          .select(from_json(col("value"), schema).as("d"))
          .select(col("d.uid").as("uid"), col("d.vc").as("vc"))
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/chk")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // the per-trigger catalog read: B+K rows, never a fact scan
            val stats = s.read.parquet(s"$tmp/stats")
            val (joined, est, decision) =
              StatsPlanner.analyzedJoinFromStats(batch, "vc", T319,
                cust, col("uid") === col("c_custkey"), stats, "vc",
                broadcastDiv = 1L, maxBroadcastRows = cap)
            joined
              .agg(count(lit(1)).as("n_out"), sum(col("vc")).as("sum_vc"),
                sum(col("c_nationkey").cast(LongType)).as("sum_nat"))
              .select(lit(batchId).as("batch_id"),
                lit(decision).as("decision"), lit(est).as("est_rows"),
                lit(cap).as("cap_rows"), col("n_out"), col("sum_vc"),
                col("sum_nat"))
              .write.mode("append").parquet(out)
            if (batchId == 0L) // the nightly ANALYZE between triggers
              statsB.write.mode("overwrite").parquet(s"$tmp/stats")
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
      }
    }
    result.orderBy(col("batch_id"))
  }

  /** Equi-depth estimate CTE chain shared with q318 (same integer
    * grid): `sel_$tag.est_rows` = |{v in src : v > t}| by B-bucket
    * histogram. */
  private def estCte(tag: String, srcSql: String, t: Long): String =
    s"""bv_$tag AS MATERIALIZED (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM ($srcSql)
       |  GROUP BY 1),
       |n_$tag AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM bv_$tag),
       |r_$tag AS (
       |  SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum
       |  FROM bv_$tag),
       |hist_$tag AS MATERIALIZED (
       |  SELECT MIN(v) AS lo, MAX(v) AS hi,
       |    CAST(SUM(LEAST(cum, (b + 1) * n.n // $B) -
       |      GREATEST(cum - cnt, b * n.n // $B)) AS BIGINT) AS nb
       |  FROM r_$tag, n_$tag n, range(0, $B) t(b)
       |  WHERE cum > b * n.n // $B AND cum - cnt < (b + 1) * n.n // $B
       |  GROUP BY b),
       |est_$tag AS (
       |  SELECT CAST(SUM(CASE WHEN lo > $t THEN nb
       |      WHEN hi > $t THEN nb * (hi - $t) // GREATEST(hi - lo, 1)
       |      ELSE 0 END) AS BIGINT) AS est
       |  FROM hist_$tag)""".stripMargin

  private val qStreamCboSql = {
    val estA = estCte("a",
      "SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM events WHERE event_id % 2 = 0", T319)
    val estB = estCte("b",
      "SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM events", T319)
    s"""WITH $estA,
       |$estB,
       |capc AS (SELECT 3 * est // 2 AS cap FROM est_a),
       |ev AS MATERIALIZED (
       |  SELECT user_id AS uid,
       |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
       |    event_id % 2 AS par
       |  FROM events),
       |agg AS (
       |  SELECT par AS batch_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_out,
       |    CAST(SUM(vc) AS BIGINT) AS sum_vc,
       |    CAST(SUM(CAST(c_nationkey AS BIGINT)) AS BIGINT) AS sum_nat
       |  FROM ev JOIN customer ON uid = c_custkey
       |  WHERE vc > $T319
       |  GROUP BY 1)
       |SELECT CAST(batch_id AS BIGINT) AS batch_id,
       |  CASE WHEN batch_id = 0
       |    THEN (CASE WHEN (SELECT est FROM est_a) <=
       |      (SELECT cap FROM capc) THEN 'broadcast' ELSE 'shuffle' END)
       |    ELSE (CASE WHEN (SELECT est FROM est_b) <=
       |      (SELECT cap FROM capc) THEN 'broadcast' ELSE 'shuffle' END)
       |    END AS decision,
       |  CASE WHEN batch_id = 0 THEN (SELECT est FROM est_a)
       |    ELSE (SELECT est FROM est_b) END AS est_rows,
       |  (SELECT cap FROM capc) AS cap_rows,
       |  n_out, sum_vc, sum_nat
       |FROM agg ORDER BY batch_id""".stripMargin
  }

  // ------------------------------------------------------------- q320

  private def qMergeAnalyze(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = load(s, dir, "events").select(
      expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"),
      col("event_id").as("eid"))
    val base = ev.filter(pmod(col("eid"), lit(10)) =!= 0) // yesterday, 90%
    val delta = ev.filter(pmod(col("eid"), lit(10)) === 0) // today's slice
    val hBase = StatsPlanner.analyze(base, "vc", B)
    val hDelta = StatsPlanner.analyze(delta, "vc", B) // scans ONLY the slice
    val merged = StatsPlanner.ColStats(
      hBase.n + hDelta.n,
      StatsPlanner.mergeHistograms(hBase.buckets, hDelta.buckets, B))
    val full = StatsPlanner.analyze(ev, "vc", B) // the control recompute
    // bounded collect: one global min/max scalar pair for probe spacing
    val mm = ev.agg(min(col("vc")), max(col("vc"))).collect().head
    val (vmin, vmax) = (mm.getLong(0), mm.getLong(1))
    val rows = (1 to 9).map { j =>
      val t = vmin + j * (vmax - vmin) / 10
      val em = merged.estimateGt(t)
      val ef = full.estimateGt(t)
      (j.toLong, t, em, ef, math.abs(em - ef) * 1000000L / full.n)
    }
    rows.toDF("probe_idx", "t", "est_merged", "est_full", "err_ppm")
      .orderBy(col("probe_idx"))
  }

  /** Histogram CTE for q320 (bucket rows only, same grid as
    * [[estCte]]). */
  private def histCte(tag: String, srcSql: String): String =
    s"""bv_$tag AS MATERIALIZED (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM ($srcSql)
       |  GROUP BY 1),
       |n_$tag AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM bv_$tag),
       |r_$tag AS (
       |  SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum
       |  FROM bv_$tag),
       |hist_$tag AS MATERIALIZED (
       |  SELECT MIN(v) AS lo, MAX(v) AS hi,
       |    CAST(SUM(LEAST(cum, (b + 1) * n.n // $B) -
       |      GREATEST(cum - cnt, b * n.n // $B)) AS BIGINT) AS nb
       |  FROM r_$tag, n_$tag n, range(0, $B) t(b)
       |  WHERE cum > b * n.n // $B AND cum - cnt < (b + 1) * n.n // $B
       |  GROUP BY b)""".stripMargin

  private val qMergeAnalyzeSql = {
    val base = histCte("base",
      "SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM events WHERE event_id % 10 <> 0")
    val delta = histCte("delta",
      "SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM events WHERE event_id % 10 = 0")
    val full = histCte("full",
      "SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM events")
    // the merge, replayed on the same truncating-integer grid as
    // StatsPlanner.mergeHistograms: union CDF at every bucket bound,
    // equal-mass cuts pulled back through the piecewise-linear inverse
    s"""WITH $base,
       |$delta,
       |$full,
       |bks AS MATERIALIZED (
       |  SELECT lo, hi, nb AS n FROM hist_base WHERE nb > 0
       |  UNION ALL SELECT lo, hi, nb FROM hist_delta WHERE nb > 0),
       |xs AS (SELECT DISTINCT x FROM
       |  (SELECT lo AS x FROM bks UNION SELECT hi AS x FROM bks)),
       |cdf AS MATERIALIZED (
       |  SELECT x, CAST(SUM(CASE WHEN x < lo THEN 0
       |      WHEN x >= hi THEN n
       |      ELSE n * (x - lo) // GREATEST(hi - lo, 1) END) AS BIGINT)
       |    AS c
       |  FROM xs CROSS JOIN bks GROUP BY x),
       |segs AS MATERIALIZED (
       |  SELECT COALESCE(lag(x) OVER (ORDER BY x), x) AS x1, x AS x2,
       |    COALESCE(lag(c) OVER (ORDER BY x), 0) AS c1, c AS c2
       |  FROM cdf),
       |ntot AS (SELECT MAX(c2) AS n FROM segs),
       |cuts AS MATERIALIZED (
       |  SELECT b AS j, b * n.n // $B AS blo, (b + 1) * n.n // $B AS bhi
       |  FROM range(0, $B) t(b), ntot n
       |  WHERE (b + 1) * n.n // $B > b * n.n // $B),
       |mlo AS (
       |  SELECT j, x1 + (x2 - x1) * (blo + 1 - c1) // GREATEST(c2 - c1, 1)
       |    AS lo
       |  FROM cuts JOIN segs ON c1 < blo + 1 AND blo + 1 <= c2),
       |mhi AS (
       |  SELECT j, x1 + (x2 - x1) * (bhi - c1) // GREATEST(c2 - c1, 1)
       |    AS hi, bhi - blo AS nb
       |  FROM cuts JOIN segs ON c1 < bhi AND bhi <= c2),
       |mrg AS MATERIALIZED (
       |  SELECT mlo.j, lo, hi, nb FROM mlo JOIN mhi ON mlo.j = mhi.j),
       |mmx AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM (
       |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
       |  FROM events)),
       |pr AS (SELECT CAST(j AS BIGINT) AS probe_idx,
       |    vmin + j * (vmax - vmin) // 10 AS t
       |  FROM range(1, 10) r(j), mmx),
       |estm AS (
       |  SELECT probe_idx, t,
       |    CAST(SUM(CASE WHEN lo > t THEN nb
       |      WHEN hi > t THEN nb * (hi - t) // GREATEST(hi - lo, 1)
       |      ELSE 0 END) AS BIGINT) AS est_merged
       |  FROM pr CROSS JOIN mrg GROUP BY 1, 2),
       |estf AS (
       |  SELECT probe_idx, t,
       |    CAST(SUM(CASE WHEN lo > t THEN nb
       |      WHEN hi > t THEN nb * (hi - t) // GREATEST(hi - lo, 1)
       |      ELSE 0 END) AS BIGINT) AS est_full
       |  FROM pr CROSS JOIN hist_full GROUP BY 1, 2)
       |SELECT m.probe_idx, m.t, m.est_merged, f.est_full,
       |  CAST(abs(m.est_merged - f.est_full) * 1000000 //
       |    (SELECT n FROM ntot) AS BIGINT) AS err_ppm
       |FROM estm m JOIN estf f ON m.probe_idx = f.probe_idx
       |ORDER BY m.probe_idx""".stripMargin
  }

  // ------------------------------------------------------------- q321

  private val DriftPpmMax = 200000L // stale past 20% row drift

  private def qStaleGuard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = load(s, dir, "events").select(
      expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"),
      col("event_id").as("eid"))
    val sliceA = ev.filter(pmod(col("eid"), lit(3)) =!= 0) // catalog epoch
    val delta = ev.filter(pmod(col("eid"), lit(3)) === 0) // the new day
    val statsA = StatsPlanner.exportStats(sliceA, "vc", B, McvK)
    val statsFull = StatsPlanner.exportStats(ev, "vc", B, McvK)
    val estA = StatsPlanner.fromStatsTable(statsA, "vc").estimateGt(T319)
    // between the stale and refreshed estimates (full/slice ≈ 3/2), so
    // the guard visibly flips the decision the stale catalog got wrong
    val cap = 5L * estA / 4L
    def dec(e: Long) = if (e <= cap) "broadcast" else "shuffle"
    def scenario(name: String, stats: DataFrame) = {
      val estCat = StatsPlanner.fromStatsTable(stats, "vc")
        .estimateGt(T319)
      val (used, st) = StatsPlanner.refreshIfStale(stats, "vc", ev,
        delta, DriftPpmMax, B, McvK)
      val estUsed = StatsPlanner.fromStatsTable(used, "vc")
        .estimateGt(T319)
      (name, st.nCatalog, st.nActual, st.driftPpm,
        if (st.stale) 1L else 0L, estCat, dec(estCat), estUsed,
        dec(estUsed), cap)
    }
    Seq(scenario("fresh", statsFull), scenario("stale", statsA))
      .toDF("scenario", "n_catalog", "n_actual", "drift_ppm",
        "was_stale", "est_catalog", "decision_catalog", "est_used",
        "decision", "cap_rows")
      .orderBy(col("scenario"))
  }

  /** The q320 merge chain over `hist_$a` + `hist_$b`, producing
    * `mrg_$a$b` (merged buckets) and `ntot_$a$b` (total mass) —
    * identical truncating-integer arithmetic to
    * [[StatsPlanner.mergeHistograms]]. */
  private def mergeCtes(a: String, b: String): String = {
    val t = s"$a$b"
    s"""bks_$t AS MATERIALIZED (
       |  SELECT lo, hi, nb AS n FROM hist_$a WHERE nb > 0
       |  UNION ALL SELECT lo, hi, nb FROM hist_$b WHERE nb > 0),
       |xs_$t AS (SELECT DISTINCT x FROM
       |  (SELECT lo AS x FROM bks_$t UNION SELECT hi AS x FROM bks_$t)),
       |cdf_$t AS MATERIALIZED (
       |  SELECT x, CAST(SUM(CASE WHEN x < lo THEN 0
       |      WHEN x >= hi THEN n
       |      ELSE n * (x - lo) // GREATEST(hi - lo, 1) END) AS BIGINT)
       |    AS c
       |  FROM xs_$t CROSS JOIN bks_$t GROUP BY x),
       |segs_$t AS MATERIALIZED (
       |  SELECT COALESCE(lag(x) OVER (ORDER BY x), x) AS x1, x AS x2,
       |    COALESCE(lag(c) OVER (ORDER BY x), 0) AS c1, c AS c2
       |  FROM cdf_$t),
       |ntot_$t AS (SELECT MAX(c2) AS n FROM segs_$t),
       |cuts_$t AS MATERIALIZED (
       |  SELECT b AS j, b * n.n // $B AS blo, (b + 1) * n.n // $B AS bhi
       |  FROM range(0, $B) t(b), ntot_$t n
       |  WHERE (b + 1) * n.n // $B > b * n.n // $B),
       |mlo_$t AS (
       |  SELECT j, x1 + (x2 - x1) * (blo + 1 - c1) // GREATEST(c2 - c1, 1)
       |    AS lo
       |  FROM cuts_$t JOIN segs_$t ON c1 < blo + 1 AND blo + 1 <= c2),
       |mhi_$t AS (
       |  SELECT j, x1 + (x2 - x1) * (bhi - c1) // GREATEST(c2 - c1, 1)
       |    AS hi, bhi - blo AS nb
       |  FROM cuts_$t JOIN segs_$t ON c1 < bhi AND bhi <= c2),
       |mrg_$t AS MATERIALIZED (
       |  SELECT mlo_$t.j, lo, hi, nb
       |  FROM mlo_$t JOIN mhi_$t ON mlo_$t.j = mhi_$t.j)""".stripMargin
  }

  private val qStaleGuardSql = {
    val sa = histCte("sa",
      "SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM events WHERE event_id % 3 <> 0")
    val sd = histCte("sd",
      "SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM events WHERE event_id % 3 = 0")
    val sf = histCte("sf",
      "SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM events")
    def estSel(hist: String) =
      s"""SELECT CAST(SUM(CASE WHEN lo > $T319 THEN nb
         |    WHEN hi > $T319 THEN nb * (hi - $T319) // GREATEST(hi - lo, 1)
         |    ELSE 0 END) AS BIGINT)""".stripMargin + s" FROM $hist"
    s"""WITH $sa,
       |$sd,
       |$sf,
       |${mergeCtes("sa", "sd")},
       |sc AS (
       |  SELECT (SELECT n FROM n_sa) AS n_sa,
       |    (SELECT n FROM n_sf) AS n_sf,
       |    (${estSel("hist_sa")}) AS est_sa,
       |    (${estSel("hist_sf")}) AS est_sf,
       |    (${estSel("mrg_sasd")}) AS est_m),
       |rows_out AS (
       |  SELECT 'fresh' AS scenario, n_sf AS n_catalog, n_sf AS n_actual,
       |    CAST(0 AS BIGINT) AS drift_ppm, CAST(0 AS BIGINT) AS was_stale,
       |    est_sf AS est_catalog,
       |    CASE WHEN est_sf <= 5 * est_sa // 4 THEN 'broadcast'
       |      ELSE 'shuffle' END AS decision_catalog,
       |    est_sf AS est_used,
       |    CASE WHEN est_sf <= 5 * est_sa // 4 THEN 'broadcast'
       |      ELSE 'shuffle' END AS decision,
       |    5 * est_sa // 4 AS cap_rows
       |  FROM sc
       |  UNION ALL
       |  SELECT 'stale', n_sa, n_sf,
       |    CAST(abs(n_sf - n_sa) * 1000000 // n_sa AS BIGINT),
       |    CASE WHEN abs(n_sf - n_sa) * 1000000 // n_sa > $DriftPpmMax
       |      THEN 1 ELSE 0 END,
       |    est_sa,
       |    CASE WHEN est_sa <= 5 * est_sa // 4 THEN 'broadcast'
       |      ELSE 'shuffle' END,
       |    est_m,
       |    CASE WHEN est_m <= 5 * est_sa // 4 THEN 'broadcast'
       |      ELSE 'shuffle' END,
       |    5 * est_sa // 4
       |  FROM sc)
       |SELECT scenario, n_catalog, n_actual, drift_ppm, was_stale,
       |  est_catalog, decision_catalog, est_used, decision, cap_rows
       |FROM rows_out ORDER BY scenario""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q319_stream_cbo_join" -> QueryDef(qStreamCbo, Some(qStreamCboSql),
      "streaming analyzed join: each micro-batch re-reads the " +
        "persisted stats catalog and picks its physical join; the " +
        "mid-stream ANALYZE refresh flips broadcast->shuffle with no " +
        "restart; decisions, estimates, cap and enriched aggregates " +
        "hash-gated"),
    "q320_merge_analyze" -> QueryDef(qMergeAnalyze, Some(qMergeAnalyzeSql),
      "incremental ANALYZE: yesterday's histogram merged with a " +
        "delta-slice histogram by pure B-row integer arithmetic (no " +
        "base re-scan); merged vs recomputed estimates gated at nine " +
        "probes with integer-ppm error; MergeStatsSpec bounds the " +
        "tolerance"),
    "q321_stale_stats_guard" -> QueryDef(qStaleGuard, Some(qStaleGuardSql),
      "stats staleness guard: catalog row count vs live count in " +
        "integer ppm; past 20% drift the q320 incremental merge " +
        "refreshes the export before planning, flipping the " +
        "under-provisioned broadcast the stale catalog chose to the " +
        "safe shuffle; drift, staleness, both estimates and both " +
        "decisions hash-gated; StaleStatsSpec pins the executed plans"))
}
