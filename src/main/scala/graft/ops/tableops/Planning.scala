package graft.ops
package tableops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}
import graft.util.Ranks
import graft.{QueryDef, Tables}
import Tables.load

/** Statistics-driven planning: cardinality estimates, analyzed, skewed and
  * ordered joins, incremental ANALYZE. */
object Planning {

  /* Forty-sixth wave (round 10): two optimizer/profiler-grade planning
    * operators —
    *
    *  - q289: JOIN-CARDINALITY ESTIMATION AUDIT — the question a planner
    *    (or the strongEdges device) asks BEFORE paying for a self-join:
    *    how many rows will `lineitem ⋈ lineitem ON l_orderkey` produce?
    *    Truth is the second frequency moment F₂ = Σ w(o)² (computable in
    *    one keyed pass — that is itself the full-stats planner answer).
    *    Audited against it: (a) the textbook UNIFORMITY estimate n²/d
    *    (what a catalog with only row/NDV stats gives), and (b) a
    *    KMV-SAMPLED estimate — the k smallest key hashes are a
    *    deterministic uniform sample of the DISTINCT keys, so
    *    d_est · mean(w² over sampled keys) estimates F₂ from a 64-key
    *    probe (the AMS-style sampled moment, exactly replayable in SQL
    *    because the sample is order-statistics, not random). Output:
    *    one row per method with signed error ppm — the measured case
    *    for carrying frequency sketches in table stats at 100 TB.
    *  - q290: FOREIGN-KEY DISCOVERY (inclusion dependencies) — the
    *    Metanome/SPIDER-class profiling pass: for each candidate
    *    child→parent column pair, distinct-value containment ppm,
    *    parent-side uniqueness, and parent coverage ppm. The stated
    *    candidate list includes a deliberate FALSE-POSITIVE control
    *    (l_suppkey → p_partkey: containment is total because small int
    *    domains nest, the classic inclusion-dependency trap) — the
    *    coverage column is what separates it from the real FKs, and the
    *    gate pins that separation cross-engine.
    *
    * Scale shapes: q289 is two keyed aggregates + a 64-row broadcast
    * probe; q290 is per-edge distinct aggregates + semi-join-shaped
    * distinct intersections — every join on a key column, nothing
    * pairwise. */

  // ------------------------------------------------------------- q289

  private val JcK = 64

  private def qJoinCardinality(s: SparkSession, dir: String): DataFrame = {
    val w = graft.util.Pin(load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("w"))
      .withColumn("h", expr(
        "((l_orderkey % 1000000007) * 2654435761) % 2147483648")))
    val stats = w.agg(
      sum(col("w")).as("n_rows"),
      count(lit(1)).as("d_keys"),
      sum((col("w") * col("w")).cast(DecimalType(38, 0)))
        .cast(LongType).as("f2_exact"))
    // deterministic 64-key sample: the k smallest key hashes (the KMV
    // order-statistics sample — uniform over DISTINCT keys)
    val sample = w.orderBy(col("h").asc, col("l_orderkey").asc)
      .limit(JcK)
      .agg(sum((col("w") * col("w")).cast(DecimalType(38, 0)))
          .cast(LongType).as("s_w2"),
        max(col("h")).as("h_k"))
    val est = stats.crossJoin(broadcast(sample)) // one-row probe stats
      .withColumn("d_est", expr(
        s"CAST((${JcK - 1} * 2147483648) div h_k AS BIGINT)"))
      .withColumn("est_uniform", expr(
        "CAST(CAST(n_rows AS DECIMAL(38,0)) * n_rows div d_keys AS BIGINT)"))
      .withColumn("est_kmv", expr(
        s"CAST(CAST(d_est AS DECIMAL(38,0)) * s_w2 div $JcK AS BIGINT)"))
    val methods = Seq(
      ("exact_f2", "f2_exact"),
      ("uniformity", "est_uniform"),
      ("kmv_sampled", "est_kmv"))
    methods.map { case (name, c) =>
      est.select(lit(name).as("method"), col(c).as("estimate"),
        col("f2_exact").as("actual"),
        expr(s"($c - f2_exact) * 1000000 div f2_exact").as("err_ppm"))
    }.reduce(_ unionByName _).orderBy(col("method"))
  }

  private val qJoinCardinalitySql =
    s"""WITH w AS MATERIALIZED (
       |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS w,
       |    ((l_orderkey % 1000000007) * 2654435761) % 2147483648 AS h
       |  FROM lineitem GROUP BY 1),
       |st AS (
       |  SELECT CAST(SUM(w) AS BIGINT) AS n_rows,
       |    CAST(COUNT(*) AS BIGINT) AS d_keys,
       |    CAST(SUM(CAST(w AS HUGEINT) * w) AS BIGINT) AS f2_exact
       |  FROM w),
       |sm AS (
       |  SELECT CAST(SUM(CAST(w AS HUGEINT) * w) AS BIGINT) AS s_w2,
       |    MAX(h) AS h_k
       |  FROM (SELECT * FROM w ORDER BY h, l_orderkey LIMIT $JcK)),
       |e AS (
       |  SELECT st.*, sm.*,
       |    CAST((${JcK - 1} * 2147483648) // h_k AS BIGINT) AS d_est,
       |    CAST(CAST(n_rows AS HUGEINT) * n_rows // d_keys AS BIGINT)
       |      AS est_uniform
       |  FROM st, sm),
       |e2 AS (
       |  SELECT *, CAST(CAST(d_est AS HUGEINT) * s_w2 // $JcK AS BIGINT)
       |    AS est_kmv FROM e)
       |SELECT method, estimate, actual,
       |  CAST((estimate - actual) * 1000000 // actual AS BIGINT)
       |    AS err_ppm
       |FROM (
       |  SELECT 'exact_f2' AS method, f2_exact AS estimate,
       |    f2_exact AS actual FROM e2
       |  UNION ALL SELECT 'uniformity', est_uniform, f2_exact FROM e2
       |  UNION ALL SELECT 'kmv_sampled', est_kmv, f2_exact FROM e2)
       |ORDER BY method""".stripMargin

  /* Fifty-third wave (round 11): the CBO loop CLOSED — q295 exports
    * ANALYZE-grade histograms+MCVs and q289 audits join-cardinality
    * estimates; this wave adds the query that CONSUMES those stats to
    * make planning decisions, and audits the decisions themselves
    * (round-10 verdict ask #5).
    *
    *  - q314: STATS-DRIVEN PLANNING AUDIT. A 3-step plan over the skewed
    *    fact table (events: `value` has an exponential right tail —
    *    p50 $34.59, max $490.02 at sf0.01) is estimated twice:
    *      (a) UNIFORMITY stats (row count, min/max, NDV — what a catalog
    *          without histograms knows): range selectivity by min-max
    *          linear interpolation, join size by the containment rule
    *          |R⋈S| = |R|·|S| / max(ndv), categorical selectivity 1/ndv;
    *      (b) HISTOGRAM/MCV stats (the q295 exports): range selectivity
    *          from a 32-bucket equi-depth histogram with within-bucket
    *          interpolation, categorical selectivity from the value's
    *          measured frequency.
    *    Each estimate drives the broadcast-vs-shuffle choice for the
    *    filtered fact side at a stated threshold (5% of the table); the
    *    audit reports estimate error (integer ppm) and CHOSEN vs OPTIMAL
    *    (from exact cardinalities) per step. On the skewed tail
    *    predicate, uniformity over-estimates ~80× and picks a shuffle
    *    where broadcast is optimal — the histogram stats fix exactly
    *    that decision, while on the uniform categorical step both
    *    estimators agree (the audit flags only REAL mis-estimates).
    *
    * Everything is integer-exact in BOTH engines (cents grid, identical
    * rank/bucket arithmetic `(rk−1)·B div n`, ppm errors by integer
    * division), so the estimates themselves — not just the exact counts —
    * hash-match the DuckDB oracle.
    *
    * Scale shape: the histogram builds on the distributed Ranks device
    * (range repartition + offset broadcast, never a global window); all
    * estimator/stat frames are one-row or B-row bounded broadcasts; the
    * exact counts are keyed joins/aggregates. */

  private val B = 32 // equi-depth buckets
  private val Tc = 24500L // range predicate: value > $245.00 (cents)
  private val BcastDiv = 20L // broadcast if est <= n/20 (5%)

  private def qCboPlanningAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
    val cust = load(s, dir, "customer").select(col("c_custkey"))

    // ---- catalog stats (one-row / B-row bounded frames)
    val base = ev.agg(
      count(lit(1)).as("n"),
      min(col("vc")).as("minc"), max(col("vc")).as("maxc"),
      countDistinct(col("event_type")).as("ndv_type"))
    val ranked = Ranks.globalRank(ev.select(col("vc"), col("event_id")),
      "rk", col("vc"), col("event_id"))
    val buckets = ranked.crossJoin(broadcast(base.select(col("n"))))
      .withColumn("b", expr(s"(rk - 1) * $B div n"))
      .groupBy(col("b"))
      .agg(min(col("vc")).as("lb"), max(col("vc")).as("ub"),
        count(lit(1)).as("nb"))
    // histogram range estimate: full buckets above T + straddle part
    val histEst = buckets.agg(
      sum(expr(
        s"CASE WHEN lb > $Tc THEN nb " +
          s"WHEN ub > $Tc THEN nb * (ub - $Tc) div (ub - lb) " +
          "ELSE 0 END")).as("est_hist1"))
    val mcv = ev.filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n_purchase"))

    // ---- exact cardinalities (ground truth; keyed joins only)
    val sel = ev.filter(col("vc") > Tc)
    val j2 = sel.join(cust, col("user_id") === col("c_custkey"))
    val exact = sel.agg(count(lit(1)).as("exact1")).crossJoin(
      broadcast(j2.agg(count(lit(1)).as("exact2")))).crossJoin(
      broadcast(j2.filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("exact3"))))

    // ---- one row carrying every stat (all one-row broadcasts)
    val row = base.crossJoin(broadcast(histEst))
      .crossJoin(broadcast(mcv)).crossJoin(broadcast(exact))
      // greatest(..., 1) denominator guard: a constant-valued events
      // table makes maxc = minc, where Spark `div` yields NULL silently
      // but DuckDB's `//` errors — divergent gate failure modes
      .withColumn("est_uni1", expr(
        s"greatest(0, least(n, n * (maxc - $Tc) div greatest(maxc - minc, 1)))"))
      // the fact side joins a PK dim: |sel ⋈ cust| = |sel| (containment,
      // ndv(c_custkey) >= ndv(user_id)) — both estimators propagate
      .withColumn("est_uni2", col("est_uni1"))
      .withColumn("est_hist2", col("est_hist1"))
      .withColumn("est_uni3", expr("est_uni2 div ndv_type"))
      .withColumn("est_hist3", expr("est_hist2 * n_purchase div n"))
      .withColumn("thr", expr(s"n div $BcastDiv"))

    def step(name: String, exact: String, eu: String, eh: String,
        decide: Boolean): DataFrame = {
      val d = row
        .withColumn("step", lit(name))
        .withColumn("exact_rows", col(exact))
        .withColumn("est_uniform_rows", col(eu))
        .withColumn("est_hist_rows", col(eh))
        .withColumn("err_uniform_ppm", expr(
          s"abs($eu - $exact) * 1000000 div greatest($exact, 1)"))
        .withColumn("err_hist_ppm", expr(
          s"abs($eh - $exact) * 1000000 div greatest($exact, 1)"))
      val withPlan =
        if (decide) d
          .withColumn("plan_uniform", expr(
            s"CASE WHEN $eu <= thr THEN 'broadcast' ELSE 'shuffle' END"))
          .withColumn("plan_hist", expr(
            s"CASE WHEN $eh <= thr THEN 'broadcast' ELSE 'shuffle' END"))
          .withColumn("plan_optimal", expr(
            s"CASE WHEN $exact <= thr THEN 'broadcast' ELSE 'shuffle' END"))
        else d
          .withColumn("plan_uniform", lit("n/a"))
          .withColumn("plan_hist", lit("n/a"))
          .withColumn("plan_optimal", lit("n/a"))
      withPlan
        .withColumn("misplanned_uniform",
          expr("CAST(plan_uniform <> plan_optimal AS BIGINT)"))
        .withColumn("misplanned_hist",
          expr("CAST(plan_hist <> plan_optimal AS BIGINT)"))
        .select(col("step"), col("exact_rows"), col("est_uniform_rows"),
          col("est_hist_rows"), col("err_uniform_ppm"),
          col("err_hist_ppm"), col("plan_uniform"), col("plan_hist"),
          col("plan_optimal"), col("misplanned_uniform"),
          col("misplanned_hist"))
    }

    step("1_range_filter", "exact1", "est_uni1", "est_hist1",
        decide = false)
      .unionByName(step("2_join_customer", "exact2", "est_uni2",
        "est_hist2", decide = true))
      .unionByName(step("3_categorical", "exact3", "est_uni3",
        "est_hist3", decide = false))
      .orderBy(col("step"))
  }

  private val qCboPlanningAuditSql =
    s"""WITH ev AS MATERIALIZED (
       |  SELECT event_id, user_id, event_type,
       |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
       |  FROM events),
       |base AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    MIN(vc) AS minc, MAX(vc) AS maxc,
       |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS ndv_type
       |  FROM ev),
       |ranked AS (
       |  SELECT vc, CAST(row_number() OVER (ORDER BY vc, event_id)
       |    AS BIGINT) AS rk FROM ev),
       |buckets AS (
       |  SELECT (rk - 1) * $B // n AS b, MIN(vc) AS lb, MAX(vc) AS ub,
       |    CAST(COUNT(*) AS BIGINT) AS nb
       |  FROM ranked, base GROUP BY 1),
       |hist AS (
       |  SELECT CAST(SUM(CASE WHEN lb > $Tc THEN nb
       |    WHEN ub > $Tc THEN nb * (ub - $Tc) // (ub - lb)
       |    ELSE 0 END) AS BIGINT) AS est_hist1 FROM buckets),
       |mcv AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_purchase FROM ev
       |  WHERE event_type = 'purchase'),
       |sel AS MATERIALIZED (
       |  SELECT * FROM ev WHERE vc > $Tc),
       |j2 AS MATERIALIZED (
       |  SELECT sel.* FROM sel JOIN customer
       |    ON user_id = c_custkey),
       |exact AS (
       |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sel) AS exact1,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM j2) AS exact2,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM j2
       |     WHERE event_type = 'purchase') AS exact3),
       |r AS (
       |  SELECT *,
       |    greatest(0, least(n, n * (maxc - $Tc) // greatest(maxc - minc, 1)))
       |      AS est_uni1,
       |    n // $BcastDiv AS thr
       |  FROM base, hist, mcv, exact),
       |r2 AS (
       |  SELECT *, est_uni1 AS est_uni2, est_hist1 AS est_hist2,
       |    est_uni1 // ndv_type AS est_uni3,
       |    est_hist1 * n_purchase // n AS est_hist3
       |  FROM r),
       |steps AS (
       |  SELECT '1_range_filter' AS step, exact1 AS exact_rows,
       |    est_uni1 AS est_uniform_rows, est_hist1 AS est_hist_rows,
       |    'n/a' AS plan_uniform, 'n/a' AS plan_hist,
       |    'n/a' AS plan_optimal, exact1 AS ex, est_uni1 AS eu,
       |    est_hist1 AS eh
       |  FROM r2
       |  UNION ALL
       |  SELECT '2_join_customer', exact2, est_uni2, est_hist2,
       |    CASE WHEN est_uni2 <= thr THEN 'broadcast' ELSE 'shuffle' END,
       |    CASE WHEN est_hist2 <= thr THEN 'broadcast' ELSE 'shuffle' END,
       |    CASE WHEN exact2 <= thr THEN 'broadcast' ELSE 'shuffle' END,
       |    exact2, est_uni2, est_hist2
       |  FROM r2
       |  UNION ALL
       |  SELECT '3_categorical', exact3, est_uni3, est_hist3,
       |    'n/a', 'n/a', 'n/a', exact3, est_uni3, est_hist3
       |  FROM r2)
       |SELECT step, exact_rows, est_uniform_rows, est_hist_rows,
       |  CAST(abs(eu - ex) * 1000000 // greatest(ex, 1) AS BIGINT)
       |    AS err_uniform_ppm,
       |  CAST(abs(eh - ex) * 1000000 // greatest(ex, 1) AS BIGINT)
       |    AS err_hist_ppm,
       |  plan_uniform, plan_hist, plan_optimal,
       |  CAST(plan_uniform <> plan_optimal AS BIGINT)
       |    AS misplanned_uniform,
       |  CAST(plan_hist <> plan_optimal AS BIGINT) AS misplanned_hist
       |FROM steps ORDER BY step""".stripMargin

  /* Fifty-fourth wave (round 12): the CBO loop APPLIED — q314 audited
    * the broadcast-vs-shuffle decision the q295 histogram stats imply;
    * this wave's q315 runs the SAME join through [[StatsPlanner
    * .analyzedJoin]], where the histogram estimate actually selects the
    * physical strategy (broadcast the filtered fact vs pin a sort-merge
    * shuffle). Two steps exercise BOTH branches:
    *
    *  - `hi_tail` (value > $245.00): the exponential tail — the
    *    histogram estimate lands under the 5% broadcast budget, the
    *    fact side is broadcast (q314 showed uniformity stats mis-plan
    *    exactly this step ~80×);
    *  - `lo_bulk` (value > $10.00): most of the table survives — the
    *    estimate exceeds the budget and the join is pinned to the
    *    shuffle path (the only safe shape at 100 TB).
    *
    * The gate hash-matches the per-nation aggregate of the joined rows
    * (plan-independent — correctness of the API path), the histogram
    * estimate, AND the decision string (the oracle recomputes the same
    * integer bucket arithmetic), while AnalyzedJoinSpec pins that the
    * EXECUTED physical plan matches the decision (BroadcastHashJoin vs
    * SortMergeJoin) and that each decision equals the optimal-from-exact
    * choice. Scale shape: the ANALYZE is one keyed aggregate + one
    * Ranks prefix-scan; only the 32-row histogram reaches the driver;
    * the joins are keyed equi-joins. */

  private val THi = 24500L // tail: histogram → broadcast
  private val TLo = 1000L // bulk: histogram → shuffle
  private val BcastCap = 5000000L // ...AND under the absolute row cap

  private def qAnalyzedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events").select(col("user_id"),
      expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    def step(name: String, t: Long): DataFrame = {
      val (joined, est, plan) = StatsPlanner.analyzedJoin(
        ev, "vc", t, cust, col("user_id") === col("c_custkey"),
        broadcastDiv = BcastDiv, numBuckets = B,
        maxBroadcastRows = BcastCap)
      joined
        .groupBy(col("c_nationkey").cast(LongType).as("nation"))
        .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_vc"))
        .withColumn("step", lit(name))
        .withColumn("est_rows", lit(est))
        .withColumn("plan_chosen", lit(plan))
    }
    step("hi_tail", THi).unionByName(step("lo_bulk", TLo))
      .select(col("step"), col("nation"), col("n_events"), col("sum_vc"),
        col("est_rows"), col("plan_chosen"))
      .orderBy(col("step"), col("nation"))
  }

  private val qAnalyzedJoinSql =
    s"""WITH ev AS MATERIALIZED (
       |  SELECT user_id, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
       |  FROM events),
       |${histCte("ev", "SELECT vc AS v FROM ev", B)},
       |steps(step, t) AS (
       |  SELECT * FROM (VALUES ('hi_tail', $THi), ('lo_bulk', $TLo))),
       |est AS (
       |  SELECT step, t,
       |    CAST(SUM(CASE WHEN lo > t THEN nb
       |      WHEN hi > t THEN nb * (hi - t) // GREATEST(hi - lo, 1)
       |      ELSE 0 END) AS BIGINT) AS est_rows
       |  FROM steps, hist_ev GROUP BY 1, 2),
       |plan AS MATERIALIZED (
       |  SELECT step, t, est_rows,
       |    CASE WHEN est_rows <= LEAST((SELECT n // $BcastDiv FROM n_ev),
       |        $BcastCap)
       |      THEN 'broadcast' ELSE 'shuffle' END AS plan_chosen
       |  FROM est),
       |agg AS (
       |  SELECT p.step, CAST(c_nationkey AS BIGINT) AS nation,
       |    CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(SUM(vc) AS BIGINT) AS sum_vc
       |  FROM plan p JOIN ev ON vc > p.t
       |    JOIN customer ON user_id = c_custkey
       |  GROUP BY 1, 2)
       |SELECT a.step, nation, n_events, sum_vc, est_rows, plan_chosen
       |FROM agg a JOIN plan USING (step)
       |ORDER BY step, nation""".stripMargin

  /* Fifty-fifth wave (round 13): the stats catalog drives MORE of the
    * plan space — the two decisions a 100-TB planner makes most often
    * after broadcast-vs-shuffle (q315), both oracle-gated end to end:
    *
    *  - q317: MCV-DRIVEN SKEW-SALTED JOIN. The q295 catalog's
    *    most-common-value tier picks the HOT join keys (frequency over
    *    `n/10` on one key); only those keys draw a spread salt on the
    *    probe side and replicate on the build side, every cold key
    *    rides salt 0 untouched ([[StatsPlanner.skewedJoinFromStats]]).
    *    The skew itself is the classic production shape: unattributed
    *    events defaulting to a sentinel account — here `error` events
    *    land on user 1, putting ~20% of the fact table on one key
    *    while every real user holds ~0.5%. The gate hash-matches the
    *    per-nation join aggregate (salting must be invisible), the
    *    detected hot-key set, AND its size — the oracle recomputes the
    *    same MCV top-K and the same `cnt > n // 10` threshold.
    *    SkewedJoinSpec pins the hot/cold plan split (hot probe rows
    *    spread over all salts, cold rows all on salt 0, build rows
    *    replicate only under hot keys, join keyed on (key, salt)).
    *
    *  - q318: CARDINALITY-DRIVEN JOIN ORDER. A 3-dim star join over
    *    lineitem is ordered by histogram-estimated dim-filter
    *    selectivity ([[StatsPlanner.orderedJoin]] — the Selinger
    *    smallest-intermediate-first rule): part `p_size > 45` (~10%)
    *    joins before supplier `s_acctbal > $4000` (~50%) before orders
    *    `o_totalprice > $80k` (~84%), so the fact stream shrinks as
    *    early as the stats allow. Spark executes joins in declaration
    *    order with CBO off (the default), so the chosen order IS the
    *    executed order — OrderedJoinSpec pins the physical join
    *    sequence and broadcast sides. The gate hash-matches each dim's
    *    estimate, ppm selectivity, POSITION, and physical-plan choice
    *    (absolute 5M-row broadcast cap, q315's) plus the joined
    *    aggregate itself.
    *
    * Scale shapes: q317's ANALYZE is one keyed aggregate + one range
    * shuffle with a B+K-row driver transfer, and the salted join is a
    * keyed equi-join whose build-side replication is bounded by
    * K·nSalts rows; q318 runs one bounded ANALYZE per dim (dims, not
    * the fact) and three keyed joins with pinned build sides. Neither
    * ever scans the fact table at plan time more than once. */

  // ------------------------------------------------------------- q317

  private val HotDiv = 10L // hot if one key holds > 10% of the table
  private val Salts = 8
  private val McvK = 4
  private val HB = 16

  private def qSkewedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events").select(
      expr("CASE WHEN event_type = 'error' THEN 1 ELSE user_id END")
        .as("uid"),
      col("event_id"),
      expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
    // the nightly-ANALYZE shape: export the catalog rows, then plan
    // from the catalog — zero plan-time scans of either join side
    val stats = StatsPlanner.exportStats(ev, "uid", HB, McvK)
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val (joined, hot) = StatsPlanner.skewedJoinFromStats(
      ev, "uid", cust, "c_custkey", spread = col("event_id"),
      stats, "uid", HotDiv, Salts)
    joined
      .groupBy(col("c_nationkey").cast(LongType).as("nation"))
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_vc"))
      .withColumn("hot_keys", lit(hot.sorted.mkString("|")))
      .withColumn("n_hot", lit(hot.size.toLong))
      .orderBy(col("nation"))
  }

  private val qSkewedJoinSql =
    s"""WITH ev AS MATERIALIZED (
       |  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE user_id END
       |      AS uid,
       |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
       |  FROM events),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
       |bv AS MATERIALIZED (
       |  SELECT uid AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev
       |  GROUP BY 1),
       |mcv AS (SELECT v, cnt FROM bv ORDER BY cnt DESC, v LIMIT $McvK),
       |hot AS MATERIALIZED (
       |  SELECT v FROM mcv, n WHERE cnt > n.n // $HotDiv),
       |hotagg AS (
       |  SELECT COALESCE(string_agg(CAST(v AS VARCHAR), '|' ORDER BY v),
       |      '') AS hot_keys,
       |    CAST(COUNT(*) AS BIGINT) AS n_hot
       |  FROM hot),
       |agg AS (
       |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
       |    CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(SUM(vc) AS BIGINT) AS sum_vc
       |  FROM ev JOIN customer ON uid = c_custkey
       |  GROUP BY 1)
       |SELECT nation, n_events, sum_vc, hot_keys, n_hot
       |FROM agg, hotagg ORDER BY nation""".stripMargin

  // ------------------------------------------------------------- q318

  private val TPart = 45L // p_size > 45: ~10% of parts
  private val TSupp = 400000L // s_acctbal > $4000.00: ~50% of suppliers
  private val TOrd = 8000000L // o_totalprice > $80,000.00: ~84% of orders
  private val Cap = 5000000L // q315's absolute broadcast row cap

  private def qOrderedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = load(s, dir, "lineitem").select(
      col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
      expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)")
        .as("vc"))
    val dims = Seq(
      StatsPlanner.JoinDim("part",
        load(s, dir, "part").select(col("p_partkey"), col("p_size")),
        col("l_partkey") === col("p_partkey"), "p_size", TPart),
      StatsPlanner.JoinDim("supplier",
        load(s, dir, "supplier").select(col("s_suppkey"),
          expr("CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)")
            .as("s_bal_c")),
        col("l_suppkey") === col("s_suppkey"), "s_bal_c", TSupp),
      StatsPlanner.JoinDim("orders",
        load(s, dir, "orders").select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
            .as("o_total_c")),
        col("l_orderkey") === col("o_orderkey"), "o_total_c", TOrd))
    val (joined, plans) = StatsPlanner.orderedJoin(fact, dims, HB, Cap)
    val agg = joined.agg(count(lit(1)).as("n_joined"),
      sum(col("vc").cast(DecimalType(38, 0))).cast(LongType)
        .as("sum_vc"))
    plans.map(p => (p.pos.toLong, p.name, p.est, p.selPpm, p.plan))
      .toDF("pos", "dim_name", "est_rows", "sel_ppm", "plan_chosen")
      .crossJoin(broadcast(agg)) // one-row totals frame
      .select(col("pos"), col("dim_name"), col("est_rows"),
        col("sel_ppm"), col("plan_chosen"), col("n_joined"),
        col("sum_vc"))
      .orderBy(col("pos"))
  }

  /** One dim's histogram-estimate CTE chain (the q315 arithmetic,
    * parameterized per dim — both engines share the integer grid). */
  private def histEstCte(tag: String, srcSql: String, t: Long): String =
    histCte(tag, srcSql) +
      s""",
       |sel_$tag AS (
       |  SELECT '$tag' AS dim_name, est_rows,
       |    est_rows * 1000000 // GREATEST(n, 1) AS sel_ppm,
       |    CASE WHEN est_rows <= $Cap THEN 'broadcast' ELSE 'shuffle'
       |      END AS plan_chosen
       |  FROM (
       |    SELECT CAST(SUM(CASE WHEN lo > $t THEN nb
       |        WHEN hi > $t THEN nb * (hi - $t) // GREATEST(hi - lo, 1)
       |        ELSE 0 END) AS BIGINT) AS est_rows,
       |      (SELECT n FROM n_$tag) AS n
       |    FROM hist_$tag))""".stripMargin

  private val qOrderedJoinSql = {
    val part = histEstCte("part",
      "SELECT CAST(p_size AS BIGINT) AS v FROM part", TPart)
    val supp = histEstCte("supplier",
      "SELECT CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM supplier", TSupp)
    val ord = histEstCte("orders",
      "SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v " +
        "FROM orders", TOrd)
    s"""WITH $part,
       |$supp,
       |$ord,
       |plan AS (
       |  SELECT dim_name, est_rows, sel_ppm, plan_chosen,
       |    CAST(row_number() OVER (ORDER BY sel_ppm, dim_name) - 1
       |      AS BIGINT) AS pos
       |  FROM (SELECT * FROM sel_part
       |    UNION ALL SELECT * FROM sel_supplier
       |    UNION ALL SELECT * FROM sel_orders)),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_joined,
       |    CAST(SUM(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5)
       |      AS BIGINT) AS HUGEINT)) AS BIGINT) AS sum_vc
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey AND p_size > $TPart
       |  JOIN supplier ON l_suppkey = s_suppkey
       |    AND CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) > $TSupp
       |  JOIN orders ON l_orderkey = o_orderkey
       |    AND CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
       |      > $TOrd)
       |SELECT pos, dim_name, est_rows, sel_ppm, plan_chosen,
       |  n_joined, sum_vc
       |FROM plan, agg ORDER BY pos""".stripMargin
  }

  /* Fifty-sixth wave (round 13, verdict stretches #7/#8): the stats
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
      .exportStats(ev.filter(pmod(col("eid"), lit(2)) === 0), "vc", HB, McvK)
    val statsB = StatsPlanner.exportStats(ev, "vc", HB, McvK)
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
    histCte(tag, srcSql) +
      s""",
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
    val hBase = StatsPlanner.analyze(base, "vc", HB)
    val hDelta = StatsPlanner.analyze(delta, "vc", HB) // scans ONLY the slice
    val merged = StatsPlanner.ColStats(
      hBase.n + hDelta.n,
      StatsPlanner.mergeHistograms(hBase.buckets, hDelta.buckets, HB))
    val full = StatsPlanner.analyze(ev, "vc", HB) // the control recompute
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

  /** One source's equi-depth histogram CTE chain on the integer grid
    * (`n_$tag` rows, `buckets` bucket rows `hist_$tag`), shared by
    * q315 and q318-q321's oracles; [[histEstCte]] and [[estCte]] extend
    * it with an estimate. */
  private def histCte(tag: String, srcSql: String, buckets: Int = HB): String =
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
       |    CAST(SUM(LEAST(cum, (b + 1) * n.n // $buckets) -
       |      GREATEST(cum - cnt, b * n.n // $buckets)) AS BIGINT) AS nb
       |  FROM r_$tag, n_$tag n, range(0, $buckets) t(b)
       |  WHERE cum > b * n.n // $buckets AND cum - cnt < (b + 1) * n.n // $buckets
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
       |  SELECT b AS j, b * n.n // $HB AS blo, (b + 1) * n.n // $HB AS bhi
       |  FROM range(0, $HB) t(b), ntot n
       |  WHERE (b + 1) * n.n // $HB > b * n.n // $HB),
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
    val statsA = StatsPlanner.exportStats(sliceA, "vc", HB, McvK)
    val statsFull = StatsPlanner.exportStats(ev, "vc", HB, McvK)
    val estA = StatsPlanner.fromStatsTable(statsA, "vc").estimateGt(T319)
    // between the stale and refreshed estimates (full/slice ≈ 3/2), so
    // the guard visibly flips the decision the stale catalog got wrong
    val cap = 5L * estA / 4L
    def dec(e: Long) = if (e <= cap) "broadcast" else "shuffle"
    def scenario(name: String, stats: DataFrame) = {
      val estCat = StatsPlanner.fromStatsTable(stats, "vc")
        .estimateGt(T319)
      val (used, st) = StatsPlanner.refreshIfStale(stats, "vc", ev,
        delta, DriftPpmMax, HB, McvK)
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
       |  SELECT b AS j, b * n.n // $HB AS blo, (b + 1) * n.n // $HB AS bhi
       |  FROM range(0, $HB) t(b), ntot_$t n
       |  WHERE (b + 1) * n.n // $HB > b * n.n // $HB),
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
    "q289_join_cardinality" -> QueryDef(qJoinCardinality,
      Some(qJoinCardinalitySql),
      "join-cardinality (F2) estimation audit: exact second moment vs " +
        "the uniformity estimate n^2/d vs a deterministic KMV-sampled " +
        "moment; signed error ppm per method"),
    "q314_cbo_planning_audit" -> QueryDef(qCboPlanningAudit,
      Some(qCboPlanningAuditSql),
      "stats-driven planning audit: uniformity vs histogram/MCV " +
        "estimates drive broadcast-vs-shuffle; chosen vs optimal " +
        "reported per step with integer-ppm errors (closes the " +
        "q289/q295 CBO loop)"),
    "q315_analyzed_join" -> QueryDef(qAnalyzedJoin,
      Some(qAnalyzedJoinSql),
      "stats-driven join through the USER API: the q295 equi-depth " +
        "histogram estimate selects broadcast vs shuffle for the " +
        "filtered fact side (both branches exercised); estimate and " +
        "decision hash-gated, executed plan pinned by AnalyzedJoinSpec"),
    "q317_skewed_join" -> QueryDef(qSkewedJoin, Some(qSkewedJoinSql),
      "MCV-driven skew-salted join: catalog stats pick the hot keys " +
        "(sentinel-account skew), only hot keys salt/replicate, " +
        "hot-key set + join aggregate hash-gated; SkewedJoinSpec " +
        "pins the hot/cold plan split"),
    "q318_ordered_join" -> QueryDef(qOrderedJoin, Some(qOrderedJoinSql),
      "cardinality-driven join order: per-dim histogram estimates " +
        "order a 3-dim star join most-selective-first; estimates, " +
        "positions, broadcast choices and the joined aggregate all " +
        "hash-gated; OrderedJoinSpec pins the executed sequence"),
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
