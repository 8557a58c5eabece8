package graft.ops
package stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import Tables.load

/** Approximate aggregation sketches gated against exact answers: HLL, GK,
  * count-min and KMV. */
object Sketches {

  /** A6 approx sketch: HLL approx_count_distinct validated against the
    * exact count IN the query — the raw HLL estimate is implementation-
    * specific (DuckDB's sketch differs from Spark's HLL++), so the
    * hash-gated output is the exact count plus the estimate's
    * within-10%-of-exact verdict, which both engines agree on: the
    * oracle's sketch-free restatement is `TRUE` by the HLL++ error
    * contract (default rsd 5%; the tighter 5% bound is asserted in
    * SaltingAndSketchSpec). */
  private def qApprox(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= col("exact_parts") * 0.1).as("approx_ok"))
      .orderBy(col("l_returnflag"))

  private val qApproxSql =
    """SELECT l_returnflag,
      | CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      | TRUE AS approx_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q71: mergeable percentile sketch, gated the q16 way. q55 records
    * the exact interpolated percentiles — the right oracle but a full
    * sort per group; at 100 TB you ship `approx_percentile`
    * (Greenwald–Khanna summaries: one pass, bounded memory, mergeable
    * across partitions like any partial agg). Raw sketch outputs are
    * implementation- and merge-order-specific, so the gate hashes the
    * exact values plus a within-tolerance VERDICT per percentile; the
    * sketch value itself stays out of the hash. Relative-error bound:
    * GK with accuracy parameter eps=10^-4 guarantees rank error
    * ≤ eps·n, far inside the 5%-of-value tolerance asserted here. */
  private def qApproxPercentile(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").as("p50_exact"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.95)").as("p95_exact"),
        expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), 0.5, 10000)")
          .as("p50_sketch"),
        expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), 0.95, 10000)")
          .as("p95_sketch"))
      .select(col("l_returnflag"), col("p50_exact"), col("p95_exact"),
        (abs(col("p50_sketch") - col("p50_exact"))
          <= col("p50_exact") * 0.05).as("p50_ok"),
        (abs(col("p95_sketch") - col("p95_exact"))
          <= col("p95_exact") * 0.05).as("p95_ok"))
      .orderBy(col("l_returnflag"))

  private val qApproxPercentileSql =
    """SELECT l_returnflag,
      | quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS p50_exact,
      | quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS p95_exact,
      | TRUE AS p50_ok, TRUE AS p95_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q55: exact distribution statistics — interpolated percentiles of
    * the quantity distribution per return flag. Spark's `percentile` is
    * the exact sort-based aggregate (not the t-digest approximation);
    * DuckDB's `quantile_cont` implements the same p·(n−1) linear
    * interpolation, and the inputs are small integral decimals, so the
    * doubles agree bit-for-bit. At 100 TB you'd reach for
    * `approx_percentile` (mergeable sketch, one pass); the exact form is
    * the oracle-checkable baseline the sketch is validated against —
    * the same pairing q16 uses for distinct counts. */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.25)").as("p25"),
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)").as("p50"),
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.75)").as("p75"),
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.99)").as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  private val qPercentilesSql =
    """SELECT l_returnflag,
      | quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS p25,
      | quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50,
      | quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS p75,
      | quantile_cont(CAST(l_quantity AS DOUBLE), 0.99) AS p99,
      | COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q87: count-min / top-k SKETCH heavy hitters, gated the q16/q71
    * way. At 100 TB the per-key exact count is a full shuffle of the
    * stream; the mergeable sketches (CMS cells and a bounded top-k
    * summary) aggregate map-side into constant memory and collect to
    * the driver as ONE bounded row — which is the entire point of a
    * sketch, so the driver-side finalization here is the operator, not
    * a shortcut. Raw sketch state is merge-order-specific, so the gate
    * hashes the EXACT counts plus verdict booleans: the CMS estimate
    * must sit inside its guaranteed one-sided band
    * [exact, exact + ⌈eps·N⌉] for every key, and the top-k summary
    * must recover the exact item set and the exact top-1 (both
    * deterministic: CMS cells and the tracker are commutative, seeds
    * fixed). */
  private def qSketchHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val eps = 0.001
    val ev = load(s, dir, "events")
    val sk = ev.agg(
      expr(s"count_min_sketch(event_type, ${eps}d, 0.99d, 42)").as("cms"),
      expr("approx_top_k(event_type, 5)").as("topk"),
      count(lit(1)).as("n")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sk.getAs[Array[Byte]]("cms")))
    val topk = sk.getSeq[org.apache.spark.sql.Row](1)
    val band = math.ceil(eps * sk.getAs[Long]("n")).toLong
    // exact side: bounded collect, one row per distinct event type
    val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("event_type"))
      .as[(String, Long)].collect()
    // compare against the exact TOP-5, not all distinct items: with
    // more than 5 distinct types the sketch legitimately returns only
    // 5, and the claim is "the summary recovers the true heavy
    // hitters", not "the summary enumerates the domain"
    val topkOk =
      topk.map(_.getString(0)).toSet == exact.take(5).map(_._1).toSet &&
        topk.headOption.map(_.getString(0)).contains(exact.head._1)
    val out = exact.toSeq.map { case (et, n) =>
      val est = cms.estimateCount(et)
      (et, n, est >= n && est <= n + band, topkOk)
    }
    out.toDF("event_type", "n_exact", "cms_ok", "topk_ok")
      .orderBy(col("event_type"))
  }

  private val qSketchHeavyHittersSql =
    """SELECT event_type, COUNT(*) AS n_exact,
      | TRUE AS cms_ok, TRUE AS topk_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- q241

  /** KMV parameters shared by q241, q252 and q258: k minimum values per
    * set, hash range [0, 2^31). */
  private val KmvK = 64L
  private val KmvM = 2147483648L

  /** q241: KMV DISTINCT-INTERSECTION estimate, oracle-gated. Sets: the
    * distinct part keys shipped under returnflag 'R' vs 'A'. Each set's
    * sketch is its k=64 smallest distinct LCG hashes — `orderBy(h)
    * .limit(k)` compiles to distributed TakeOrdered, so building a
    * sketch reads the set once and moves 64 values. The two sketches
    * meet in a ≤128-row pool where θ (the k-th smallest), the matched
    * count, and the estimates are plain arithmetic; the exact
    * intersection runs beside it for the error column. The hash is an
    * overflow-safe LCG both engines compute identically, so the
    * ESTIMATOR is hash-compared against DuckDB, not just trusted. */
  private def qKmvIntersect(s: SparkSession, dir: String): DataFrame = {
    // One pass over lineitem to per-part membership flags: everything
    // downstream (both sketches AND the exact answer) derives from this
    // single #parts-row frame — the fact table is scanned exactly once.
    val flags = load(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("R", "A"))
      .groupBy(col("l_partkey").as("x"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("fa"),
        max(when(col("l_returnflag") === "A", 1L).otherwise(0L))
          .as("fb"))
      .withColumn("h", expr("((x % 1000000007) * 2654435761) % 2147483648"))
    val pinned = graft.util.Pin(flags) // consumed 3×: two sketches + exact
    def sketchOf(flag: String, inA: Long) =
      pinned.filter(col(flag) === 1L).select(col("h")).distinct()
        .orderBy(col("h")).limit(KmvK.toInt)
        .withColumn("in_a", lit(inA)).withColumn("in_b", lit(1L - inA))
    val sA = sketchOf("fa", 1L)
    val sB = sketchOf("fb", 0L)
    // pool: ≤ 2k = 128 rows; the global window below is bounded by that.
    val pool = sA.unionByName(sB).groupBy(col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    // ≤128-row input: bounded global window (PlanAuditSpec allow-list)
    val ranked = pool.withColumn("rn",
      row_number().over(Window.orderBy(col("h"))))
    val sketch = ranked.agg(
      count(lit(1)).as("pool_n"),
      max(when(col("rn") <= KmvK, col("h"))).as("theta"),
      sum(when(col("rn") <= KmvK, lit(1L)).otherwise(lit(0L))).as("d_n"),
      sum(when(col("rn") <= KmvK, col("in_a") * col("in_b"))
        .otherwise(lit(0L))).as("common"))
    val exact = pinned.agg(
        coalesce(sum(col("fa")), lit(0L)).as("n_a"),
        coalesce(sum(col("fb")), lit(0L)).as("n_b"),
        coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_inter"))
      .select(col("n_a"), col("n_b"), col("exact_inter"),
        (col("n_a") + col("n_b") - col("exact_inter")).as("exact_union"))
    // d_n = 0 (both input sets empty) guards: ANSI div would throw.
    sketch.crossJoin(broadcast(exact)) // two one-row frames
      .select(
        lit(KmvK).as("k"), col("pool_n"), col("theta"), col("common"),
        expr(s"CASE WHEN pool_n >= $KmvK THEN (${KmvK - 1} * ${KmvM}L)" +
          s" div theta ELSE pool_n END").as("est_union"),
        col("exact_union"),
        expr(s"CASE WHEN d_n = 0 THEN 0 ELSE (common * (CASE WHEN " +
          s"pool_n >= $KmvK THEN (${KmvK - 1} * ${KmvM}L) div theta " +
          s"ELSE pool_n END)) div d_n END").as("est_inter"),
        col("exact_inter"),
        expr("CASE WHEN d_n = 0 THEN 0 ELSE common * 1000000 div d_n END")
          .as("jacc_est_ppm"),
        expr("CASE WHEN exact_union = 0 THEN 0 ELSE " +
          "exact_inter * 1000000 div exact_union END").as("jacc_exact_ppm"))
  }

  private val qKmvIntersectSql =
    s"""WITH a AS (
       |  SELECT DISTINCT ((l_partkey % 1000000007) * 2654435761)
       |    % 2147483648 AS h
       |  FROM lineitem WHERE l_returnflag = 'R'),
       |b AS (
       |  SELECT DISTINCT ((l_partkey % 1000000007) * 2654435761)
       |    % 2147483648 AS h
       |  FROM lineitem WHERE l_returnflag = 'A'),
       |sa AS (SELECT h FROM a ORDER BY h LIMIT $KmvK),
       |sb AS (SELECT h FROM b ORDER BY h LIMIT $KmvK),
       |pool AS (
       |  SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
       |    SELECT h, 1 AS in_a, 0 AS in_b FROM sa
       |    UNION ALL SELECT h, 0, 1 FROM sb) u GROUP BY 1),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY h) AS rn FROM pool),
       |sk AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS pool_n,
       |    CAST(MAX(CASE WHEN rn <= $KmvK THEN h END) AS BIGINT) AS theta,
       |    CAST(SUM(CASE WHEN rn <= $KmvK THEN 1 ELSE 0 END) AS BIGINT)
       |      AS d_n,
       |    CAST(SUM(CASE WHEN rn <= $KmvK THEN in_a * in_b ELSE 0 END)
       |      AS BIGINT) AS common
       |  FROM ranked),
       |ex AS (
       |  SELECT
       |    CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem
       |      WHERE l_returnflag = 'R') AS BIGINT) AS n_a,
       |    CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem
       |      WHERE l_returnflag = 'A') AS BIGINT) AS n_b,
       |    CAST((SELECT COUNT(*) FROM (
       |      SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag='R'
       |      INTERSECT
       |      SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag='A')
       |      ) AS BIGINT) AS exact_inter)
       |SELECT CAST($KmvK AS BIGINT) AS k, pool_n, theta, common,
       |  CASE WHEN pool_n >= $KmvK
       |    THEN (${KmvK - 1} * $KmvM) // theta ELSE pool_n END AS est_union,
       |  n_a + n_b - exact_inter AS exact_union,
       |  CASE WHEN d_n = 0 THEN 0 ELSE
       |    (common * (CASE WHEN pool_n >= $KmvK
       |      THEN (${KmvK - 1} * $KmvM) // theta ELSE pool_n END)) // d_n
       |    END AS est_inter,
       |  exact_inter,
       |  CASE WHEN d_n = 0 THEN 0
       |    ELSE common * 1000000 // d_n END AS jacc_est_ppm,
       |  CASE WHEN n_a + n_b - exact_inter = 0 THEN 0
       |    ELSE exact_inter * 1000000 // (n_a + n_b - exact_inter) END
       |    AS jacc_exact_ppm
       |FROM sk, ex""".stripMargin

  /* Twenty-eighth wave (round 8): the native mergeable sketch tier —
    *
    *  - q252: KMV distinct sketches per group through the engine's own
    *    [[graft.functions.KmvSketch]] TypedImperativeAggregate. q241
    *    proved the estimator compositionally (limit-64 TakeOrdered per
    *    set); this is the production shape — ONE pass over the fact
    *    table, partial sketches merged through the shuffle at ≤8·k bytes
    *    per (partition, group), the same mergeable-sketch contract as
    *    HLL but with an exactly-specified result the DuckDB oracle
    *    emulates verbatim (`(array_agg(DISTINCT h ORDER BY h))[1:k]`).
    *    Every sketch element is still oracle-gated, but as a '|'-joined
    *    STRING — the driver's comparer lexsorts result cells through
    *    pandas, which cannot hash a raw ARRAY cell (the one red row of
    *    round 8), so gated outputs must be atomic-typed (enforced
    *    repo-wide by AtomicOutputSchemaSpec).
    *
    * Hash note: ids are reduced mod the prime 1,000,000,007 before the
    * Knuth multiply so the product stays under 2^63 for any key the
    * scale ladder can produce ((p−1)·2654435761 ≈ 2.65e18 < 2^63). The
    * prime exceeds every table's key cardinality through sf100
    * (lineitem partkeys at sf100 ≈ 2e8), so the reduction is
    * collision-free at all scales this engine is specified for — unlike
    * the earlier 1,000,003 modulus which collided pairwise from sf10's
    * 2M part keys up.
    */

  /** q252: per-returnflag distinct-part sketches + estimates from the
    * native KMV aggregate, exact distinct counts alongside. */
  private def qKmvNative(s: SparkSession, dir: String): DataFrame = {
    val h = load(s, dir, "lineitem").select(
      col("l_returnflag").as("flag"),
      expr("((l_partkey % 1000000007) * 2654435761) % 2147483648").as("h"),
      col("l_partkey"))
    h.groupBy(col("flag"))
      .agg(graft.functions.KmvSketch.kmv(col("h"), KmvK.toInt).as("sketch"),
        countDistinct(col("l_partkey")).as("exact_distinct"))
      .select(col("flag"),
        size(col("sketch")).cast("long").as("n_sketch"),
        element_at(col("sketch"), size(col("sketch"))).as("theta"),
        expr(s"CASE WHEN size(sketch) < $KmvK THEN CAST(size(sketch) AS " +
          s"BIGINT) ELSE (${KmvK - 1} * ${KmvM}L) div element_at(sketch, " +
          "size(sketch)) END").as("est_distinct"),
        col("exact_distinct"),
        array_join(expr("CAST(sketch AS ARRAY<STRING>)"), "|")
          .as("sketch_str"))
      .orderBy(col("flag"))
  }

  private val qKmvNativeSql =
    s"""WITH h AS (
       |  SELECT l_returnflag AS flag,
       |    ((l_partkey % 1000000007) * 2654435761) % 2147483648 AS hh,
       |    l_partkey
       |  FROM lineitem),
       |g AS (
       |  SELECT flag,
       |    (array_agg(DISTINCT hh ORDER BY hh))[1:$KmvK] AS sketch,
       |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
       |  FROM h GROUP BY 1)
       |SELECT flag, CAST(len(sketch) AS BIGINT) AS n_sketch,
       |  CAST(sketch[len(sketch)] AS BIGINT) AS theta,
       |  CAST(CASE WHEN len(sketch) < $KmvK THEN len(sketch)
       |    ELSE (${KmvK - 1} * $KmvM) // sketch[len(sketch)] END AS BIGINT)
       |    AS est_distinct,
       |  exact_distinct, array_to_string(sketch, '|') AS sketch_str
       |FROM g ORDER BY flag""".stripMargin

  /* Thirty-second wave (round 9): the native KMV sketch composed in a
    * JOIN — the follow-on the round-8 verdict asked for on top of q252's
    * single-table form.
    *
    *  - q258: per-year sketch-intersection Jaccard between two keyed
    *    corpora (parts shipped under returnflag 'R' vs 'A'), written in
    *    PURE SQL over the engine's `graft_kmv` aggregate: two GROUP BY
    *    branches build one ≤64-element sketch per (year, corpus) — the
    *    mergeable one-pass production shape — and the branches JOIN on
    *    the year key, where the pooled-minima estimator (θ = k-th
    *    smallest of the union pool, K_∩/k Jaccard) is plain SQL on the
    *    exploded sketch arrays. q241 proved this estimator
    *    compositionally on one global pair; q252 proved the native
    *    aggregate element-exact per group; this gates the two together
    *    through a join, per element: every pooled hash ships in
    *    `pool_str` ('|'-joined with membership flags — atomic-schema
    *    contract), so the DuckDB oracle (emulating the sketch as
    *    `(array_agg(DISTINCT h ORDER BY h))[1:k]`) re-derives the entire
    *    pool, not just the estimates. The exact per-year intersection
    *    runs beside for the error columns — at 100 TB that exact branch
    *    is the one you delete; the sketch side moves ≤64 values per
    *    (year, corpus) through the shuffle.
    *
    * Scale shape: windows PARTITION BY year over ≤128-row pools;
    * `collect_list` bounded by the same 128; the year⋈year joins are
    * alphabet-sized. Inner join keeps the years where BOTH corpora
    * exist (flags R/A die out after 1995 in TPC-H-shaped data —
    * deterministic either way). */

  private def qKmvJaccardJoin(s: SparkSession, dir: String): DataFrame = {
    graft.functions.KmvSketch.register(s) // idempotent; host sessions too
    load(s, dir, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_returnflag")
        .isin("R", "A"))
      .selectExpr(
        "CAST(year(l_shipdate) AS BIGINT) AS yr",
        "l_returnflag AS flag",
        "((l_partkey % 1000000007) * 2654435761) % 2147483648 AS h",
        "l_partkey")
      .createOrReplaceTempView("graft_q258_items")
    s.sql(s"""
      |WITH r AS (
      |  SELECT yr, graft_kmv(h, $KmvK) AS sk,
      |    COUNT(DISTINCT l_partkey) AS n_exact
      |  FROM graft_q258_items WHERE flag = 'R' GROUP BY yr),
      |a AS (
      |  SELECT yr, graft_kmv(h, $KmvK) AS sk,
      |    COUNT(DISTINCT l_partkey) AS n_exact
      |  FROM graft_q258_items WHERE flag = 'A' GROUP BY yr),
      |ex AS (
      |  SELECT yr, COUNT(*) AS exact_inter FROM (
      |    SELECT yr, l_partkey FROM graft_q258_items WHERE flag = 'R'
      |    INTERSECT
      |    SELECT yr, l_partkey FROM graft_q258_items WHERE flag = 'A')
      |  GROUP BY yr),
      |pool AS (
      |  SELECT yr, h, MAX(in_r) AS in_r, MAX(in_a) AS in_a FROM (
      |    SELECT yr, explode(sk) AS h, 1L AS in_r, 0L AS in_a FROM r
      |    UNION ALL
      |    SELECT yr, explode(sk) AS h, 0L AS in_r, 1L AS in_a FROM a) u
      |  GROUP BY yr, h),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY yr ORDER BY h) AS rn
      |  FROM pool),
      |sk AS (
      |  SELECT yr, COUNT(*) AS pool_n,
      |    MAX(CASE WHEN rn <= $KmvK THEN h END) AS theta,
      |    SUM(CASE WHEN rn <= $KmvK THEN 1L ELSE 0L END) AS d_n,
      |    SUM(CASE WHEN rn <= $KmvK THEN in_r * in_a ELSE 0L END) AS common,
      |    array_join(array_sort(collect_list(
      |      concat(h, ':', in_r, ':', in_a))), '|') AS pool_str
      |  FROM ranked GROUP BY yr)
      |SELECT sk.yr AS yr, pool_n, theta, d_n, common,
      |  CASE WHEN pool_n >= $KmvK THEN (${KmvK - 1} * ${KmvM}L) div theta
      |    ELSE pool_n END AS est_union,
      |  r.n_exact + a.n_exact - coalesce(ex.exact_inter, 0L) AS exact_union,
      |  CASE WHEN d_n = 0 THEN 0L ELSE (common * (CASE WHEN pool_n >= $KmvK
      |    THEN (${KmvK - 1} * ${KmvM}L) div theta ELSE pool_n END)) div d_n
      |    END AS est_inter,
      |  coalesce(ex.exact_inter, 0L) AS exact_inter,
      |  CASE WHEN d_n = 0 THEN 0L ELSE common * 1000000 div d_n
      |    END AS jacc_est_ppm,
      |  CASE WHEN r.n_exact + a.n_exact - coalesce(ex.exact_inter, 0L) = 0
      |    THEN 0L ELSE coalesce(ex.exact_inter, 0L) * 1000000
      |    div (r.n_exact + a.n_exact - coalesce(ex.exact_inter, 0L))
      |    END AS jacc_exact_ppm,
      |  pool_str
      |FROM sk
      |JOIN r ON r.yr = sk.yr
      |JOIN a ON a.yr = sk.yr
      |LEFT JOIN ex ON ex.yr = sk.yr
      |ORDER BY yr""".stripMargin)
  }

  private val qKmvJaccardJoinSql =
    s"""WITH items AS (
       |  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
       |    l_returnflag AS flag,
       |    ((l_partkey % 1000000007) * 2654435761) % 2147483648 AS h,
       |    l_partkey
       |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
       |r AS (
       |  SELECT yr, (array_agg(DISTINCT h ORDER BY h))[1:$KmvK] AS sk,
       |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
       |  FROM items WHERE flag = 'R' GROUP BY yr),
       |a AS (
       |  SELECT yr, (array_agg(DISTINCT h ORDER BY h))[1:$KmvK] AS sk,
       |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
       |  FROM items WHERE flag = 'A' GROUP BY yr),
       |ex AS (
       |  SELECT yr, CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
       |    SELECT yr, l_partkey FROM items WHERE flag = 'R'
       |    INTERSECT
       |    SELECT yr, l_partkey FROM items WHERE flag = 'A') i
       |  GROUP BY yr),
       |pu AS (
       |  SELECT yr, u.h AS h, 1 AS in_r, 0 AS in_a
       |  FROM r, unnest(sk) AS u(h)
       |  UNION ALL
       |  SELECT yr, u.h, 0, 1 FROM a, unnest(sk) AS u(h)),
       |pool AS (
       |  SELECT yr, h, MAX(in_r) AS in_r, MAX(in_a) AS in_a
       |  FROM pu GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY yr ORDER BY h) AS rn
       |  FROM pool),
       |sk2 AS (
       |  SELECT yr, CAST(COUNT(*) AS BIGINT) AS pool_n,
       |    CAST(MAX(CASE WHEN rn <= $KmvK THEN h END) AS BIGINT) AS theta,
       |    CAST(SUM(CASE WHEN rn <= $KmvK THEN 1 ELSE 0 END) AS BIGINT)
       |      AS d_n,
       |    CAST(SUM(CASE WHEN rn <= $KmvK THEN in_r * in_a ELSE 0 END)
       |      AS BIGINT) AS common,
       |    string_agg(h || ':' || in_r || ':' || in_a, '|'
       |      ORDER BY h || ':' || in_r || ':' || in_a) AS pool_str
       |  FROM ranked GROUP BY yr)
       |SELECT sk2.yr AS yr, pool_n, theta, d_n, common,
       |  CAST(CASE WHEN pool_n >= $KmvK THEN (${KmvK - 1} * $KmvM) // theta
       |    ELSE pool_n END AS BIGINT) AS est_union,
       |  r.n_exact + a.n_exact - coalesce(ex.exact_inter, 0)
       |    AS exact_union,
       |  CAST(CASE WHEN d_n = 0 THEN 0 ELSE (common * (CASE WHEN
       |    pool_n >= $KmvK THEN (${KmvK - 1} * $KmvM) // theta ELSE pool_n END))
       |    // d_n END AS BIGINT) AS est_inter,
       |  coalesce(ex.exact_inter, 0) AS exact_inter,
       |  CAST(CASE WHEN d_n = 0 THEN 0 ELSE common * 1000000 // d_n
       |    END AS BIGINT) AS jacc_est_ppm,
       |  CAST(CASE WHEN r.n_exact + a.n_exact
       |      - coalesce(ex.exact_inter, 0) = 0 THEN 0
       |    ELSE coalesce(ex.exact_inter, 0) * 1000000
       |    // (r.n_exact + a.n_exact - coalesce(ex.exact_inter, 0))
       |    END AS BIGINT) AS jacc_exact_ppm,
       |  pool_str
       |FROM sk2
       |JOIN r ON r.yr = sk2.yr
       |JOIN a ON a.yr = sk2.yr
       |LEFT JOIN ex ON ex.yr = sk2.yr
       |ORDER BY yr""".stripMargin

  // ------------------------------------------------------------- q285

  // q285 and its streaming twin q286 share these — the two
  // gates MUST hash into the same sketch, so there is one authority
  private val CmsW = 256
  private val CmsA = Seq(31L, 131L, 313L, 1009L)
  private val CmsB = Seq(7L, 911L, 4507L, 8191L)
  private val CmsP = 2147483647L // 2^31 - 1
  private val TopProbes = 20

  private def qCmsAudit(s: SparkSession, dir: String): DataFrame = {
    val sh = load(s, dir, "documents")
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 3), i -> " +
          "concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")).as("sh"))
    // exact per-shingle counts: the vocab-bounded table BOTH the
    // sketch build and the audit probe derive from (CMS counters are
    // linear, so summing grouped counts == streaming increments)
    val exact = graft.util.Pin(sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("kh", expr(
        "CAST(conv(substring(md5(sh), 1, 12), 16, 10) AS BIGINT)")))
    val counters = CmsA.indices.map { i =>
      exact
        .withColumn("b", expr(
          s"((${CmsA(i)} * kh + ${CmsB(i)}) % $CmsP) % $CmsW"))
        .groupBy(col("b")).agg(sum(col("cnt")).as(s"row$i"))
        .select(col("b").as(s"b$i"), col(s"row$i"))
    }
    val probes = exact
      .orderBy(col("cnt").desc, col("sh").asc).limit(TopProbes)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("cnt").desc, col("sh").asc))
        .cast(LongType))
    val joined = CmsA.indices.foldLeft(probes) { (acc, i) =>
      acc.withColumn(s"b$i", expr(
          s"((${CmsA(i)} * kh + ${CmsB(i)}) % $CmsP) % $CmsW"))
        .join(broadcast(counters(i)), Seq(s"b$i")) // <=256-row counter table
    }
    joined
      .withColumn("cms_estimate",
        least(col("row0"), col("row1"), col("row2"), col("row3")))
      .select(col("rk"), col("sh"), col("cnt").as("exact_cnt"),
        col("cms_estimate"),
        expr("(cms_estimate - cnt) * 1000000 div cnt").as("over_ppm"))
      .orderBy(col("rk"))
  }

  private val qCmsAuditSql = {
    val counterCtes = CmsA.indices.map { i =>
      s"""c$i AS (
         |  SELECT ((${CmsA(i)} * kh + ${CmsB(i)}) % $CmsP) % $CmsW AS b,
         |    CAST(SUM(cnt) AS BIGINT) AS row$i
         |  FROM exact GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val probeJoins = CmsA.indices.map { i =>
      s"JOIN c$i ON c$i.b = ((${CmsA(i)} * p.kh + ${CmsB(i)}) " +
        s"% $CmsP) % $CmsW"
    }.mkString("\n  ")
    s"""WITH w AS (
       |  SELECT string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT unnest(list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       |  FROM w),
       |exact AS MATERIALIZED (
       |  SELECT sh, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(('0x' || substring(md5(sh), 1, 12)) AS BIGINT) AS kh
       |  FROM sh GROUP BY 1),
       |$counterCtes,
       |p AS (
       |  SELECT sh, cnt, kh,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, sh) AS BIGINT)
       |      AS rk
       |  FROM (SELECT * FROM exact ORDER BY cnt DESC, sh
       |        LIMIT $TopProbes))
       |SELECT rk, p.sh, cnt AS exact_cnt,
       |  LEAST(row0, row1, row2, row3) AS cms_estimate,
       |  CAST((LEAST(row0, row1, row2, row3) - cnt) * 1000000 // cnt
       |    AS BIGINT) AS over_ppm
       |FROM p
       |  $probeJoins
       |ORDER BY rk""".stripMargin
  }

  /* Forty-fourth wave (round 10): the streaming twin of q285's
    * Count-Min sketch —
    *
    *  - q286: STREAMING-MAINTAINED CMS COUNTERS. q285 measures the
    *    sketch's error; this gate proves the sketch can be MAINTAINED on
    *    the ingest stream, which is its entire reason to exist at 100 TB
    *    (heavy-hitter counting without a rescan — the q272 pattern,
    *    applied to frequencies instead of profiles). Each document
    *    micro-batch shingles executor-side, every shingle emits its 4
    *    (row, bucket) cells with the SAME stated LCG row hashes over the
    *    48-bit md5 key q285 states, and a `transformWithState` keyed
    *    counter per cell accumulates in typed ValueState. Counters are
    *    LINEAR (they sum), so streamed-from-increments equals
    *    batch-built-from-grouped-counts — exactly what the DuckDB
    *    oracle builds; the gate IS that equality, and the sum over any
    *    row is provably the corpus shingle total.
    *
    * Scale shape: state is ≤ 4×256 Long cells TOTAL (constant at any
    * corpus size), keyed (row,bucket) so the state store parallelizes
    * across 1024 keys; per batch each shingle touches exactly 4 cells
    * map-side before the keyed shuffle. */

  final case class CellIn(cell: String, inc: Long)
  final case class CellOut(cell: String, cnt: Long)

  /** Keyed counter: the minimal mergeable state (one Long per CMS
    * cell); each micro-batch folds its increments and emits the
    * running snapshot (the final value per cell is the max snapshot —
    * counts are monotone). */
  private class CellCounter
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, CellIn, CellOut] {
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(cell: String, it: Iterator[CellIn],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CellOut] = {
      var c = if (st.exists()) st.get() else 0L
      for (r <- it) c += r.inc
      st.update(c)
      Iterator(CellOut(cell, c))
    }
  }

  private def qStreamCms(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    // Pin state partitioning to 8 (the q129 lesson): a 32-thread bench
    // session otherwise opens 32 RocksDB stores per micro-batch for a
    // CMS whose whole state is CmsD x CmsW counter cells.
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
    val result = graft.streaming.StreamScratch.withRocksDb(s) {
      graft.streaming.StreamScratch.withScratch("graft_scms_") {
      tmp =>
        // 2 slices (was 8): counter folds are additive and batching-
        // invariant, so extra triggers only bought extra fixed RocksDB
        // store lifecycles (8c/32c ratio 0.68); two batches still prove
        // the cross-batch merge. Oracle re-verified.
        val raw = load(s, dir, "documents")
          .filter(size(split(col("text"), " ")) >= 3)
          .selectExpr("doc_id % 2 AS slice", "text AS value")
        val in = graft.streaming.SliceReplay.stage(tmp,
          raw.select(col("value"), col("slice")), 2)
        val out = graft.streaming.GateOut.dir()
        val q = s.readStream
          .option("maxFilesPerTrigger", 1)
          .text(in)
          .as[String]
          .flatMap { text =>
            // limit -1 keeps trailing empty tokens — matches Spark
            // split() / DuckDB string_split semantics exactly, so a
            // trailing/double space shingles identically to the oracle
            val ws = text.split(" ", -1)
            for {
              i <- 0 to ws.length - 3
              sh = s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}"
              kh = Hashing.md5Prefix48(sh)
              r <- CmsA.indices
            } yield CellIn(
              s"$r:${((CmsA(r) * kh + CmsB(r)) % CmsP) % CmsW}", 1L)
          }
          .groupByKey(_.cell)
          .transformWithState(new CellCounter, TimeMode.None(),
            OutputMode.Append(),
            org.apache.spark.sql.Encoders.product[CellOut])
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/chk")
          .format("parquet").option("path", out)
          .start()
        q.awaitTermination()
        s.read.parquet(out)
      }
    }
    // counts are monotone across snapshots: final value = max per cell
    result.groupBy(col("cell")).agg(max(col("cnt")).as("cnt"))
      .select(
        expr("CAST(split(cell, ':')[0] AS BIGINT)").as("row_i"),
        expr("CAST(split(cell, ':')[1] AS BIGINT)").as("b"),
        col("cnt"))
      .orderBy(col("row_i"), col("b"))
    }
  }

  /** The batch-built counter matrix (q285's counter CTEs, unioned with
    * their row index) — linearity makes it equal the streamed fold. */
  private val qStreamCmsSql = {
    val rows = CmsA.indices.map { i =>
      s"""SELECT $i AS row_i,
         |  ((${CmsA(i)} * kh + ${CmsB(i)}) % $CmsP) % $CmsW AS b,
         |  CAST(SUM(cnt) AS BIGINT) AS cnt
         |FROM exact GROUP BY 1, 2""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w AS (
       |  SELECT string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT unnest(list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       |  FROM w),
       |exact AS MATERIALIZED (
       |  SELECT sh, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(('0x' || substring(md5(sh), 1, 12)) AS BIGINT) AS kh
       |  FROM sh GROUP BY 1)
       |SELECT CAST(row_i AS BIGINT) AS row_i, CAST(b AS BIGINT) AS b,
       |  cnt
       |FROM ($rows)
       |ORDER BY row_i, b""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q16_approx_distinct" -> QueryDef(qApprox, Some(qApproxSql),
      "A6 HLL approx_count_distinct: hash-gated exact count + error-bound verdict"),
    "q55_stats_percentile" -> QueryDef(qPercentiles, Some(qPercentilesSql),
      "exact interpolated percentiles per group (sketch-validation baseline)"),
    "q71_approx_percentile" -> QueryDef(qApproxPercentile,
      Some(qApproxPercentileSql),
      "GK percentile sketch vs exact baseline, error-bound verdict gate"),
    "q87_sketch_heavy_hitters" -> QueryDef(qSketchHeavyHitters,
      Some(qSketchHeavyHittersSql),
      "count-min + top-k sketch heavy hitters vs exact, verdict gate"),
    "q241_kmv_intersect" -> QueryDef(qKmvIntersect, Some(qKmvIntersectSql),
      "KMV k-minimum-values distinct-intersection sketch vs exact"),
    "q252_kmv_native" -> QueryDef(qKmvNative, Some(qKmvNativeSql),
      "per-group KMV sketches via the native mergeable aggregate, " +
        "every sketch element oracle-gated"),
    "q258_kmv_jaccard_join" -> QueryDef(qKmvJaccardJoin,
      Some(qKmvJaccardJoinSql),
      "per-year sketch-intersection Jaccard via graft_kmv in pure SQL, " +
        "every pooled element oracle-gated"),
    "q285_cms_audit" -> QueryDef(qCmsAudit, Some(qCmsAuditSql),
      "Count-Min sketch error audit: 4x256 sketch with stated LCG " +
        "row hashes over 48-bit md5 keys, built from exact shingle " +
        "counts (linear counters), probed at the 20 heaviest " +
        "shingles; overestimate ppm per probe"),
    "q286_stream_cms" -> QueryDef(qStreamCms, Some(qStreamCmsSql),
      "streaming-maintained Count-Min counters: transformWithState " +
        "keyed (row,bucket) cells over the shingle stream, 2 " +
        "micro-batches; linearity gates streamed == batch-built"))
}
