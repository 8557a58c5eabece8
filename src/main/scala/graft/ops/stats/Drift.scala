package graft.ops
package stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import Tables.load

/** Distribution drift between windows or corpus halves. */
object Drift {

  // ------------------------------------------------------------- q163

  /** q163: DISTRIBUTION-DRIFT AUDIT between two corpus halves — the
    * KS-style check an ML-ops stack runs between yesterday's and
    * today's ingest (here: a deterministic md5 split of the corpus).
    * Per half: the ten nearest-rank deciles of document length (value
    * at row_number ceil(n·d/10), pure integers); the report joins the
    * decile vectors and emits per-decile absolute gaps — max |gap| is
    * the drift statistic. The ranked windows run per half over one
    * shuffle; the decile target table is 10 rows per half (bounded). */
  private def qDecileDrift(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      .withColumn("half",
        when(substring(md5(concat(lit("drift:"), col("doc_id"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B"))
    val w = Window.partitionBy(col("half"))
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = d
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("half"))))
    val deciles = ranked
      .withColumn("dec", explode(expr("sequence(1, 10)")))
      .filter(col("rn") === expr("(n * dec + 9) div 10"))
      .groupBy(col("dec"))
      .agg(max(when(col("half") === "A", col("n_chars"))).as("a_val"),
        max(when(col("half") === "B", col("n_chars"))).as("b_val"))
    deciles
      .withColumn("gap", abs(col("a_val") - col("b_val")))
      .orderBy(col("dec"))
  }

  private val qDecileDriftSql =
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN substring(md5('drift:' || doc_id), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END
      |      AS half
      |  FROM documents),
      |r AS (
      |  SELECT half, n_chars,
      |    row_number() OVER (PARTITION BY half ORDER BY n_chars, doc_id)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY half) AS n
      |  FROM d),
      |t AS (
      |  SELECT CAST(dec AS INT) AS dec, half, n_chars
      |  FROM r CROSS JOIN unnest(generate_series(1, 10)) AS u(dec)
      |  WHERE rn = (n * dec + 9) // 10),
      |p AS (
      |  SELECT dec,
      |    MAX(CASE WHEN half = 'A' THEN n_chars END) AS a_val,
      |    MAX(CASE WHEN half = 'B' THEN n_chars END) AS b_val
      |  FROM t GROUP BY 1)
      |SELECT dec, a_val, b_val, abs(a_val - b_val) AS gap
      |FROM p ORDER BY dec""".stripMargin

  // ------------------------------------------------------------- q190

  /** q190: TWO-SAMPLE KOLMOGOROV–SMIRNOV DRIFT, integer-exact — "did
    * the value distribution shift between populations": here sample A
    * = even user_ids, sample B = odd, per event type (the shape a
    * platform runs between yesterday's corpus and today's). The KS
    * statistic is the max CDF gap; cross-multiplied counts keep it
    * exact: D_ppm = max_v |cumA(v)·nB − cumB(v)·nA| · 10^6 div
    * (nA·nB), products in DECIMAL(38,0) so petabyte-scale counts
    * cannot overflow.
    *
    * Scale shape: the only big-data op is the map-side-combinable
    * groupBy(type, value); the running CDFs ride the VALUE HISTOGRAM
    * (bounded alphabet — same device and caveat as q185; the q189
    * two-level scan is the fallback for truly continuous columns). */
  private def qKsDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("v"),
        pmod(col("user_id"), lit(2)).as("grp"))
    val hist = ev.groupBy(col("event_type"), col("v"))
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val wAll = Window.partitionBy(col("event_type"))
    hist
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .withColumn("na", sum(col("ca")).over(wAll))
      .withColumn("nb", sum(col("cb")).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(expr("abs(CAST(cuma AS DECIMAL(38,0)) * nb - " +
          "CAST(cumb AS DECIMAL(38,0)) * na)")).as("d_num"))
      .withColumn("ks_ppm", expr(
        "CAST(d_num * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b) " +
          "AS BIGINT)"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("ks_ppm"))
      .orderBy(col("event_type"))
  }

  private val qKsDriftSql =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v,
      |    user_id % 2 AS grp
      |  FROM events),
      |hist AS (
      |  SELECT event_type, v,
      |    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM ev GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type,
      |    SUM(ca) OVER (PARTITION BY event_type ORDER BY v) AS cuma,
      |    SUM(cb) OVER (PARTITION BY event_type ORDER BY v) AS cumb,
      |    SUM(ca) OVER (PARTITION BY event_type) AS na,
      |    SUM(cb) OVER (PARTITION BY event_type) AS nb
      |  FROM hist)
      |SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a,
      |  CAST(MAX(nb) AS BIGINT) AS n_b,
      |  CAST(MAX(abs(CAST(cuma AS HUGEINT) * nb -
      |               CAST(cumb AS HUGEINT) * na)) * 1000000
      |    // (CAST(MAX(na) AS HUGEINT) * MAX(nb)) AS BIGINT) AS ks_ppm
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- q202

  /** q202: HELLINGER DRIFT between serving windows — the second drift
    * statistic next to KS (q190) and decile gaps (q163): per event
    * type, the value distribution of the first half-month vs the rest
    * over 20 fixed $25 buckets; Bhattacharyya coefficient
    * Σ √(p_i·q_i) via `graft_isqrt` on ppm products, H² = 10^6 − BC.
    * Hellinger is bounded and symmetric where KS is sup-norm — the
    * pair catches different drift shapes.
    *
    * Scale shape: one groupBy(type, bucket, period) histogram; the
    * sqrt/sum arithmetic runs on ≤(types×20) rows. Zero-count guards
    * keep degenerate windows (a type absent from one period) at
    * p=0 rather than a division error. */
  private def qHellingerDrift(s: SparkSession, dir: String): DataFrame = {
    val h = load(s, dir, "events")
      .select(col("event_type"),
        when(col("ts") < to_timestamp(lit("2024-01-16")), 1L)
          .otherwise(0L).as("ref"),
        expr("least(19L, CAST(floor(value * 100 + 0.5) AS BIGINT)" +
          " div 2500)").as("bkt"))
      .groupBy(col("event_type"), col("bkt"))
      .agg(sum(col("ref")).as("n_ref"), sum(lit(1L) - col("ref")).as("n_cur"))
      .withColumn("t_ref",
        sum(col("n_ref")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))))
      .withColumn("t_cur",
        sum(col("n_cur")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))))
      .withColumn("p_ppm", expr(
        "CASE WHEN t_ref = 0 THEN 0L ELSE n_ref * 1000000 div t_ref END"))
      .withColumn("q_ppm", expr(
        "CASE WHEN t_cur = 0 THEN 0L ELSE n_cur * 1000000 div t_cur END"))
      .withColumn("bc_term",
        graft.functions.IntegerSqrt(col("p_ppm") * col("q_ppm")))
    h.groupBy(col("event_type"))
      .agg(max(col("t_ref")).as("n_ref"), max(col("t_cur")).as("n_cur"),
        sum(col("bc_term")).as("bc_ppm"))
      .withColumn("hellinger2_ppm", lit(1000000L) - col("bc_ppm"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        col("bc_ppm"), col("hellinger2_ppm"))
      .orderBy(col("event_type"))
  }

  private val qHellingerDriftSql =
    """WITH h AS (
      |  SELECT event_type,
      |    least(19, CAST(floor(value * 100 + 0.5) AS BIGINT) // 2500)
      |      AS bkt,
      |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
      |      END) AS BIGINT) AS n_ref,
      |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1
      |      END) AS BIGINT) AS n_cur
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, bkt, n_ref, n_cur,
      |    SUM(n_ref) OVER (PARTITION BY event_type) AS t_ref,
      |    SUM(n_cur) OVER (PARTITION BY event_type) AS t_cur
      |  FROM h),
      |p AS (
      |  SELECT event_type, t_ref, t_cur,
      |    (CASE WHEN t_ref = 0 THEN 0 ELSE n_ref * 1000000 // t_ref END)
      |    * (CASE WHEN t_cur = 0 THEN 0 ELSE n_cur * 1000000 // t_cur END)
      |      AS x
      |  FROM t),
      |r AS (
      |  SELECT event_type, t_ref, t_cur, x,
      |    CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) AS s0
      |  FROM p),
      |q AS (
      |  SELECT event_type, t_ref, t_cur,
      |    s0 - CASE WHEN s0 > 0 AND s0 * s0 > x THEN 1 ELSE 0 END
      |       + CASE WHEN s0 < 3037000499 AND (s0 + 1) * (s0 + 1) <= x
      |           THEN 1 ELSE 0 END AS bc_term
      |  FROM r)
      |SELECT event_type,
      |  CAST(MAX(t_ref) AS BIGINT) AS n_ref,
      |  CAST(MAX(t_cur) AS BIGINT) AS n_cur,
      |  CAST(SUM(bc_term) AS BIGINT) AS bc_ppm,
      |  CAST(1000000 - SUM(bc_term) AS BIGINT) AS hellinger2_ppm
      |FROM q GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- q218

  /** q218: TOP-K LEADERBOARD CHURN between serving windows — how
    * stable is "the top-20 parts by order volume" from the first
    * half-month to the second: set overlap (Jaccard), newcomers/
    * dropouts, and Spearman's footrule Σ|rank_a − rank_b| over the
    * common items — the report that decides whether a cached
    * leaderboard needs a refresh SLA.
    *
    * Scale shape: two map-side-combinable groupBys (one per window
    * inside one pass), two 20-row TakeOrdereds; ranks come from a
    * window over the 20-row tables only. */
  private def qTopkChurn(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .join(load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .select(col("l_partkey"),
        when(col("o_orderdate") < to_timestamp(lit("1998-04-01")), "w1")
          .otherwise("w2").as("w"))
    def top20(w: String) = {
      val t = li.filter(col("w") === w)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_partkey")).limit(20)
      t.withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("l_partkey"))))
        .select(col("l_partkey"), col("rank"))
    }
    val a = top20("w1").withColumnRenamed("rank", "rank_a")
    val b = top20("w2").withColumnRenamed("rank", "rank_b")
    a.join(b, Seq("l_partkey"), "full_outer")
      .agg(
        sum(when(col("rank_a").isNotNull && col("rank_b").isNotNull, 1L)
          .otherwise(0L)).as("n_common"),
        sum(when(col("rank_a").isNull, 1L).otherwise(0L)).as("newcomers"),
        sum(when(col("rank_b").isNull, 1L).otherwise(0L)).as("dropouts"),
        coalesce(sum(when(
          col("rank_a").isNotNull && col("rank_b").isNotNull,
          abs(col("rank_a") - col("rank_b")))), lit(0L)).as("footrule"))
      .withColumn("jaccard_ppm", expr(
        "n_common * 1000000 div (40 - n_common)"))
      .select(col("n_common"), col("newcomers"), col("dropouts"),
        col("footrule"), col("jaccard_ppm"))
  }

  private val qTopkChurnSql =
    """WITH li AS (
      |  SELECT l_partkey,
      |    CASE WHEN o_orderdate < TIMESTAMP '1998-04-01' THEN 'w1'
      |      ELSE 'w2' END AS w
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      |ta AS (
      |  SELECT l_partkey, row_number() OVER (ORDER BY cnt DESC,
      |    l_partkey) AS rank_a
      |  FROM (SELECT l_partkey, COUNT(*) AS cnt FROM li WHERE w = 'w1'
      |        GROUP BY 1 ORDER BY cnt DESC, l_partkey LIMIT 20) t),
      |tb AS (
      |  SELECT l_partkey, row_number() OVER (ORDER BY cnt DESC,
      |    l_partkey) AS rank_b
      |  FROM (SELECT l_partkey, COUNT(*) AS cnt FROM li WHERE w = 'w2'
      |        GROUP BY 1 ORDER BY cnt DESC, l_partkey LIMIT 20) t),
      |j AS (SELECT * FROM ta FULL OUTER JOIN tb USING (l_partkey))
      |SELECT
      |  CAST(SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |  CAST(SUM(CASE WHEN rank_a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS newcomers,
      |  CAST(SUM(CASE WHEN rank_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS dropouts,
      |  CAST(COALESCE(SUM(CASE WHEN rank_a IS NOT NULL
      |    AND rank_b IS NOT NULL THEN abs(rank_a - rank_b) END), 0)
      |    AS BIGINT) AS footrule,
      |  CAST(SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL
      |      THEN 1 ELSE 0 END) * 1000000
      |    // (40 - SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT
      |      NULL THEN 1 ELSE 0 END)) AS BIGINT) AS jaccard_ppm
      |FROM j""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q163_decile_drift" -> QueryDef(qDecileDrift, Some(qDecileDriftSql),
      "KS-style decile drift audit between md5 corpus halves"),
    "q190_ks_drift" -> QueryDef(qKsDrift, Some(qKsDriftSql),
      "two-sample KS statistic, cross-multiplied integer CDFs on the value histogram"),
    "q202_hellinger_drift" -> QueryDef(qHellingerDrift,
      Some(qHellingerDriftSql),
      "Hellinger^2 drift between serving windows per event type via graft_isqrt on ppm histograms"),
    "q218_topk_churn" -> QueryDef(qTopkChurn, Some(qTopkChurnSql),
      "top-20 leaderboard churn between windows: Jaccard, newcomers/dropouts, Spearman footrule"))
}
