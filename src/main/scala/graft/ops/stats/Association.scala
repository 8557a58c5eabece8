package graft.ops
package stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import Tables.load

/** Association measures over contingency tables: chi-square, Cohen's kappa,
  * Cramér's V. */
object Association {

  // ------------------------------------------------------------- q160

  /** q160: CHI-SQUARE CONTINGENCY AUDIT (event_type × day-of-week) —
    * the association screen behind "is usage shape independent of
    * weekday?". Exact arithmetic end to end: with cell count c, row
    * total r, column total k, grand total N, each cell contributes
    * (c·N − r·k)²·10^6 / (r·k·N) — numerator up to ~10^32, so the
    * product runs in DECIMAL(38,0) (HUGEINT in the oracle) and the
    * single floor division lands back in BIGINT micro units. One
    * narrow scan, one cells aggregate, two bounded marginal joins
    * (row/column tables are alphabet-sized). */
  private def qChiSquare(s: SparkSession, dir: String): DataFrame = {
    val cells = load(s, dir, "events")
      .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("c"))
    val rowT = cells.groupBy(col("event_type")).agg(sum(col("c")).as("r"))
    val colT = cells.groupBy(col("dow")).agg(sum(col("c")).as("k"))
    val tot = cells.agg(sum(col("c")).as("n"))
    cells.join(rowT, "event_type").join(colT, "dow").crossJoin(broadcast(tot))
      .withColumn("chi_micro", expr(
        """CAST((CAST(c AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * k)
          |  * (CAST(c AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * k)
          |  * 1000000 div (CAST(r AS DECIMAL(38,0)) * k * n)
          |  AS BIGINT)""".stripMargin))
      .select(col("event_type"), col("dow"), col("c"), col("r"), col("k"),
        col("chi_micro"))
      .orderBy(col("event_type"), col("dow"))
  }

  private val qChiSquareSql =
    """WITH cells AS (
      |  SELECT event_type, dayofweek(ts) + 1 AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |rt AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS r
      |       FROM cells GROUP BY 1),
      |ct AS (SELECT dow, CAST(SUM(c) AS BIGINT) AS k FROM cells GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
      |SELECT cells.event_type, cells.dow, c, r, k,
      |  CAST((CAST(c AS HUGEINT) * n - CAST(r AS HUGEINT) * k)
      |    * (CAST(c AS HUGEINT) * n - CAST(r AS HUGEINT) * k)
      |    * 1000000 // (CAST(r AS HUGEINT) * k * n) AS BIGINT) AS chi_micro
      |FROM cells
      |JOIN rt ON rt.event_type = cells.event_type
      |JOIN ct ON ct.dow = cells.dow
      |CROSS JOIN t
      |ORDER BY cells.event_type, cells.dow""".stripMargin

  // ------------------------------------------------------------- q191

  /** q191: COHEN'S KAPPA inter-annotator agreement, integer-exact —
    * the label-quality statistic before trusting human (or model)
    * annotations. Two deterministic 3-class annotators are synthesized
    * from document stats (a1 from length alone, a2 length+id — so they
    * correlate without agreeing); kappa corrects observed agreement
    * for the agreement their marginals would produce by chance:
    * kappa_milli = (po_ppm − pe_ppm)·1000 div (10^6 − pe_ppm), with pe
    * from the marginal products in DECIMAL(38,0) (n² passes 2^63 long
    * before 100 TB).
    *
    * Scale shape: ONE map-side-combinable groupBy(lang, a1, a2) builds
    * the 3×3 confusion matrix; marginals, po and pe all come from that
    * ≤9-row-per-language table. Chance-perfect marginals (pe = 10^6)
    * define kappa = 0. */
  private def qKappa(s: SparkSession, dir: String): DataFrame = {
    val cm = load(s, dir, "documents")
      .select(col("lang"),
        expr("(n_chars div 50) % 3").as("a1"),
        expr("((n_chars + doc_id) div 50) % 3").as("a2"))
      .groupBy(col("lang"), col("a1"), col("a2"))
      .agg(count(lit(1)).as("c"))
    val base = cm.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_docs"),
        sum(when(col("a1") === col("a2"), col("c")).otherwise(0L))
          .as("agree"))
    // marginal product Σ_k row_k·col_k — classes absent from either
    // marginal contribute 0, so the inner join on the class id is exact
    val rows = cm.groupBy(col("lang"), col("a1").as("k"))
      .agg(sum(col("c")).as("r"))
    val cols = cm.groupBy(col("lang"), col("a2").as("k"))
      .agg(sum(col("c")).as("cl"))
    val pe = rows.join(cols, Seq("lang", "k"))
      .groupBy(col("lang"))
      .agg(sum(expr("CAST(r AS DECIMAL(38,0)) * cl")).as("pe_num"))
    base.join(pe, Seq("lang"))
      .withColumn("po_ppm", expr("agree * 1000000 div n_docs"))
      .withColumn("pe_ppm", expr(
        "CAST(pe_num * 1000000 div " +
          "(CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)"))
      .withColumn("kappa_milli", expr(
        "CASE WHEN pe_ppm = 1000000 THEN 0L " +
          "ELSE (po_ppm - pe_ppm) * 1000 div (1000000 - pe_ppm) END"))
      .select(col("lang"), col("n_docs"), col("po_ppm"), col("pe_ppm"),
        col("kappa_milli"))
      .orderBy(col("lang"))
  }

  private val qKappaSql =
    """WITH d AS (
      |  SELECT lang, (n_chars // 50) % 3 AS a1,
      |    ((n_chars + doc_id) // 50) % 3 AS a2
      |  FROM documents),
      |cm AS (
      |  SELECT lang, a1, a2, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM d GROUP BY 1, 2, 3),
      |base AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
      |    CAST(SUM(CASE WHEN a1 = a2 THEN c ELSE 0 END) AS BIGINT)
      |      AS agree
      |  FROM cm GROUP BY 1),
      |r AS (SELECT lang, a1 AS k, CAST(SUM(c) AS BIGINT) AS r
      |      FROM cm GROUP BY 1, 2),
      |cl AS (SELECT lang, a2 AS k, CAST(SUM(c) AS BIGINT) AS cl
      |       FROM cm GROUP BY 1, 2),
      |pe AS (
      |  SELECT r.lang, SUM(CAST(r.r AS HUGEINT) * cl.cl) AS pe_num
      |  FROM r JOIN cl ON r.lang = cl.lang AND r.k = cl.k
      |  GROUP BY 1),
      |m AS (
      |  SELECT base.lang, n_docs, agree * 1000000 // n_docs AS po_ppm,
      |    CAST(pe_num * 1000000 //
      |      (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS pe_ppm
      |  FROM base JOIN pe ON base.lang = pe.lang)
      |SELECT lang, n_docs, CAST(po_ppm AS BIGINT) AS po_ppm, pe_ppm,
      |  CAST(CASE WHEN pe_ppm = 1000000 THEN 0
      |       ELSE (po_ppm - pe_ppm) * 1000 // (1000000 - pe_ppm) END
      |    AS BIGINT) AS kappa_milli
      |FROM m ORDER BY lang""".stripMargin

  // ------------------------------------------------------------- q209

  /** q209: CRAMÉR'S V EFFECT-SIZE SCREEN — the q160 chi-square cell
    * convention ((c·N − r·k)²·10^6 div (r·k·N), DECIMAL-routed)
    * normalized to the comparable [0,1] effect size
    * V = √(χ² / (N·min(k−1, l−1))) via `graft_isqrt`, for two
    * associations side by side: documents lang × source and events
    * event_type × user segment. Chi-square says "dependent"; V says
    * "how much" on a scale two differently-sized tables can share.
    *
    * Scale shape per pair: one map-side-combinable cells groupBy, two
    * alphabet-sized marginal joins, arithmetic on ≤(k·l) rows. */
  private def qCramersV(s: SparkSession, dir: String): DataFrame = {
    def v(pair: String, cells0: DataFrame): DataFrame = {
      val cells = cells0.groupBy(col("ra"), col("ck"))
        .agg(count(lit(1)).as("c"))
      val rm = cells.groupBy(col("ra")).agg(sum(col("c")).as("r"))
      val cm = cells.groupBy(col("ck")).agg(sum(col("c")).as("k"))
      val n = cells.agg(sum(col("c")).as("n"),
        countDistinct(col("ra")).as("nr"),
        countDistinct(col("ck")).as("nc"))
      cells.join(rm, "ra").join(cm, "ck")
        .crossJoin(broadcast(n))
        .withColumn("cell_micro", expr(
          """(CAST(c AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * k)
            |  * (CAST(c AS DECIMAL(38,0)) * n
            |     - CAST(r AS DECIMAL(38,0)) * k) * 1000000
            |  div (CAST(r AS DECIMAL(38,0)) * k * n)""".stripMargin))
        .groupBy()
        .agg(max(col("n")).as("n"), max(col("nr")).as("n_rows"),
          max(col("nc")).as("n_cols"),
          sum(col("cell_micro")).as("chi2_micro_d"))
        .withColumn("chi2_micro", expr("CAST(chi2_micro_d AS BIGINT)"))
        .withColumn("v_ppm", graft.functions.IntegerSqrt(expr(
          """CAST(CAST(chi2_micro_d AS DECIMAL(38,0)) * 1000000
            |  div (CAST(n AS DECIMAL(38,0))
            |       * least(n_rows - 1, n_cols - 1)) AS BIGINT)"""
            .stripMargin)))
        .select(lit(pair).as("pair"), col("n"), col("n_rows"),
          col("n_cols"), col("chi2_micro"), col("v_ppm"))
    }
    val docs = load(s, dir, "documents")
      .select(col("lang").as("ra"), col("source").as("ck"))
    val evs = load(s, dir, "events")
      .select(col("event_type").as("ra"),
        pmod(col("user_id"), lit(4)).cast("string").as("ck"))
    v("documents:lang*source", docs)
      .unionByName(v("events:type*segment", evs))
      .orderBy(col("pair"))
  }

  private val qCramersVSql = {
    def block(pair: String, src: String): String =
      s"""SELECT '$pair' AS pair, n, n_rows, n_cols, chi2_micro, v_ppm
      |FROM (
      |  SELECT n, n_rows, n_cols, chi2_micro,
      |    s0 - CASE WHEN s0 > 0 AND s0 * s0 > vsq THEN 1 ELSE 0 END
      |       + CASE WHEN s0 < 3037000499 AND (s0 + 1) * (s0 + 1) <= vsq
      |           THEN 1 ELSE 0 END AS v_ppm
      |  FROM (
      |    SELECT n, n_rows, n_cols, chi2_micro, vsq,
      |      CAST(floor(sqrt(CAST(vsq AS DOUBLE))) AS BIGINT) AS s0
      |    FROM (
      |      SELECT MAX(n) AS n, MAX(nr) AS n_rows, MAX(nc) AS n_cols,
      |        CAST(SUM(cell_micro) AS BIGINT) AS chi2_micro,
      |        CAST(SUM(cell_micro) * 1000000
      |          // (CAST(MAX(n) AS HUGEINT)
      |              * least(MAX(nr) - 1, MAX(nc) - 1)) AS BIGINT) AS vsq
      |      FROM (
      |        SELECT c.c, c.ra, c.ck, rm.r, cm.k, nn.n, nn.nr, nn.nc,
      |          (CAST(c.c AS HUGEINT) * nn.n
      |             - CAST(rm.r AS HUGEINT) * cm.k)
      |          * (CAST(c.c AS HUGEINT) * nn.n
      |             - CAST(rm.r AS HUGEINT) * cm.k) * 1000000
      |          // (CAST(rm.r AS HUGEINT) * cm.k * nn.n) AS cell_micro
      |        FROM (SELECT ra, ck, CAST(COUNT(*) AS BIGINT) AS c
      |              FROM ($src) t GROUP BY 1, 2) c
      |        JOIN (SELECT ra, CAST(COUNT(*) AS BIGINT) AS r
      |              FROM ($src) t GROUP BY 1) rm ON rm.ra = c.ra
      |        JOIN (SELECT ck, CAST(COUNT(*) AS BIGINT) AS k
      |              FROM ($src) t GROUP BY 1) cm ON cm.ck = c.ck
      |        CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |            CAST(COUNT(DISTINCT ra) AS BIGINT) AS nr,
      |            CAST(COUNT(DISTINCT ck) AS BIGINT) AS nc
      |          FROM ($src) t) nn) cells) agg) sq)"""
    val docs = "SELECT lang AS ra, source AS ck FROM documents"
    val evs = "SELECT event_type AS ra, CAST(user_id % 4 AS VARCHAR) AS ck" +
      " FROM events"
    s"""${block("documents:lang*source", docs).stripMargin}
       |UNION ALL
       |${block("events:type*segment", evs).stripMargin}
       |ORDER BY pair""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q160_chi_square" -> QueryDef(qChiSquare, Some(qChiSquareSql),
      "chi-square contingency audit in exact DECIMAL(38)/HUGEINT micro"),
    "q191_cohens_kappa" -> QueryDef(qKappa, Some(qKappaSql),
      "Cohen's kappa from a 3x3 confusion matrix, DECIMAL-routed marginal products"),
    "q209_cramers_v" -> QueryDef(qCramersV, Some(qCramersVSql),
      "Cramér's V effect sizes for two categorical associations via the q160 chi-square cell device + isqrt"))
}
