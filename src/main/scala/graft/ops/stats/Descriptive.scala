package graft.ops
package stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.{QueryDef, Tables}
import Tables.load

/** Descriptive statistics in exact integer arithmetic: quantiles, robust
  * means, modes, skew and concentration. */
object Descriptive {

  // --------------------------------------------------------------- q114

  /** q114: equi-width HISTOGRAM of a money column per group — the
    * ANALYZE-histogram primitive (q73's profile stops at min/max/ndv;
    * this is the bucket table an optimizer or drift monitor reads).
    * Money doubles carry exactly two decimals, so `round(v·100)` is an
    * exact integer of cents and every bin edge and assignment is pure
    * integer arithmetic — no float comparisons anywhere in the hash.
    * Shape: one stats agg (groups × 2 longs, broadcast back), one
    * (group, bin) count agg; two scans of the fact at worst, one with
    * scan reuse. */
  private val HistBins = 10L

  private def qPriceHistogram(s: SparkSession, dir: String): DataFrame = {
    val cents = load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
    val stats = cents.groupBy(col("l_returnflag"))
      .agg(min(col("c")).as("min_c"), max(col("c")).as("max_c"))
    cents.join(broadcast(stats), "l_returnflag")
      .withColumn("bin", least(lit(HistBins - 1),
        expr(s"(c - min_c) * $HistBins div (max_c - min_c + 1)")))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        min(col("min_c")).as("min_c"), min(col("max_c")).as("max_c"))
      .withColumn("lo_cents",
        expr(s"min_c + bin * (max_c - min_c + 1) div $HistBins"))
      .withColumn("hi_cents",
        expr(s"min_c + (bin + 1) * (max_c - min_c + 1) div $HistBins - 1"))
      .select(col("l_returnflag"), col("bin"), col("n"),
        col("lo_cents"), col("hi_cents"))
      .orderBy(col("l_returnflag"), col("bin"))
  }

  private val qPriceHistogramSql =
    s"""WITH cents AS (
       |  SELECT l_returnflag,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
       |  FROM lineitem),
       |st AS (SELECT l_returnflag, MIN(c) AS min_c, MAX(c) AS max_c
       |       FROM cents GROUP BY 1),
       |b AS (SELECT cents.l_returnflag,
       |        LEAST($HistBins - 1,
       |          (c - min_c) * $HistBins // (max_c - min_c + 1)) AS bin,
       |        min_c, max_c
       |      FROM cents JOIN st USING (l_returnflag))
       |SELECT l_returnflag, bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  min_c + bin * (max_c - min_c + 1) // $HistBins AS lo_cents,
       |  min_c + (bin + 1) * (max_c - min_c + 1) // $HistBins - 1
       |    AS hi_cents
       |FROM b GROUP BY l_returnflag, bin, min_c, max_c
       |ORDER BY l_returnflag, bin""".stripMargin

  // ------------------------------------------------------------- q154

  /** q154: WINSORIZED ROBUST MEAN per series — the outlier treatment a
    * metrics pipeline applies before averaging: clamp each value to
    * the [p5, p95] band and average the clamped series. Fully integer:
    * values are micro-quantized, the percentile is NEAREST-RANK
    * (cutoff = value at rank ceil(p·n) — no interpolation, no
    * doubles), and the means are floor divisions.
    *
    * Scale shape (round-7 rewrite): the former per-type
    * `row_number()` window sorted each type's FULL row set in one
    * task (5-value alphabet ⇒ one task owns 20M rows at 100×;
    * measured exponent 1.13). The value-at-rank map is tie-break
    * independent, so the query now runs on the VALUE HISTOGRAM:
    * one map-side-combinable groupBy(type, v) — the only big-data op
    * — then running counts, cutoffs, and BOTH means (Σ cnt·clamp(v))
    * entirely on the histogram, whose size is the distinct
    * micro-value set (saturates far below row count; truly
    * continuous domains would first quantize or t-digest, same
    * shape). Measured 4.9 s → sub-second at the 100× directory. */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val hist = load(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("v"))))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("lo_rank", expr("(n * 5 + 99) div 100"))
      .withColumn("hi_rank", expr("(n * 95 + 99) div 100"))
    val cuts = cum.groupBy(col("event_type"))
      .agg(min(when(col("cum") >= col("lo_rank"), col("v"))).as("lo_v"),
        min(when(col("cum") >= col("hi_rank"), col("v"))).as("hi_v"))
    hist.join(cuts, "event_type")
      .withColumn("cv", least(greatest(col("v"), col("lo_v")), col("hi_v")))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"),
        max(col("lo_v")).as("lo_v"), max(col("hi_v")).as("hi_v"),
        expr("sum(v * cnt) div sum(cnt)").as("raw_mean_micro"),
        expr("sum(cv * cnt) div sum(cnt)").as("robust_mean_micro"))
      .orderBy(col("event_type"))
  }

  private val qWinsorizeSql =
    """WITH v AS (
      |  SELECT event_type, event_id,
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM v),
      |cuts AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN v END) AS lo_v,
      |    MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN v END) AS hi_v
      |  FROM r GROUP BY 1)
      |SELECT v.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(lo_v) AS lo_v, MAX(hi_v) AS hi_v,
      |  CAST(SUM(v) AS BIGINT) // COUNT(*) AS raw_mean_micro,
      |  CAST(SUM(LEAST(GREATEST(v, lo_v), hi_v)) AS BIGINT) // COUNT(*)
      |    AS robust_mean_micro
      |FROM v JOIN cuts ON cuts.event_type = v.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q157

  /** q157: BENFORD'S-LAW SCREEN on money amounts — the classic
    * forensic-accounting / data-quality check: the first significant
    * digit of organic multiplicative quantities follows
    * P(d) = log10(1 + 1/d). Digits come from the STRING form of exact
    * integer cents (integer-to-decimal-string is identical in every
    * engine — no log10/pow float path, whose rounding at exact powers
    * of ten is not portable); expected ppm are compile-time literals
    * of floor(log10(1+1/d)·10^6). One narrow scan + one 9-group
    * aggregate; the deviation column makes the screen actionable. */
  private val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  private def qBenford(s: SparkSession, dir: String): DataFrame = {
    val expected = BenfordPpm.foldLeft(lit(0L)) { case (el, (d, p)) =>
      when(col("digit") === d.toString, lit(p)).otherwise(el)
    }
    load(s, dir, "lineitem")
      .select(expr("substring(CAST(CAST(CAST(l_extendedprice AS " +
        "DECIMAL(18,2)) * 100 AS BIGINT) AS STRING), 1, 1)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("obs_ppm", expr("n * 1000000 div total"))
      .withColumn("exp_ppm", expected)
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        col("dev_ppm"))
      .orderBy(col("digit"))
  }

  private val qBenfordSql = {
    val cases = BenfordPpm
      .map { case (d, p) => s"WHEN digit = '$d' THEN $p" }
      .mkString(" ")
    s"""WITH d AS (
       |  SELECT substring(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * 100 AS BIGINT) AS VARCHAR), 1, 1) AS digit
       |  FROM lineitem),
       |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
       |t AS (SELECT digit, n, SUM(n) OVER () AS total FROM g),
       |o AS (SELECT digit, n, CAST(n * 1000000 // total AS BIGINT)
       |        AS obs_ppm,
       |        CAST(CASE $cases ELSE 0 END AS BIGINT) AS exp_ppm
       |      FROM t)
       |SELECT digit, n, obs_ppm, exp_ppm,
       |  abs(obs_ppm - exp_ppm) AS dev_ppm
       |FROM o ORDER BY digit""".stripMargin
  }

  // ------------------------------------------------------------- q162

  /** q162: INTEGER-EXACT Z-SCORES via the native [[graft.functions.IntegerSqrt]]
    * codegen expression — the missing piece that kept standard
    * deviations out of the hash-gateable integer style (q85/q112 use
    * exact DECIMAL moments but must end in an IEEE division; here even
    * the stddev is an integer). Per event type over daily counts:
    * mean_milli = Σx·1000 div D; var_milli² = (D·Σx² − (Σx)²)·10^6
    * div D² routed through DECIMAL(38) so the cross-term cannot
    * overflow; sd_milli = isqrt(var) — the oracle spells the same
    * corrected-floor-sqrt device in plain SQL, so both engines agree
    * bit-for-bit (IEEE sqrt is correctly rounded → ±1 → two
    * conditional fixes land exactly). One narrow scan, one daily
    * aggregate, one alphabet-bounded stats join. */
  private def qIntegerZscore(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "events")
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    // x·x and its sum ride DECIMAL(38) from the start: a BIGINT
    // accumulator would silently wrap in Spark (non-ANSI) while the
    // oracle throws — the silent-vs-crash divergence only 100-TB-scale
    // counts could reach, so it must be impossible by construction
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("d"), sum(col("x")).as("sx"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"))
      .withColumn("mean_milli", expr("sx * 1000 div d"))
      .withColumn("var_milli2", expr(
        """CAST((CAST(d AS DECIMAL(38,0)) * sxx
          |  - CAST(sx AS DECIMAL(38,0)) * sx) * 1000000
          |  div (CAST(d AS DECIMAL(38,0)) * d) AS BIGINT)""".stripMargin))
      .withColumn("sd_milli",
        graft.functions.IntegerSqrt(col("var_milli2")))
      .select(col("event_type"), col("mean_milli"), col("sd_milli"))
    daily.join(stats, "event_type")
      .withColumn("z_milli", expr(
        "(x * 1000 - mean_milli) * 1000 div greatest(sd_milli, 1L)"))
      .select(col("event_type"), col("day"), col("x"), col("mean_milli"),
        col("sd_milli"), col("z_milli"))
      .orderBy(col("event_type"), col("day"))
  }

  private val qIntegerZscoreSql =
    """WITH daily AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM daily GROUP BY 1),
      |v AS (
      |  SELECT event_type, sx * 1000 // d AS mean_milli,
      |    CAST((CAST(d AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
      |      * 1000000 // (CAST(d AS HUGEINT) * d) AS BIGINT) AS var2
      |  FROM m),
      |s0 AS (SELECT event_type, mean_milli, var2,
      |         CAST(floor(sqrt(CAST(var2 AS DOUBLE))) AS BIGINT) AS s
      |       FROM v),
      |s1 AS (SELECT event_type, mean_milli, var2,
      |         s - CASE WHEN s > 0 AND s * s > var2 THEN 1 ELSE 0 END AS s
      |       FROM s0),
      |sd AS (SELECT event_type, mean_milli,
      |         s + CASE WHEN s < 3037000499 AND (s + 1) * (s + 1) <= var2
      |                  THEN 1 ELSE 0 END
      |           AS sd_milli
      |       FROM s1)
      |SELECT daily.event_type, day, x, mean_milli, sd_milli,
      |  (x * 1000 - mean_milli) * 1000 // GREATEST(sd_milli, 1) AS z_milli
      |FROM daily JOIN sd ON sd.event_type = daily.event_type
      |ORDER BY daily.event_type, day""".stripMargin

  // ------------------------------------------------------------- q165

  /** q165: KEY-SKEW GINI REPORT — the quantitative companion to q125's
    * salted join: how unevenly is per-user activity distributed, per
    * event type? The textbook Gini needs a GLOBAL sort of per-key
    * sizes — an anti-pattern this repo polices — so it is restated
    * over the bounded SIZE HISTOGRAM: a tie-block of m keys of size s
    * starting after C smaller keys contributes s·m·(2C + m − n) to
    * the numerator (the arithmetic-series closed form of
    * Σ(2i−n−1)·x₍ᵢ₎ within the block), and the windows run over the
    * size ALPHABET (≤ max-events-per-user distinct sizes), never over
    * the key population. Gini lands in exact ppm via DECIMAL(38)
    * division. Zero global sorts, two bounded windows, one key-sized
    * hash aggregate — works unchanged when "keys" are 10^9 users. */
  private def qKeySkewGini(s: SparkSession, dir: String): DataFrame = {
    val sizes = load(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("sz"))
    val hist = sizes.groupBy(col("event_type"), col("sz"))
      .agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("sz"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wt = Window.partitionBy(col("event_type"))
    hist
      .withColumn("c", coalesce(sum(col("m")).over(w), lit(0L)))
      .withColumn("n", sum(col("m")).over(wt))
      .withColumn("t", sum(col("sz") * col("m")).over(wt))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_keys"), max(col("t")).as("total"),
        expr("""CAST(sum(CAST(sz AS DECIMAL(38,0)) * m * (2 * c + m - n))
               |  * 1000000 div (max(n) * CAST(max(t) AS DECIMAL(38,0)))
               |  AS BIGINT)""".stripMargin).as("gini_ppm"))
      .orderBy(col("event_type"))
  }

  private val qKeySkewGiniSql =
    """WITH sizes AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS sz
      |  FROM events GROUP BY 1, 2),
      |hist AS (
      |  SELECT event_type, sz, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM sizes GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, sz, m,
      |    COALESCE(SUM(m) OVER (PARTITION BY event_type ORDER BY sz
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      CAST(0 AS BIGINT)) AS c,
      |    SUM(m) OVER (PARTITION BY event_type) AS n,
      |    SUM(sz * m) OVER (PARTITION BY event_type) AS t
      |  FROM hist)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_keys,
      |  CAST(MAX(t) AS BIGINT) AS total,
      |  CAST(SUM(CAST(sz AS HUGEINT) * m * (2 * c + m - n)) * 1000000
      |    // (CAST(MAX(n) AS HUGEINT) * MAX(t)) AS BIGINT) AS gini_ppm
      |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q168

  /** q168: INTERPOLATED QUANTILES WITHOUT FLOATS — q55 gates Spark's
    * `percentile` against DuckDB's `quantile_cont` and works because
    * the inputs are small integers whose double interpolation happens
    * to agree; this is the formulation that CANNOT disagree: position
    * p·(n−1) as an exact rational over denominator 100, the lower/
    * upper order statistics fetched by running count, and the
    * interpolation v_lo·10^6 + (v_hi−v_lo)·frac·10^6 div 100 in pure
    * BIGINT micro units.
    *
    * Scale shape (round-7 rewrite): the former per-flag `row_number()`
    * window sorted each flag's FULL row set in one task (3-value
    * alphabet ⇒ one task owns a third of lineitem; measured 75 s and
    * exponent 1.02 at the 100× directory). The value-at-rank map is
    * tie-break independent, so the order statistics now come from the
    * VALUE HISTOGRAM: one map-side-combinable groupBy(flag, quantity)
    * — 3×50 rows at any SF — then running counts and the two
    * conditional-min lookups on that tiny table. Sub-second at 100×. */
  private def qIntegerQuantiles(s: SparkSession, dir: String): DataFrame = {
    val hist = load(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        col("l_quantity").cast(LongType).as("q"))
      .groupBy(col("rf"), col("q"))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("rf")).orderBy(col("q"))))
    val stats = cum.groupBy(col("rf"))
      .agg(max(col("cum")).as("n"))
      .withColumn("p", explode(expr("array(25L, 50L, 75L)")))
      .withColumn("pos_num", expr("p * (n - 1)"))
      .withColumn("idx_lo", expr("pos_num div 100"))
      .withColumn("frac_num", expr("pos_num % 100"))
      .withColumn("rank_lo", col("idx_lo") + 1)
      .withColumn("rank_hi", least(col("idx_lo") + 2, col("n")))
    stats.join(cum, "rf") // tiny × tiny (9 × histogram rows)
      .groupBy(col("rf"), col("p"), col("n"), col("frac_num"))
      .agg(min(when(col("cum") >= col("rank_lo"), col("q"))).as("v_lo"),
        min(when(col("cum") >= col("rank_hi"), col("q"))).as("v_hi"))
      .withColumn("q_micro", expr(
        "v_lo * 1000000 + (v_hi - v_lo) * frac_num * 1000000 div 100"))
      .select(col("rf").as("l_returnflag"), col("p"), col("n"),
        col("q_micro"))
      .orderBy(col("l_returnflag"), col("p"))
  }

  private val qIntegerQuantilesSql =
    """WITH v AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |r AS (
      |  SELECT l_returnflag, q,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY q, l_orderkey, l_linenumber) AS rn
      |  FROM v),
      |s AS (
      |  SELECT l_returnflag, CAST(MAX(rn) AS BIGINT) AS n
      |  FROM r GROUP BY 1),
      |t AS (
      |  SELECT l_returnflag, n, CAST(p AS BIGINT) AS p,
      |    CAST(p AS BIGINT) * (n - 1) AS pos_num
      |  FROM s CROSS JOIN unnest([25, 50, 75]) AS u(p)),
      |x AS (
      |  SELECT l_returnflag, n, p,
      |    pos_num // 100 AS idx_lo, pos_num % 100 AS frac_num
      |  FROM t)
      |SELECT x.l_returnflag, p, n,
      |  lo.q * 1000000 + (hi.q - lo.q) * frac_num * 1000000 // 100
      |    AS q_micro
      |FROM x
      |JOIN r lo ON lo.l_returnflag = x.l_returnflag
      |  AND lo.rn = idx_lo + 1
      |JOIN r hi ON hi.l_returnflag = x.l_returnflag
      |  AND hi.rn = LEAST(idx_lo + 2, n)
      |ORDER BY x.l_returnflag, p""".stripMargin

  // ------------------------------------------------------------- q170

  /** q170: QUANTILE NORMALIZATION via the bounded value-alphabet
    * histogram — map every document's length to its corpus-wide
    * mid-rank quantile in ppm WITHOUT a global sort (the q165 device
    * applied to feature calibration): per distinct value, the tie
    * block's doubled average rank is 2C + m + 1, so q_ppm =
    * (2C + m − 1)·10^6 div (2(n−1)) — exact integers, windows over
    * the length alphabet only, then an alphabet equi-join back to the
    * rows. The report aggregates per source: a source whose mean
    * quantile drifts from 500 000 ppm is systematically long/short —
    * the calibration check feature stores run per feature per
    * source. */
  private def qQuantileNormalize(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents").select(col("doc_id"), col("source"),
      col("n_chars"))
    val hist = d.groupBy(col("n_chars")).agg(count(lit(1)).as("m"))
    val w = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wt = Window.partitionBy()
    val q = hist
      .withColumn("c", coalesce(sum(col("m")).over(w), lit(0L)))
      .withColumn("n", sum(col("m")).over(wt))
      .withColumn("q_ppm",
        expr("(2 * c + m - 1) * 1000000 div (2 * (n - 1))"))
      .select(col("n_chars"), col("q_ppm"))
    d.join(q, "n_chars")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(q_ppm) div count(1)").as("mean_q_ppm"),
        min(col("q_ppm")).as("min_q_ppm"),
        max(col("q_ppm")).as("max_q_ppm"))
      .orderBy(col("source"))
  }

  private val qQuantileNormalizeSql =
    """WITH hist AS (
      |  SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM documents GROUP BY 1),
      |q AS (
      |  SELECT n_chars,
      |    CAST((2 * COALESCE(SUM(m) OVER (ORDER BY n_chars
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |       CAST(0 AS BIGINT)) + m - 1) * 1000000
      |      // (2 * (SUM(m) OVER () - 1)) AS BIGINT) AS q_ppm
      |  FROM hist)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(q_ppm) AS BIGINT) // COUNT(*) AS mean_q_ppm,
      |  CAST(MIN(q_ppm) AS BIGINT) AS min_q_ppm,
      |  CAST(MAX(q_ppm) AS BIGINT) AS max_q_ppm
      |FROM documents JOIN q USING (n_chars)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q173

  /** q173: WEIGHTED MEDIAN — "the document length at which half the
    * TOKEN MASS sits" per language, the statistic curation actually
    * wants when documents differ 100× in size (the unweighted q168
    * median answers a different question). Nearest-rank weighted form:
    * first value whose doubled running weight reaches the total — one
    * per-group sort window for the running sum, one conditional-min
    * aggregate; all BIGINT. */
  private def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents").select(col("doc_id"), col("lang"),
      col("n_chars"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("tot",
        sum(col("n_tokens")).over(Window.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), max(col("tot")).as("total_tokens"),
        min(when(col("cum") * 2 >= col("tot"), col("n_chars")))
          .as("wmedian_chars"))
      .orderBy(col("lang"))
  }

  private val qWeightedMedianSql =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT lang, n_chars, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(n_tokens) OVER (PARTITION BY lang) AS tot
      |  FROM d)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MAX(tot) AS BIGINT) AS total_tokens,
      |  CAST(MIN(CASE WHEN cum * 2 >= tot THEN n_chars END) AS BIGINT)
      |    AS wmedian_chars
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- q177

  /** q177: DETERMINISTIC GROUP-WISE MODE — both engines ship a native
    * `mode()` aggregate, and BOTH leave the tie-break implementation-
    * defined, which makes the built-in un-gateable and (worse)
    * non-reproducible run to run on a cluster. The portable form: one
    * (group, value) count aggregate + one rank window with the
    * explicit tie rule (max count, tie → smallest value). Reports the
    * mode return-flag per order priority with its support count and
    * ppm share — alphabet² intermediate, nothing data-sized after
    * the first aggregate. (This generator's lineitem has no ship-mode
    * column, so the mode is over the return-flag alphabet.) */
  private def qDeterministicMode(s: SparkSession, dir: String): DataFrame = {
    val counts = load(s, dir, "lineitem")
      .join(load(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"))
    val tot = counts.groupBy(col("o_orderpriority"))
      .agg(sum(col("cnt")).as("tot"))
    counts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("cnt").desc, col("l_returnflag"))))
      .filter(col("rk") === 1)
      .join(tot, "o_orderpriority")
      .select(col("o_orderpriority"), col("l_returnflag").as("mode_flag"),
        col("cnt"), expr("cnt * 1000000 div tot").as("share_ppm"))
      .orderBy(col("o_orderpriority"))
  }

  private val qDeterministicModeSql =
    """WITH c AS (
      |  SELECT o_orderpriority, l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |t AS (SELECT o_orderpriority, CAST(SUM(cnt) AS BIGINT) AS tot
      |      FROM c GROUP BY 1),
      |m AS (
      |  SELECT o_orderpriority, l_returnflag, cnt,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY cnt DESC, l_returnflag) AS rk
      |  FROM c)
      |SELECT m.o_orderpriority, l_returnflag AS mode_flag, cnt,
      |  cnt * 1000000 // tot AS share_ppm
      |FROM m JOIN t ON t.o_orderpriority = m.o_orderpriority
      |WHERE rk = 1 ORDER BY m.o_orderpriority""".stripMargin

  /* Ninth-wave battery (round 7): dedup-health and corpus-governance
    * reports that COMPOSE the earlier machinery — the cluster graph
    * (q52), the hash split (q54), the count-histogram rank device
    * (q154/q168) — into the summaries an operator actually reads before
    * shipping a corpus. House rules as ever: integer-exact with
    * DECIMAL(38,0)/HUGEINT routing past 2^63, heavy work map-side
    * combinable, rank logic only on bounded histogram tables. */

  // ------------------------------------------------------------- q196

  /** q196: LABEL-BALANCE AUDIT (Gini impurity) — per source, how
    * skewed is the language mix: gini_ppm = 10^6 − Σ_k c_k²·10^6 div
    * n², majority share alongside. Zero means single-language, higher
    * means balanced; the report that drives per-source language
    * rebalancing (q62) rather than corpus-wide.
    *
    * Scale shape: one map-side-combinable groupBy(source, lang); the
    * impurity arithmetic runs on the ≤(sources×langs) count table,
    * products in DECIMAL(38,0). */
  private def qGiniBalance(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        max(col("c")).as("majority"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sq"))
      .withColumn("majority_ppm", expr("majority * 1000000 div n_docs"))
      .withColumn("gini_ppm", expr(
        "CAST(1000000 - sq * 1000000 div " +
          "(CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("majority_ppm"), col("gini_ppm"))
      .orderBy(col("source"))

  private val qGiniBalanceSql =
    """WITH cm AS (
      |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_langs,
      |  CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS majority_ppm,
      |  CAST(1000000 - SUM(CAST(c AS HUGEINT) * c) * 1000000
      |    // (CAST(SUM(c) AS HUGEINT) * SUM(c)) AS BIGINT) AS gini_ppm
      |FROM cm GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- q198

  /** q198: TOP-1% USER CONCENTRATION — what share of all events the
    * heaviest percentile of users generates: the abuse/bot screen and
    * the sampling-bias check before user-keyed training data ships.
    * k = ⌈U/100⌉ top users by event count; because every user at the
    * threshold count contributes the same count, the share is a pure
    * function of the COUNT-OF-COUNTS histogram — no per-user ranking:
    * threshold c* = smallest c with ≥ k users at count ≥ c, then
    * top_events = Σ_{c>c*} c·m_c + (k − |{c>c*}|)·c*.
    *
    * Scale shape: groupBy(user) then groupBy(count) — both map-side
    * combinable; the rank scan runs on the count histogram (bounded by
    * the max per-user count, same device as q154/q168/q185), products
    * DECIMAL-routed. */
  private def qConcentration(s: SparkSession, dir: String): DataFrame = {
    val perUser = load(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = perUser.groupBy(col("c")).agg(count(lit(1)).as("m"))
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    hist
      .withColumn("users_ge", sum(col("m")).over(w))
      .withColumn("events_gt",
        sum(expr("CAST(c AS DECIMAL(38,0)) * m")).over(w)
          - expr("CAST(c AS DECIMAL(38,0)) * m"))
      .withColumn("n_users", sum(col("m")).over(wAll))
      .withColumn("total_events",
        sum(expr("CAST(c AS DECIMAL(38,0)) * m")).over(wAll))
      .withColumn("k", expr("(n_users + 99) div 100"))
      .filter(col("users_ge") >= col("k"))
      .withColumn("rnk", row_number().over(Window.orderBy(col("c").desc)))
      .filter(col("rnk") === 1)
      .withColumn("top_events", expr(
        "events_gt + (k - (users_ge - m)) * CAST(c AS DECIMAL(38,0))"))
      .select(col("n_users"), col("k"), col("c").as("threshold_count"),
        expr("CAST(top_events AS BIGINT)").as("top_events"),
        expr("CAST(total_events AS BIGINT)").as("total_events"),
        expr("CAST(top_events * 1000000 div total_events AS BIGINT)")
          .as("share_ppm"))
  }

  private val qConcentrationSql =
    """WITH pu AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |hist AS (
      |  SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM pu GROUP BY 1),
      |sc AS (
      |  SELECT c, m,
      |    SUM(m) OVER (ORDER BY c DESC) AS users_ge,
      |    SUM(CAST(c AS HUGEINT) * m) OVER (ORDER BY c DESC)
      |      - CAST(c AS HUGEINT) * m AS events_gt,
      |    SUM(m) OVER () AS n_users,
      |    SUM(CAST(c AS HUGEINT) * m) OVER () AS total_events
      |  FROM hist),
      |att AS (
      |  SELECT *, (n_users + 99) // 100 AS k,
      |    ROW_NUMBER() OVER (ORDER BY c DESC) AS rnk_all
      |  FROM sc),
      |thr AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY c DESC) AS rnk
      |  FROM att WHERE users_ge >= k)
      |SELECT CAST(n_users AS BIGINT) AS n_users, CAST(k AS BIGINT) AS k,
      |  c AS threshold_count,
      |  CAST(events_gt + (k - (users_ge - m)) * CAST(c AS HUGEINT)
      |    AS BIGINT) AS top_events,
      |  CAST(total_events AS BIGINT) AS total_events,
      |  CAST((events_gt + (k - (users_ge - m)) * CAST(c AS HUGEINT))
      |    * 1000000 // total_events AS BIGINT) AS share_ppm
      |FROM thr WHERE rnk = 1""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q114_price_histogram" -> QueryDef(qPriceHistogram,
      Some(qPriceHistogramSql),
      "equi-width money histogram, pure integer bin math (ANALYZE shape)"),
    "q154_winsorize" -> QueryDef(qWinsorize, Some(qWinsorizeSql),
      "winsorized robust mean, nearest-rank integer percentiles"),
    "q157_benford" -> QueryDef(qBenford, Some(qBenfordSql),
      "Benford's-law first-digit screen on exact cents, literal " +
        "expected ppm"),
    "q162_integer_zscore" -> QueryDef(qIntegerZscore, Some(qIntegerZscoreSql),
      "integer-exact z-scores via the graft_isqrt codegen expression"),
    "q165_key_skew_gini" -> QueryDef(qKeySkewGini, Some(qKeySkewGiniSql),
      "Gini key-skew report from the bounded size histogram, exact ppm"),
    "q168_integer_quantiles" -> QueryDef(qIntegerQuantiles,
      Some(qIntegerQuantilesSql),
      "interpolated quantiles in pure BIGINT micro (float-free p*(n-1))"),
    "q170_quantile_normalize" -> QueryDef(qQuantileNormalize,
      Some(qQuantileNormalizeSql),
      "quantile normalization via bounded value-alphabet histogram " +
        "(global ranks, no global sort)"),
    "q173_weighted_median" -> QueryDef(qWeightedMedian,
      Some(qWeightedMedianSql),
      "weighted median by token mass (running-weight window, BIGINT)"),
    "q177_deterministic_mode" -> QueryDef(qDeterministicMode,
      Some(qDeterministicModeSql),
      "deterministic group-wise mode (explicit tie rule — the native " +
        "mode() tie-break is engine-defined)"),
    "q196_gini_balance" -> QueryDef(qGiniBalance, Some(qGiniBalanceSql),
      "per-source label-balance Gini impurity, DECIMAL-routed integer ppm"),
    "q198_concentration" -> QueryDef(qConcentration, Some(qConcentrationSql),
      "top-1% user event concentration from the count-of-counts histogram"))
}
