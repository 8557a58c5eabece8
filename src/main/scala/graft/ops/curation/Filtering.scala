package graft.ops
package curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.{QueryDef, Tables}
import Tables.load

/** Document filters: Gopher rules, DSIR weights, outliers, n-gram
  * repetition and boilerplate removal. */
object Filtering {

  /* Corpus-filtering operators from the published pretraining-curation
    * playbook that the quality/dedup batteries don't yet cover:
    *
    *   - q99: a Gopher-style rule gate (Rae et al. 2021 §A1.1 shape) —
    *     per-document lexical signals, each an exact count or an exact
    *     IEEE ratio of two counts, folded into one boolean verdict.
    *   - q100: DSIR-style importance weighting (Xie et al. 2023 shape) —
    *     hashed-unigram bucket counts under a target domain vs the raw
    *     corpus, restated integer-exact (ppm ratios via integer division)
    *     so the oracle agrees bit-for-bit without transcendental logs.
    *   - q104: robust (median/MAD) hourly-rate outliers — the
    *     heavy-tail-safe twin of q85's moment z-scores.
    *
    * Scale shape: q99 is a single narrow projection (no shuffle at all
    * before the output sort). q100 is two keyed aggregations over the
    * token stream plus a 256-row broadcast — the bucket table is constant
    * size at ANY corpus size, which is the whole point of hashed features.
    * q104 aggregates to the hour grain first (bounded by wall-clock time,
    * not data volume), so the percentile passes run on a tiny table.
    */

  // ---------------------------------------------------------------- q99

  /** Rule thresholds: centered on the corpus's signal distributions so
    * the gate discriminates (a gate that passes everything tests
    * nothing). Word-length bounds are the published 3..10 idea shifted
    * to this corpus's 4.17..4.84 p5..p95 band. */
  private val MinWords = 25L
  private val MaxWords = 100000L
  private val MinMeanLen = 4.3
  private val MaxMeanLen = 10.0
  private val MaxShortRatio = 0.06
  private val MaxLongRatio = 0.07
  private val MinStopKinds = 2L

  private def qGopherRules(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"),
        expr("length(replace(text, ' ', ''))").cast(LongType)
          .as("n_word_chars"))
      .select(col("doc_id"), col("n_word_chars"),
        size(col("ws")).cast(LongType).as("n_words"),
        expr("size(filter(ws, w -> length(w) < 3))").cast(LongType)
          .as("n_short"),
        expr("size(filter(ws, w -> length(w) > 7))").cast(LongType)
          .as("n_long"),
        expr("size(array_distinct(filter(ws, w -> w IN " +
          "('the', 'a', 'of', 'and'))))").cast(LongType)
          .as("n_stop_kinds"))
      .withColumn("mean_word_len",
        col("n_word_chars").cast(DoubleType) / col("n_words"))
      .withColumn("short_ratio",
        col("n_short").cast(DoubleType) / col("n_words"))
      .withColumn("long_ratio",
        col("n_long").cast(DoubleType) / col("n_words"))
      .withColumn("pass",
        col("n_words").between(MinWords, MaxWords) &&
          col("mean_word_len").between(MinMeanLen, MaxMeanLen) &&
          col("short_ratio") < MaxShortRatio &&
          col("long_ratio") < MaxLongRatio &&
          col("n_stop_kinds") >= MinStopKinds)
      .select("doc_id", "n_words", "mean_word_len", "short_ratio",
        "long_ratio", "n_stop_kinds", "pass")
      .orderBy(col("doc_id"))

  private val qGopherRulesSql =
    s"""SELECT doc_id, n_words,
       | CAST(n_word_chars AS DOUBLE) / n_words AS mean_word_len,
       | CAST(n_short AS DOUBLE) / n_words AS short_ratio,
       | CAST(n_long AS DOUBLE) / n_words AS long_ratio,
       | n_stop_kinds,
       | (n_words BETWEEN $MinWords AND $MaxWords
       |  AND CAST(n_word_chars AS DOUBLE) / n_words
       |        BETWEEN $MinMeanLen AND $MaxMeanLen
       |  AND CAST(n_short AS DOUBLE) / n_words < $MaxShortRatio
       |  AND CAST(n_long AS DOUBLE) / n_words < $MaxLongRatio
       |  AND n_stop_kinds >= $MinStopKinds) AS pass
       |FROM (
       |  SELECT doc_id,
       |   CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_word_chars,
       |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |   CAST(len(list_filter(string_split(text, ' '),
       |          w -> length(w) < 3)) AS BIGINT) AS n_short,
       |   CAST(len(list_filter(string_split(text, ' '),
       |          w -> length(w) > 7)) AS BIGINT) AS n_long,
       |   CAST(len(list_distinct(list_filter(string_split(text, ' '),
       |          w -> w IN ('the', 'a', 'of', 'and')))) AS BIGINT)
       |     AS n_stop_kinds
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q100

  /** Hashed-feature buckets: 2 hex digits of md5 = 256 buckets, the
    * constant-size sketch that makes the method corpus-size-independent. */
  private val TargetSources = Seq("src0", "src1")

  private def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .withColumn("b", substring(md5(col("w")), 1, 2))
    val inTarget = col("source").isin(TargetSources: _*)
    // 256-row model table: raw count and target count per hashed bucket.
    // ppm weight by INTEGER division — no logs, no float accumulation, so
    // the oracle can restate it exactly. +1 is Laplace smoothing.
    val buckets = toks
      .groupBy(col("b"))
      .agg(count(lit(1)).as("nr"),
        sum(when(inTarget, 1L).otherwise(0L)).as("nt"))
      .withColumn("w_ppm",
        expr("(nt + 1) * CAST(1000000 AS BIGINT) div (nr + 1)"))
      .select(col("b"), col("w_ppm"))
    val scored = toks.join(broadcast(buckets), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_ppm")).as("dsir_score"))
      .withColumn("mean_w_ppm", expr("dsir_score div n_tokens"))
    // keep = strictly more target-like than the corpus-average token (a
    // 1-row scalar broadcast, the q70 shape) — SF-robust where any fixed
    // ppm cut drifts with the target share
    val global = scored.agg(
      expr("sum(dsir_score) div sum(n_tokens)").as("g_ppm"))
    scored.crossJoin(broadcast(global))
      .withColumn("keep", col("mean_w_ppm") > col("g_ppm"))
      .select("doc_id", "n_tokens", "dsir_score", "mean_w_ppm", "keep")
      .orderBy(col("doc_id"))
  }

  private val qDsirWeightsSql = {
    val targets = TargetSources.map(t => s"'$t'").mkString(", ")
    s"""WITH tb AS (
       |  SELECT doc_id, source, substring(md5(w), 1, 2) AS b
       |  FROM (SELECT doc_id, source,
       |          unnest(string_split(text, ' ')) AS w
       |        FROM documents)),
       |bw AS (
       |  SELECT b, (nt + 1) * 1000000 // (nr + 1) AS w_ppm
       |  FROM (SELECT b, CAST(COUNT(*) AS BIGINT) AS nr,
       |          CAST(SUM(CASE WHEN source IN ($targets)
       |                        THEN 1 ELSE 0 END) AS BIGINT) AS nt
       |        FROM tb GROUP BY b)),
       |ds AS (
       |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(w_ppm) AS BIGINT) AS dsir_score
       |  FROM tb t JOIN bw USING (b) GROUP BY t.doc_id)
       |SELECT doc_id, n_tokens, dsir_score,
       | dsir_score // n_tokens AS mean_w_ppm,
       | dsir_score // n_tokens >
       |   (SELECT SUM(dsir_score) // SUM(n_tokens) FROM ds) AS keep
       |FROM ds ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q104

  /** Median/MAD hourly-rate outliers: the robust twin of q85's z-score.
    * Exact interpolated percentiles (`percentile` == `quantile_cont`,
    * the q55 identity); the hour-grain pre-aggregation bounds every
    * later stage by elapsed hours, not event volume. */
  private def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val hourly = load(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val med = hourly.groupBy(col("event_type"))
      .agg(expr("percentile(CAST(n AS DOUBLE), 0.5)").as("med"))
    val dev = hourly.join(broadcast(med), "event_type")
      .withColumn("dv", abs(col("n").cast(DoubleType) - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(dv, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        min(col("med")).as("median_hourly"),
        min(col("mad")).as("mad"),
        sum(when(col("dv") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  private val qMadOutliersSql =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |med AS (
      |  SELECT event_type, quantile_cont(CAST(n AS DOUBLE), 0.5) AS med
      |  FROM hourly GROUP BY 1),
      |dev AS (
      |  SELECT h.event_type, h.n, m.med,
      |    abs(CAST(h.n AS DOUBLE) - m.med) AS dv
      |  FROM hourly h JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(dv, 0.5) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      | MIN(d.med) AS median_hourly, MIN(m.mad) AS mad,
      | CAST(SUM(CASE WHEN d.dv > 3.0 * m.mad THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  // --------------------------------------------------------------- q105

  /** Duplicate word-bigram fraction + top-bigram coverage — the
    * sub-sentence repetition signals of the Gopher rule family (q56
    * covers the line grain). One keyed count on (doc, bigram) with
    * map-side combine, one rollup to the doc grain: linear at any
    * corpus size. */
  private def qNgramRepetition(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        """transform(slice(sequence(1, size(ws)), 1, size(ws) - 1),
          |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"""
          .stripMargin)).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") - 1).as("n_dup_bigrams"),
        max(col("c")).as("top_bigram_n"))
      .withColumn("dup_frac",
        col("n_dup_bigrams").cast(DoubleType) / col("n_bigrams"))
      .withColumn("top_frac",
        col("top_bigram_n").cast(DoubleType) / col("n_bigrams"))
      // cut at ~p80 of each signal's corpus distribution so the flag
      // discriminates (dup_frac p75=0.047, top_frac p75=0.048)
      .withColumn("repetitive",
        col("dup_frac") > 0.05 || col("top_frac") > 0.06)
      .orderBy(col("doc_id"))

  private val qNgramRepetitionSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS syms
      |           FROM documents),
      |bg AS (
      |  SELECT doc_id, syms[i] || ' ' || syms[i + 1] AS bg
      |  FROM w, unnest(range(1, len(syms))) AS u(i)),
      |c AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM bg GROUP BY doc_id, bg),
      |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |        CAST(SUM(c - 1) AS BIGINT) AS n_dup_bigrams,
      |        CAST(MAX(c) AS BIGINT) AS top_bigram_n
      |      FROM c GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, n_dup_bigrams, top_bigram_n,
      | CAST(n_dup_bigrams AS DOUBLE) / n_bigrams AS dup_frac,
      | CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_frac,
      | (CAST(n_dup_bigrams AS DOUBLE) / n_bigrams > 0.05
      |  OR CAST(top_bigram_n AS DOUBLE) / n_bigrams > 0.06) AS repetitive
      |FROM d ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q107

  /** Chunk grain (tokens) and the doc-frequency cut: a 20-token chunk
    * present in >= 2 distinct documents is template text (53 such
    * chunks at the gate SF vs ~1.5k singletons — the rule
    * discriminates without emptying any document). */
  private val ChunkTokens = 20
  private val BoilerplateDf = 2

  private def chunks(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, CAST(ceil(size(ws) / $ChunkTokens.0) AS INT) - 1),
           |  i -> array_join(slice(ws, i * $ChunkTokens + 1, $ChunkTokens), ' '))"""
          .stripMargin)).as(Seq("idx", "chunk")))

  private def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val c = chunks(s, dir)
    val df = c.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
    c.join(df, "chunk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_chunks"),
        sum(when(col("df") >= BoilerplateDf, lit(1L)).otherwise(lit(0L)))
          .cast(LongType).as("n_removed"),
        array_join(expr(
          s"""transform(
             |  array_sort(collect_list(
             |    CASE WHEN df < $BoilerplateDf THEN struct(idx, chunk) END)),
             |  s -> s.chunk)""".stripMargin), " ").as("kept_text"))
      .orderBy(col("doc_id"))
  }

  private val qBoilerplateSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    unnest(range(0, CAST(ceil(len(ws) / $ChunkTokens.0) AS BIGINT)))
       |      AS idx,
       |    unnest(list_transform(
       |      range(0, CAST(ceil(len(ws) / $ChunkTokens.0) AS BIGINT)),
       |      i -> array_to_string(
       |        ws[i*$ChunkTokens+1 : i*$ChunkTokens+$ChunkTokens], ' ')))
       |      AS chunk
       |  FROM w),
       |d AS (SELECT chunk, COUNT(DISTINCT doc_id) AS df
       |      FROM c GROUP BY chunk)
       |SELECT c.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN d.df >= $BoilerplateDf THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_removed,
       |  COALESCE(array_to_string(
       |    list(CASE WHEN d.df < $BoilerplateDf THEN c.chunk END
       |         ORDER BY c.idx), ' '), '') AS kept_text
       |FROM c JOIN d USING (chunk)
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q99_gopher_rules" -> QueryDef(qGopherRules, Some(qGopherRulesSql),
      "Gopher-style lexical rule gate: exact per-doc signals -> verdict"),
    "q100_dsir_weights" -> QueryDef(qDsirWeights, Some(qDsirWeightsSql),
      "DSIR-style hashed-unigram importance weights, integer-exact ppm"),
    "q104_mad_outliers" -> QueryDef(qMadOutliers, Some(qMadOutliersSql),
      "robust median/MAD hourly-rate outliers (q85's heavy-tail twin)"),
    "q105_ngram_repetition" -> QueryDef(qNgramRepetition,
      Some(qNgramRepetitionSql),
      "duplicate-bigram fraction + top-bigram coverage (Gopher repetition)"),
    "q107_boilerplate" -> QueryDef(qBoilerplate, Some(qBoilerplateSql),
      "corpus-frequency boilerplate chunk removal (C4 rule; != q90 keep-first)"))
}
