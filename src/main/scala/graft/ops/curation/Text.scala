package graft.ops
package curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{QueryDef, Tables}
import Tables.load

/** Per-document text analysis: tokens, quality, language, fingerprints,
  * PII, repetition, tf-idf and chunking. */
object Text {

  /* Text-analysis operators a large-scale training-data pipeline needs:
    * token statistics, quality scoring, language-ID heuristics, document
    * fingerprinting. All are single-pass narrow projections + one hash
    * aggregation — no shuffle beyond the final groupBy, so they scale
    * linearly with the corpus.
    */

  /** Whitespace token counting + type-token ratio. */
  private def qStats(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast(LongType)
          .as("n_uniq_tokens"),
        expr("length(replace(text, ' ', ''))").cast(LongType)
          .as("n_token_chars"))
      .withColumn("avg_token_len",
        col("n_token_chars").cast(DoubleType) / col("n_tokens"))
      .withColumn("ttr",
        col("n_uniq_tokens").cast(DoubleType) / col("n_tokens"))
      .orderBy(col("doc_id"))

  private val qStatsSql =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
      | CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_token_chars,
      | CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
      | CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |   / len(string_split(text, ' ')) AS ttr
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: stopword ratio + type-token ratio + length gate
    * (the length/punct/stopword-ratio class of corpus filters). */
  private def qQuality(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a')))")
          .cast(LongType).as("n_stop"),
        size(array_distinct(split(col("text"), " "))).cast(LongType)
          .as("n_uniq"))
      .withColumn("stop_ratio",
        col("n_stop").cast(DoubleType) / col("n_tokens"))
      .withColumn("score",
        (col("n_uniq").cast(DoubleType) / col("n_tokens")) *
          (lit(1.0) - col("stop_ratio")))
      .withColumn("is_quality",
        col("n_tokens").between(20, 400) && col("stop_ratio") < 0.2)
      .select("doc_id", "n_tokens", "n_stop", "stop_ratio", "score",
        "is_quality")
      .orderBy(col("doc_id"))

  private val qQualitySql =
    """SELECT doc_id, n_tokens, n_stop,
      | CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      | (CAST(n_uniq AS DOUBLE) / n_tokens) * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) AS score,
      | n_tokens BETWEEN 20 AND 400 AND CAST(n_stop AS DOUBLE) / n_tokens < 0.2 AS is_quality
      |FROM (
      |  SELECT doc_id,
      |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |   CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: marker-token ratio + mean token length
    * decide the predicted tag (an n-gram-frequency classifier shape,
    * deterministic so the oracle can mirror it). */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("actual_lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a')))")
          .cast(LongType).as("n_stop"),
        expr("length(replace(text, ' ', ''))").cast(LongType).as("n_chars"))
      .withColumn("stop_ratio",
        col("n_stop").cast(DoubleType) / col("n_tokens"))
      .withColumn("avg_len",
        col("n_chars").cast(DoubleType) / col("n_tokens"))
      .withColumn("predicted_lang",
        when(col("stop_ratio") >= 0.1, "en")
          .when(col("avg_len") >= 4.8, "de")
          .otherwise("unk"))
      .select("doc_id", "actual_lang", "predicted_lang", "stop_ratio")
      .orderBy(col("doc_id"))

  private val qLangIdSql =
    """SELECT doc_id, lang AS actual_lang,
      | CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.1 THEN 'en'
      |      WHEN CAST(n_chars AS DOUBLE) / n_tokens >= 4.8 THEN 'de'
      |      ELSE 'unk' END AS predicted_lang,
      | CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio
      |FROM (
      |  SELECT doc_id, lang,
      |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |   CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |   CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: hash of the 8-token prefix shingle —
    * groups near-identical leads (the content-defined-fingerprint
    * class; rolling-hash winnowing lives in the non-oracle surface). */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
          .as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_doc"))
      .orderBy(col("fingerprint"))

  private val qFingerprintSql =
    """SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fingerprint,
      | COUNT(*) AS n_docs, min(doc_id) AS keeper_doc
      |FROM documents
      |GROUP BY 1 ORDER BY fingerprint""".stripMargin

  /** BPE-style regex pre-tokenizer pattern (the GPT-2 shape minus its
    * lookaheads, which RE2 — and therefore the DuckDB oracle — cannot
    * run): contractions, letter runs, digit runs, punctuation runs.
    * Whitespace is a separator, not a token. */
  // whitespace spelled out: Java's \s includes \x0B, RE2's does not —
  // the explicit class means Spark and the oracle agree on every byte
  private val BpePattern =
    "'(?:s|d|m|t|ll|ve|re)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]+"

  /** Sub-word-style token counting: the BPE-ish regex splitter next to
    * the whitespace counter (q30) — the pair a token-budgeted corpus
    * pipeline actually uses. */
  private def qBpeTokens(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_bpe_tokens"),
        size(array_distinct(col("toks"))).cast(LongType).as("n_uniq_bpe"))
      .orderBy(col("doc_id"))

  // the pattern carries a literal apostrophe: escape it for the SQL text
  private def sqlPat = BpePattern.replace("'", "''")

  private val qBpeTokensSql =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$sqlPat')) AS BIGINT) AS n_bpe_tokens,
       | CAST(len(list_distinct(regexp_extract_all(text, '$sqlPat'))) AS BIGINT) AS n_uniq_bpe
       |FROM documents ORDER BY doc_id""".stripMargin

  private val WinK = 8 // char-gram width
  private val WinW = 4 // winnowing window

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    * MOSS algorithm — the rolling-hash fingerprint class): hash every
    * 8-char gram, keep the minimum of each 4-gram window, dedupe. The
    * guarantee: any shared substring of length ≥ k+w−1 between two docs
    * yields at least one shared fingerprint, at ~1/w of the gram
    * density. One narrow projection per doc — linear, no shuffle before
    * the final sort. */
  private def qWinnow(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .filter(length(col("text")) >= WinK + WinW - 1)
      .select(col("doc_id"), expr(
        s"""transform(sequence(1, length(text) - ${WinK - 1}),
           |  i -> substring(md5(substring(text, i, $WinK)), 1, 8))""".stripMargin)
        .as("grams"))
      .select(col("doc_id"), expr(
        s"""array_distinct(transform(sequence(1, size(grams) - ${WinW - 1}),
           |  j -> array_min(slice(grams, j, $WinW))))""".stripMargin)
        .as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast(LongType).as("n_fingerprints"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy(col("doc_id"))

  private val qWinnowSql =
    s"""WITH g AS (
       |  SELECT doc_id,
       |   list_transform(range(1, length(text) - ${WinK - 2}),
       |     i -> substring(md5(substring(text, CAST(i AS INT), $WinK)), 1, 8)) AS grams
       |  FROM documents WHERE length(text) >= ${WinK + WinW - 1}),
       |w AS (
       |  SELECT doc_id,
       |   list_distinct(list_transform(range(1, len(grams) - ${WinW - 2}),
       |     j -> list_min(grams[CAST(j AS INT):CAST(j + ${WinW - 1} AS INT)]))) AS fps
       |  FROM g)
       |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
       | list_min(fps) AS min_fp, list_max(fps) AS max_fp
       |FROM w ORDER BY doc_id""".stripMargin

  /** PII patterns shared by the Spark path and the oracle. Plain
    * leftmost-greedy constructs only (no lookaround, no \b) so Java's
    * regex engine and DuckDB's RE2 match byte-for-byte the same spans. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  /** q53: PII redaction (emails + phone numbers → placeholder tokens)
    * with per-doc match counts — the scrubbing pass every training
    * corpus runs before anything else sees the text. The synthetic
    * corpus carries no natural PII, so both engines splice a
    * deterministic contact line into each document FIRST, then the
    * Spark path redacts and the oracle recomputes the same redaction:
    * the gate verifies the redaction operator, not the splice. */
  private def qPiiRedact(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" now")).as("t2"))
      .select(col("doc_id"),
        regexp_count(col("t2"), lit(EmailRe)).cast(LongType).as("n_emails"),
        regexp_count(col("t2"), lit(PhoneRe)).cast(LongType).as("n_phones"),
        regexp_replace(regexp_replace(col("t2"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("red"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("red")).as("redacted_hash"),
        length(col("red")).cast(LongType).as("redacted_len"))
      .orderBy(col("doc_id"))

  private val qPiiRedactSql =
    s"""WITH t AS (
       |  SELECT doc_id,
       |   text || ' contact user' || doc_id || '@example.com or +1-555-'
       |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS t2
       |  FROM documents),
       |r AS (
       |  SELECT doc_id,
       |   CAST(len(regexp_extract_all(t2, '$EmailRe')) AS BIGINT) AS n_emails,
       |   CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS n_phones,
       |   regexp_replace(regexp_replace(t2, '$EmailRe', '<EMAIL>', 'g'),
       |     '$PhoneRe', '<PHONE>', 'g') AS red
       |  FROM t)
       |SELECT doc_id, n_emails, n_phones, md5(red) AS redacted_hash,
       | CAST(length(red) AS BIGINT) AS redacted_len
       |FROM r ORDER BY doc_id""".stripMargin

  /** q56: repetition scoring (the Gopher-class repeated-n-gram signal):
    * duplicate word-bigram fraction per document. High values mark
    * degenerate/boilerplate text a quality gate drops. Narrow
    * projection, no shuffle before the final sort. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', ws[i], ws[i+1]))")
        .as("bg"))
      .select(col("doc_id"),
        size(col("bg")).cast(LongType).as("n_bigrams"),
        size(array_distinct(col("bg"))).cast(LongType).as("n_uniq_bigrams"))
      .withColumn("dup_fraction",
        lit(1.0) - col("n_uniq_bigrams").cast(DoubleType) / col("n_bigrams"))
      .orderBy(col("doc_id"))

  private val qRepetitionSql =
    """WITH b AS (
      |  SELECT doc_id,
      |   list_transform(range(1, len(ws)),
      |     i -> ws[i] || ' ' || ws[i+1]) AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 2)
      |SELECT doc_id,
      | CAST(len(bg) AS BIGINT) AS n_bigrams,
      | CAST(len(list_distinct(bg)) AS BIGINT) AS n_uniq_bigrams,
      | 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_fraction
      |FROM b ORDER BY doc_id""".stripMargin

  /** q58: distinctive-term extraction — the TF-IDF join shape with
    * integer-only determinism: corpus-wide document frequency per term
    * (one distinct + one count agg), joined back to the per-doc term
    * sets, rank terms per doc by rarity (df asc, term asc), keep top 3.
    * The float idf = ln(N/df) is deliberately NOT compared — libm vs
    * JVM log can differ in the last ulp; ranking by raw df is
    * order-equivalent and bit-stable. Plan shape at scale: the df table
    * is vocabulary-sized (≪ corpus), the join is a broadcast-able dim
    * join, and the per-doc window sorts each doc's term list only. */
  private def qRareTerms(s: SparkSession, dir: String): DataFrame = {
    val docTerms = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
    val df = docTerms.groupBy(col("term"))
      .agg(count(lit(1)).cast(LongType).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("term").asc)
    docTerms.join(df, "term")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast(LongType).as("rnk"),
        col("term"), col("df"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  private val qRareTermsSql =
    """WITH dt AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY term),
      |r AS (
      |  SELECT dt.doc_id, dt.term, f.df,
      |   ROW_NUMBER() OVER (PARTITION BY dt.doc_id
      |                      ORDER BY f.df ASC, dt.term ASC) AS rnk
      |  FROM dt JOIN f USING (term))
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, df
      |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** q70: TF-IDF sparse cosine similarity — the sparse-vector twin of
    * the dense embedding battery (q38/q40). A document is a sparse
    * vector over its vocabulary; similar pairs are found by joining
    * POSTING LISTS on the term (the classic inverted-index shape), so
    * the shuffle key is the term and pairs only materialize between
    * docs sharing one — never an all-pairs scan.
    *
    * Hash-gateability comes from integer-exact weights: idf is the
    * floor-divided rational ((N·1024) // df) instead of a log — a
    * monotone-equivalent weighting (both order term rarity the same
    * way) that avoids cross-engine libm drift (Java's Math.log is not
    * guaranteed correctly rounded; C's is a different 1-ulp story).
    * Dot products and norms are then exact integer sums (DECIMAL in
    * Spark, HUGEINT in DuckDB — order-free under any shuffle), and the
    * final cosine is sqrt/divide over exactly-agreed integers: IEEE-
    * deterministic in both engines.
    *
    * The df ≤ [[TfIdfMaxDf]] vocabulary cap plays the same double role
    * as in q67: stopwords carry no signal AND are the only unbounded
    * posting lists — dropping them bounds the per-term join fan-out at
    * any corpus size. */
  private val TfIdfMaxDf = 50
  private val TfIdfCosine = 0.4
  private val DecimalType38 = DecimalType(38, 0)

  private def qTfIdfCosine(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val nTotal = docs.groupBy().agg(count(lit(1)).as("n_total"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= TfIdfMaxDf)
    val weights = tf.join(dfreq, "w")
      .join(broadcast(nTotal))
      .withColumn("wq", expr("tf * ((n_total * 1024) div df)"))
      .select(col("doc_id"), col("w"), col("wq"))
    // cast each FACTOR to decimal before multiplying: wq can reach
    // ~tf * N * 1024, so a Long product wq*wq overflows near N ≈ 3M
    // docs — the decimal multiply keeps the "exact integer sums"
    // invariant at any corpus size (DuckDB mirrors with HUGEINT)
    val norms = weights.groupBy(col("doc_id"))
      .agg(sum(col("wq").cast(DecimalType38) * col("wq")).as("nq"))
    val pairs = weights.as("a")
      .join(weights.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.wq").cast(DecimalType38) * col("b.wq")).as("dotq"),
        count(lit(1)).as("shared_terms"))
    pairs
      .join(norms.select(col("doc_id").as("doc_a"), col("nq").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nq").as("nb")), "doc_b")
      .withColumn("cosine", col("dotq").cast(DoubleType)
        / (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))))
      .filter(col("cosine") >= TfIdfCosine)
      .select(col("doc_a"), col("doc_b"), col("shared_terms"), col("cosine"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val qTfIdfCosineSql =
    s"""WITH tf AS (
       |  SELECT doc_id, w, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents) t
       |  GROUP BY doc_id, w),
       |dfreq AS (
       |  SELECT w, COUNT(*) AS df FROM tf GROUP BY w
       |  HAVING COUNT(*) <= $TfIdfMaxDf),
       |weights AS (
       |  SELECT tf.doc_id, tf.w,
       |    tf.tf * (((SELECT COUNT(*) FROM documents) * 1024) // df.df) AS wq
       |  FROM tf JOIN dfreq df USING (w)),
       |norms AS (SELECT doc_id, SUM(CAST(wq AS HUGEINT) * wq) AS nq
       |          FROM weights GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    SUM(CAST(a.wq AS HUGEINT) * b.wq) AS dotq, COUNT(*) AS shared_terms
       |  FROM weights a JOIN weights b
       |    ON a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, p.shared_terms,
       |  CAST(p.dotq AS DOUBLE)
       |    / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE)))
       |    AS cosine
       |FROM pairs p
       |JOIN norms na ON na.doc_id = p.doc_a
       |JOIN norms nb ON nb.doc_id = p.doc_b
       |WHERE CAST(p.dotq AS DOUBLE)
       |    / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE)))
       |    >= $TfIdfCosine
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q78: curriculum phases — documents bucketed into 4 quality
    * quartiles PER LANGUAGE (ntile over the q31 score with a doc_id
    * tie-break so the bucketing is total), reported as per-(lang, phase)
    * stats. This is the curriculum-learning data op: train on phase 4
    * (cleanest) first, widen downward. The window partitions by
    * language — at 100 TB a language is a skewed giant, so the scale
    * form replaces exact ntile with approx-quantile phase BOUNDARIES
    * (q71's sketch, broadcast back as a map-side bucketer); the exact
    * form here is the oracle that sketch is validated against. */
  private def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("score").asc, col("doc_id").asc)
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a')))")
          .cast(LongType).as("n_stop"),
        size(array_distinct(split(col("text"), " "))).cast(LongType)
          .as("n_uniq"))
      .withColumn("score",
        (col("n_uniq").cast(DoubleType) / col("n_tokens")) *
          (lit(1.0) - col("n_stop").cast(DoubleType) / col("n_tokens")))
      .withColumn("phase", ntile(4).over(w).cast(LongType))
      .groupBy(col("lang"), col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("phase_tokens"),
        sum(col("doc_id")).as("member_checksum"))
      .orderBy(col("lang"), col("phase"))
  }

  private val qCurriculumSql =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |   CAST(len(list_filter(string_split(text, ' '),
      |     w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, lang, n_tokens,
      |   CAST(ntile(4) OVER (PARTITION BY lang ORDER BY
      |     (CAST(n_uniq AS DOUBLE) / n_tokens)
      |       * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) ASC, doc_id ASC)
      |     AS BIGINT) AS phase
      |  FROM t)
      |SELECT lang, phase, COUNT(*) AS n_docs,
      | CAST(SUM(n_tokens) AS BIGINT) AS phase_tokens,
      | CAST(SUM(doc_id) AS BIGINT) AS member_checksum
      |FROM p GROUP BY lang, phase ORDER BY lang, phase""".stripMargin

  // --------------------------------------------------------------- q131

  /** q131: OVERLAPPING CHUNK WINDOWS — the RAG/retrieval chunker: fixed
    * window of [[ChunkW]] tokens advanced by stride [[ChunkS]] (so
    * consecutive chunks share `W-S` boundary tokens and no retrieval
    * query can fall into a blind spot between chunks). Distinct from
    * q90's disjoint chunking: overlap is the point here. Row-local
    * explode (`sequence` of starts) — embarrassingly parallel, no
    * shuffle before the final sort. */
  private val ChunkW = 64
  private val ChunkS = 48

  private def qChunkOverlap(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(expr(s"sequence(0, size(ws) - 1, $ChunkS)")).as("start"))
      .select(col("doc_id"), (col("start") / ChunkS).cast(LongType).as("chunk_idx"),
        col("start").cast(LongType).as("start_tok"),
        least(lit(ChunkW), size(col("ws")) - col("start")).cast(LongType).as("n_tok"),
        expr(s"element_at(ws, start + 1)").as("head_tok"),
        expr(s"element_at(ws, cast(least(start + $ChunkW, size(ws)) as int))").as("tail_tok"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val qChunkOverlapSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents),
       |c AS (SELECT doc_id, ws, unnest(range(0, len(ws), $ChunkS)) AS start
       |      FROM w)
       |SELECT doc_id,
       |  CAST(start // $ChunkS AS BIGINT) AS chunk_idx,
       |  CAST(start AS BIGINT) AS start_tok,
       |  CAST(least($ChunkW, len(ws) - start) AS BIGINT) AS n_tok,
       |  ws[start + 1] AS head_tok,
       |  ws[least(start + $ChunkW, len(ws))] AS tail_tok
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ------------------------------------------------------------- q187

  /** q187: N-GRAM NOVELTY vs a reference corpus — "how much of this
    * document is text we have never seen": the dataset-curation signal
    * behind dedup thresholds and freshness screens (and the inverse of
    * contamination). Reference = even doc_ids, eval = odd. Per eval
    * doc: distinct word-5-gram digests, anti-joined against the
    * reference's distinct digest set; novelty_ppm = novel·10^6 div
    * distinct grams. Per-language means stay integer (sum div count).
    *
    * Scale shape: gram tables are (digest)-keyed; the membership probe
    * is a LEFT ANTI equi-join on the digest — posting-list algebra,
    * never a doc×doc comparison; everything partial-aggregates before
    * the shuffle. */
  private def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    def grams(docs: DataFrame) = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(0, size(ws) - 5),
          |  i -> md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
          |                     ws[i+4])))""".stripMargin)).as("g"))
      .distinct()
    val d = load(s, dir, "documents")
    val ref = grams(d.filter(pmod(col("doc_id"), lit(2)) === 0))
      .select(col("g")).distinct()
    val ev = grams(d.filter(pmod(col("doc_id"), lit(2)) === 1))
    val novel = ev.join(ref, Seq("g"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("novel"))
    ev.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .withColumn("novel", coalesce(col("novel"), lit(0L)))
      .withColumn("novelty_ppm", expr("novel * 1000000 div n_grams"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(novelty_ppm) div count(1)").as("mean_novelty_ppm"),
        min(col("novelty_ppm")).as("min_novelty_ppm"),
        max(col("novelty_ppm")).as("max_novelty_ppm"))
      .orderBy(col("lang"))
  }

  private val qNgramNoveltySql =
    """WITH w AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS ws
      |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |g AS (
      |  SELECT DISTINCT doc_id, lang,
      |    unnest(list_transform(range(1, len(ws) - 3),
      |      i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
      |                ws[i+3] || ' ' || ws[i+4]))) AS g
      |  FROM w),
      |ref AS (SELECT DISTINCT g FROM g WHERE doc_id % 2 = 0),
      |ev AS (SELECT * FROM g WHERE doc_id % 2 = 1),
      |novel AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS novel
      |  FROM ev ANTI JOIN ref USING (g) GROUP BY 1),
      |per_doc AS (
      |  SELECT ev.doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |    COALESCE(MAX(novel.novel), 0) AS novel
      |  FROM ev LEFT JOIN novel ON ev.doc_id = novel.doc_id
      |  GROUP BY 1, 2),
      |ppm AS (
      |  SELECT lang, novel * 1000000 // n_grams AS novelty_ppm
      |  FROM per_doc)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(novelty_ppm) // COUNT(*) AS BIGINT) AS mean_novelty_ppm,
      |  CAST(MIN(novelty_ppm) AS BIGINT) AS min_novelty_ppm,
      |  CAST(MAX(novelty_ppm) AS BIGINT) AS max_novelty_ppm
      |FROM ppm GROUP BY lang ORDER BY lang""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q30_text_token_stats" -> QueryDef(qStats, Some(qStatsSql),
      "token counting + type-token ratio"),
    "q31_text_quality" -> QueryDef(qQuality, Some(qQualitySql),
      "quality scoring (stopword/length gates)"),
    "q32_text_langid" -> QueryDef(qLangId, Some(qLangIdSql),
      "language-ID heuristic"),
    "q33_text_fingerprint" -> QueryDef(qFingerprint, Some(qFingerprintSql),
      "prefix-shingle document fingerprint"),
    "q49_text_bpe_tokens" -> QueryDef(qBpeTokens, Some(qBpeTokensSql),
      "BPE-style regex pre-tokenizer counts"),
    "q50_text_winnowing" -> QueryDef(qWinnow, Some(qWinnowSql),
      "winnowing fingerprints (rolling k-gram hash + window minima)"),
    "q53_text_pii_redact" -> QueryDef(qPiiRedact, Some(qPiiRedactSql),
      "PII redaction: email/phone scrub with match counts"),
    "q56_text_repetition" -> QueryDef(qRepetition, Some(qRepetitionSql),
      "repetition score: duplicate word-bigram fraction"),
    "q58_text_rare_terms" -> QueryDef(qRareTerms, Some(qRareTermsSql),
      "distinctive terms per doc: df join + per-doc rank (TF-IDF shape)"),
    "q70_tfidf_cosine" -> QueryDef(qTfIdfCosine, Some(qTfIdfCosineSql),
      "TF-IDF sparse cosine pairs via posting-list join, integer-exact idf"),
    "q78_curriculum_ntile" -> QueryDef(qCurriculum, Some(qCurriculumSql),
      "curriculum phases: per-language quality quartiles (total-order ntile)"),
    "q131_chunk_overlap" -> QueryDef(qChunkOverlap, Some(qChunkOverlapSql),
      "RAG chunking: fixed window, overlapping stride, row-local explode"),
    "q187_ngram_novelty" -> QueryDef(qNgramNovelty, Some(qNgramNoveltySql),
      "per-doc 5-gram novelty vs reference corpus via digest anti-join, ppm-exact"))
}
