package graft.ops
package curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load
import Passes.{EvalMod, grams, gramsCte, keepByQuota, keepByQuotaSql, keepBySaltedQuota, quotaCteSql, withQuotas, withThresh}

/** Training-data mixing: decontamination, language models, quantization,
  * rebalancing and weighted sampling. */
object Training {

  /* Training-corpus preparation operators beyond dedup/similarity: eval-set
    * decontamination, unigram-LM quality scoring, embedding quantization,
    * and per-language rebalancing. Each is the standard shape a pretraining
    * data pipeline runs at corpus scale, expressed so the only shuffles are
    * keyed aggregations and every pairwise structure is candidate- or
    * broadcast-scoped:
    *
    *  - decontamination broadcasts the (small) eval-set shingle table and
    *    semi-joins the corpus against it — the corpus side is map-only
    *    until the per-doc match count;
    *  - the unigram model is one corpus-wide word aggregation joined back
    *    to the token stream (Zipf's law keeps the vocabulary head small —
    *    at 100 TB you broadcast the head and shuffle-join the long tail);
    *  - quantization needs one 64-row per-dimension stats table broadcast
    *    back over a map-only encode;
    *  - rebalancing decides membership from a hash threshold that is a pure
    *    function of (doc_id, per-language quota) — no sampling state, no
    *    row order, reproducible across engines and re-shards.
    */

  /** q59: eval-set decontamination — the pretraining hygiene pass that
    * drops training documents sharing any word-5-gram with a held-out
    * benchmark. The eval shingle set (distinct 5-grams of the eval docs)
    * is broadcast, so the corpus-side scan never shuffles its shingles;
    * the per-doc distinct-match count aggregates only the (rare) hits.
    * Output: contaminated docs with their shared-gram counts. */
  private def qDecontam(s: SparkSession, dir: String): DataFrame = {
    val g = grams(s, dir)
    val evalGrams = g.filter(col("doc_id") % EvalMod === 0)
      .select(col("g")).distinct()
    g.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"), col("lang"))
      .agg(countDistinct(col("g")).as("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  private val qDecontamSql =
    s"""WITH $gramsCte,
       |ev AS (SELECT DISTINCT g FROM gg WHERE doc_id % $EvalMod = 0)
       |SELECT c.doc_id, c.lang,
       | CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_shared_grams
       |FROM gg c JOIN ev ON c.g = ev.g
       |WHERE c.doc_id % $EvalMod <> 0
       |GROUP BY c.doc_id, c.lang ORDER BY doc_id""".stripMargin

  /** q60: unigram-LM quality score — the perplexity-proxy filter: docs
    * whose tokens are rare under the corpus's own unigram distribution
    * are flagged low-quality. The score is kept in exact integer space
    * (sum of corpus counts over the doc's tokens, and its ppm-scaled
    * mean) so both engines agree bit-for-bit; the float log-prob is a
    * monotone transform of the same statistic. One corpus-wide word agg
    * builds the model; the scoring join is broadcast (Zipf head). */
  private def qUnigramLM(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    toks.join(broadcast(vocab), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("freq_sum"))
      .select(col("doc_id"), col("n_tokens"), col("freq_sum"),
        floor(col("freq_sum") * 1000000.0 / col("n_tokens"))
          .cast(LongType).as("avg_freq_ppm"))
      .orderBy(col("doc_id"))
  }

  private val qUnigramLMSql =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT w, COUNT(*) AS cnt FROM t GROUP BY w)
      |SELECT t.doc_id, COUNT(*) AS n_tokens,
      | CAST(SUM(v.cnt) AS BIGINT) AS freq_sum,
      | CAST(floor(SUM(v.cnt) * 1000000.0 / COUNT(*)) AS BIGINT) AS avg_freq_ppm
      |FROM t JOIN v USING (w)
      |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** The scalar-quantizer encode stage — (vec_id, d, x, mn, mx, code)
    * with `code = floor(255·(x−mn)/(mx−mn)+0.5)` per component.
    * Shared by q61 and TrainingPropertySpec's reconstruction-error
    * property so the property binds to the production encode, not a
    * copy of the formula. */
  private[graft] def quantizeCodes(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
    val stats = e.groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    e.join(broadcast(stats), "d")
      .withColumn("code", when(col("mx") > col("mn"),
          floor(lit(255.0) * (col("x") - col("mn")) / (col("mx") - col("mn"))
            + 0.5))
        .otherwise(lit(0.0)))
  }

  /** q61: int8 scalar quantization of the embedding column — the
    * compression pass an ANN index build runs before sharding. Stage 1
    * computes per-dimension min/max (a 64-row table, broadcast back);
    * stage 2 encodes each component map-side ([[quantizeCodes]]).
    * `floor(x+0.5)` instead of `round` keeps the two engines' rounding
    * identical; per-vector int sums make the output order-free.
    * Output: per-vector code checksum, range, and dimension count. */
  private def qQuantize(s: SparkSession, dir: String): DataFrame =
    quantizeCodes(s, dir)
      .withColumn("code", col("code").cast(LongType))
      .groupBy(col("vec_id"))
      .agg(sum(col("code")).as("qsum"), min(col("code")).as("qmin"),
        max(col("code")).as("qmax"), count(lit(1)).as("dim"))
      .orderBy(col("vec_id"))

  private val qQuantizeSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |x AS (
      |  SELECT vec_id, r.d, v[r.d + 1] AS x
      |  FROM e CROSS JOIN range(0, 64) r(d)),
      |st AS (SELECT d, min(x) AS mn, max(x) AS mx FROM x GROUP BY d),
      |c AS (
      |  SELECT vec_id,
      |   CASE WHEN mx > mn
      |        THEN CAST(floor(255.0 * (x - mn) / (mx - mn) + 0.5) AS BIGINT)
      |        ELSE 0 END AS code
      |  FROM x JOIN st USING (d))
      |SELECT vec_id, CAST(SUM(code) AS BIGINT) AS qsum,
      | min(code) AS qmin, max(code) AS qmax, COUNT(*) AS dim
      |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** q62: per-language corpus rebalancing — downsample every language to
    * the smallest language's size by deterministic hash thresholding
    * ([[withQuotas]] / [[keepByQuota]]). */
  private def qRebalance(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val quotas = withQuotas(
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")))
    docs.join(broadcast(quotas), "lang")
      .withColumn("keep", keepByQuota)
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("target")).as("target"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L))
          .as("kept_checksum"))
      .orderBy(col("lang"))
  }

  private val qRebalanceSql =
    s"""WITH ${quotaCteSql("documents")},
       |k AS (
       |  SELECT d.lang, q.n_docs, q.target, d.doc_id,
       |   ${keepByQuotaSql("d", "q")} AS keep
       |  FROM documents d JOIN quota q ON d.lang = q.lang)
       |SELECT lang, max(n_docs) AS n_docs, max(target) AS target,
       | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       | CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT)
       |   AS kept_checksum
       |FROM k GROUP BY lang ORDER BY lang""".stripMargin

  /** q68: length-weighted Bernoulli sampling — each document is kept
    * with probability proportional to its weight (here n_chars, the
    * "sample long documents more" curation knob), capped at 1. The
    * decision is a pure function of doc_id: keep iff the first 8 hex
    * digits of md5("smp:"+doc_id) — a uniform 32-bit draw — fall below
    * floor(2^32 · min(w, cap) / cap), rendered as 8 lowercase hex
    * digits so the compare stays lexicographic-=-numeric with no
    * engine-specific hex parsing (same device as [[keepByQuota]]).
    * Zero shuffles until the per-source report: the keep decision is
    * map-side, so at 100 TB this is a pure scan — and any executor can
    * re-derive any row's fate (re-runs and re-shards agree exactly). */
  private val SampleCap = 600L

  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val thresh = format_string("%08x",
      ((least(col("n_chars"), lit(SampleCap)) * lit(4294967296L))
        / lit(SampleCap)).cast(LongType))
    load(s, dir, "documents")
      .withColumn("keep",
        col("n_chars") >= SampleCap ||
          substring(md5(concat(lit("smp:"), col("doc_id"))), 1, 8) < thresh)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L))
          .as("sampled_chars"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L))
          .as("sampled_checksum"))
      .orderBy(col("source"))
  }

  private val qWeightedSampleSql =
    s"""WITH k AS (
       |  SELECT source, doc_id, n_chars,
       |   n_chars >= $SampleCap OR
       |     substring(md5('smp:' || doc_id), 1, 8) <
       |       printf('%08x', (least(n_chars, $SampleCap) * 4294967296)
       |                        // $SampleCap) AS keep
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       | CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
       |   AS sampled_chars,
       | CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT)
       |   AS sampled_checksum
       |FROM k GROUP BY source ORDER BY source""".stripMargin

  /** q79: source-mixture sampling — the data-mixture op behind every
    * pretraining run ("40% en, 15% each of de/es/fr/zh"): q62's
    * equalizer generalized to specified ratios. The feasible corpus
    * budget is T = min_k(n_k / r_k) (the binding language caps the
    * whole mixture — you cannot upsample what you don't have without
    * repetition); per-language targets floor(T·r_k) then become the
    * same deterministic hash thresholds as q62. All driver-side
    * arithmetic happens on a #languages-row table; the per-doc keep
    * rule stays a broadcast-join + map-side compare. */
  private val MixtureRatios = Seq(
    ("en", 0.40), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))

  private def qSourceMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = load(s, dir, "documents")
    val ratios = MixtureRatios.toDF("lang", "ratio")
    val budget = min(col("n_docs") / col("ratio"))
      .over(org.apache.spark.sql.expressions.Window.partitionBy())
    // ratios LEFT JOIN counts, not inner: a ratio language absent from
    // the corpus must bind the budget to 0 (T = min n_k/r_k with
    // n_k = 0 — the mixture is infeasible and NOTHING should be kept),
    // not silently drop out of the min
    val quotas = withThresh(
      broadcast(ratios)
        .join(docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
          Seq("lang"), "left")
        .withColumn("n_docs", coalesce(col("n_docs"), lit(0L)))
        .withColumn("target", floor(budget * col("ratio")).cast(LongType)))
    docs.join(broadcast(quotas), "lang")
      .withColumn("keep", keepBySaltedQuota("mix:"))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("target")).as("target_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L))
          .as("kept_checksum"))
      .orderBy(col("lang"))
  }

  private val qSourceMixtureSql = {
    val vals = MixtureRatios
      .map { case (l, r) => s"('$l', CAST($r AS DOUBLE))" }.mkString(", ")
    s"""WITH r(lang, ratio) AS (VALUES $vals),
       |cnt AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |q AS (
       |  SELECT r.lang, COALESCE(cnt.n_docs, 0) AS n_docs, r.ratio,
       |   min(COALESCE(cnt.n_docs, 0) / r.ratio) OVER () AS budget
       |  FROM r LEFT JOIN cnt USING (lang)),
       |q2 AS (
       |  SELECT lang, n_docs,
       |   CAST(floor(budget * ratio) AS BIGINT) AS target,
       |   CASE WHEN n_docs = 0 THEN '0000'
       |        ELSE printf('%04x', CAST(floor(
       |          65536.0 * CAST(floor(budget * ratio) AS BIGINT) / n_docs)
       |          AS INT))
       |   END AS thresh
       |  FROM q),
       |k AS (
       |  SELECT d.lang, q2.n_docs, q2.target, d.doc_id,
       |   ${keepByQuotaSql("d", "q2", "mix:")} AS keep
       |  FROM documents d JOIN q2 USING (lang))
       |SELECT lang, max(n_docs) AS n_docs, max(target) AS target_docs,
       | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       | CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT)
       |   AS kept_checksum
       |FROM k GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q88: BLOOM-PRUNED decontamination — the 100-TB form of q59. A
    * broadcast join against the full eval shingle set ships every
    * distinct eval gram to every executor; a Bloom filter of the same
    * set is a fixed few MB at any eval size and prunes the corpus gram
    * stream BEFORE the join, so the exact verify join only sees
    * might-contain survivors (the two-stage sketch-then-verify shape
    * the LSH chain uses for near-dups, applied to containment).
    * Correctness story, pinned by the verdicts: Bloom has NO false
    * negatives, so verify-after-prune equals q59's exact answer
    * (`superset_ok` — instance counts match); false positives only
    * cost verify work, bounded by the configured fpp (`fp_ok`). Both
    * verdicts are deterministic: the filter's bit array is a
    * commutative OR of fixed-seed hashes ([[graft.functions.bloom]]).
    * Exact counts ride the hash; bloom-derived numbers stay out. */
  private def qBloomDecontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Fpp = 0.01
    // the gram table feeds five actions (eval count, Bloom build, the
    // pruned-candidate agg, the un-pruned exact join, nTrain) —
    // materialize the explode+md5 once, the q67 lesson applied here
    val g = grams(s, dir).transform(graft.util.Pin.apply)
    val evalG = g.filter(col("doc_id") % EvalMod === 0)
      .select(col("g")).distinct()
    val filter = graft.functions.bloom.buildString(
      evalG.as[String], evalG.count(), Fpp)
    val train = g.filter(col("doc_id") % EvalMod =!= 0)
    val nTrain = train.count()
    val cand = train
      .filter(graft.functions.bloom.mightContain(col("g"), filter))
    // exact verify on the PRUNED stream; `hit` marks true matches
    val verified = cand.join(
      broadcast(evalG.withColumn("hit", lit(1))), Seq("g"), "left")
    val agg = verified.agg(
      count(lit(1)).as("n_cand"),
      sum(coalesce(col("hit"), lit(0))).as("n_exact"),
      countDistinct(when(col("hit") === 1, col("doc_id"))).as("n_docs")).head()
    val (nCand, nExact, nDocs) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    // independent un-pruned exact count for the no-false-negative check
    val nExactFull = train.join(broadcast(evalG), "g").count()
    val fpBound = math.ceil(2.0 * Fpp * nTrain).toLong
    Seq((nDocs, nExactFull,
        nExact == nExactFull,
        nCand - nExact <= fpBound))
      .toDF("n_contaminated_docs", "n_shared_instances",
        "superset_ok", "fp_ok")
  }

  private val qBloomDecontamSql =
    s"""WITH $gramsCte,
       |ev AS (SELECT DISTINCT g FROM gg WHERE doc_id % $EvalMod = 0),
       |m AS (SELECT c.doc_id FROM gg c JOIN ev USING (g)
       |      WHERE c.doc_id % $EvalMod <> 0)
       |SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs,
       | CAST(COUNT(*) AS BIGINT) AS n_shared_instances,
       | TRUE AS superset_ok, TRUE AS fp_ok
       |FROM m""".stripMargin

  /** q91: bigram-LM conditional-frequency scoring — the CCNet-style
    * perplexity filter one order up from q60's unigram score: a doc of
    * common words in IMPROBABLE order (shuffled text, keyword stuffing)
    * scores low here while passing q60. Per adjacent pair (w1,w2) the
    * corpus model gives P(w2|w1) ≈ c(w1,w2)/c(w1·); the per-position
    * statistic is kept in exact integer space — `c2·10⁶ DIV c1`, a
    * ppm-scaled conditional frequency — so both engines agree
    * bit-for-bit (a float log-perplexity is a monotone transform of the
    * same sum, as in q60). Scale shape: bigram positions are map-side
    * (a per-doc window, no cross-doc shuffle beyond the doc key); the
    * model is two keyed counts; the scoring join is equi-keyed on
    * (w1,w2), whose Zipf head AQE broadcasts at gate scale and
    * shuffle-joins at corpus scale — both correct. */
  /** (doc_id, n_bigrams, cond_ppm_sum, avg_cond_ppm) — the q91 scoring
    * core, shared with the q95 ensemble. */
  private def bigramScores(s: SparkSession, dir: String): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val bi = load(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("i", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(wDoc))
      .filter(col("w2").isNotNull)
    val uni = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val gram = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    bi.join(uni, "w1").join(gram, Seq("w1", "w2"))
      .withColumn("ppm", expr("c2 * 1000000 DIV c1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("ppm")).as("cond_ppm_sum"))
      .withColumn("avg_cond_ppm", expr("cond_ppm_sum DIV n_bigrams"))
  }

  private def qBigramLM(s: SparkSession, dir: String): DataFrame =
    bigramScores(s, dir).orderBy(col("doc_id"))

  /** DuckDB CTE chain reproducing [[bigramScores]] as `bgs` (names
    * prefixed `bg` so ensemble compositions can add their own CTEs). */
  private val bigramCteSql =
    """bgw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bgb AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
      |  FROM bgw WHERE len(ws) >= 2),
      |bgu AS (SELECT w1, COUNT(*) AS c1 FROM bgb GROUP BY w1),
      |bgg AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgb GROUP BY w1, w2),
      |bgs AS (
      |  SELECT bgb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM((bgg.c2 * 1000000) // bgu.c1) AS BIGINT) AS cond_ppm_sum,
      |    CAST(SUM((bgg.c2 * 1000000) // bgu.c1) // COUNT(*) AS BIGINT)
      |      AS avg_cond_ppm
      |  FROM bgb JOIN bgu USING (w1)
      |           JOIN bgg ON bgb.w1 = bgg.w1 AND bgb.w2 = bgg.w2
      |  GROUP BY bgb.doc_id)""".stripMargin

  private val qBigramLMSql =
    s"""WITH $bigramCteSql
       |SELECT doc_id, n_bigrams, cond_ppm_sum, avg_cond_ppm
       |FROM bgs ORDER BY doc_id""".stripMargin

  /** q95: QUALITY ENSEMBLE — the rank-normalized blend step a real
    * filter stack ends with (DCLM/FineWeb style): no two quality
    * signals share a scale, so each is converted to a per-language
    * percentile rank and the blend averages the ranks. Signal A is
    * q31's lexical score (float, but hash-gated identical on both
    * engines); signal B is q91's bigram conditional-frequency score
    * (integer). Normalization stays in exact integer space:
    * `(rank−1)·10⁶ DIV (n_lang−1)` ppm, mean by integer DIV 2 — no
    * float percentile anywhere. Scale: two per-language rank windows
    * (the q78 shape; at extreme skew the exact rank swaps for q71's
    * sketch boundaries) over one equi-join of the two signal tables. */
  private def qQualityEnsemble(s: SparkSession, dir: String): DataFrame = {
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("avg_cond_ppm").desc, col("doc_id"))
    val wN = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val quality = load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a')))")
          .cast(LongType).as("n_stop"),
        size(array_distinct(split(col("text"), " "))).cast(LongType)
          .as("n_uniq"))
      .withColumn("score",
        (col("n_uniq").cast("double") / col("n_tokens")) *
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")))
      .select(col("doc_id"), col("lang"), col("score"))
    quality.join(bigramScores(s, dir)
        .select(col("doc_id"), col("avg_cond_ppm")), "doc_id")
      .withColumn("a_rank", row_number().over(wA).cast(LongType))
      .withColumn("b_rank", row_number().over(wB).cast(LongType))
      .withColumn("n_lang", count(lit(1)).over(wN))
      .withColumn("blend_ppm", expr(
        """CASE WHEN n_lang > 1 THEN
          |  ((a_rank - 1) * 1000000 DIV (n_lang - 1)
          |   + (b_rank - 1) * 1000000 DIV (n_lang - 1)) DIV 2
          |ELSE 0 END""".stripMargin))
      .select(col("doc_id"), col("lang"), col("a_rank"), col("b_rank"),
        col("blend_ppm"))
      .orderBy(col("doc_id"))
  }

  private val qQualityEnsembleSql =
    s"""WITH $bigramCteSql,
       |qt AS (
       |  SELECT doc_id, lang,
       |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |   CAST(len(list_filter(string_split(text, ' '),
       |     w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
       |   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id, lang,
       |   (CAST(n_uniq AS DOUBLE) / n_tokens)
       |     * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) AS score
       |  FROM qt),
       |j AS (
       |  SELECT qs.doc_id, qs.lang, qs.score, bgs.avg_cond_ppm
       |  FROM qs JOIN bgs ON bgs.doc_id = qs.doc_id),
       |r AS (
       |  SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY score DESC, doc_id) AS a_rank,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY avg_cond_ppm DESC, doc_id) AS b_rank,
       |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
       |  FROM j)
       |SELECT doc_id, lang, CAST(a_rank AS BIGINT) AS a_rank,
       |  CAST(b_rank AS BIGINT) AS b_rank,
       |  CAST(CASE WHEN n_lang > 1 THEN
       |      ((a_rank - 1) * 1000000 // (n_lang - 1)
       |       + (b_rank - 1) * 1000000 // (n_lang - 1)) // 2
       |    ELSE 0 END AS BIGINT) AS blend_ppm
       |FROM r ORDER BY doc_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q59_decontaminate" -> QueryDef(qDecontam, Some(qDecontamSql),
      "eval-set n-gram decontamination: broadcast eval shingles, per-doc match counts"),
    "q60_unigram_lm" -> QueryDef(qUnigramLM, Some(qUnigramLMSql),
      "unigram-LM quality score: corpus word model -> integer per-doc frequency stats"),
    "q61_embed_quantize" -> QueryDef(qQuantize, Some(qQuantizeSql),
      "int8 embedding quantization: per-dim stats broadcast -> map-side encode"),
    "q62_lang_rebalance" -> QueryDef(qRebalance, Some(qRebalanceSql),
      "per-language rebalancing via deterministic hash quota thresholds"),
    "q68_weighted_sample" -> QueryDef(qWeightedSample, Some(qWeightedSampleSql),
      "length-weighted Bernoulli sampling, map-side deterministic keep rule"),
    "q79_source_mixture" -> QueryDef(qSourceMixture, Some(qSourceMixtureSql),
      "data-mixture sampling: ratio quotas bounded by the binding language"),
    "q88_bloom_decontaminate" -> QueryDef(qBloomDecontam,
      Some(qBloomDecontamSql),
      "Bloom-pruned decontamination: sketch-then-verify == exact q59, fpp-bounded"),
    "q91_bigram_lm" -> QueryDef(qBigramLM, Some(qBigramLMSql),
      "bigram conditional-frequency scoring (integer-exact perplexity proxy)"),
    "q95_quality_ensemble" -> QueryDef(qQualityEnsemble,
      Some(qQualityEnsembleSql),
      "rank-normalized blend of lexical + bigram-LM quality signals"))
}
