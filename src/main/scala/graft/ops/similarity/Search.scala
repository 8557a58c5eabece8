package graft.ops
package similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Pin
import graft.{QueryDef, Tables}
import Tables.load

/** Retrieval over inverted indexes: boolean, BM25, phrase and prefix
  * search, keywords and nDCG evaluation. */
object Search {

  // ------------------------------------------------------------- q148

  /** q148: BOOLEAN INVERTED-INDEX RETRIEVAL — `vector AND hash AND NOT
    * slow` evaluated as posting-list algebra: the conjunction is a
    * per-doc distinct-hit count over the two needle terms (one filtered
    * explode, no per-term join chain), the negation a left-anti join
    * against the excluded term's postings. The term filter lands
    * BEFORE the aggregate, so at 100 TB only rows for the 3 query
    * terms ever shuffle — cost tracks result size, not corpus size
    * (same device as q67's df-capped posting lists). */
  private def qBoolSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val post = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val hits = post.filter(col("term").isin("vector", "hash"))
      .groupBy(col("doc_id")).agg(countDistinct(col("term")).as("nhit"))
      .filter(col("nhit") === 2)
    hits.join(post.filter(col("term") === "slow"), Seq("doc_id"), "left_anti")
      .join(docs.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  private val qBoolSearchSql =
    """WITH post AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      |  FROM documents)
      |SELECT d.doc_id, d.lang, d.source FROM documents d
      |WHERE d.doc_id IN (SELECT doc_id FROM post WHERE term = 'vector')
      |  AND d.doc_id IN (SELECT doc_id FROM post WHERE term = 'hash')
      |  AND d.doc_id NOT IN (SELECT doc_id FROM post WHERE term = 'slow')
      |ORDER BY doc_id""".stripMargin

  /* Seventh-wave battery (round 7): retrieval evaluation, model-quality
    * statistics, web-corpus hygiene, and the watermark-sizing audit —
    * operators a training-data platform runs AROUND the pipeline the
    * earlier waves built. House rules apply: integer-exact arithmetic
    * wherever engines could disagree on floats, every pairwise stage
    * candidate-scoped, every per-group rank computed on a bounded table
    * (the q154/q168 histogram lesson), deterministic ORDER BY with
    * tie-breaks everywhere.
    */

  // ------------------------------------------------------------- q184

  /** Integer milli-quantized log2(i+1) for ranks i = 1..10 — the DCG
    * denominators, precomputed so BOTH engines divide by the same
    * integers and the whole nDCG computation stays in BIGINT. */
  private val Log2Milli: Seq[Long] = Seq(1000000L, 1584962L, 2000000L,
    2321928L, 2584962L, 2807354L, 3000000L, 3169925L, 3321928L, 3459431L)

  /** q184: nDCG@10 RETRIEVAL EVALUATION, integer-exact — the metric a
    * retrieval/RAG stack reports per query. Eval set synthesized
    * deterministically from the corpus: query = source (bounded
    * alphabet), system ranking = n_chars desc (the "retriever"),
    * graded relevance = doc_id mod 4, gain = 2^rel − 1. DCG uses the
    * [[Log2Milli]] table (identical literals in the oracle), so
    * DCG_milli, ideal-DCG_milli and ndcg_ppm are pure BIGINT — no
    * engine can disagree by an ulp.
    *
    * Scale shape: BOTH top-10 cuts (system order and ideal-gain order)
    * go through the custom [[graft.plans.TopK]] plan — per-partition
    * heaps + one k-bounded merge, never a per-group sort of the full
    * corpus; the rank windows then run on the 10-row-per-query result.
    */
  private def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"),
        expr("CAST(shiftleft(1L, CAST(doc_id % 4 AS INT)) - 1 AS BIGINT)")
          .as("gain"))
    val log2 = expr(s"array(${Log2Milli.mkString("L,") + "L"})")
    def dcg(top: DataFrame, ord: Seq[org.apache.spark.sql.Column],
        out: String) =
      top
        .withColumn("rnk",
          row_number().over(Window.partitionBy(col("source")).orderBy(ord: _*)))
        .withColumn("l2", log2(col("rnk") - 1))
        .groupBy(col("source"))
        .agg(sum(expr("gain * 1000000 div l2")).as(out))
    val sys = dcg(
      graft.plans.TopK.perGroup(d, Seq(col("source")),
        Seq(col("n_chars").desc, col("doc_id").asc), 10),
      Seq(col("n_chars").desc, col("doc_id").asc), "dcg_milli")
    val ideal = dcg(
      graft.plans.TopK.perGroup(d, Seq(col("source")),
        Seq(col("gain").desc, col("doc_id").asc), 10),
      Seq(col("gain").desc, col("doc_id").asc), "idcg_milli")
    sys.join(ideal, "source")
      // a query whose best-10 gains are ALL zero has no ideal ranking:
      // nDCG is defined 0 there (tiny-SF sources can hit this)
      .withColumn("ndcg_ppm", expr(
        "CASE WHEN idcg_milli = 0 THEN 0L " +
          "ELSE dcg_milli * 1000000 div idcg_milli END"))
      .select(col("source"), col("dcg_milli"), col("idcg_milli"),
        col("ndcg_ppm"))
      .orderBy(col("source"))
  }

  private val qNdcgSql = {
    val l2list = Log2Milli.mkString(", ")
    s"""WITH d AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST((1 << (doc_id % 4)) - 1 AS BIGINT) AS gain
       |  FROM documents),
       |sys AS (
       |  SELECT source, gain, ROW_NUMBER() OVER
       |    (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rnk
       |  FROM d),
       |ideal AS (
       |  SELECT source, gain, ROW_NUMBER() OVER
       |    (PARTITION BY source ORDER BY gain DESC, doc_id) AS rnk
       |  FROM d),
       |l2 AS (SELECT unnest(range(1, 11)) AS rnk,
       |              unnest([$l2list]) AS l2m),
       |sdcg AS (
       |  SELECT source, CAST(SUM(gain * 1000000 // l2m) AS BIGINT)
       |    AS dcg_milli
       |  FROM sys JOIN l2 USING (rnk) WHERE rnk <= 10 GROUP BY 1),
       |idcg AS (
       |  SELECT source, CAST(SUM(gain * 1000000 // l2m) AS BIGINT)
       |    AS idcg_milli
       |  FROM ideal JOIN l2 USING (rnk) WHERE rnk <= 10 GROUP BY 1)
       |SELECT source, dcg_milli, idcg_milli,
       |  CAST(CASE WHEN idcg_milli = 0 THEN 0
       |       ELSE dcg_milli * 1000000 // idcg_milli END AS BIGINT)
       |    AS ndcg_ppm
       |FROM sdcg JOIN idcg USING (source)
       |ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------- q230

  /** q230: INTEGER BM25-STYLE RETRIEVAL — score every document against
    * a corpus-derived term set (the 3 highest-df words, ties by word)
    * with the saturating-tf family BM25 belongs to, kept integer-exact:
    * idf_ppm(t) = N·10⁶ div df(t) (a monotone integer transform of the
    * true log idf — rankings need monotonicity, not logarithms), and
    * tf saturation tf·1000 div (tf + 2) (k₁ = 2, b = 0: the classic
    * curve with exact division). Top 20 docs by score via
    * `orderBy().limit(20)` (TakeOrdered — never a global window), score
    * products DECIMAL-routed.
    *
    * Scale shape: posting lists (explode → broadcast semi-join on the
    * 3-term table → per-(doc, term) tf) — the score agg reuses the
    * doc_id shuffle; the term table is alphabet-bounded by LIMIT. */
  private def qBm25TopK(s: SparkSession, dir: String): DataFrame = {
    val words = load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val n = load(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val terms = words.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("word")).limit(3)
    val tf = words.join(broadcast(terms), "word")
      .groupBy(col("doc_id"), col("word"), col("df"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.crossJoin(broadcast(n)) // 1-row corpus-size scalar
      .withColumn("idf_ppm", expr("n_docs * 1000000 div df"))
      .withColumn("part_score", expr(
        "CAST(CAST(idf_ppm AS DECIMAL(38,0)) * (tf * 1000 div (tf + 2))" +
          " AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("part_score")).as("score"),
        count(lit(1)).as("n_terms_hit"))
    val ord = Seq(col("score").desc, col("doc_id").asc)
    scored.orderBy(ord: _*).limit(20)
      .withColumn("rk", row_number().over(Window.orderBy(ord: _*)))
      .select(col("rk"), col("doc_id"), col("score"), col("n_terms_hit"))
      .orderBy(col("rk"))
  }

  private val qBm25TopKSql =
    """WITH w AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |terms AS (
      |  SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM w GROUP BY 1 ORDER BY df DESC, word LIMIT 3),
      |tf AS (
      |  SELECT doc_id, w.word, df, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM w JOIN terms ON terms.word = w.word
      |  GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT doc_id,
      |    CAST(SUM(CAST(n_docs * 1000000 // df AS HUGEINT)
      |      * (tf * 1000 // (tf + 2))) AS BIGINT) AS score,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      |  FROM tf CROSS JOIN nd GROUP BY 1),
      |top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 20)
      |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
      |    AS rk,
      |  doc_id, score, n_terms_hit
      |FROM top ORDER BY rk""".stripMargin

  // ------------------------------------------------------------- q232

  /** q232: PER-DOCUMENT KEYWORD EXTRACTION — top 3 words per document
    * by integer tf·idf (idf_ppm = N·10⁶ div df — monotone, exact),
    * executed through the custom [[graft.plans.TopKPerGroup]] physical
    * operator: partial bounded-heap pass before the doc_id shuffle,
    * exact pass after — never a full per-doc rank materialization,
    * which is the difference between O(vocab-hits) heap work and a
    * window sort over every (doc, word) pair at corpus scale. Short
    * stopword-ish tokens (< 4 chars) are dropped; ties break on the
    * word so the 3-row-per-doc result is deterministic. */
  private def qKeywords(s: SparkSession, dir: String): DataFrame = {
    val words = load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 4)
    val nDocs = load(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    // tf IS the distinct (doc, word) set — df comes from it for free,
    // instead of a second full-width distinct shuffle over the corpus
    val tf = Pin(words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(df, "word")
      .crossJoin(broadcast(nDocs)) // 1-row corpus-size scalar
      .withColumn("score", expr(
        "CAST(tf * (CAST(n_docs AS DECIMAL(38,0)) * 1000000 div df)" +
          " AS BIGINT)"))
    graft.plans.TopK.perGroup(
        scored.select(col("doc_id"), col("word"), col("tf"), col("score")),
        Seq(col("doc_id")),
        Seq(col("score").desc, col("word").asc), 3)
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("word").asc)))
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val qKeywordsSql =
    """WITH w AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |w4 AS MATERIALIZED (SELECT * FROM w WHERE len(word) >= 4),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |df AS (
      |  SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM w4 GROUP BY 1),
      |tf AS (
      |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM w4 GROUP BY 1, 2),
      |sc AS (
      |  SELECT doc_id, tf.word, tf,
      |    CAST(tf * (CAST(n_docs AS HUGEINT) * 1000000 // df)
      |      AS BIGINT) AS score
      |  FROM tf JOIN df ON df.word = tf.word CROSS JOIN nd),
      |rk AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, word) AS INT) AS rk
      |  FROM sc)
      |SELECT doc_id, rk, word, tf, score FROM rk
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /* Twenty-fourth wave (round 8): search-infrastructure operators —
    * three shapes every retrieval-backed data platform ships:
    *
    *  - q242: AUTOCOMPLETE candidate tables — top-3 completions per
    *    word prefix, built through the engine's own TopKPerGroup
    *    physical operator (partial per-partition heaps, no global sort,
    *    no per-group row_number shuffle-then-filter).
    *  - q243: K-CORE decomposition of the co-purchase graph — the
    *    standard "peel nodes with degree < k" fixpoint as a bounded
    *    iterative loop with Pin-cut lineage; the DuckDB oracle is the
    *    SAME peel unrolled to the loop bound, so the iteration count,
    *    not just the final set, is contract-checked.
    *  - q244: POSITIONAL PHRASE match — exact adjacent-bigram search
    *    through a positional posting list, pruned to the phrase
    *    vocabulary BEFORE the self-join (the posting-list discipline:
    *    candidate pairs scale with term frequency, not corpus size).
    *
    * House rules: integer exactness, deterministic orders, DuckDB oracle
    * per query, windows partitioned or provably bounded. */

  // ------------------------------------------------------------- q242

  /** q242: AUTOCOMPLETE top-3 completions for every 1–3 char prefix,
    * reported for the 50 heaviest prefixes. Word counts are one
    * map-side-combinable groupBy; each word then fans out to ≤3 prefix
    * rows (bounded ×3 blowup); TopKPerGroup keeps 3 rows per prefix
    * with per-partition heaps. The 50-prefix report cap is a
    * TakeOrdered, and the rank column is a window over ≤3-row
    * partitions. */
  private def qAutocomplete(s: SparkSession, dir: String): DataFrame = {
    val wc = load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val px = wc.select(explode(sequence(lit(1), lit(3))).as("l"),
        col("word"), col("cnt"))
      .filter(length(col("word")) >= col("l"))
      .select(expr("substring(word, 1, l)").as("pfx"), col("word"),
        col("cnt"))
    val pxP = graft.util.Pin(px) // ≤3×vocab rows, consumed twice
    val tk = graft.plans.TopK.perGroup(pxP, Seq(col("pfx")),
        Seq(col("cnt").desc, col("word").asc), 3)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("pfx"))
          .orderBy(col("cnt").desc, col("word"))).cast("long"))
    val top = pxP.groupBy(col("pfx")).agg(sum(col("cnt")).as("ptotal"))
      .orderBy(col("ptotal").desc, col("pfx")).limit(50)
    tk.join(broadcast(top), Seq("pfx"))
      .select(col("pfx"), col("ptotal"), col("rank"), col("word"),
        col("cnt"))
      .orderBy(col("ptotal").desc, col("pfx"), col("rank"))
  }

  private val qAutocompleteSql =
    """WITH w AS (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |wc AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM w WHERE len(word) > 0 GROUP BY 1),
      |px AS (
      |  SELECT substr(word, 1, l) AS pfx, word, cnt
      |  FROM wc CROSS JOIN unnest([1, 2, 3]) AS u(l)
      |  WHERE len(word) >= l),
      |tk AS (
      |  SELECT pfx, word, cnt, CAST(row_number() OVER (
      |    PARTITION BY pfx ORDER BY cnt DESC, word) AS BIGINT) AS rank
      |  FROM px),
      |pt AS (
      |  SELECT pfx, CAST(SUM(cnt) AS BIGINT) AS ptotal
      |  FROM px GROUP BY 1),
      |top AS (SELECT * FROM pt ORDER BY ptotal DESC, pfx LIMIT 50)
      |SELECT t.pfx, ptotal, rank, word, cnt
      |FROM tk t JOIN top ON top.pfx = t.pfx
      |WHERE rank <= 3
      |ORDER BY ptotal DESC, t.pfx, rank""".stripMargin

  // ------------------------------------------------------------- q244

  /** The phrase vocabulary: adjacent-word phrases searched by q244.
    * Fixed constants (the operator's "query"), chosen from the corpus
    * generator's working vocabulary. */
  private val Phrases = Seq(
    ("order", "fast"), ("stream", "column"), ("window", "join"))

  /** q244: POSITIONAL PHRASE search. The positional posting list
    * (doc, pos, term) is filtered to the phrase vocabulary BEFORE the
    * adjacency self-join — the classic posting-list prune: the join
    * touches only rows whose term appears in some phrase, so candidate
    * volume follows the phrase terms' document frequency, never
    * corpus size. Adjacency is an equi-join on (doc, pos); phrases
    * with zero hits still report a 0/0 row (left join from the
    * 3-row broadcast phrase table). */
  private def qPhraseMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ph = Phrases.toDF("w1", "w2")
    val toks = load(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("term"))
    val t1 = toks.filter(col("term").isin(Phrases.map(_._1): _*))
      .select(col("doc_id"), col("pos"), col("term").as("w1"))
    val t2 = toks.filter(col("term").isin(Phrases.map(_._2): _*))
      .select(col("doc_id"), (col("pos") - 1).as("pos"),
        col("term").as("w2"))
    val hits = t1.join(t2, Seq("doc_id", "pos"))
      .join(broadcast(ph), Seq("w1", "w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
    broadcast(ph).join(hits, Seq("w1", "w2"), "left")
      .select(concat_ws(" ", col("w1"), col("w2")).as("phrase"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("phrase"))
  }

  private val qPhraseMatchSql = {
    val values = Phrases.map { case (a, b) => s"('$a', '$b')" }
      .mkString(", ")
    s"""WITH l AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |p AS (
       |  SELECT doc_id, unnest(range(1, len(t))) AS i, t FROM l),
       |bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM p),
       |ph AS (SELECT * FROM (VALUES $values) v(w1, w2)),
       |m AS (
       |  SELECT ph.w1, ph.w2,
       |    CAST(COUNT(bg.doc_id) AS BIGINT) AS n_occ,
       |    CAST(COUNT(DISTINCT bg.doc_id) AS BIGINT) AS n_docs
       |  FROM ph LEFT JOIN bg ON bg.w1 = ph.w1 AND bg.w2 = ph.w2
       |  GROUP BY 1, 2)
       |SELECT w1 || ' ' || w2 AS phrase, n_occ, n_docs
       |FROM m ORDER BY phrase""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q148_bool_search" -> QueryDef(qBoolSearch, Some(qBoolSearchSql),
      "boolean inverted-index retrieval (AND/AND/NOT posting algebra)"),
    "q184_ndcg" -> QueryDef(qNdcg, Some(qNdcgSql),
      "integer nDCG@10 retrieval eval: TopK custom plan × 2, BIGINT-only DCG"),
    "q230_bm25_topk" -> QueryDef(qBm25TopK, Some(qBm25TopKSql),
      "integer BM25-family retrieval over posting lists, TakeOrdered top-k"),
    "q232_keywords_topk" -> QueryDef(qKeywords, Some(qKeywordsSql),
      "per-doc tf-idf keywords through the TopKPerGroup custom operator"),
    "q242_autocomplete" -> QueryDef(qAutocomplete, Some(qAutocompleteSql),
      "prefix autocomplete candidates via the TopKPerGroup operator"),
    "q244_phrase_match" -> QueryDef(qPhraseMatch, Some(qPhraseMatchSql),
      "positional phrase search over a pruned posting list"))
}
