package graft.ops
package curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load

/** BPE tokenizer training, application and fertility. */
object Tokenizer {

  /* Distributed BPE tokenizer TRAINING (Sennrich et al. 2016): the one
    * preprocessing artifact a pretraining pipeline builds that none of the
    * scoring/dedup operators cover. The trainer learns merge rules from
    * the corpus's own statistics: count adjacent symbol pairs, adopt the
    * most frequent pair as a new symbol, rewrite, repeat.
    *
    * Scale shape — the reason BPE training is feasible at 100 TB: the ONLY
    * corpus-scale pass is the initial word-frequency aggregation (one
    * explode + one keyed count). Every merge round then runs on the
    * Zipf-bounded VOCABULARY table (distinct words × counts — MBs at any
    * corpus size, which is exactly why SentencePiece/HF trainers consume
    * word-frequency files, not raw text). Per round: one pair explode +
    * keyed sum over the vocab, one 1-row argmax to the driver (the merge
    * rule IS a driver-side artifact), one map-side fold rewriting each
    * word's symbol array. Nothing pairwise, nothing quadratic, no state
    * larger than the vocab.
    *
    * Determinism: pair counts are exact integers; the argmax tie-breaks
    * (count desc, left asc, right asc); the rewrite is the standard greedy
    * left-to-right application. The Spark side applies it as a left fold
    * (`aggregate`); the oracle states the SAME greedy rule independently
    * as window islands with run-parity (in a run of k overlapping matches
    * — only possible when left==right — merge positions 0,2,4…). Two
    * formulations, one semantics, hash-gated equal.
    */

  /** Merge rounds the gate learns (a real run continues to 32k–100k). */
  private val MergeRounds = 3

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** The base vocabulary: distinct corpus words with counts and their
    * character-level symbol arrays. */
  private def baseVocab(s: SparkSession, dir: String) =
    load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms", expr("filter(split(word, ''), x -> x <> '')"))

  /** Greedy left-to-right application of one merge rule to `syms`. */
  private def applyRule(a: String, b: String): String =
    s"""aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) ->
       |  CASE WHEN size(acc) > 0
       |         AND element_at(acc, -1) = '${esc(a)}'
       |         AND x = '${esc(b)}'
       |    THEN concat(slice(acc, 1, size(acc) - 1),
       |                array('${esc(a + b)}'))
       |    ELSE concat(acc, array(x)) END)""".stripMargin

  /** Learned merge rules memoized per directory: the tokenizer is ONE
    * artifact per corpus (trained once per release in a real pipeline),
    * so q97/q101/q103 share a single training run instead of each
    * re-deriving it. The cache holds only the driver-side rule rows;
    * the vocab DataFrame is rebuilt declaratively from them. */
  private val trained = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(Long, String, String, Long, Long)]]

  /** Returns the vocabulary with its FINAL symbol arrays (the trained
    * tokenizer applied to every distinct word) plus the per-round
    * (rule, count, corpus-size) rows. Encoding a document is then just
    * a word->syms lookup, because greedy merge application is a
    * function of the word alone.
    */
  private def train(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame,
         Seq[(Long, String, String, Long, Long)]) =
    trained.get(dir) match {
      case Some(rounds) =>
        val vocab = rounds.foldLeft(baseVocab(s, dir)) {
          case (df, (_, a, b, _, _)) =>
            df.withColumn("syms", expr(applyRule(a, b)))
        }
        (vocab, rounds)
      case None =>
        val result = trainUncached(s, dir)
        trained.putIfAbsent(dir, result._2)
        result
    }

  private def trainUncached(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame,
         Seq[(Long, String, String, Long, Long)]) = {
    var words = baseVocab(s, dir).persist()
    val rounds = Seq.newBuilder[(Long, String, String, Long, Long)]
    for (r <- 1 to MergeRounds) {
      val best = words
        .select(col("cnt"), explode(expr(
          // slice, not sequence(1, n-1): Spark's sequence RUNS BACKWARDS
          // when the bound is below the start, so a 1-symbol word would
          // probe index 2 instead of yielding no pairs
          """transform(slice(sequence(1, size(syms)), 1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS l,
            |              element_at(syms, i + 1) AS r))""".stripMargin))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r")).limit(1)
        .collect().head // bounded collect: 1-row argmax, the learned rule is driver data
      val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
      val prev = words
      words = prev.withColumn("syms", expr(applyRule(a, b))).persist()
      // bounded collect: one scalar (total corpus token count)
      val total = words.select(sum(col("cnt") * size(col("syms"))))
        .collect().head.getLong(0)
      prev.unpersist()
      rounds += ((r.toLong, a, b, c, total))
    }
    (words, rounds.result())
  }

  private def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (vocab, rounds) = train(s, dir)
    vocab.unpersist()
    rounds
      .toDF("round", "left_sym", "right_sym", "pair_count",
        "corpus_symbols_after")
      .orderBy(col("round"))
  }

  /** q101 — APPLY the trained tokenizer: encode every document with the
    * learned merges and report its token budget. One corpus pass: the
    * exploded word stream equi-joins the broadcast vocab (Zipf-bounded,
    * same artifact q60's unigram LM broadcasts), so the encode is
    * map-side at any corpus size. */
  private def qBpeApply(s: SparkSession, dir: String): DataFrame = {
    val (vocab, _) = train(s, dir)
    val enc = vocab.select(col("word"),
      size(col("syms")).cast(LongType).as("n_syms"))
    load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(enc), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_tokens"),
        sum(length(col("word"))).cast(LongType).as("n_chars"))
      .withColumn("chars_per_token",
        col("n_chars").cast(org.apache.spark.sql.types.DoubleType)
          / col("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q103 — tokenizer FERTILITY by language: BPE tokens per whitespace
    * word and chars per token, the per-language cost report a tokenizer
    * evaluation produces. Same join shape as q101, rolled up to the
    * language grain. */
  private def qBpeFertility(s: SparkSession, dir: String): DataFrame = {
    val (vocab, _) = train(s, dir)
    val enc = vocab.select(col("word"),
      size(col("syms")).cast(LongType).as("n_syms"))
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .join(broadcast(enc), "word")
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_tokens"),
        sum(length(col("word"))).cast(LongType).as("n_chars"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast(org.apache.spark.sql.types.DoubleType)
          / col("n_words"))
      .withColumn("chars_per_token",
        col("n_chars").cast(org.apache.spark.sql.types.DoubleType)
          / col("n_bpe_tokens"))
      .orderBy(col("lang"))
  }

  /** One oracle merge round: pair counts → argmax → island/parity greedy
    * rewrite of `src` into `rb$r`. */
  private def roundSql(r: Int, src: String): String =
    s"""sym$r AS (
       |  SELECT word, cnt, j, syms[j] AS s
       |  FROM $src, unnest(range(1, len(syms) + 1)) AS u(j)),
       |pr$r AS (
       |  SELECT word, cnt, i, syms[i] AS s, syms[i+1] AS t
       |  FROM $src, unnest(range(1, len(syms))) AS u(i)),
       |pc$r AS (SELECT s, t, CAST(SUM(cnt) AS BIGINT) AS c
       |         FROM pr$r GROUP BY s, t),
       |best$r AS (SELECT s AS a, t AS b, c FROM pc$r
       |           ORDER BY c DESC, s, t LIMIT 1),
       |hit$r AS (
       |  SELECT p.word, p.cnt, p.i, (p.s = b.a AND p.t = b.b) AS hit
       |  FROM pr$r p CROSS JOIN best$r b),
       |isl$r AS (
       |  SELECT word, cnt, i, hit,
       |    i - ROW_NUMBER() OVER (PARTITION BY word, hit ORDER BY i) AS grp
       |  FROM hit$r),
       |keep$r AS (
       |  SELECT word, i
       |  FROM (SELECT word, i, grp,
       |          (i - MIN(i) OVER (PARTITION BY word, grp)) % 2 AS par
       |        FROM isl$r WHERE hit)
       |  WHERE par = 0),
       |rb$r AS (
       |  SELECT s.word, s.cnt,
       |    list(CASE WHEN k2.i IS NOT NULL THEN s.s || b.b ELSE s.s END
       |         ORDER BY s.j) AS syms
       |  FROM sym$r s
       |  CROSS JOIN best$r b
       |  LEFT JOIN keep$r k2 ON k2.word = s.word AND k2.i = s.j
       |  LEFT JOIN keep$r k1 ON k1.word = s.word AND k1.i = s.j - 1
       |  WHERE k1.i IS NULL
       |  GROUP BY s.word, s.cnt)""".stripMargin

  /** The full training CTE chain (vocab -> MergeRounds rewrites): the
    * final rewritten vocab is `rb$MergeRounds`, shared by the train and
    * apply oracles so both state the same tokenizer. */
  private val trainChainSql: String = {
    val chain = (1 to MergeRounds)
      .map(r => roundSql(r, if (r == 1) "ws0" else s"rb${r - 1}"))
      .mkString(",\n")
    s"""t AS (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |ws0 AS (
       |  SELECT word, cnt,
       |    list_filter(string_split(word, ''), x -> x <> '') AS syms
       |  FROM t),
       |$chain""".stripMargin
  }

  private val qBpeTrainSql = {
    val rows = (1 to MergeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, a AS left_sym, b AS right_sym,
         |  c AS pair_count,
         |  (SELECT CAST(SUM(cnt * len(syms)) AS BIGINT) FROM rb$r)
         |    AS corpus_symbols_after
         |FROM best$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $trainChainSql
       |SELECT * FROM ($rows) ORDER BY round""".stripMargin
  }

  private val qBpeApplySql =
    s"""WITH $trainChainSql,
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |       FROM documents)
       |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       | CAST(SUM(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
       | CAST(SUM(length(d.word)) AS BIGINT) AS n_chars,
       | CAST(SUM(length(d.word)) AS DOUBLE) / SUM(len(v.syms))
       |   AS chars_per_token
       |FROM dw d JOIN rb$MergeRounds v ON v.word = d.word
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  private val qBpeFertilitySql =
    s"""WITH $trainChainSql,
       |dw AS (SELECT doc_id, lang,
       |         unnest(string_split(text, ' ')) AS word
       |       FROM documents)
       |SELECT d.lang, CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
       | CAST(COUNT(*) AS BIGINT) AS n_words,
       | CAST(SUM(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
       | CAST(SUM(length(d.word)) AS BIGINT) AS n_chars,
       | CAST(SUM(len(v.syms)) AS DOUBLE) / COUNT(*) AS fertility,
       | CAST(SUM(length(d.word)) AS DOUBLE) / SUM(len(v.syms))
       |   AS chars_per_token
       |FROM dw d JOIN rb$MergeRounds v ON v.word = d.word
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q97_bpe_train" -> QueryDef(qBpeTrain, Some(qBpeTrainSql),
      "distributed BPE merge training on the Zipf-bounded vocab table"),
    "q101_bpe_apply" -> QueryDef(qBpeApply, Some(qBpeApplySql),
      "apply the trained BPE merges: per-doc token budget via vocab join"),
    "q103_bpe_fertility" -> QueryDef(qBpeFertility, Some(qBpeFertilitySql),
      "tokenizer fertility by language (BPE tokens/word, chars/token)"))
}
