package graft.ops
package curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load

/** Corpus vocabulary statistics: coverage, richness, burstiness, overlap,
  * growth and collocations. */
object Vocabulary {

  // --------------------------------------------------------------- q108

  /** Vocabulary cap for the rank window (scale guard, not a semantic
    * limit: the synthetic vocab is far smaller) and the ranks the
    * coverage curve reports. */
  private val TopVocab = 1000
  private val ReportRanks = Seq(1L, 5L, 10L, 30L)

  private def qZipfCoverage(s: SparkSession, dir: String): DataFrame = {
    val counts = load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast(LongType).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast(LongType).as("total"))
    val w = Window.orderBy(col("cnt").desc, col("word"))
    counts.orderBy(col("cnt").desc, col("word")).limit(TopVocab)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .withColumn("cum_tokens", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rnk").isInCollection(ReportRanks))
      .crossJoin(broadcast(total))
      // DECIMAL(38,0) before the multiply: ppm of a 100-TB token count
      // would overflow BIGINT at the *1e6 step.
      .withColumn("coverage_ppm", expr(
        "CAST(CAST(cum_tokens AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)"))
      .select(col("rnk"), col("word"), col("cnt"), col("cum_tokens"),
        col("total"), col("coverage_ppm"))
      .orderBy(col("rnk"))
  }

  private val qZipfCoverageSql =
    s"""WITH wd AS (SELECT unnest(string_split(text, ' ')) AS word
       |            FROM documents),
       |c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
       |      FROM wd GROUP BY word),
       |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
       |r AS (SELECT word, cnt,
       |        ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk,
       |        SUM(cnt) OVER (ORDER BY cnt DESC, word
       |                       ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM c QUALIFY rnk <= $TopVocab)
       |SELECT CAST(rnk AS BIGINT) AS rnk, word, cnt,
       |  CAST(cum AS BIGINT) AS cum_tokens, total,
       |  CAST(CAST(cum AS HUGEINT) * 1000000 // total AS BIGINT)
       |    AS coverage_ppm
       |FROM r, t WHERE rnk IN (${ReportRanks.mkString(", ")})
       |ORDER BY rnk""".stripMargin

  /** Word n-gram term table: (doc_id, lang, source, t). One row per
    * OCCURRENCE (not distinct) — callers distinct where needed. */
  private def grams(docs: DataFrame, n: Int): DataFrame = {
    val concatCols = (0 until n).map(j => col("ws")(col("i") + j))
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(sequence(lit(0), size(col("ws")) - n)).as("i"),
        col("ws"))
      .select(col("doc_id"), col("lang"), col("source"),
        concat_ws(" ", concatCols: _*).as("t"))
  }

  /** DuckDB CTE `g(doc_id, lang, source, t)` mirroring [[grams]]. */
  private def gramsCte(n: Int): String = {
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""w AS (
       |  SELECT doc_id, lang, source, string_split(text, ' ') AS ws
       |  FROM documents WHERE len(string_split(text, ' ')) >= $n),
       |g AS (
       |  SELECT doc_id, lang, source,
       |    unnest(list_transform(range(1, len(ws) - ${n - 2}),
       |      i -> $parts)) AS t
       |  FROM w)""".stripMargin
  }

  /* Eighth-wave battery (round 7): distribution-drift, annotation-
    * agreement, and vocabulary statistics — the dataset-health metrics a
    * training-data platform runs on every corpus refresh. House rules:
    * integer-exact arithmetic wherever engines could disagree (products
    * routed through DECIMAL(38,0)/HUGEINT where they can pass 2^63),
    * every heavy aggregation map-side combinable, per-group windows only
    * on bounded histogram tables (the q154/q168 lesson), deterministic
    * ORDER BY with tie-breaks.
    *
    * The word alphabet of the `documents` table is tiny (31 tokens), so
    * "terms" here are word n-grams: 2-grams (916 types, df-rich) for
    * burstiness, 3-grams (~16k types at sf0.01, ~58% singletons) for
    * richness/overlap/growth — measured, not assumed.
    */

  // ------------------------------------------------------------- q192

  /** q192: CHAO1 VOCABULARY RICHNESS per source — "how much vocabulary
    * have we NOT seen yet": the species-richness estimator applied to
    * 3-gram types, the signal behind "is this source mined out".
    * Bias-corrected form stays integer and total: chao1_milli =
    * 1000·s_obs + 1000·f1·(f1−1) div (2·(f2+1)), where f1/f2 = types
    * seen exactly once/twice.
    *
    * Scale shape: groupBy(source, t) term histogram (map-side
    * combinable — the only pass over gram volume), then the
    * frequency-of-frequencies on the type table; output one row per
    * source. */
  private def qChao1(s: SparkSession, dir: String): DataFrame = {
    val tf = grams(load(s, dir, "documents"), 3)
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
    tf.groupBy(col("source"))
      .agg(count(lit(1)).as("s_obs"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1_milli", expr(
        "1000 * s_obs + 1000 * f1 * (f1 - 1) div (2 * (f2 + 1))"))
      .select(col("source"), col("s_obs"), col("f1"), col("f2"),
        col("chao1_milli"))
      .orderBy(col("source"))
  }

  private val qChao1Sql =
    s"""WITH ${gramsCte(3)},
       |tf AS (
       |  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM g GROUP BY 1, 2)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS s_obs,
       |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       |  CAST(1000 * COUNT(*)
       |    + 1000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
       |        * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
       |      // (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))
       |    AS BIGINT) AS chao1_milli
       |FROM tf GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- q193

  /** q193: TERM BURSTINESS (variance-to-mean ratio) top-20 — terms
    * whose occurrences CLUMP into few documents (VMR ≫ 1) versus
    * spread Poisson-like (VMR ≈ 1): the screen for template/boiler
    * terms that inflate n-gram counts. Over all n docs (absent docs
    * count 0): vmr_micro = (n·S2 − S1²)·10^6 div (n·S1) with S1 = Σc,
    * S2 = Σc² per 2-gram, products in DECIMAL(38,0).
    *
    * Scale shape: per-(doc, term) counts then per-term partial aggs —
    * both map-side combinable; the doc total rides a broadcast 1-row
    * scalar; top-20 is a TakeOrdered (per-partition heap + k-merge),
    * never a global sort. */
  private def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val nDocs = docs.filter(size(split(col("text"), " ")) >= 2)
      .agg(count(lit(1)).as("n"))
    val perDoc = grams(docs, 2)
      .groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("t"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("s1"),
        sum(expr("c * c")).as("s2"))
      .filter(col("df") >= 20)
      .crossJoin(broadcast(nDocs))
      .withColumn("vmr_micro", expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)" +
          " * 1000000 div (CAST(n AS DECIMAL(38,0)) * s1) AS BIGINT)"))
      .select(col("t"), col("df"), col("s1"), col("s2"), col("vmr_micro"))
      .orderBy(col("vmr_micro").desc, col("t").asc)
      .limit(20)
  }

  private val qBurstinessSql =
    s"""WITH ${gramsCte(2)},
       |n AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |pd AS (
       |  SELECT t, doc_id, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM g GROUP BY 1, 2),
       |tt AS (
       |  SELECT t, CAST(COUNT(*) AS BIGINT) AS df,
       |    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
       |  FROM pd GROUP BY 1 HAVING COUNT(*) >= 20)
       |SELECT t, df, s1, s2,
       |  CAST((CAST(n.n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
       |    * 1000000 // (CAST(n.n AS HUGEINT) * s1) AS BIGINT) AS vmr_micro
       |FROM tt, n
       |ORDER BY vmr_micro DESC, t LIMIT 20""".stripMargin

  // ------------------------------------------------------------- q194

  /** q194: SOURCE-PAIR VOCABULARY OVERLAP — the 20×20 Jaccard matrix
    * over 3-gram type sets: which sources are near-clones of each
    * other at the vocabulary level (feeds source-mixture planning and
    * flags scraped-twice feeds). jac_ppm = |A∩B|·10^6 div
    * (|A|+|B|−|A∩B|), all counts exact.
    *
    * Scale shape: posting-list algebra — distinct (t, source), pairs
    * form only WITHIN a term's source list (≤20 sources ⇒ ≤190 pairs
    * per term, a bounded fan-out equi-join on t), per-source type
    * counts broadcast onto the 190-row pair table. Never source×source
    * over raw grams. */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sv = grams(load(s, dir, "documents"), 3)
      .select(col("t"), col("source")).distinct()
    val sizes = sv.groupBy(col("source")).agg(count(lit(1)).as("nt"))
    val inter = sv.as("x")
      .join(sv.as("y"),
        col("x.t") === col("y.t") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("nt", "n_a")), Seq("src_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("nt", "n_b")), Seq("src_b"))
      .withColumn("jac_ppm",
        expr("inter * 1000000 div (n_a + n_b - inter)"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("inter"), col("jac_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val qSourceOverlapSql =
    s"""WITH ${gramsCte(3)},
       |sv AS (SELECT DISTINCT t, source FROM g),
       |sizes AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nt
       |  FROM sv GROUP BY 1),
       |inter AS (
       |  SELECT x.source AS src_a, y.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM sv x JOIN sv y ON x.t = y.t AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, a.nt AS n_a, b.nt AS n_b, inter,
       |  CAST(inter * 1000000 // (a.nt + b.nt - inter) AS BIGINT)
       |    AS jac_ppm
       |FROM inter
       |JOIN sizes a ON a.source = src_a
       |JOIN sizes b ON b.source = src_b
       |ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------------------------- q195

  /** q195: VOCABULARY GROWTH CURVE — "is the corpus saturating":
    * 3-gram types by FIRST-occurrence position, bucketed into 20
    * equal doc_id ranges, with the cumulative type count per bucket.
    * A flattening curve says more of the same source adds no new
    * language; the slope prices marginal data.
    *
    * Scale shape: term → min(doc_id) is one map-side-combinable agg
    * over gram volume; bucketing and the running sum happen on the
    * ≤20-row bucket table (window over a broadcast-scale group). */
  private def qVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val maxd = docs.agg((max(col("doc_id")) + 1).as("maxd"))
    val first = grams(docs, 3)
      .groupBy(col("t")).agg(min(col("doc_id")).as("fd"))
    first.crossJoin(broadcast(maxd))
      .withColumn("bucket", expr("fd * 20 div maxd"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_terms"))
      .withColumn("cum_terms",
        sum(col("new_terms")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bucket"), col("new_terms"), col("cum_terms"))
      .orderBy(col("bucket"))
  }

  private val qVocabGrowthSql =
    s"""WITH ${gramsCte(3)},
       |maxd AS (SELECT MAX(doc_id) + 1 AS maxd FROM documents),
       |first AS (
       |  SELECT t, MIN(doc_id) AS fd FROM g GROUP BY 1),
       |b AS (
       |  SELECT CAST(fd * 20 // maxd AS BIGINT) AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS new_terms
       |  FROM first, maxd GROUP BY 1)
       |SELECT bucket, new_terms,
       |  CAST(SUM(new_terms) OVER (ORDER BY bucket) AS BIGINT)
       |    AS cum_terms
       |FROM b ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------- q207

  /** q207: COLLOCATION MINING — adjacent-word bigrams ranked by
    * pointwise association LIFT c(ab)·W / (c(a)·c(b)) in exact ppm
    * (the monotone-equivalent of PMI, log-free so both engines agree
    * bit-for-bit), support floor c(ab) ≥ 5. The q91 split device
    * provides the bigram stream; counts are three map-side-combinable
    * groupBys over it; the scoring join touches only the (tiny)
    * bigram-type table, never the corpus.
    *
    * Top-20 by (lift, count, a, b) — a TakeOrdered. */
  private def qCollocations(s: SparkSession, dir: String): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val bi = load(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("i", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(wDoc))
      .filter(col("w2").isNotNull)
    val uni = bi.select(col("w1").as("w"))
      .unionByName(bi.select(col("w2").as("w")))
    val cw = uni.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val tot = bi.agg((count(lit(1)) * 2).as("tot_w"))
    bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 5)
      .join(cw.select(col("w").as("w1"), col("cw").as("ca")), "w1")
      .join(cw.select(col("w").as("w2"), col("cw").as("cb")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("lift_ppm", expr(
        """CAST(CAST(cab AS DECIMAL(38,0)) * tot_w * 1000000
          |  div (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)""".stripMargin))
      .select(col("w1"), col("w2"), col("cab"), col("ca"), col("cb"),
        col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("cab").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val qCollocationsSql =
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws
      |            FROM documents),
      |bi AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
      |  FROM ws WHERE len(ws) >= 2),
      |uni AS (SELECT w1 AS w FROM bi UNION ALL SELECT w2 AS w FROM bi),
      |cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM uni GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) * 2 AS BIGINT) AS tot_w FROM bi),
      |ab AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cab
      |  FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      |SELECT ab.w1, ab.w2, cab, ca.cw AS ca, cb.cw AS cb,
      |  CAST(CAST(cab AS HUGEINT) * tot_w * 1000000
      |    // (CAST(ca.cw AS HUGEINT) * cb.cw) AS BIGINT) AS lift_ppm
      |FROM ab
      |JOIN cw ca ON ca.w = ab.w1
      |JOIN cw cb ON cb.w = ab.w2
      |CROSS JOIN tot
      |ORDER BY lift_ppm DESC, cab DESC, w1, w2 LIMIT 20""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q108_zipf_coverage" -> QueryDef(qZipfCoverage, Some(qZipfCoverageSql),
      "Zipf vocabulary-coverage curve, TopK-capped rank window, exact ppm"),
    "q192_chao1_richness" -> QueryDef(qChao1, Some(qChao1Sql),
      "Chao1 vocabulary-richness estimator per source, bias-corrected integer form"),
    "q193_burstiness" -> QueryDef(qBurstiness, Some(qBurstinessSql),
      "term burstiness (VMR) top-20 via TakeOrdered, DECIMAL-routed products"),
    "q194_source_overlap" -> QueryDef(qSourceOverlap, Some(qSourceOverlapSql),
      "source-pair vocabulary Jaccard matrix via bounded posting-list pair join"),
    "q195_vocab_growth" -> QueryDef(qVocabGrowth, Some(qVocabGrowthSql),
      "vocabulary growth curve: first-occurrence bucketing + 20-row running sum"),
    "q207_collocations" -> QueryDef(qCollocations, Some(qCollocationsSql),
      "adjacent-word collocations by exact ppm lift (log-free PMI), support-floored, TakeOrdered top-20"))
}
