package graft.ops
package curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.{QueryDef, Tables}
import Tables.load

/** Corpus release passes: curation pipeline, splits, packing, profiles,
  * quality checks, snapshot diffs and shuffles. */
object Release {

  /* The training-data pipeline composed end to end (the reason the
    * dedup/quality operators exist): raw corpus → quality gate → exact
    * dedup → LSH-candidate near-dup removal → per-language corpus
    * statistics. One gate query exercises the full chain against one
    * DuckDB oracle, so the COMPOSITION is hash-verified, not just the
    * stages.
    *
    * Every stage keeps the scale shape of its standalone operator: the
    * quality gate is a narrow projection, exact dedup one hash
    * aggregation, near-dup removal an equi-join against the MinHash
    * band-bucket candidates (never all-pairs), and the report a single
    * groupBy. Drop rule is deterministic: a doc is removed iff it is the
    * HIGHER id of any verified near-dup pair among exact-dedup survivors.
    */

  private def qCurate(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a')))")
          .cast(LongType).as("n_stop"))
    val quality = docs.filter(
      col("n_tokens").between(20, 400) &&
        col("n_stop").cast(DoubleType) / col("n_tokens") < 0.2)
    // exact dedup: min doc_id per content hash among quality survivors
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val exact = quality.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    // near-dup verify over LSH candidates, both ends surviving exact
    val ws = MinHash.wordSets(s, dir)
    val survivors = exact.select(col("doc_id"))
    val nearDupDrops = MinHash.minhashCandidates(s, dir)
      .join(survivors.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(survivors.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .join(ws.select(col("doc_id").as("doc_a"), col("ws").as("ws_a")), "doc_a")
      .join(ws.select(col("doc_id").as("doc_b"), col("ws").as("ws_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("ws_a"), col("ws_b"))).cast(LongType))
      .filter(col("inter").cast(DoubleType) /
        (size(col("ws_a")).cast(LongType) + size(col("ws_b")) - col("inter"))
        >= MinHash.JaccardThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val fin = exact.join(nearDupDrops, Seq("doc_id"), "left_anti")

    val langs = load(s, dir, "documents").groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val c1 = quality.groupBy(col("lang")).agg(count(lit(1)).as("n_quality"))
    val c2 = exact.groupBy(col("lang")).agg(count(lit(1)).as("n_after_exact"))
    val c3 = fin.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_final"), sum(col("n_tokens")).as("tok"))
    langs
      .join(c1, Seq("lang"), "left")
      .join(c2, Seq("lang"), "left")
      .join(c3, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_after_exact"), lit(0L)).as("n_after_exact"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("tok"), lit(0L)).as("total_tokens"))
      .orderBy(col("lang"))
  }

  private val qCurateSql =
    s"""WITH ${MinHash.candidatesCte},
       |q AS (
       |  SELECT doc_id, lang, text,
       |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |   CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop
       |  FROM documents),
       |qual AS (
       |  SELECT * FROM q
       |  WHERE n_tokens BETWEEN 20 AND 400
       |    AND CAST(n_stop AS DOUBLE) / n_tokens < 0.2),
       |exact AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
       |                                 ORDER BY doc_id) AS rn
       |    FROM qual) t WHERE rn = 1),
       |d AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
       |  FROM documents),
       |nd AS (
       |  SELECT DISTINCT c.doc_b AS doc_id
       |  FROM cand c
       |  JOIN exact a ON a.doc_id = c.doc_a
       |  JOIN exact b ON b.doc_id = c.doc_b
       |  JOIN d da ON da.doc_id = c.doc_a
       |  JOIN d db ON db.doc_id = c.doc_b
       |  WHERE CAST(len(list_intersect(da.ws, db.ws)) AS DOUBLE)
       |    / (len(da.ws) + len(db.ws) - len(list_intersect(da.ws, db.ws)))
       |    >= ${MinHash.JaccardThreshold}),
       |fin AS (
       |  SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
       |langs AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |c1 AS (SELECT lang, COUNT(*) AS n_quality FROM qual GROUP BY lang),
       |c2 AS (SELECT lang, COUNT(*) AS n_after_exact FROM exact GROUP BY lang),
       |c3 AS (SELECT lang, COUNT(*) AS n_final,
       |        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |       FROM fin GROUP BY lang)
       |SELECT l.lang, l.n_docs,
       |  COALESCE(c1.n_quality, 0) AS n_quality,
       |  COALESCE(c2.n_after_exact, 0) AS n_after_exact,
       |  COALESCE(c3.n_final, 0) AS n_final,
       |  COALESCE(c3.total_tokens, 0) AS total_tokens
       |FROM langs l
       |LEFT JOIN c1 ON l.lang = c1.lang
       |LEFT JOIN c2 ON l.lang = c2.lang
       |LEFT JOIN c3 ON l.lang = c3.lang
       |ORDER BY l.lang""".stripMargin

  /** Deterministic train/val/test assignment by content-free key hash —
    * the split has to be a PURE function of the stable document id (not
    * row order, not partitioning, not sampling state) so it is
    * reproducible across runs, engines, and re-shards of a 100 TB
    * corpus. The 2-hex-digit md5 prefix gives 256 buckets compared as
    * strings — identical lexicographically in both engines, no
    * hex-to-int conversion to disagree on: < 'cd' (205/256 ≈ 80%) →
    * train, < 'e6' (230/256 ≈ 90%) → val, else test. Shared by q54 and
    * the q64 release pipeline. */
  private def splitCol: org.apache.spark.sql.Column = {
    val b = substring(md5(concat(lit("split:"), col("doc_id"))), 1, 2)
    when(b < "cd", "train").when(b < "e6", "val").otherwise("test")
  }

  /** SQL twin of [[splitCol]] (expects a `doc_id` column in scope). */
  private val splitCaseSql =
    """CASE WHEN substring(md5('split:' || doc_id), 1, 2) < 'cd' THEN 'train'
      |       WHEN substring(md5('split:' || doc_id), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END""".stripMargin

  /** q54: the hash split as a per-(split, lang) stratification report. */
  private def qSampleSplit(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .withColumn("split", splitCol)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("sum_chars"))
      .orderBy(col("split"), col("lang"))

  private val qSampleSplitSql =
    s"""SELECT split, lang, COUNT(*) AS n_docs,
       | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM (
       |  SELECT lang, n_chars,
       |   $splitCaseSql AS split
       |  FROM documents) y
       |GROUP BY split, lang ORDER BY split, lang""".stripMargin

  private val PackBudget = 2048L

  /** q57: token-budget shard packing — assign documents to fixed-size
    * training shards by cumulative token count, per language, in stable
    * doc_id order (the deterministic first-fit layout a pretraining
    * data loader consumes). A doc belongs to the shard its STARTING
    * offset falls in, so shards are contiguous runs and every engine
    * that agrees on the ordering agrees on the layout. One window
    * cumsum + one aggregation; the window partitions by language, so
    * at 100 TB the per-partition sort is the only cost and shard
    * assignment never sees a global ordering. */
  private def qTokenPacking(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("shard",
        floor((col("cum") - col("n_tokens")) / PackBudget))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("shard"))
  }

  private val qTokenPackingSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |   SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT lang, CAST(floor((cum - n_tokens) / $PackBudget) AS BIGINT) AS shard,
       | COUNT(*) AS n_docs,
       | CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       | min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2 ORDER BY lang, shard""".stripMargin

  /** q64: the full PRETRAINING RELEASE pipeline in one hash-gated query
    * — what a data team actually ships, composed from the operators the
    * battery verifies one by one:
    *
    *   held-out eval exclusion → quality gate → exact dedup → LSH
    *   near-dup removal (candidate-scoped Jaccard) → eval-set
    *   decontamination → per-language rebalancing → deterministic
    *   train/val/test split → per-(lang, split) release report.
    *
    * Composition is where silent bugs live (a stage applied to the
    * wrong survivor set, a threshold computed pre- instead of
    * post-cleanup), so the oracle restates the WHOLE chain: any
    * mis-wiring flips the hash. Scale shape: every stage is a narrow
    * projection, a keyed aggregation, a broadcast lookup, or an
    * anti-join against a (small) drop list — the only self-join
    * anywhere is the LSH band-bucket candidate join. */
  private def qRelease(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a')))")
          .cast(LongType).as("n_stop"))
      .filter(col("doc_id") % Passes.EvalMod =!= 0) // eval docs held out
    val quality = docs.filter(
      col("n_tokens").between(20, 400) &&
        col("n_stop").cast(DoubleType) / col("n_tokens") < 0.2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val exact = quality.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    // near-dup removal: higher id of any verified pair whose BOTH ends
    // survived exact dedup
    val survivors = exact.select(col("doc_id"))
    val ndDrops = MinHash.jaccardPairs(s, dir)
      .join(survivors.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(survivors.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .select(col("doc_b").as("doc_id")).distinct()
    // decontamination: any 5-gram shared with the held-out eval set
    val g = Passes.grams(s, dir)
    val evalGrams = g.filter(col("doc_id") % Passes.EvalMod === 0)
      .select(col("g")).distinct()
    val contaminated = g.filter(col("doc_id") % Passes.EvalMod =!= 0)
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    // clean feeds BOTH the quota computation and the kept join and is
    // recomputed by each consumer here — deliberately NOT checkpointed:
    // an eager checkpoint would execute the LSH subtree at plan-build
    // time and truncate it out of the plan PlanAuditSpec audits. A
    // production release run materializes `clean` to storage between
    // stages instead (the stage boundary a 100 TB pipeline wants anyway).
    val clean = exact
      .join(ndDrops, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
    // rebalance to the smallest language of the CLEAN set (quota from
    // post-cleanup counts — computing it earlier is exactly the
    // mis-wiring this gate exists to catch); quota/keep/split machinery
    // is shared with q62/q54, never restated
    val quotas = Passes.withQuotas(
      clean.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")))
    val kept = clean.join(broadcast(quotas), "lang")
      .filter(Passes.keepByQuota)
    kept
      .withColumn("split", splitCol)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("lang"), col("split"))
  }

  private val qReleaseSql = {
    val em = Passes.EvalMod
    s"""WITH ${MinHash.candidatesCte},
       |${Passes.gramsCte},
       |q AS (
       |  SELECT doc_id, lang, text,
       |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |   CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop
       |  FROM documents WHERE doc_id % $em <> 0),
       |qual AS (
       |  SELECT * FROM q
       |  WHERE n_tokens BETWEEN 20 AND 400
       |    AND CAST(n_stop AS DOUBLE) / n_tokens < 0.2),
       |exact AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
       |                                 ORDER BY doc_id) AS rn
       |    FROM qual) t WHERE rn = 1),
       |d AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
       |  FROM documents),
       |nd AS (
       |  SELECT DISTINCT c.doc_b AS doc_id
       |  FROM cand c
       |  JOIN exact a ON a.doc_id = c.doc_a
       |  JOIN exact b ON b.doc_id = c.doc_b
       |  JOIN d da ON da.doc_id = c.doc_a
       |  JOIN d db ON db.doc_id = c.doc_b
       |  WHERE CAST(len(list_intersect(da.ws, db.ws)) AS DOUBLE)
       |    / (len(da.ws) + len(db.ws) - len(list_intersect(da.ws, db.ws)))
       |    >= ${MinHash.JaccardThreshold}),
       |ev AS (SELECT DISTINCT g FROM gg WHERE doc_id % $em = 0),
       |cont AS (
       |  SELECT DISTINCT c.doc_id FROM gg c JOIN ev ON c.g = ev.g
       |  WHERE c.doc_id % $em <> 0),
       |clean AS (
       |  SELECT * FROM exact
       |  WHERE doc_id NOT IN (SELECT doc_id FROM nd)
       |    AND doc_id NOT IN (SELECT doc_id FROM cont)),
       |${Passes.quotaCteSql("clean")},
       |kept AS (
       |  SELECT d.* FROM clean d JOIN quota q ON d.lang = q.lang
       |  WHERE ${Passes.keepByQuotaSql("d", "q")})
       |SELECT lang,
       |  $splitCaseSql AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
       |FROM kept GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
  }

  /** q73: ANALYZE-style column profiling — the first operator any data
    * team runs against an unknown table: per column, row/null/distinct
    * counts and value bounds, emitted as one narrow (column, metric)
    * report. One pass over the table (all aggregates in a single
    * projection — Catalyst plans one scan + one partial/final agg),
    * then a fixed unpivot; at 100 TB the exact distinct counts swap for
    * approx_count_distinct (q16 pins that sketch's verdict gate). */
  private def qProfile(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
    val agg = d.agg(
      count(lit(1)).as("n_rows"),
      count(col("text")).as("text_nn"),
      countDistinct(col("text")).as("text_nd"),
      min(length(col("text")).cast(LongType)).as("text_minlen"),
      max(length(col("text")).cast(LongType)).as("text_maxlen"),
      count(col("lang")).as("lang_nn"),
      countDistinct(col("lang")).as("lang_nd"),
      count(col("source")).as("source_nn"),
      countDistinct(col("source")).as("source_nd"),
      count(col("n_chars")).as("n_chars_nn"),
      countDistinct(col("n_chars")).as("n_chars_nd"),
      min(col("n_chars")).as("n_chars_min"),
      max(col("n_chars")).as("n_chars_max"))
    agg.select(expr(
      """stack(4,
        |  'text',    text_nn,    text_nd,    text_minlen, text_maxlen,
        |  'lang',    lang_nn,    lang_nd,    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  'source',  source_nn,  source_nd,  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  'n_chars', n_chars_nn, n_chars_nd, n_chars_min, n_chars_max)
        |  AS (column_name, n_nonnull, n_distinct, min_val, max_val)""".stripMargin),
      col("n_rows"))
      .select(col("column_name"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy(col("column_name"))
  }

  private val qProfileSql =
    """WITH a AS (
      |  SELECT COUNT(*) AS n_rows,
      |   COUNT(text) AS text_nn, CAST(COUNT(DISTINCT text) AS BIGINT) AS text_nd,
      |   CAST(min(len(text)) AS BIGINT) AS text_minlen,
      |   CAST(max(len(text)) AS BIGINT) AS text_maxlen,
      |   COUNT(lang) AS lang_nn, CAST(COUNT(DISTINCT lang) AS BIGINT) AS lang_nd,
      |   COUNT(source) AS source_nn,
      |   CAST(COUNT(DISTINCT source) AS BIGINT) AS source_nd,
      |   COUNT(n_chars) AS n_chars_nn,
      |   CAST(COUNT(DISTINCT n_chars) AS BIGINT) AS n_chars_nd,
      |   min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max
      |  FROM documents)
      |SELECT u.column_name, a.n_rows, u.n_nonnull, u.n_distinct,
      |       u.min_val, u.max_val
      |FROM a, LATERAL (VALUES
      |  ('text',    a.text_nn,    a.text_nd,    a.text_minlen, a.text_maxlen),
      |  ('lang',    a.lang_nn,    a.lang_nd,    NULL, NULL),
      |  ('source',  a.source_nn,  a.source_nd,  NULL, NULL),
      |  ('n_chars', a.n_chars_nn, a.n_chars_nd, a.n_chars_min, a.n_chars_max))
      |  AS u(column_name, n_nonnull, n_distinct, min_val, max_val)
      |ORDER BY column_name""".stripMargin

  /** q74: data-quality expectations — the Deequ/dbt-tests operator: a
    * fixed suite of declarative checks (key uniqueness, referential
    * integrity, domain membership, value ranges, cross-field
    * consistency) evaluated in one pass each and emitted as a
    * (check, n_violations, pass) report. Violation counting shapes:
    * uniqueness = groupBy-HAVING, FK = broadcast/shuffle ANTI join,
    * ranges/domains = map-side predicates — each the plan you would
    * run at 100 TB (the anti-join is the only shuffle). */
  private def qQualityChecks(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val li = load(s, dir, "lineitem")
    val ord = load(s, dir, "orders")
    val dupKeys = docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(coalesce(sum(col("n")), lit(0L)).as("v"))
      .select(lit("doc_id_unique").as("check_name"), col("v").as("n_violations"))
    val fkOrphans = li.join(ord, li("l_orderkey") === ord("o_orderkey"),
        "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(lit("lineitem_order_fk").as("check_name"),
        col("v").as("n_violations"))
    val langDomain = docs
      .filter(!col("lang").isin("en", "de", "fr", "es", "zh"))
      .agg(count(lit(1)).as("v"))
      .select(lit("lang_in_domain").as("check_name"),
        col("v").as("n_violations"))
    val charRange = docs.filter(col("n_chars") <= 0L)
      .agg(count(lit(1)).as("v"))
      .select(lit("n_chars_positive").as("check_name"),
        col("v").as("n_violations"))
    val lenConsistent = docs
      .filter(length(col("text")).cast(LongType) =!= col("n_chars"))
      .agg(count(lit(1)).as("v"))
      .select(lit("n_chars_matches_text").as("check_name"),
        col("v").as("n_violations"))
    dupKeys.union(fkOrphans).union(langDomain).union(charRange)
      .union(lenConsistent)
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("check_name"))
  }

  private val qQualityChecksSql =
    """WITH checks AS (
      |  SELECT 'doc_id_unique' AS check_name,
      |    COALESCE((SELECT CAST(SUM(n) AS BIGINT) FROM (
      |      SELECT COUNT(*) AS n FROM documents GROUP BY doc_id
      |      HAVING COUNT(*) > 1) t), 0) AS n_violations
      |  UNION ALL
      |  SELECT 'lineitem_order_fk',
      |    (SELECT COUNT(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                       WHERE o.o_orderkey = l.l_orderkey))
      |  UNION ALL
      |  SELECT 'lang_in_domain',
      |    (SELECT COUNT(*) FROM documents
      |     WHERE lang NOT IN ('en','de','fr','es','zh'))
      |  UNION ALL
      |  SELECT 'n_chars_positive',
      |    (SELECT COUNT(*) FROM documents WHERE n_chars <= 0)
      |  UNION ALL
      |  SELECT 'n_chars_matches_text',
      |    (SELECT COUNT(*) FROM documents WHERE len(text) <> n_chars)
      |)
      |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
      |  n_violations = 0 AS pass
      |FROM checks ORDER BY check_name""".stripMargin

  /** q81: corpus snapshot DIFF — the dataset-versioning op: given two
    * corpus snapshots, classify every doc_id as added / removed /
    * changed / unchanged and report counts + membership checksums per
    * class. One full-outer join on the stable id with an md5 content
    * compare — at 100 TB both sides shuffle once on the id (or zero
    * times if the snapshots share bucketing), and the md5 comparison
    * prunes to 2 columns per side at the scan. The "v2" snapshot is
    * derived deterministically from the same table so the gate is
    * self-contained: every 11th doc deleted, every 7th rewritten,
    * one synthetic addition per 13th doc. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = load(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("h1"))
    val base = load(s, dir, "documents")
    val v2 = base
      .filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h2"))
      .unionByName(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          md5(concat(lit("new:"), col("text"))).as("h2")))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("class",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("checksum"))
      .orderBy(col("class"))
  }

  private val qSnapshotDiffSql =
    """WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
      |v2 AS (
      |  SELECT doc_id,
      |   md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS h2
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, md5('new:' || text) AS h2
      |  FROM documents WHERE doc_id % 13 = 0),
      |j AS (
      |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
      |   CASE WHEN v1.h1 IS NULL THEN 'added'
      |        WHEN v2.h2 IS NULL THEN 'removed'
      |        WHEN v1.h1 <> v2.h2 THEN 'changed'
      |        ELSE 'unchanged' END AS class
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      |SELECT class, COUNT(*) AS n_docs,
      | CAST(SUM(doc_id) AS BIGINT) AS checksum
      |FROM j GROUP BY class ORDER BY class""".stripMargin

  /** Epoch-shuffle constants: shard fan-out and the epoch seed. */
  private val ShuffleShards = 8
  private val EpochSeed = 42

  /** q93: DETERMINISTIC EPOCH SHUFFLE — the reproducible global shuffle
    * a training run needs before sharding a corpus into data-loader
    * files: identical on every re-run (restartable training), seedable
    * per epoch, and computable without a global sort. Each doc gets a
    * shuffle key md5(doc_id:seed); the shard is a 4-char mix of the key
    * (cross-engine — Spark's murmur `hash()` has no DuckDB twin, md5
    * does), and the in-shard position orders by the key.
    *
    * Scale shape: the shard assign is map-side; the only shuffle is the
    * repartition-by-shard plus a PER-SHARD sort (each shard sorts
    * 1/[[ShuffleShards]] of the corpus independently) — never a global
    * order-by. At 100 TB you raise the shard count to the data-loader
    * file count; cost stays one shuffle + local sorts, which is exactly
    * the published WebDataset/Megatron shard-build recipe. */
  /** md5 shuffle key and shard mix over it — shared by the epoch
    * shuffle (q93) and the sequence packer (q96), so "pack in shuffled
    * order" composes by construction. */
  private def shuffleKey: org.apache.spark.sql.Column =
    md5(concat(col("doc_id").cast("string"), lit(s":$EpochSeed")))
  private def shardOf: org.apache.spark.sql.Column = {
    val mix = ((ascii(substring(col("hh"), 1, 1)) * 31
      + ascii(substring(col("hh"), 2, 1))) * 31
      + ascii(substring(col("hh"), 3, 1))) * 31 +
      ascii(substring(col("hh"), 4, 1))
    (mix % ShuffleShards).cast(LongType)
  }

  private def qEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val wShard = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("hh"), col("doc_id"))
    load(s, dir, "documents")
      .select(col("doc_id"), shuffleKey.as("hh"))
      .withColumn("shard", shardOf)
      .withColumn("pos", row_number().over(wShard).cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  private val qEpochShuffleSql =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    md5(CAST(doc_id AS VARCHAR) || ':$EpochSeed') AS hh
       |  FROM documents),
       |v AS (
       |  SELECT doc_id, hh,
       |    ((ascii(substring(hh,1,1)) * 31 + ascii(substring(hh,2,1))) * 31
       |      + ascii(substring(hh,3,1))) * 31 + ascii(substring(hh,4,1)) AS hv
       |  FROM h)
       |SELECT doc_id, CAST(hv % $ShuffleShards AS BIGINT) AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY hv % $ShuffleShards
       |                          ORDER BY hh, doc_id) AS BIGINT) AS pos
       |FROM v ORDER BY doc_id""".stripMargin

  /** Sequence length for q96's packer (a gate-sized stand-in for the
    * 2k–8k context lengths a real run packs to). */
  private val SeqLen = 128

  /** q96: SEQUENCE PACKING — the last hop before tensors: documents in
    * q93's shuffled shard order are concatenated and cut into fixed
    * [[SeqLen]]-token training sequences, docs spanning cut points
    * contributing to both neighbors (the no-padding "packed" regime of
    * the pretraining literature). Output is the per-(shard, sequence)
    * layout: how many docs touch each sequence and its filled token
    * count — every sequence full at [[SeqLen]] except each shard's
    * last.
    *
    * All integer math over one per-shard running sum: `cum DIV SeqLen`
    * turns the cumulative token offset into sequence coordinates, and
    * each doc explodes into only the sequences it overlaps (≤
    * tokens/SeqLen + 1 rows). Scale: the window is per-shard (shards
    * are the parallel unit, as in q93); no global sort, no pairwise
    * anything; raising the shard count bounds the per-shard sort at
    * any corpus size. */
  private def qSequencePacking(s: SparkSession, dir: String): DataFrame = {
    val wShard = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("hh"), col("doc_id"))
    load(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        shuffleKey.as("hh"))
      .withColumn("shard", shardOf)
      .withColumn("cum", sum(col("n_tokens")).over(wShard))
      .withColumn("prev", col("cum") - col("n_tokens"))
      .select(col("shard"), col("doc_id"), col("prev"), col("cum"),
        explode(expr(s"sequence(prev DIV $SeqLen, (cum - 1) DIV $SeqLen)"))
          .as("seq_id"))
      .withColumn("tok_in_seq",
        least(col("cum"), (col("seq_id") + 1) * SeqLen)
          - greatest(col("prev"), col("seq_id") * SeqLen))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_in_seq")).as("seq_tokens"))
      .orderBy(col("shard"), col("seq_id"))
  }

  private val qSequencePackingSql =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    md5(CAST(doc_id AS VARCHAR) || ':$EpochSeed') AS hh
       |  FROM documents),
       |v AS (
       |  SELECT doc_id, n_tokens, hh,
       |    ((ascii(substring(hh,1,1)) * 31 + ascii(substring(hh,2,1))) * 31
       |      + ascii(substring(hh,3,1))) * 31 + ascii(substring(hh,4,1)) AS hv
       |  FROM h),
       |c AS (
       |  SELECT doc_id, n_tokens, hh, CAST(hv % $ShuffleShards AS BIGINT) AS shard,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY hv % $ShuffleShards
       |                             ORDER BY hh, doc_id) AS BIGINT) AS cum
       |  FROM v),
       |e AS (
       |  SELECT shard, doc_id, cum - n_tokens AS prev, cum,
       |    unnest(range((cum - n_tokens) // $SeqLen,
       |                 (cum - 1) // $SeqLen + 1)) AS seq_id
       |  FROM c)
       |SELECT shard, seq_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(least(cum, (seq_id + 1) * $SeqLen)
       |         - greatest(prev, seq_id * $SeqLen)) AS BIGINT) AS seq_tokens
       |FROM e GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin

  /** Per-group sample size for q94. */
  private val SampleK = 20

  /** q94: PER-GROUP UNIFORM SAMPLE — k docs per language, uniform
    * without replacement, reproducible across runs and restarts: rank
    * by md5(doc_id:salt) and keep the k smallest. This is the
    * distributed replacement for reservoir sampling (the classic
    * single-pass reservoir is sequential by construction); hash-rank
    * sampling gives the same uniform-without-replacement guarantee,
    * composes with partitioned execution, and is restart-stable where
    * a reservoir's result depends on arrival order.
    *
    * Executes through the custom [[graft.plans.TopKPerGroup]] plan —
    * per-partition bounded heaps (k per group) then one k-row-per-group
    * merge, so a 100 TB corpus is sampled with NO per-language sort and
    * no shuffle wider than groups×k rows. The oracle states the same
    * set declaratively as a window rank. */
  private def qGroupSample(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5(concat(col("doc_id").cast("string"), lit(":sample7")))
          .as("skey"))
    graft.plans.TopK.perGroup(base, Seq(col("lang")),
        Seq(col("skey").asc, col("doc_id").asc), SampleK)
      .select(col("lang"), col("doc_id"), col("skey"))
      .orderBy(col("lang"), col("skey"), col("doc_id"))
  }

  private val qGroupSampleSql =
    s"""WITH h AS (
       |  SELECT lang, doc_id,
       |    md5(CAST(doc_id AS VARCHAR) || ':sample7') AS skey
       |  FROM documents),
       |r AS (
       |  SELECT lang, doc_id, skey,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |                       ORDER BY skey, doc_id) AS rnk
       |  FROM h)
       |SELECT lang, doc_id, skey FROM r WHERE rnk <= $SampleK
       |ORDER BY lang, skey, doc_id""".stripMargin

  // ------------------------------------------------------------- q199

  /** q199: TRAIN/TEST NEAR-DUP LEAKAGE AUDIT — verified near-dup pairs
    * (the q35→q37 chain) that CROSS the q54 hash-split boundary: each
    * such pair is an eval document whose near-copy sits in train, the
    * leak the split-then-dedup ordering mistake ships. Reuses the
    * production split assignment ([[splitCol]]) and pair
    * graph verbatim, so the audit is consistent with both gates by
    * construction. One row per (split_a, split_b) with the leak flag.
    *
    * Scale shape: the pair graph is band-bucketed (never corpus²); the
    * split is a pure projection joined on doc_id; the report is a
    * ≤9-row aggregate. */
  private def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val split = load(s, dir, "documents")
      .select(col("doc_id"), splitCol.as("split"))
    MinHash.jaccardPairs(s, dir)
      .join(split.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), "doc_b")
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
      .orderBy(col("split_a"), col("split_b"))
  }

  private val qSplitLeakageSql =
    s"""WITH ${MinHash.verifiedPairsCte},
       |sp AS (
       |  SELECT doc_id, ${splitCaseSql.linesIterator.mkString(" ")}
       |    AS split
       |  FROM documents)
       |SELECT a.split AS split_a, b.split AS split_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  a.split <> b.split AS is_leak
       |FROM pairs p
       |JOIN sp a ON a.doc_id = p.doc_a
       |JOIN sp b ON b.doc_id = p.doc_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q46_corpus_curation" -> QueryDef(qCurate, Some(qCurateSql),
      "end-to-end corpus curation: quality gate -> exact dedup -> LSH near-dup removal -> per-lang stats"),
    "q54_sample_split" -> QueryDef(qSampleSplit, Some(qSampleSplitSql),
      "deterministic hash-bucketed train/val/test split, stratified report"),
    "q57_token_packing" -> QueryDef(qTokenPacking, Some(qTokenPackingSql),
      "token-budget shard packing: per-lang cumsum window -> shard layout"),
    "q64_corpus_release" -> QueryDef(qRelease, Some(qReleaseSql),
      "full pretraining release: quality -> dedup -> near-dup -> decontam -> rebalance -> split"),
    "q73_column_profile" -> QueryDef(qProfile, Some(qProfileSql),
      "ANALYZE-style per-column profiling report (one scan, one agg)"),
    "q74_quality_checks" -> QueryDef(qQualityChecks, Some(qQualityChecksSql),
      "data-quality expectations: uniqueness / FK / domain / range report"),
    "q81_snapshot_diff" -> QueryDef(qSnapshotDiff, Some(qSnapshotDiffSql),
      "corpus snapshot diff: added/removed/changed via full-outer md5 compare"),
    "q93_epoch_shuffle" -> QueryDef(qEpochShuffle, Some(qEpochShuffleSql),
      "reproducible epoch shuffle: md5 order, shard assign, per-shard pos"),
    "q94_group_sample" -> QueryDef(qGroupSample, Some(qGroupSampleSql),
      "per-language uniform hash-rank sample via the bounded-heap TopK plan"),
    "q96_sequence_packing" -> QueryDef(qSequencePacking,
      Some(qSequencePackingSql),
      "fixed-length sequence packing in shuffled shard order (no padding)"),
    "q199_split_leakage" -> QueryDef(qSplitLeakage, Some(qSplitLeakageSql),
      "near-dup pairs crossing the q54 train/val/test split boundary"))
}
