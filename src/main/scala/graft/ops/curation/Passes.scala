package graft.ops
package curation

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import Tables.load

/** Training-data passes shared by the curation queries: decontamination
  * n-grams and per-source quotas. */
object Passes {

  /** Every ~97th doc plays the held-out eval set in the gate corpus. */
  private[ops] val EvalMod = 97
  private val GramN = 5

  /** (doc_id, lang, g): one row per word-5-gram occurrence. */
  private[ops] def grams(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= GramN)
      .select(col("doc_id"), col("lang"), explode(expr(
        s"transform(sequence(0, size(ws) - $GramN), " +
          "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))"))
        .as("g"))

  /** Shared DuckDB CTE pair `gw`/`gg` reproducing [[grams]] (names are
    * collision-free with [[MinHash.candidatesCte]] so release-pipeline
    * compositions can include both). */
  private[ops] val gramsCte =
    s"""gw AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= $GramN),
       |gg AS (
       |  SELECT doc_id, lang,
       |   unnest(list_transform(range(1, len(ws) - ${GramN - 2}),
       |     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS g
       |  FROM gw)""".stripMargin

  /** Quota threshold from `target`/`n_docs` columns: the language's
    * quota fraction of the 16-bit space as a 4-digit hex string. ONE
    * implementation of the threshold encoding — q62's equalizer, q79's
    * mixture, and the q64 release chain all derive from it, so an edge
    * fix (the 0-doc guard here, or a 65536-boundary change) lands
    * everywhere at once. */
  private[ops] def withThresh(quotas: DataFrame): DataFrame =
    quotas.withColumn("thresh",
      when(col("n_docs") === 0, lit("0000")) // 0-doc language: keep none
        .otherwise(format_string("%04x",
          floor(lit(65536.0) * col("target") / col("n_docs"))
            .cast(IntegerType))))

  /** Quota table for per-language downsampling: adds `target` (global
    * min count) and `thresh` via [[withThresh]] to a per-lang counts
    * table. The global min is an unpartitioned window over the per-lang
    * COUNTS (#languages rows, not #docs) — a single-partition window on
    * a table this small beats a scalar cross join, and keeps plans free
    * of nested-loop joins (PlanAuditSpec forbids them globally).
    * Shared by q62 and the q64 release pipeline. */
  private[ops] def withQuotas(counts: DataFrame): DataFrame = {
    val target = min(col("n_docs"))
      .over(org.apache.spark.sql.expressions.Window.partitionBy())
    withThresh(counts.withColumn("target", target))
  }

  /** Keep rule against the quota columns: the smallest language keeps
    * everything exactly; others keep a doc iff the first 4 hex digits
    * of md5("bal:"+doc_id) fall under the quota threshold. A 4-digit
    * lowercase hex compare IS a numeric compare, so no engine-specific
    * hex-to-int conversion is involved. Membership is a pure function
    * of (doc_id, per-lang counts) — re-runs, engines, and re-shards
    * agree row-for-row. */
  private[ops] def keepBySaltedQuota(salt: String): Column =
    col("n_docs") === col("target") ||
      substring(md5(concat(lit(salt), col("doc_id"))), 1, 4) < col("thresh")

  private[ops] def keepByQuota: Column = keepBySaltedQuota("bal:")

  /** SQL twin of [[withQuotas]]: `cnt`/`quota` CTE pair over `src`
    * (any relation exposing `lang`). */
  private[ops] def quotaCteSql(src: String): String =
    s"""cnt AS (SELECT lang, COUNT(*) AS n_docs FROM $src GROUP BY lang),
       |quota AS (
       |  SELECT lang, n_docs, min(n_docs) OVER () AS target,
       |   printf('%04x', CAST(floor(65536.0 * (min(n_docs) OVER ()) / n_docs) AS INT)) AS thresh
       |  FROM cnt)""".stripMargin

  /** SQL twin of [[keepBySaltedQuota]] against aliases `d` (docs) / `q`
    * (quota). */
  private[ops] def keepByQuotaSql(d: String, q: String,
      salt: String = "bal:"): String =
    s"""CASE WHEN $q.n_docs = $q.target THEN TRUE
       |        ELSE substring(md5('$salt' || $d.doc_id), 1, 4) < $q.thresh
       |   END""".stripMargin
}
