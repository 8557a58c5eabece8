package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables
import Tables.load

/** MinHash/LSH building blocks shared by the dedup, similarity and graph
  * queries: word sets, signatures, bands, candidate pairs and their DuckDB
  * CTE twins. */
object MinHash {

  /** Target Jaccard threshold the near-dup chain is tuned for — q37's
    * verify stage filters on the same value, so the LSH curve and the
    * exact confirmation agree on what "duplicate" means. */
  private[ops] val JaccardThreshold = 0.5

  /** Banding derived from the threshold by [[LshPlanner]] (fn-weighted:
    * a missed dup pollutes the corpus, a false candidate only costs one
    * verify-stage Jaccard). 8 hashes = two md5 digests per shingle;
    * at t = 0.5 the planner lands on 4 bands × 2 rows. */
  private val LshParams = LshPlanner.plan(JaccardThreshold, maxHashes = 8)
  private[ops] val NumHashes = LshParams.numHashes
  private val Bands = LshParams.bands
  private val Rows = LshParams.rows
  require(NumHashes <= 8, "hash family below draws from two md5 digests")

  /** Word-set projection shared by the Jaccard verify stage. */
  private[ops] def wordSets(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))

  /** (doc_id, band) LSH band-key table for a (doc_id, text) frame:
    * word-3-shingles → 8 min-hashes → 4 band keys per doc. Hash
    * family: TWO keyed md5s per shingle, each split into four 8-hex
    * chunks (md5 bits are independent, so one digest yields four
    * 32-bit hash values) — this quarters the digest cost of the
    * signature aggregation versus one md5 per hash, and the
    * lexicographic min over fixed-width hex chunks is reproducible
    * bit-for-bit in DuckDB. Shared by the batch candidate join (q35)
    * and the streaming incremental index (q72), so both paths bucket
    * identically by construction. */
  /** (doc_id, h0..h7) MinHash signature table — the shared stage under
    * [[bandTable]] and q188's banding-parameter sweep. */
  private[ops] def sigTable(docs0: DataFrame): DataFrame = {
    val docs = docs0
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
    // no pre-agg distinct: min over a multiset equals min over its set,
    // so duplicate shingles within a doc cannot change the signature —
    // skipping the (doc_id, shingle) dedup removes a full shuffle and
    // lets the signature groupBy partial-aggregate map-side (each doc
    // collapses to 8 values before any data moves)
    val shingles = docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
        .as("sh"))
      .withColumn("ha", md5(concat(lit("a:"), col("sh"))))
      .withColumn("hb", md5(concat(lit("b:"), col("sh"))))
    val hashAggs = (0 until NumHashes).map { i =>
      val src = if (i < 4) col("ha") else col("hb")
      min(substring(src, (i % 4) * 8 + 1, 8)).as(s"h$i")
    }
    shingles.groupBy(col("doc_id"))
      .agg(hashAggs.head, hashAggs.tail: _*)
  }

  private[graft] def bandTable(docs0: DataFrame): DataFrame = {
    val sigs = sigTable(docs0)
    val bandCols = (0 until Bands).map { b =>
      val rowCols = (0 until Rows).map(i => col(s"h${b * Rows + i}"))
      md5(concat((lit(s"$b:") +: rowCols): _*))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
  }

  private[ops] def minhashCandidates(s: SparkSession, dir: String): DataFrame = {
    val bands = bandTable(load(s, dir, "documents"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** CTE chain reproducing [[sigTable]] in DuckDB, ending at `sig` —
    * shared by [[bandsCte]] and q188's banding sweep. */
  private[ops] val sigCte = {
    val hs = (0 until NumHashes).map { i =>
      val src = if (i < 4) "ha" else "hb"
      s"min(substring($src, ${(i % 4) * 8 + 1}, 8)) AS h$i"
    }.mkString(",\n   ")
    s"""w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh0 AS (
       |  SELECT doc_id,
       |   unnest(list_transform(range(1, len(ws) - 1),
       |     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       |  FROM w),
       |sh AS (
       |  SELECT doc_id, md5('a:' || sh) AS ha, md5('b:' || sh) AS hb FROM sh0),
       |sig AS (
       |  SELECT doc_id,
       |   $hs
       |  FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** CTE chain reproducing [[bandTable]] in DuckDB, ending at `bands`
    * — shared by [[candidatesCte]] (all-pairs-within-bucket form) and
    * q144's new-vs-corpus band join. */
  private[ops] val bandsCte = {
    val bs = (0 until Bands)
      .map(b => s"md5('$b:' || " +
        (0 until Rows).map(i => s"h${b * Rows + i}").mkString(" || ") + ")")
      .mkString(", ")
    s"""$sigCte,
       |bands AS (
       |  SELECT doc_id, unnest([$bs]) AS band FROM sig)""".stripMargin
  }

  /** Shared CTE chain reproducing [[minhashCandidates]] in DuckDB. */
  private[ops] val candidatesCte =
    s"""$bandsCte,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.doc_id < y.doc_id)""".stripMargin

  /** Word-set Jaccard verify over the MinHash band-bucket CANDIDATES —
    * the stage that turns LSH candidate pairs into confirmed near-dups.
    * Cost is O(|candidates|), and candidates only form inside LSH
    * buckets, so the whole dedup chain stays sub-quadratic at any
    * corpus size (the former per-language all-pairs form was O(n²) in
    * the language's document count — 300 s at sf0.1, unbounded at
    * 100 TB). */
  /** Confirmed near-dup pairs (Jaccard ≥ 0.5 over the LSH candidates),
    * unordered — shared by q37 and the q52 cluster stage. */
  private[ops] def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val d = wordSets(s, dir)
    minhashCandidates(s, dir)
      .join(d.select(col("doc_id").as("doc_a"), col("ws").as("ws_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("ws").as("ws_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("ws_a"), col("ws_b"))).cast(LongType))
      .withColumn("uni",
        size(col("ws_a")).cast(LongType) + size(col("ws_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast(DoubleType) / col("uni"))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** CTE chain ending at the Jaccard-verified pair graph `pairs(doc_a,
    * doc_b)` — shared by [[clustersCte]] and q199's split-leakage
    * audit. */
  private[ops] val verifiedPairsCte =
    s"""$candidatesCte,
       |d AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
       |  FROM documents),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c JOIN d a ON a.doc_id = c.doc_a
       |               JOIN d b ON b.doc_id = c.doc_b
       |  WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       |    / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.5)""".stripMargin

  /** Shared recursive-CTE chain: LSH candidates → Jaccard-verified pair
    * graph → transitive closure → `comp(doc_id, cluster_id)`. Used by
    * the q52 cluster listing, the q92 canonical-doc selection, and
    * q197's cluster-size histogram. */
  private[ops] val clustersCte =
    s"""$verifiedPairsCte,
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM edges),
       |reach AS (
       |  SELECT node, node AS r FROM nodes
       |  UNION
       |  SELECT re.node, e.b AS r FROM reach re JOIN edges e ON e.a = re.r),
       |comp AS (SELECT node AS doc_id, min(r) AS cluster_id
       |         FROM reach GROUP BY node)""".stripMargin
}
