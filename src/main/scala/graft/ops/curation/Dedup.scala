package graft.ops
package curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.{QueryDef, Tables}
import Tables.load
import MinHash.{bandsCte, bandTable, candidatesCte, clustersCte, jaccardPairs, JaccardThreshold, minhashCandidates, wordSets}

/** Corpus deduplication: exact, MinHash/LSH, SimHash, n-gram, substring
  * spans and clustering. */
object Dedup {

  /* Deduplication operators for training-data pipelines: exact
    * (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard. Scale notes:
    *  - exact dedup is one hash aggregation on the content hash;
    *  - MinHash+LSH is shingle-explode → per-doc signature agg → band
    *    explode → '''shuffle on band key''' — candidate pairs only ever form
    *    inside a bucket, which is what keeps it sub-quadratic at 100 TB;
    *  - pairwise Jaccard (the verify stage) runs ONLY over the band-bucket
    *    candidate pairs the LSH stage produced — never a cross product, not
    *    even inside a partition: a "language" or "source" is not a candidate
    *    scope, because one language is billions of documents at 100 TB.
    */

  /** Exact dedup: content-hash groupBy, min doc id is the keeper. */
  private def qExact(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc"))
      .orderBy(col("content_hash"))

  private val qExactSql =
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
      | min(doc_id) AS keeper_doc
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  private def qMinHash(s: SparkSession, dir: String): DataFrame =
    minhashCandidates(s, dir).orderBy(col("doc_a"), col("doc_b"))

  private val qMinHashSql =
    s"""WITH $candidatesCte
       |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin

  /** 16-bit SimHash over the distinct word set: bit j votes by the j-th
    * hex digit's high bit of md5(word). */
  private def qSimHash(s: SparkSession, dir: String): DataFrame =
    simhashFingerprints(s, dir).orderBy(col("doc_id"))

  /** (doc_id, simhash) fingerprint table — shared with the Hamming-band
    * near-dup join (q43). */
  private def simhashFingerprints(s: SparkSession, dir: String): DataFrame = {
    val words = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("m1", graft.functions.vec.hexHighBits(md5(col("w"))))
    // one packed-mask expression per row ((m1 >> j) & 1 = 1 ⟺ digit
    // j+1 ∈ HighHex — the oracle's substring formulation is untouched),
    // then the native SimHashVotes aggregate: ONE int-array buffer per
    // group in place of 16 separate SUM columns of agg state (see
    // functions/SimHashAgg.scala; the q36 gate pins the equivalence)
    words.groupBy(col("doc_id"))
      .agg(graft.functions.SimHashVotes.simhash(col("m1"), 16).as("simhash"))
  }

  /** DuckDB CTE `fp(doc_id, simhash)` mirroring the fingerprints. */
  private val simhashCte = {
    val sums = (0 until 16).map(j =>
      s"sum(CASE WHEN substring(md5(w), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n   ")
    val fp = (0 until 16)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""fp AS (
       |  SELECT doc_id, CAST($fp AS BIGINT) AS simhash
       |  FROM (
       |    SELECT doc_id,
       |     $sums
       |    FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
       |          FROM documents) t
       |    GROUP BY doc_id) b)""".stripMargin
  }

  private val qSimHashSql =
    s"""WITH $simhashCte
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin

  private def qJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  private val qJaccardSql =
    s"""WITH $candidatesCte,
       |d AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
       |  FROM documents)
       |SELECT c.doc_a, c.doc_b,
       | CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       |   / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jaccard
       |FROM cand c JOIN d a ON a.doc_id = c.doc_a JOIN d b ON b.doc_id = c.doc_b
       |WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       |   / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)))
       |   >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** 64-bit SimHash for the Hamming near-dup JOIN (the 16-bit q36 form
    * mirrors the reference's fingerprint column; 16 bits is far too
    * coarse to *join* on — over half of all random pairs land within
    * radius 3). Bit j < 32 votes by digit j of md5(w); bits 32..63 by
    * digit j−32 of md5("s:"+w). */
  private[graft] def simhash64(s: SparkSession, dir: String): DataFrame = {
    val words = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("m1", graft.functions.vec.hexHighBits(md5(col("w"))))
      .withColumn("m2",
        graft.functions.vec.hexHighBits(md5(concat(lit("s:"), col("w")))))
    // same packed-mask trick as the 16-bit form; the two 32-bit vote
    // aggregates run as ONE SimHashVotes buffer each (vs 64 SUM columns
    // of per-group agg state), recombined into the 64-bit fingerprint —
    // the q43 gate pins the equivalence to the oracle's substring form
    words.groupBy(col("doc_id"))
      .agg(
        graft.functions.SimHashVotes.simhash(col("m1"), 32).as("lo"),
        graft.functions.SimHashVotes.simhash(col("m2"), 32).as("hi"))
      .select(col("doc_id"),
        col("lo").bitwiseOR(shiftleft(col("hi"), 32)).as("simhash"))
  }

  private val simhash64Cte = {
    val sums = (0 until 64).map { j =>
      val src = if (j < 32) "md5(w)" else "md5('s:' || w)"
      s"sum(CASE WHEN substring($src, ${(j % 32) + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n   ")
    val fp = (0 until 64)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""fp64 AS (
       |  SELECT doc_id, CAST($fp AS BIGINT) AS simhash
       |  FROM (
       |    SELECT doc_id,
       |     $sums
       |    FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
       |          FROM documents) t
       |    GROUP BY doc_id) b)""".stripMargin
  }

  /** SimHash near-dup JOIN (not just a fingerprint column) — the Manku
    * et al. design: 64-bit fingerprint, 4 banded tables of 16 bits,
    * radius 3. By pigeonhole, a pair within Hamming distance 3 differs
    * in at most 3 of the 4 bands, so at least one band key matches —
    * the banded equi-join is EXACT for this radius while only ever
    * comparing docs inside a 16-bit-key bucket. */
  /** SimHash Hamming candidate pairs (doc_a < doc_b, distance ≤ 3):
    * the q43 result without its presentation sort, shared as the
    * similarity GRAPH consumed by the graph battery (PageRank q127,
    * BFS q129) — the same "one banded equi-join, never all pairs"
    * edge discovery at any corpus size. */
  private[graft] def hammingPairs(s: SparkSession, dir: String): DataFrame = {
    val fp = simhash64(s, dir)
    val entries = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), 16 * b).bitwiseAND(lit(65535L)).as("nib")))
    val bands = fp.select(col("doc_id"), col("simhash"),
        explode(array(entries: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.nib").as("nib"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.nib") === col("y.nib") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** DuckDB CTE chain reproducing [[hammingPairs]]; ends with a
    * `hpairs(doc_a, doc_b, hamming)` table. */
  private[graft] val hammingPairsCte =
    s"""$simhash64Cte,
       |bands AS (
       |  SELECT doc_id, simhash, b.band, (simhash >> (16 * b.band)) & 65535 AS nib
       |  FROM fp64, (SELECT unnest([0,1,2,3]) AS band) b),
       |hpairs AS (
       |  SELECT doc_a, doc_b, hamming FROM (
       |    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |      CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |    FROM bands x JOIN bands y
       |      ON x.band = y.band AND x.nib = y.nib AND x.doc_id < y.doc_id)
       |  WHERE hamming <= 3)""".stripMargin

  private def qSimHashHamming(s: SparkSession, dir: String): DataFrame =
    hammingPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  private val qSimHashHammingSql =
    s"""WITH $hammingPairsCte
       |SELECT doc_a, doc_b, hamming FROM hpairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q52: near-dup CLUSTERS — connected components over the verified
    * pair graph (see [[Components]]). Pairs alone under-count removals
    * when duplicates chain: a~b and b~c is ONE cluster {a,b,c} with one
    * keeper (the min id), which is what a dedup pass actually drops by.
    * The oracle states reachability declaratively as a recursive CTE —
    * a third formulation (Spark label propagation vs SQL transitive
    * closure) agreeing on every cluster id. */
  private def qClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val comp = Components.connectedComponents(pairs)
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  private val qClustersSql =
    s"""WITH RECURSIVE $clustersCte,
       |sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |          FROM comp GROUP BY cluster_id)
       |SELECT c.doc_id, c.cluster_id, s.cluster_size
       |FROM comp c JOIN sizes s USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** q67: EXACT n-gram overlap — the exact-substring complement to the
    * MinHash chain (the "dedup by shared 8-token span" operator of the
    * deduplicating-training-data literature). Every pair of documents
    * sharing at least [[MinShared]] distinct 8-token shingles is
    * reported with its shared count and overlap fraction.
    *
    * Scale shape: the shuffle key is the shingle digest, so pairs only
    * materialize inside one shingle's posting list. Discriminative power
    * and the scale bound come from the same knob: shingles occurring in
    * more than [[MaxDf]] documents are boilerplate (they identify
    * nothing) AND are the only place a posting-list self-join could go
    * quadratic — dropping them caps per-key join fan-out at MaxDf² while
    * the long-tail shingles that actually indicate copying all survive.
    * The document-frequency filter reuses the posting list's own
    * partitioning (groupBy and join share the digest key — one shuffle).
    */
  private val NgramK = 8
  private val MaxDf = 50
  private val MinShared = 5

  private def qNgramOverlap(s: SparkSession, dir: String): DataFrame = {
    val grams = load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= NgramK)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"""transform(sequence(0, size(ws) - $NgramK),
           |  i -> concat_ws(' ', slice(ws, i + 1, $NgramK)))""".stripMargin)))
        .as("sh"))
      // xxhash64, not md5: the digest is an INTERNAL join/groupBy key
      // (never output, never oracle-compared), so an 8-byte long beats a
      // 32-char hex string — ~8x less shuffle volume on the widest
      // shuffle of this query. Collisions would need ~2^32 distinct
      // shingles per the birthday bound; at that point MaxDf banding has
      // long since capped the damage to one merged posting list.
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    // document frequency via groupBy, NOT a count-over-window: partial
    // aggregation collapses a hot shingle map-side, where a window
    // would materialize its entire posting list in one partition
    val dfreq = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf)
    // kept feeds THREE consumers (both self-join sides + the per-doc
    // sizes): materialize the explode+md5+df-filter once instead of
    // re-deriving ~190 shingles/doc per consumer. Exchange reuse only
    // dedups the identical self-join sides; the sizes aggregate and the
    // df aggregate shuffle on different keys and would each recompute
    // the full shingle table. At cluster scale this is the same
    // "checkpoint the shared frontier" device the label-propagation
    // rounds use.
    val kept = grams.join(dfreq.select(col("h")), "h").transform(graft.util.Pin.apply)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    kept.as("x")
      .join(kept.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= MinShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared_ngrams"),
        (col("shared_ngrams").cast(DoubleType) / least(col("na"), col("nb")))
          .as("overlap_frac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val qNgramOverlapSql =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= $NgramK),
       |g0 AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(ws) - ${NgramK - 2}),
       |    i -> array_to_string(ws[i : i + ${NgramK - 1}], ' ')))) AS sh
       |  FROM w),
       |g AS (SELECT doc_id, md5(sh) AS h FROM g0),
       |dfreq AS (
       |  SELECT h FROM g GROUP BY h HAVING COUNT(*) <= $MaxDf),
       |kept AS (SELECT g.doc_id, g.h FROM g JOIN dfreq USING (h)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    COUNT(*) AS shared_ngrams
       |  FROM kept x JOIN kept y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, p.shared_ngrams,
       |  CAST(p.shared_ngrams AS DOUBLE) / least(a.n_grams, b.n_grams)
       |    AS overlap_frac
       |FROM pairs p JOIN sizes a ON a.doc_id = p.doc_a
       |             JOIN sizes b ON b.doc_id = p.doc_b
       |WHERE p.shared_ngrams >= $MinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q140: n-gram CONTAINMENT — the ASYMMETRIC complement of q67's
    * Jaccard-style overlap: C(A⊂B) = |grams(A) ∩ grams(B)| / |grams(A)|
    * detects a document substantially CONTAINED in another (quotes,
    * excerpt pages, wrapper boilerplate around a copied core) that
    * symmetric measures miss whenever the containing document is much
    * larger (min-normalized overlap fires, Jaccard does not — and
    * min-normalization cannot tell WHICH side is the copy; containment
    * is directional). The dedup-policy consumer drops `doc_sub` and
    * keeps `doc_super`.
    *
    * Same posting-list scale shape as q67 (one digest-keyed shuffle,
    * df-capped fan-out); the ratio is integer-exact ppm so the gate
    * hash never rides on float division. */
  private val ContainMinShared = 3
  private val ContainPpm = 600000L

  private def qNgramContainment(s: SparkSession, dir: String): DataFrame = {
    val grams = load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= NgramK)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"""transform(sequence(0, size(ws) - $NgramK),
           |  i -> concat_ws(' ', slice(ws, i + 1, $NgramK)))""".stripMargin)))
        .as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val dfreq = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf)
    val kept = grams.join(dfreq.select(col("h")), "h").transform(graft.util.Pin.apply)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    kept.as("x")
      .join(kept.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_sub"), col("y.doc_id").as("doc_super"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= ContainMinShared)
      .join(sizes.select(col("doc_id").as("doc_sub"), col("n_grams").as("n_sub")),
        "doc_sub")
      .withColumn("containment_ppm",
        expr("CAST(shared_ngrams * 1000000 div n_sub AS BIGINT)"))
      .filter(col("containment_ppm") >= ContainPpm)
      .select(col("doc_sub"), col("doc_super"), col("shared_ngrams"),
        col("n_sub"), col("containment_ppm"))
      .orderBy(col("doc_sub"), col("doc_super"))
  }

  private val qNgramContainmentSql =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= $NgramK),
       |g0 AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(ws) - ${NgramK - 2}),
       |    i -> array_to_string(ws[i : i + ${NgramK - 1}], ' ')))) AS sh
       |  FROM w),
       |g AS (SELECT doc_id, md5(sh) AS h FROM g0),
       |dfreq AS (
       |  SELECT h FROM g GROUP BY h HAVING COUNT(*) <= $MaxDf),
       |kept AS (SELECT g.doc_id, g.h FROM g JOIN dfreq USING (h)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT x.doc_id AS doc_sub, y.doc_id AS doc_super,
       |    CAST(COUNT(*) AS BIGINT) AS shared_ngrams
       |  FROM kept x JOIN kept y ON x.h = y.h AND x.doc_id <> y.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.doc_sub, p.doc_super, p.shared_ngrams,
       |  a.n_grams AS n_sub,
       |  p.shared_ngrams * 1000000 // a.n_grams AS containment_ppm
       |FROM pairs p JOIN sizes a ON a.doc_id = p.doc_sub
       |WHERE p.shared_ngrams >= $ContainMinShared
       |  AND p.shared_ngrams * 1000000 // a.n_grams >= $ContainPpm
       |ORDER BY doc_sub, doc_super""".stripMargin

  /** q144: INCREMENTAL SHARD DEDUP — the batch-ingest twin of q72's
    * streaming index: a newly arrived shard (sources [[NewSources]],
    * standing in for "today's crawl") is deduplicated AGAINST the
    * standing corpus without any corpus-×-corpus work. Three verdicts
    * in precedence order: `exact_dup` (content hash already in the
    * corpus), `batch_dup` (an earlier-id doc in the same shard has the
    * hash — first occurrence survives, the q90 rule), `near_dup`
    * (MinHash band match against a corpus doc, confirmed by word-set
    * Jaccard ≥ the q35/q37 threshold), else `kept`.
    *
    * Scale shape: the exact stage is a semi-join on the content hash;
    * the near stage joins the SHARD's bands against the corpus band
    * index on the band equi-key — cost tracks shard size × bucket
    * occupancy, never corpus². The band table is computed once and
    * checkpointed (two consumers: shard side, corpus side); on a real
    * deployment the corpus side is the persisted q72 index, read
    * bucket-pruned. */
  private val NewSources = Seq("src0", "src1")

  private def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isNew = col("source").isin(NewSources: _*)
    val docs = load(s, dir, "documents")
    val hashed = docs.select(col("doc_id"), col("source"),
      md5(col("text")).as("th"))
    val newDocs = hashed.filter(isNew)
    val corpusHashes = hashed.filter(!isNew).select(col("th")).distinct()
    val exactDup = newDocs.join(corpusHashes, Seq("th"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(1L))
    val batchDup = newDocs
      .withColumn("min_id", min(col("doc_id")).over(
        Window.partitionBy(col("th"))))
      .filter(col("doc_id") > col("min_id"))
      .select(col("doc_id")).withColumn("is_batch", lit(1L))
    val bands = bandTable(docs).transform(graft.util.Pin.apply)
    val newIds = newDocs.select(col("doc_id"))
    val corpusIds = hashed.filter(!isNew).select(col("doc_id"))
    val cand = bands.join(newIds, "doc_id").as("x")
      .join(bands.join(corpusIds, "doc_id").as("y"),
        col("x.band") === col("y.band"))
      .select(col("x.doc_id").as("doc_n"), col("y.doc_id").as("doc_c"))
      .distinct()
    val d = wordSets(s, dir)
    val nearDup = cand
      .join(d.select(col("doc_id").as("doc_n"), col("ws").as("ws_a")), "doc_n")
      .join(d.select(col("doc_id").as("doc_c"), col("ws").as("ws_b")), "doc_c")
      .withColumn("inter",
        size(array_intersect(col("ws_a"), col("ws_b"))).cast(LongType))
      .withColumn("uni",
        size(col("ws_a")).cast(LongType) + size(col("ws_b")) - col("inter"))
      .filter(col("inter").cast(DoubleType) / col("uni") >= JaccardThreshold)
      .select(col("doc_n").as("doc_id")).distinct()
      .withColumn("is_near", lit(1L))
    newDocs.select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(batchDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1L, "exact_dup")
          .when(col("is_batch") === 1L, "batch_dup")
          .when(col("is_near") === 1L, "near_dup")
          .otherwise("kept").as("status"))
      .orderBy(col("doc_id"))
  }

  private val qIncrementalDedupSql = {
    val newIn = NewSources.map(s => s"'$s'").mkString(", ")
    s"""WITH $bandsCte,
       |src AS (SELECT doc_id, source, md5(text) AS th FROM documents),
       |nd AS (SELECT * FROM src WHERE source IN ($newIn)),
       |cd AS (SELECT * FROM src WHERE source NOT IN ($newIn)),
       |ex AS (SELECT DISTINCT nd.doc_id FROM nd
       |       JOIN (SELECT DISTINCT th FROM cd) c USING (th)),
       |bd AS (SELECT doc_id FROM (
       |         SELECT doc_id, MIN(doc_id) OVER (PARTITION BY th) AS mid
       |         FROM nd) t WHERE doc_id > mid),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_n, y.doc_id AS doc_c
       |         FROM bands x JOIN nd ON nd.doc_id = x.doc_id
       |         JOIN bands y ON x.band = y.band
       |         JOIN cd ON cd.doc_id = y.doc_id),
       |d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
       |      FROM documents),
       |nr AS (SELECT DISTINCT c.doc_n AS doc_id
       |       FROM cand c
       |       JOIN d a ON a.doc_id = c.doc_n
       |       JOIN d b ON b.doc_id = c.doc_c
       |       WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       |         / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)))
       |         >= $JaccardThreshold)
       |SELECT nd.doc_id,
       |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
       |       WHEN bd.doc_id IS NOT NULL THEN 'batch_dup'
       |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
       |       ELSE 'kept' END AS status
       |FROM nd
       |LEFT JOIN ex ON ex.doc_id = nd.doc_id
       |LEFT JOIN bd ON bd.doc_id = nd.doc_id
       |LEFT JOIN nr ON nr.doc_id = nd.doc_id
       |ORDER BY nd.doc_id""".stripMargin
  }

  /** Hash-prefix partition count of the incremental band index. Each
    * micro-batch reads ONLY the bucket partitions its own bands hash
    * into (≤ min(|batch bands|, IndexBuckets)), so per-batch index I/O
    * tracks the batch's band count, not the accumulated index size —
    * the fix for the round-4 "per-batch full index rescan" finding. At
    * cluster scale raise the constant with the index (hundreds of
    * buckets at 100 TB); the prune/join shapes are unchanged. 16 keeps
    * gate-scale file counts small. */
  private[graft] val IndexBuckets = 16

  /** Accumulated-index read pruned to the bucket partitions a batch
    * touches: both `batch` and `bucket` are PARTITION columns, so the
    * filter prunes at file-listing time — untouched partitions are
    * never opened. `batch <= id` keeps a half-written later partition
    * from a concurrent retry out of scope. */
  private[graft] def readIndex(s: SparkSession, bandsDir: String, id: Long,
      touched: Seq[Int]): DataFrame =
    s.read.parquet(bandsDir)
      .filter(col("batch") <= id && col("bucket").isin(touched: _*))
      .select(col("doc_id"), col("band"))

  /** One incremental-index step — the q72 foreachBatch body, exposed so
    * the pruning spec can drive single batches directly: band the new
    * docs, append them under `bands/batch=<id>/bucket=<hash prefix>`
    * (idempotent under retry — a replayed batch overwrites its own
    * partition), join the new bands against ONLY the touched buckets of
    * the accumulated index (including this batch, so within-batch pairs
    * surface), and write the pairs this batch introduces. */
  private[graft] def streamIndexStep(batch: DataFrame, id: Long,
      tmp: String): Unit = {
    val b = bandTable(batch)
      .withColumn("bucket", pmod(hash(col("band")), lit(IndexBuckets)))
      // one file per (batch, bucket), not tasks × buckets: the bucketed
      // layout must not multiply the per-batch small-file count (the
      // same output sizing concern as writeTopic's maxRecordsPerFile)
      .repartition(4, col("bucket"))
      .persist()
    try {
      b.write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$tmp/bands/batch=$id")
      // bounded collect: at most IndexBuckets ints
      val touched = b.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val index = readIndex(batch.sparkSession, s"$tmp/bands", id, touched)
      b.as("n").join(index.as("o"),
          col("n.band") === col("o.band") &&
            col("n.doc_id") =!= col("o.doc_id"))
        .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
          greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
        .distinct()
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/pairs/batch=$id")
    } finally { b.unpersist(); () }
  }

  /** q72: STREAMING incremental LSH index — the dedup index as a
    * maintained structure instead of a batch recomputation. Documents
    * arrive in micro-batches (file source, one input file per batch);
    * each batch runs [[streamIndexStep]]: band keys for its NEW docs
    * only (the exact chain q35 uses), appended to the bucket-partitioned
    * persistent band-table, joined against ONLY the touched bucket
    * partitions of the accumulated index. Per-batch cost tracks the NEW
    * docs' band count — in compute AND in index I/O — not corpus size:
    * the only shape that keeps a dedup index alive under continuous
    * ingestion at 100 TB.
    *
    * Convergence gate: the union of incrementally-emitted pairs must
    * equal the batch q35 candidate set — same oracle SQL, the q27/q63
    * streaming==batch contract applied to the index. The I/O bound is
    * pinned by StreamIndexPruneSpec (files read per batch stay
    * O(touched buckets), not O(index)). */
  private def qStreamLshIndex(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val result = graft.streaming.StreamScratch.withScratch("graft_slsh_") { tmp =>
    // stage the corpus as 4 JSON-line files = 4 micro-batches
    load(s, dir, "documents")
      .select(to_json(struct(col("doc_id"), col("text"))).as("value"))
      .repartition(4, col("value"))
      .write.mode("overwrite").text(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$tmp/in")
      .select(from_json(col("value"), schema).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
    val query = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/chk")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        streamIndexStep(batch, id, tmp)
      }
      .start()
    query.awaitTermination()
    // the per-batch pair logs live in scratch — one distributed
    // distinct + persist into GateOut; the pair set (O(pairs), the
    // largest gate result in the battery) never transits the driver
    graft.streaming.GateOut.persist(
      s.read.parquet(s"$tmp/pairs")
        .select(col("doc_a"), col("doc_b")).distinct())
    }
    result.orderBy(col("doc_a"), col("doc_b"))
  }

  /** Chunk width for sub-document exact dedup. Real pipelines dedup on
    * paragraph/line boundaries (Dolma, RefinedWeb); this corpus has no
    * newlines, so the boundary is a fixed token window — the same
    * operator shape with a synthetic segmenter. */
  private val ChunkTokens = 10

  /** q90: SUB-DOCUMENT exact dedup — the "remove duplicated paragraphs,
    * keep the rest of the document" pass (C4's line dedup, Dolma's
    * paragraph dedup) that document-level q34 cannot express: two docs
    * sharing one boilerplate block are not duplicates, but the block
    * should survive only once. Each doc splits into [[ChunkTokens]]-token
    * chunks; the globally-first occurrence of each distinct chunk (by
    * (doc_id, idx)) is kept, later copies are dropped, and the doc is
    * re-assembled from its surviving chunks in order.
    *
    * Scale shape: one shuffle on the chunk hash (the window partition
    * key) sized by corpus token count — same key cardinality profile as
    * exact dedup, nothing pairwise anywhere. The rebuild is a per-doc
    * hash agg. At 100 TB the chunk-hash shuffle is the cost, exactly as
    * in the published pipelines. */
  private def qChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val chunks = load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, CAST(ceil(size(ws) / $ChunkTokens.0) AS INT) - 1),
           |  i -> array_join(slice(ws, i * $ChunkTokens + 1, $ChunkTokens), ' '))"""
          .stripMargin)).as(Seq("idx", "chunk")))
    val wOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("chunk"))).orderBy(col("doc_id"), col("idx"))
    chunks.withColumn("occ", row_number().over(wOcc))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") === 1, lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN occ = 1 THEN struct(idx, chunk) END)), s -> s.chunk)"),
          " ").as("kept_text"))
      .orderBy(col("doc_id"))
  }

  private val qChunkDedupSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    unnest(range(0, CAST(ceil(len(ws) / $ChunkTokens.0) AS BIGINT))) AS idx,
       |    unnest(list_transform(
       |      range(0, CAST(ceil(len(ws) / $ChunkTokens.0) AS BIGINT)),
       |      i -> array_to_string(ws[i*$ChunkTokens+1 : i*$ChunkTokens+$ChunkTokens], ' '))) AS chunk
       |  FROM w),
       |f AS (
       |  SELECT doc_id, idx, chunk,
       |    ROW_NUMBER() OVER (PARTITION BY md5(chunk)
       |                       ORDER BY doc_id, idx) AS occ
       |  FROM c)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  COALESCE(array_to_string(
       |    list(CASE WHEN occ = 1 THEN chunk END ORDER BY idx), ' '), '')
       |    AS kept_text
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q92: CANONICAL-DOC selection — the end-product of the near-dup
    * chain: for every q52 cluster, the survivor a dedup pass actually
    * writes out. The keep rule is the published one (keep the longest
    * copy — it dominates its truncations; ties to the lower id for
    * determinism), stated per cluster, so downstream joins can subtract
    * `n_dropped` docs from the corpus without re-deriving the graph.
    * Scale shape: q52's component pass plus one broadcast-size agg —
    * clusters are tiny relative to the corpus by construction. */
  private def qClusterCanonical(s: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val comp = Components.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    val len = load(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val wKeep = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    comp.join(len, "doc_id")
      .withColumn("krnk", row_number().over(wKeep))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min(when(col("krnk") === 1, col("doc_id"))).as("keeper_doc"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  private val qClusterCanonicalSql =
    s"""WITH RECURSIVE $clustersCte,
       |k AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |                       ORDER BY d.n_chars DESC, c.doc_id) AS krnk
       |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
       |SELECT cluster_id,
       |  CAST(COUNT(*) AS BIGINT) AS cluster_size,
       |  min(CASE WHEN krnk = 1 THEN doc_id END) AS keeper_doc,
       |  CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
       |FROM k GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** q98: EXACT SUBSTRING-SPAN dedup (the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" ExactSubstr operator):
    * find every maximal token span that is byte-identical across ≥ 2
    * documents and emit the per-document removal spans. The real
    * implementation over a single machine uses a suffix array; the
    * distributed restatement seeds with fixed-width token n-grams (any
    * repeated span of length ≥ W contains a repeated W-gram, so W-gram
    * seeds + interval merge reconstruct every maximal span of length ≥ W
    * exactly — no approximation):
    *
    *  1. explode each doc into (doc_id, pos, W-gram) — one corpus pass;
    *  2. keep grams seen in > 1 distinct doc (keyed count — the only
    *     corpus-scale shuffle; at 100 TB key by a 128-bit content hash
    *     instead of the gram text to bound shuffle width);
    *  3. join occurrences ⋈ repeated-gram set (Zipf-bounded; AQE
    *     broadcasts it at gate scale) → per-doc seed positions;
    *  4. merge overlapping seed intervals [pos, pos+W) per doc with the
    *     classic window-island scan (order by start, island break when
    *     start > running max end) — per-doc window, no extra shuffle.
    *
    * Output: (doc_id, span_start, span_end, span_tokens) per maximal
    * duplicated span, 1-based token offsets, end exclusive. Everything is
    * integer arithmetic; both engines state the same island rule.
    * Ref capability: hcdc has no corpus analytics — this is part of the
    * training-pipeline surface the rebuild adds on top. */
  private val SpanW = 8

  private def qSubstringSpans(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val grams = toks.select(col("doc_id"),
        posexplode(expr(
          s"""transform(slice(sequence(1, size(ws)), 1, size(ws) - ${SpanW - 1}),
             |  i -> array_join(slice(ws, i, $SpanW), ' '))""".stripMargin))
          .as(Seq("p0", "gram")))
      .withColumn("pos", col("p0") + 1)  // posexplode is 0-based
    val repeated = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") > 1)
      .select(col("gram"))
    val seeds = grams.join(repeated, "gram")
      .select(col("doc_id"), col("pos").cast(LongType).as("s"),
        (col("pos") + SpanW).cast(LongType).as("e"))
    val wScan = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"))
    val wPrev = wScan.rowsBetween(Long.MinValue, -1)
    seeds
      .withColumn("prev_max", max(col("e")).over(wPrev))
      .withColumn("brk",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wScan))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  private val qSubstringSpansSql =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(ws) - ${SpanW - 2})) AS pos,
       |    unnest(list_transform(range(1, len(ws) - ${SpanW - 2}),
       |      i -> list_aggregate(ws[i:i + ${SpanW - 1}], 'string_agg', ' ')))
       |      AS gram
       |  FROM toks WHERE len(ws) >= $SpanW),
       |repeated AS (
       |  SELECT gram FROM grams GROUP BY gram
       |  HAVING COUNT(DISTINCT doc_id) > 1),
       |seeds AS (
       |  SELECT g.doc_id, CAST(g.pos AS BIGINT) AS s,
       |    CAST(g.pos + $SpanW AS BIGINT) AS e
       |  FROM grams g JOIN repeated USING (gram)),
       |scan AS (
       |  SELECT doc_id, s, e,
       |    MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM seeds),
       |brks AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END
       |      AS brk
       |  FROM scan),
       |islands AS (
       |  SELECT doc_id, s, e,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS UNBOUNDED PRECEDING) AS island
       |  FROM brks)
       |SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
       |  CAST(MAX(e) AS BIGINT) AS span_end,
       |  CAST(MAX(e) - MIN(s) AS BIGINT) AS span_tokens
       |FROM islands GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  // ------------------------------------------------------------- q197

  /** q197: DEDUP-CLUSTER SIZE HISTOGRAM — the shape of the near-dup
    * graph as an operator reads it: how many clusters of each size,
    * how many documents they hold, and how many a keep-the-min-id
    * dedup pass would drop (size − 1 per cluster). Size 1 counts the
    * documents in NO verified pair. The q52 component machinery is
    * reused verbatim, so this report is consistent with the cluster
    * listing by construction.
    *
    * Scale shape: components via the q52 label propagation
    * (large/small-star, O(log² n) rounds); everything after is
    * aggregation on the component table; the histogram is bounded by
    * the largest cluster size. */
  private def qClusterHistogram(s: SparkSession, dir: String): DataFrame = {
    val pairs = MinHash.jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val comp = graft.ops.Components.connectedComponents(pairs)
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val totalDocs = load(s, dir, "documents")
      .agg(count(lit(1)).as("total"))
    val inGraph = comp.agg(count(lit(1)).as("in_graph"))
    val singletons = totalDocs.crossJoin(broadcast(inGraph))
      .select(lit(1L).as("cluster_size"),
        (col("total") - col("in_graph")).as("n_clusters"))
    hist.unionByName(singletons)
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .withColumn("docs_dropped",
        (col("cluster_size") - 1) * col("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  private val qClusterHistogramSql =
    s"""WITH RECURSIVE ${MinHash.clustersCte},
       |sizes AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY 1),
       |hist AS (
       |  SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
       |  FROM sizes GROUP BY 1
       |  UNION ALL
       |  SELECT 1, (SELECT COUNT(*) FROM documents)
       |           - (SELECT COUNT(*) FROM comp))
       |SELECT cluster_size, n_clusters,
       |  cluster_size * n_clusters AS n_docs,
       |  (cluster_size - 1) * n_clusters AS docs_dropped
       |FROM hist ORDER BY cluster_size""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q34_dedup_exact" -> QueryDef(qExact, Some(qExactSql),
      "exact dedup via content-hash groupBy"),
    "q35_dedup_minhash_lsh" -> QueryDef(qMinHash, Some(qMinHashSql),
      "MinHash+LSH candidate pairs (shingle→signature→band→bucket join)"),
    "q36_dedup_simhash" -> QueryDef(qSimHash, Some(qSimHashSql),
      "16-bit SimHash fingerprints"),
    "q37_dedup_ngram_jaccard" -> QueryDef(qJaccard, Some(qJaccardSql),
      "word-set Jaccard verify over MinHash band-bucket candidates"),
    "q43_dedup_simhash_hamming" -> QueryDef(qSimHashHamming, Some(qSimHashHammingSql),
      "SimHash Hamming-band near-dup join (exact for radius 3 by pigeonhole)"),
    "q52_dedup_clusters" -> QueryDef(qClusters, Some(qClustersSql),
      "near-dup clusters: connected components over verified pairs"),
    "q67_exact_ngram_overlap" -> QueryDef(qNgramOverlap, Some(qNgramOverlapSql),
      "exact 8-token shingle overlap pairs (df-capped posting-list join)"),
    "q72_stream_lsh_index" -> QueryDef(qStreamLshIndex, Some(qMinHashSql),
      "streaming incremental LSH index converges to the batch q35 candidates"),
    "q90_chunk_dedup" -> QueryDef(qChunkDedup, Some(qChunkDedupSql),
      "sub-document chunk dedup: first occurrence survives, docs rebuilt"),
    "q92_cluster_canonical" -> QueryDef(qClusterCanonical, Some(qClusterCanonicalSql),
      "canonical survivor per near-dup cluster (longest copy, tie→min id)"),
    "q98_substring_spans" -> QueryDef(qSubstringSpans, Some(qSubstringSpansSql),
      "exact substring-span dedup: repeated W-gram seeds + interval merge"),
    "q140_ngram_containment" -> QueryDef(qNgramContainment,
      Some(qNgramContainmentSql),
      "directional n-gram containment: doc-inside-doc detection, " +
        "integer-exact ppm"),
    "q144_incremental_dedup" -> QueryDef(qIncrementalDedup,
      Some(qIncrementalDedupSql),
      "new-shard-vs-corpus dedup: exact semi-join + band-scoped near " +
        "verify, no corpus self-join"),
    "q197_cluster_histogram" -> QueryDef(qClusterHistogram,
      Some(qClusterHistogramSql),
      "near-dup cluster size histogram + drop counts over the q52 component graph"))
}
