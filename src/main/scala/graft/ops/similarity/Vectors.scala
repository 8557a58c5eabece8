package graft.ops
package similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load

/** Embedding similarity: cosine top-k, LSH and IVF ANN, k-means,
  * quantization and diversified re-ranking. */
object Vectors {

  /* Embedding similarity search. Brute-force cosine top-k is the exact
    * baseline; everything pairwise beyond it is scoped to LSH candidate
    * buckets — the shape that survives a 100 TB corpus:
    *
    *  - buckets come from sign-random-projection (SRP): bit = sign(v·p)
    *    for a fixed hyperplane p; an r-bit band key puts each vector in
    *    one of 2^r buckets per band;
    *  - r scales with the corpus (r ≈ log2(n / targetBucketSize)), so
    *    per-bucket occupancy — and therefore per-bucket join cost — stays
    *    O(1) as n grows;
    *  - OR-amplification over L independent bands (candidate if ANY band
    *    key matches) recovers the recall a single band loses, and for ANN
    *    queries Hamming≤1 multi-probing within each band recovers the
    *    boundary-crossing neighbors at (r+1)× candidate cost instead of
    *    2^r×.
    *
    * All pairwise work (exact cosine for q40's near-dup verify, exact
    * ranking for q39's ANN) happens only on candidates; nothing in this
    * file joins a table against itself without a bucket equi-key.
    */

  /** Codegen dot product (graft.functions.DotProduct) — same left-to-
    * right summation order as the interpreted fold and DuckDB's
    * list_dot_product, so oracle hashes are unaffected. */
  private def dot(a: Column, b: Column): Column = graft.functions.vec.dot(a, b)

  private val Dim = 64

  /** Target LSH bucket occupancy. Bits per band r = log2(n/TargetBucket)
    * grows with the corpus so bucket size — and the per-bucket pairwise
    * cost — stays constant at any scale. */
  private val TargetBucket = 32

  /** OR-amplification width (L independent bands). */
  private val AnnBands = 8
  private val NearDupBands = 8

  /** Smallest r ≥ 4 with n ≤ TargetBucket·2^r — INTEGER arithmetic, not
    * ceil(log2(...)): Java's log-ratio and a SQL log2 can land on
    * opposite sides of an exact power of two (4.0000000000000004 vs
    * 3.9999999999999996 → ceil disagrees), and r MUST match the
    * oracle's CASE chain bit for bit. */
  private[graft] def rBits(n: Long): Int = {
    var k = 4
    while ((TargetBucket.toLong << k) < n) k += 1
    k
  }

  /** Plane-index stride: plane for (band b, bit i) is signPlane
    * (b·RMaxBits + i) on BOTH engines, so the plane family is
    * independent of the corpus-derived r — a bigger corpus adds bits
    * WITHOUT reassigning the planes of existing bits. The oracle SQL
    * embeds all RMaxBits bits per band and masks to the dynamic r, and
    * the Spark side draws from the same family, so BOTH engines are
    * exact up to TargetBucket·2^RMaxBits = 2,097,152 vectors. Past
    * that, [[planesFor]] fails loud (raise the constant — one value,
    * both engines re-derive) instead of silently diverging from the
    * oracle. 16 was 8 until the sf1 scale-step bench crossed 8192
    * vectors and hit the stride bound — the exact failure this family
    * design exists to catch. */
  private val RMaxBits = 16

  /** `r = rBits(count)` as a DuckDB CASE chain over the same integer
    * boundaries (no float log anywhere). */
  private def rSelSql: String = {
    val cases = (4 until RMaxBits)
      .map(k => s"WHEN n <= ${TargetBucket.toLong << k} THEN $k")
      .mkString(" ")
    s"""rsel AS (
       |  SELECT CASE $cases ELSE $RMaxBits END AS r
       |  FROM (SELECT COUNT(*) AS n FROM embeddings))""".stripMargin
  }

  /** Deterministic ±1 (Rademacher) hyperplanes: component (j,d) is +1
    * iff md5("j:d") has its top bit set. A symmetric ±1 direction family
    * is a standard SRP choice, and deriving it from md5 makes the planes
    * exactly reproducible on both engines — they are embedded as ±1.0
    * literals in the Spark plan and in the generated oracle SQL, so the
    * sign computations (and hence the buckets) are bit-identical. */
  private[graft] def signPlanes(nPlanes: Int, dim: Int = Dim): Array[Array[Double]] =
    Array.tabulate(nPlanes) { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { d =>
        val h = md.digest(s"$j:$d".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1.0 else -1.0
      }
    }

  private def withNorm(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** Corpus row count, memoized per directory: deriving r at plan-build
    * time must not launch a fresh count job on every query construction
    * (twice per bench run, and a full-table scan at real scale — table
    * statistics would serve on a catalog-backed deployment). */
  private val corpusCount =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def countOf(base: DataFrame, dir: String): Long =
    corpusCount.getOrElseUpdate(dir, base.count())

  /** (vec_id, band, bkey) — one row per vector per band. All `nBands × r`
    * sign projections happen in ONE fused codegen expression
    * ([[graft.functions.SrpBandKeys]]); the former per-plane
    * `when(dot(v, array(64 literals)) > 0, …)` formulation put thousands
    * of literal nodes in the plan — enough to dominate wall-clock with
    * analysis + Janino compilation at bench time (the data itself is
    * small) and to overflow codegen method limits as L×r grows. Bucket
    * assignment is bit-identical (same left-to-right dot fold). */
  /** Planes for (band, bit) pairs in SrpBandKeys' (b·r + i) layout,
    * drawn from the fixed-stride family (see [[RMaxBits]]). */
  private def planesFor(nBands: Int, r: Int): Array[Array[Double]] = {
    require(r <= RMaxBits,
      s"r=$r bits exceeds the fixed plane stride RMaxBits=$RMaxBits " +
        s"(corpus beyond ${TargetBucket.toLong << RMaxBits} vectors) — " +
        "raise RMaxBits so Spark and the oracle stay bit-identical")
    val all = signPlanes(nBands * RMaxBits)
    Array.tabulate(nBands * r)(k => all((k / r) * RMaxBits + (k % r)))
  }

  private def bandKeys(base: DataFrame, nBands: Int, r: Int): DataFrame =
    base.select(col("vec_id"),
        posexplode(graft.functions.vec.srpBands(col("v"),
          planesFor(nBands, r), nBands, r)))
      .toDF("vec_id", "band", "bkey")

  // ---- oracle-SQL generation (same planes, same keys, in DuckDB) ----

  private def planeSql(p: Array[Double]): String =
    p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** All RMaxBits bit terms for one band, each masked by the dynamic r
    * (`i < rsel.r`) — bits beyond r contribute 0, so the key equals the
    * Spark side's r-bit key at any corpus size the oracle supports. */
  private def bandKeySql(planes: Array[Array[Double]], b: Int): String =
    (0 until RMaxBits).map(i =>
      s"(CASE WHEN $i < rsel.r AND list_dot_product(v, ${planeSql(planes(b * RMaxBits + i))}) > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")

  /** `bands` CTE body: UNION ALL of one SELECT per band over CTEs `e`
    * and `rsel` (the corpus-derived bit count). */
  private def bandsSql(nBands: Int): String = {
    val planes = signPlanes(nBands * RMaxBits)
    (0 until nBands).map(b =>
      s"  SELECT vec_id, $b AS band, ${bandKeySql(planes, b)} AS bkey FROM e, rsel")
      .mkString("\n  UNION ALL\n")
  }

  /** Brute-force cosine top-10 for the first 5 query vectors; rank-only
    * output so ULP-level float differences between engines cannot flip
    * the hash (ranks are tie-broken by neighbor id). */
  private def qTopK(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    base.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("norm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("vec_id").as("nid"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  private val qTopKSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
      |p AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
      |       list_dot_product(q.v, x.v) / (q.norm * x.norm) AS cos
      |      FROM n q JOIN n x ON q.vec_id < 5 AND x.vec_id <> q.vec_id),
      |r AS (SELECT qid, nid,
      |       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
      |      FROM p)
      |SELECT qid, nid, rnk FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** Embedding-cosine near-dup pairs, SRP-candidate-scoped: pairs that
    * share any of the L band keys are verified with the exact cosine
    * (≥ 0.4 — this corpus's max pairwise cosine is ~0.51, so the gate
    * threshold sits well clear of the ULP neighborhood; a production
    * near-dup threshold of ~0.9 makes the band-match probability, and
    * hence recall, far higher than at 0.4). The candidate equi-join on
    * (band, bkey) replaces the former all-pairs cartesian — per-bucket
    * cost is O(TargetBucket²) per band regardless of corpus size. */
  private def qNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val r = rBits(countOf(base, dir))
    val bands = bandKeys(base, NearDupBands, r)
    val pairs = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    pairs
      .join(base.select(col("vec_id"), col("v").as("va"), col("norm").as("na")),
        col("vec_a") === col("vec_id")).drop("vec_id")
      .join(base.select(col("vec_id"), col("v").as("vb"), col("norm").as("nb")),
        col("vec_b") === col("vec_id")).drop("vec_id")
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= 0.4)
      .select(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val qNearDupSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |$rSelSql,
       |bands AS (
       |${bandsSql(NearDupBands)}
       |),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
       |SELECT c.vec_a, c.vec_b
       |FROM cand c
       |JOIN n a ON a.vec_id = c.vec_a
       |JOIN n b ON b.vec_id = c.vec_b
       |WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  /** LSH ANN: L bands × r sign bits, Hamming≤1 multi-probe per band,
    * exact-cosine ranking over the deduplicated candidate set. The query
    * side (50 queries × L bands × (r+1) probes) is broadcast, so the
    * corpus-side band table is never shuffled for the match — the only
    * shuffles are the candidate dedup and the final per-query rank, both
    * proportional to candidate count, not corpus size. */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val r = rBits(countOf(base, dir))
    val bands = bandKeys(base, AnnBands, r)
    // probe set = own key plus each single-bit flip ⇔ Hamming(q,x) ≤ 1
    val flips = array((lit(0) +: (0 until r).map(i => lit(1 << i))): _*)
    val qprobes = bands.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("band").as("qband"),
        explode(flips).as("flip"), col("bkey"))
      .select(col("qid"), col("qband"),
        col("bkey").bitwiseXOR(col("flip")).as("qkey"))
    val cand = bands.join(broadcast(qprobes),
        col("band") === col("qband") && col("bkey") === col("qkey") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))
      .distinct()
    val q = base.select(col("vec_id").as("qid2"), col("v").as("qv"),
      col("norm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    cand
      .join(base, col("nid") === col("vec_id"))
      .join(broadcast(q), col("qid") === col("qid2"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("norm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("nid"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Oracle restates the probe-expanded equi-join as its equivalent
    * theta form: same-band keys within Hamming distance 1. */
  private val qAnnLshSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |$rSelSql,
       |bands AS (
       |${bandsSql(AnnBands)}
       |),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, x.vec_id AS nid
       |  FROM bands q JOIN bands x
       |    ON q.vec_id < 50 AND q.band = x.band AND x.vec_id <> q.vec_id
       |   AND bit_count(xor(CAST(q.bkey AS BIGINT), CAST(x.bkey AS BIGINT))) <= 1),
       |r AS (
       |  SELECT c.qid, c.nid,
       |    ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
       |      list_dot_product(a.v, b.v) / (a.norm * b.norm) DESC, c.nid) AS rnk
       |  FROM cand c
       |  JOIN n a ON a.vec_id = c.qid
       |  JOIN n b ON b.vec_id = c.nid)
       |SELECT qid, nid, rnk FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** IVF cell count / probe width. At scale nlist ≈ √n and the assign
    * stage's n×nlist dot products dominate — the standard IVF trade; the
    * gate uses fixed small constants so the oracle stays static. */
  // ------------------------------------------------------------- q123 PQ

  /** Product-quantization geometry: M subspaces of SubDim dims, K
    * codewords per subspace, everything on the floor(x·1024) integer
    * grid (the q111 trick) so every distance is an exact BIGINT and
    * the whole operator hash-gates cross-engine. Codewords are DATA
    * POINTS (subvectors of the first K vectors) for the same reason
    * IVF's pivots are: averaging is float-order-dependent, argmin over
    * data codewords is not. */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 16
  private val PqQueries = 5
  private val PqTopK = 10

  /** Integer-grid vectors: vec_id, qv = floor(x·1024) per dim. */
  private def gridVecs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT))")
        .as("qv"))

  /** (vec_id, m, sub): the M per-subspace integer subvectors. */
  private def subVecs(base: DataFrame): DataFrame =
    base.select(col("vec_id"), posexplode(expr(
      s"""transform(sequence(0, $PqM - 1),
         |  m -> slice(qv, m * $PqSubDim + 1, $PqSubDim))""".stripMargin))
      .as(Seq("m", "sub")))

  /** q123: ANN by PRODUCT QUANTIZATION — the compressed-exhaustive-scan
    * member of the ANN family (vs SRP-LSH q39, IVF q45, exact q38):
    * vectors become M=8 one-byte codes, queries build an M×K distance
    * table, and the scan ranks by table lookups — 8 bytes/vector
    * instead of 256 at 100 TB, the memory-bound regime PQ exists for.
    * Every stage is exact integer arithmetic on the quantization grid:
    * encode = argmin_k ‖sub − codeword‖² (ties → lower k), ADC d² =
    * Σ_m table[m][code[m]], and the per-query verdict column reports
    * ADC's overlap with the EXACT grid top-k — the recall measurement
    * shipped inside the gate. Scale shape: codebook and query tables
    * are constant-size broadcasts; encoding is one map-side argmin agg
    * (n·M rows after partial agg); the ADC scan is linear in n like
    * the real thing, with nothing pairwise between corpus vectors. */
  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val base = gridVecs(s, dir)
    val subs = subVecs(base)
    // limit() states the bound the filter guarantees (<= K codebook
    // vectors x M subspaces) so the plan audit can prove the broadcast
    // side bounded by construction; it never drops a row
    val cb = subVecs(base.filter(col("vec_id") < PqK))
      .select(col("vec_id").as("k"), col("m"), col("sub").as("cw"))
      .limit(PqK * PqM)
    // encode: per (vec, m) the argmin codeword (ties -> lower k)
    val codes = subs.join(broadcast(cb), "m")
      .withColumn("d2", expr(
        "aggregate(zip_with(sub, cw, (x, y) -> (x - y) * (x - y)), " +
          "0L, (acc, t) -> acc + t)"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("k"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.k").as("code"))
    // queries: the first PqQueries vectors; their M x K distance table
    val qsubs = subs.filter(col("vec_id") < PqQueries)
      .select(col("vec_id").as("qid"), col("m"), col("sub").as("qsub"))
    val dt = qsubs.join(broadcast(cb), "m")
      .withColumn("dt", expr(
        "aggregate(zip_with(qsub, cw, (x, y) -> (x - y) * (x - y)), " +
          "0L, (acc, t) -> acc + t)"))
      .select(col("qid"), col("m").as("tm"), col("k").as("tk"), col("dt"))
      .limit(PqQueries * PqM * PqK)
    // ADC scan: sum the M table lookups per (query, vector)
    val adc = codes.join(broadcast(dt),
        col("m") === col("tm") && col("code") === col("tk"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dt")).as("adc_d2"))
    // exact grid top-k for the verdict column
    val q = base.filter(col("vec_id") < PqQueries)
      .select(col("vec_id").as("qid2"), col("qv").as("qqv"))
      .limit(PqQueries)
    val wEx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("ex_d2"), col("vec_id"))
    val exact = base.join(broadcast(q), col("vec_id") =!= col("qid2"))
      .withColumn("qid", col("qid2"))
      .withColumn("ex_d2", expr(
        "aggregate(zip_with(qv, qqv, (x, y) -> (x - y) * (x - y)), " +
          "0L, (acc, t) -> acc + t)"))
      .withColumn("ex_rnk", row_number().over(wEx))
      .filter(col("ex_rnk") <= PqTopK)
      .select(col("qid"), col("vec_id"), lit(true).as("in_exact"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc_d2"), col("vec_id"))
    adc.withColumn("rnk", row_number().over(wAdc))
      .filter(col("rnk") <= PqTopK)
      .join(exact, Seq("qid", "vec_id"), "left")
      .select(col("qid"), col("rnk").cast(org.apache.spark.sql.types.LongType)
        .as("rnk"), col("vec_id").as("nid"), col("adc_d2"),
        coalesce(col("in_exact"), lit(false)).as("in_exact_topk"))
      .orderBy(col("qid"), col("rnk"))
  }

  private val qAnnPqSql =
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
       |  FROM embeddings),
       |subs AS (
       |  SELECT vec_id, m.m AS m,
       |    g.qv[m.m * $PqSubDim + 1 : m.m * $PqSubDim + $PqSubDim] AS sub
       |  FROM g, (SELECT unnest(range(0, $PqM)) AS m) m),
       |cb AS (
       |  SELECT vec_id AS k, m, sub AS cw FROM subs WHERE vec_id < $PqK),
       |enc0 AS (
       |  SELECT s.vec_id, s.m, cb.k,
       |    list_sum(list_transform(range(1, $PqSubDim + 1),
       |      i -> (s.sub[i] - cb.cw[i]) * (s.sub[i] - cb.cw[i]))) AS d2
       |  FROM subs s JOIN cb ON cb.m = s.m),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM enc0
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                             ORDER BY d2, k) = 1),
       |dt AS (
       |  SELECT s.vec_id AS qid, s.m, cb.k,
       |    list_sum(list_transform(range(1, $PqSubDim + 1),
       |      i -> (s.sub[i] - cb.cw[i]) * (s.sub[i] - cb.cw[i]))) AS dt
       |  FROM subs s JOIN cb ON cb.m = s.m
       |  WHERE s.vec_id < $PqQueries),
       |adc AS (
       |  SELECT dt.qid, c.vec_id, CAST(SUM(dt.dt) AS BIGINT) AS adc_d2
       |  FROM codes c JOIN dt ON dt.m = c.m AND dt.k = c.code
       |  WHERE c.vec_id <> dt.qid
       |  GROUP BY dt.qid, c.vec_id),
       |exact AS (
       |  SELECT q.vec_id AS qid, b.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_sum(list_transform(range(1, ${PqM * PqSubDim} + 1),
       |        i -> (b.qv[i] - q.qv[i]) * (b.qv[i] - q.qv[i]))),
       |      b.vec_id) AS ex_rnk
       |  FROM g b, g q
       |  WHERE q.vec_id < $PqQueries AND b.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, adc_d2,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY adc_d2, vec_id) AS rnk
       |  FROM adc)
       |SELECT r.qid, CAST(r.rnk AS BIGINT) AS rnk, r.vec_id AS nid,
       |  r.adc_d2,
       |  COALESCE(e.ex_rnk <= $PqTopK, FALSE) AS in_exact_topk
       |FROM ranked r
       |LEFT JOIN exact e ON e.qid = r.qid AND e.vec_id = r.vec_id
       |  AND e.ex_rnk <= $PqTopK
       |WHERE r.rnk <= $PqTopK
       |ORDER BY r.qid, r.rnk""".stripMargin

  private val IvfCells = 16
  private val IvfProbes = 4

  /** IVF ANN (coarse-quantizer variant next to SRP-LSH): corpus
    * partitioned into Voronoi cells, queries probe the nearest cells
    * only. Pivots are DATA POINTS (the first `IvfCells` vectors by id),
    * not k-means averages — averaging is float-summation-order-dependent
    * across engines, while argmax-of-dot against data pivots is
    * bit-reproducible in DuckDB, which is what makes this ANN variant
    * hash-gateable end to end. Cell assignment = argmax cosine over
    * pivots (ties → lower pivot id); each query probes its
    * `IvfProbes` nearest cells; exact cosine ranks the candidates. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val pivots = base.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell"), col("v").as("pv"),
        col("norm").as("pn"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("pcos").desc, col("cell"))
    val assigned = base.join(broadcast(pivots))
      .withColumn("pcos", dot(col("v"), col("pv")) / (col("norm") * col("pn")))
      .withColumn("prnk", row_number().over(wAssign))
    val cells = assigned.filter(col("prnk") === 1)
      .select(col("vec_id"), col("cell"), col("v"), col("norm"))
    val probes = assigned.filter(col("prnk") <= IvfProbes &&
        col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("cell").as("qcell"))
    val q = base.select(col("vec_id").as("qid2"), col("v").as("qv"),
      col("norm").as("qn"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    cells.join(broadcast(probes),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("v"), col("norm"))
      .join(broadcast(q), col("qid") === col("qid2"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("norm")))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("nid"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  private val qAnnIvfSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |p AS (SELECT vec_id AS cell, v AS pv, norm AS pn FROM n
       |      WHERE vec_id < $IvfCells),
       |a AS (SELECT n.vec_id, p.cell,
       |        ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |          list_dot_product(n.v, p.pv) / (n.norm * p.pn) DESC, p.cell)
       |          AS prnk
       |      FROM n CROSS JOIN p),
       |cells AS (SELECT vec_id, cell FROM a WHERE prnk = 1),
       |probes AS (SELECT vec_id AS qid, cell AS qcell FROM a
       |           WHERE prnk <= $IvfProbes AND vec_id < 50),
       |cand AS (SELECT pr.qid, c.vec_id AS nid
       |         FROM cells c JOIN probes pr
       |           ON c.cell = pr.qcell AND c.vec_id <> pr.qid),
       |r AS (SELECT cand.qid, cand.nid,
       |        ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
       |          list_dot_product(a2.v, b2.v) / (a2.norm * b2.norm) DESC,
       |          cand.nid) AS rnk
       |      FROM cand
       |      JOIN n a2 ON a2.vec_id = cand.qid
       |      JOIN n b2 ON b2.vec_id = cand.nid)
       |SELECT qid, nid, rnk FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** q69: k-means (Lloyd) — the trainer q45's coarse quantizer
    * deliberately skipped. The reason it skipped it was cross-engine
    * float nondeterminism in the centroid MEAN (a shuffled SUM of
    * doubles has no summation order); this implementation removes the
    * nondeterminism instead of the trainer:
    *
    *  - inputs snap to a 2^-20 grid (`floor(x·2^20 + 0.5)` — the q61
    *    integer-exact device), so component sums are BIGINT: exact and
    *    order-free under any shuffle;
    *  - the centroid update rounds the integer mean back onto the grid
    *    (one IEEE division + floor of exactly-represented integers —
    *    deterministic everywhere);
    *  - distances expand to dot(x,x) − 2·dot(x,c) + dot(c,c), each dot
    *    a left-to-right codegen fold identical to DuckDB's
    *    list_dot_product, so assignments tie out bit-for-bit (ties →
    *    lower cell id).
    *
    * The ~1e-6 grid error is orders of magnitude below clustering
    * resolution; what it buys is a hash-gateable trainer: every
    * assignment, every centroid, every iteration is reproducible across
    * engines, re-runs, and re-shards. Scale shape per iteration: one
    * broadcast of k×dim centroids against a linear scan (assign), one
    * integer hash-agg on (cell, dim) with map-side partials (update) —
    * no shuffle of the corpus itself, which is exactly how you'd train
    * IVF cells over 100 TB of embeddings. */
  private val KmK = 8
  private val KmIters = 2
  private val KmQ = 1048576L // 2^20

  private def qKmeans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ed = load(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $KmQ.0 + 0.5) AS BIGINT))")
        .as("xq"))
      .withColumn("x", expr(s"transform(xq, q -> CAST(q AS DOUBLE) / $KmQ.0)"))
    var cent = ed.filter(col("vec_id") < KmK)
      .select(col("vec_id").as("cell"), col("x").as("c"))
    var assigned: DataFrame = null
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist").asc, col("cell").asc)
    for (t <- 1 to KmIters) {
      assigned = ed.join(broadcast(cent))
        .withColumn("dist",
          dot(col("x"), col("x")) - lit(2.0) * dot(col("x"), col("c"))
            + dot(col("c"), col("c")))
        .withColumn("rnk", row_number().over(wAssign))
        .filter(col("rnk") === 1)
        .select(col("vec_id"), col("cell"), col("xq"), col("x"), col("dist"))
      if (t < KmIters) {
        cent = assigned
          .select(col("cell"), posexplode(col("xq")).as(Seq("d", "q")))
          .groupBy(col("cell"), col("d"))
          .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
          .withColumn("cq", floor(col("sq").cast("double")
            / col("n").cast("double") + 0.5).cast("long"))
          .groupBy(col("cell"))
          .agg(expr(
            s"transform(array_sort(collect_list(struct(d, cq))), s -> CAST(s.cq AS DOUBLE) / $KmQ.0)")
            .as("c"))
      }
    }
    val wMedoid = Window.partitionBy(col("cell"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    assigned
      .withColumn("mrnk", row_number().over(wMedoid))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("vec_id")).as("member_checksum"),
        min(when(col("mrnk") === 1, col("vec_id"))).as("medoid"))
      .select(col("cell").as("cluster"), col("n_vecs"),
        col("member_checksum"), col("medoid"))
      .orderBy(col("cluster"))
  }

  private val qKmeansSql = {
    def assign(src: String, cents: String) =
      s"""SELECT vec_id, cell, xq, x, dist FROM (
         |  SELECT e.vec_id, c.cell, e.xq, e.x,
         |    list_dot_product(e.x, e.x) - 2.0 * list_dot_product(e.x, c.c)
         |      + list_dot_product(c.c, c.c) AS dist,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.x, e.x)
         |          - 2.0 * list_dot_product(e.x, c.c)
         |          + list_dot_product(c.c, c.c) ASC, c.cell ASC) AS rnk
         |  FROM $src e CROSS JOIN $cents c) t WHERE rnk = 1""".stripMargin
    s"""WITH ed AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * $KmQ.0 + 0.5) AS BIGINT)) AS xq,
       |    list_transform(list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * $KmQ.0 + 0.5) AS BIGINT)),
       |      q -> CAST(q AS DOUBLE) / $KmQ.0) AS x
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cell, x AS c FROM ed WHERE vec_id < $KmK),
       |m1 AS (${assign("ed", "c0")}),
       |s1 AS (
       |  SELECT cell, r.d AS d, SUM(xq[r.d + 1]) AS sq, COUNT(*) AS n
       |  FROM m1 CROSS JOIN range(0, $Dim) r(d) GROUP BY 1, 2),
       |c1 AS (
       |  SELECT cell, array_agg(
       |      CAST(CAST(floor(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
       |        AS BIGINT) AS DOUBLE) / $KmQ.0 ORDER BY d) AS c
       |  FROM s1 GROUP BY cell),
       |m2 AS (${assign("ed", "c1")}),
       |md AS (
       |  SELECT cell, vec_id,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY dist ASC, vec_id ASC) AS mrnk
       |  FROM m2)
       |SELECT cell AS cluster, COUNT(*) AS n_vecs,
       |  CAST(SUM(vec_id) AS BIGINT) AS member_checksum,
       |  min(CASE WHEN mrnk = 1 THEN vec_id END) AS medoid
       |FROM md GROUP BY cell ORDER BY cluster""".stripMargin
  }

  /** Semantic-dup cosine threshold. This corpus's max pairwise cosine
    * is ~0.51 (see q40), so 0.4 sits where the gate actually exercises
    * both branches; a production text-embedding run uses ~0.95+. */
  private val SemDupThreshold = 0.4

  /** q89: SemDeDup-style SEMANTIC deduplication — the embedding-space
    * complement to the MinHash chain (q35/q52 catch lexical near-dups;
    * this catches paraphrases that share no shingles). The semantics of
    * the published recipe (Abbas et al. 2023, "SemDeDup"): cluster the
    * corpus, compare pairs only WITHIN a cluster, and among vectors
    * whose cosine exceeds the threshold keep the one closest to the
    * cluster centroid (the most "prototypical" copy; ties break to the
    * lower id).
    *
    * Cells reuse q45's data-pivot coarse quantizer (argmax cosine over
    * the first [[IvfCells]] vectors) rather than trained k-means means,
    * which keeps every assignment bit-reproducible in DuckDB and the
    * whole operator hash-gateable. Scale shape: the only pairwise work
    * is the within-cell self-join on the `cell` equi-key — exactly
    * SemDeDup's cost model. At 100 TB the cell count scales with the
    * corpus (nlist ≈ n / targetCellSize, trained by q69's Lloyd pass)
    * so per-cell occupancy — and the per-cell O(cell²) compare — stays
    * constant; the gate pins 16 cells so the oracle stays static. */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val pivots = base.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell"), col("v").as("pv"),
        col("norm").as("pn"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("pcos").desc, col("cell"))
    val cells = base.join(broadcast(pivots))
      .withColumn("pcos", dot(col("v"), col("pv")) / (col("norm") * col("pn")))
      .withColumn("prnk", row_number().over(wAssign))
      .filter(col("prnk") === 1)
      .select(col("vec_id"), col("cell"), col("pcos"), col("v"), col("norm"))
    val dups = cells.as("x")
      .join(cells.as("y"),
        col("x.cell") === col("y.cell") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .withColumn("cos",
        dot(col("x.v"), col("y.v")) / (col("x.norm") * col("y.norm")))
      .filter(col("cos") >= lit(SemDupThreshold) &&
        (col("y.pcos") > col("x.pcos") ||
          (col("y.pcos") === col("x.pcos") &&
            col("y.vec_id") < col("x.vec_id"))))
      .select(col("x.vec_id").as("vec_id")).distinct()
      .withColumn("dup", lit(1L))
    cells.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup"), lit(0L)).as("is_dup"))
      .orderBy(col("vec_id"))
  }

  private val qSemanticDedupSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |p AS (SELECT vec_id AS cell, v AS pv, norm AS pn FROM n
       |      WHERE vec_id < $IvfCells),
       |a AS (SELECT n.vec_id, p.cell,
       |        list_dot_product(n.v, p.pv) / (n.norm * p.pn) AS pcos,
       |        ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |          list_dot_product(n.v, p.pv) / (n.norm * p.pn) DESC, p.cell)
       |          AS prnk
       |      FROM n CROSS JOIN p),
       |cells AS (SELECT vec_id, cell, pcos FROM a WHERE prnk = 1),
       |dups AS (
       |  SELECT DISTINCT x.vec_id
       |  FROM cells x JOIN cells y
       |    ON x.cell = y.cell AND x.vec_id <> y.vec_id
       |  JOIN n nx ON nx.vec_id = x.vec_id
       |  JOIN n ny ON ny.vec_id = y.vec_id
       |  WHERE list_dot_product(nx.v, ny.v) / (nx.norm * ny.norm)
       |          >= $SemDupThreshold
       |    AND (y.pcos > x.pcos OR (y.pcos = x.pcos AND y.vec_id < x.vec_id)))
       |SELECT c.vec_id, c.cell,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
       |FROM cells c LEFT JOIN dups d ON d.vec_id = c.vec_id
       |ORDER BY c.vec_id""".stripMargin

  /** q102 — cluster-balanced sampling: assign every vector to its
    * nearest pivot cell (the q45 IVF assign stage, reused verbatim),
    * then keep `CellQuota` per cell by md5 hash rank. The topic-balanced
    * subset selection a curation pipeline runs over embedding space:
    * uniform-per-cluster instead of corpus-frequency-weighted, so rare
    * regions of the space survive the downsample. Scale shape: one
    * broadcast of the constant 16-pivot table, one window per cell —
    * no pairwise stage at all. */
  private val CellQuota = 20
  private def qClusterSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = withNorm(s, dir)
    val pivots = base.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell"), col("v").as("pv"),
        col("norm").as("pn"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("pcos").desc, col("cell"))
    val cells = base.join(broadcast(pivots))
      .withColumn("pcos", dot(col("v"), col("pv")) / (col("norm") * col("pn")))
      .withColumn("prnk", row_number().over(wAssign))
      .filter(col("prnk") === 1)
      .select(col("vec_id"), col("cell"))
    val wSamp = Window.partitionBy(col("cell"))
      .orderBy(md5(concat(lit("cb:"), col("vec_id"))), col("vec_id"))
    cells.withColumn("rnk", row_number().over(wSamp).cast(LongType))
      .filter(col("rnk") <= CellQuota)
      .select(col("cell"), col("rnk"), col("vec_id"))
      .orderBy(col("cell"), col("rnk"))
  }

  private val qClusterSampleSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |p AS (SELECT vec_id AS cell, v AS pv, norm AS pn FROM n
       |      WHERE vec_id < $IvfCells),
       |a AS (SELECT n.vec_id, p.cell,
       |        ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |          list_dot_product(n.v, p.pv) / (n.norm * p.pn) DESC, p.cell)
       |          AS prnk
       |      FROM n CROSS JOIN p),
       |cells AS (SELECT vec_id, cell FROM a WHERE prnk = 1),
       |r AS (SELECT cell, vec_id,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY cell
       |          ORDER BY md5('cb:' || vec_id), vec_id) AS BIGINT) AS rnk
       |      FROM cells)
       |SELECT cell, rnk, vec_id FROM r WHERE rnk <= $CellQuota
       |ORDER BY cell, rnk""".stripMargin

  /** q135 — HARD-NEGATIVE MINING for contrastive embedding training
    * (the candidate-generation stage of every dual-encoder training
    * pipeline: for each anchor, the most-similar vectors of a DIFFERENT
    * label, excluding near-duplicates). "Semi-hard" band per the triplet
    * literature: cos in [[HnLo]], [[HnHi]]) — hard enough to carry
    * gradient signal, below the near-dup ceiling where the "negative"
    * is probably a labeling error.
    *
    * Scale shape: identical to q45's ANN probe — anchors probe their
    * [[IvfProbes]] nearest IVF cells, so the pairwise stage is
    * candidate-scoped, never corpus × corpus; the label-mismatch and
    * cosine-band filters run inside the cell equi-join. At 100 TB the
    * cell count grows with the corpus and per-cell cost stays O(1). */
  private val HnLo = 0.30
  private val HnHi = 0.95
  private val HnTopK = 5

  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = withNorm(s, dir)
    val labels = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("int").as("lbl"))
    val pivots = base.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell"), col("v").as("pv"),
        col("norm").as("pn"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("pcos").desc, col("cell"))
    val assigned = base.join(broadcast(pivots))
      .withColumn("pcos", dot(col("v"), col("pv")) / (col("norm") * col("pn")))
      .withColumn("prnk", row_number().over(wAssign))
    val cells = assigned.filter(col("prnk") === 1)
      .select(col("vec_id"), col("cell"), col("v"), col("norm"))
      .join(labels, "vec_id")
    val probes = assigned.filter(col("prnk") <= IvfProbes &&
        col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("cell").as("qcell"))
    val anchors = base.join(labels, "vec_id")
      .filter(col("vec_id") < 50 && col("lbl").isNotNull)
      .select(col("vec_id").as("qid2"), col("v").as("qv"),
        col("norm").as("qn"), col("lbl").as("qlbl"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    cells.join(broadcast(probes),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("v"), col("norm"),
        col("lbl").as("nlbl"))
      .join(broadcast(anchors), col("qid") === col("qid2"))
      .filter(col("nlbl").isNotNull && col("nlbl") =!= col("qlbl"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("norm")))
      .filter(col("cos") >= HnLo && col("cos") < HnHi)
      .withColumn("rnk", row_number().over(wRank).cast(LongType))
      .filter(col("rnk") <= HnTopK)
      .select(col("qid"), col("rnk"), col("nid"),
        col("qlbl").as("anchor_label"), col("nlbl").as("neg_label"))
      .orderBy(col("qid"), col("rnk"))
  }

  private val qHardNegativesSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |             CAST(label AS INT) AS lbl FROM embeddings),
       |n AS (SELECT vec_id, v, lbl, sqrt(list_dot_product(v, v)) AS norm
       |      FROM e),
       |p AS (SELECT vec_id AS cell, v AS pv, norm AS pn FROM n
       |      WHERE vec_id < $IvfCells),
       |a AS (SELECT n.vec_id, p.cell,
       |        ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |          list_dot_product(n.v, p.pv) / (n.norm * p.pn) DESC, p.cell)
       |          AS prnk
       |      FROM n CROSS JOIN p),
       |cells AS (SELECT vec_id, cell FROM a WHERE prnk = 1),
       |probes AS (SELECT vec_id AS qid, cell AS qcell FROM a
       |           WHERE prnk <= $IvfProbes AND vec_id < 50),
       |anch AS (SELECT vec_id AS qid2, v AS qv, norm AS qn, lbl AS qlbl
       |         FROM n WHERE vec_id < 50 AND lbl IS NOT NULL),
       |cand AS (SELECT pr.qid, c.vec_id AS nid
       |         FROM cells c JOIN probes pr
       |           ON c.cell = pr.qcell AND c.vec_id <> pr.qid),
       |r AS (SELECT cand.qid, cand.nid, anch.qlbl, nb.lbl AS nlbl,
       |        list_dot_product(anch.qv, nb.v) / (anch.qn * nb.norm) AS cos
       |      FROM cand
       |      JOIN anch ON anch.qid2 = cand.qid
       |      JOIN n nb ON nb.vec_id = cand.nid
       |      WHERE nb.lbl IS NOT NULL AND nb.lbl <> anch.qlbl),
       |rr AS (SELECT qid, nid, qlbl, nlbl,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, nid) AS BIGINT) AS rnk
       |       FROM r WHERE cos >= $HnLo AND cos < $HnHi)
       |SELECT qid, rnk, nid, qlbl AS anchor_label, nlbl AS neg_label
       |FROM rr WHERE rnk <= $HnTopK ORDER BY qid, rnk""".stripMargin

  /** q136 — kNN AUTO-LABELING (weak supervision): every tenth vector is
    * held out as "unlabeled" and classified by majority vote among its
    * [[KnnK]] nearest LABELED neighbors; ties break to the smaller
    * label. The semi-supervised label-spreading step curation pipelines
    * run to extend a small seed taxonomy over a large corpus — and,
    * read against the held-out true label, a distributed embedding-
    * quality eval (the `correct` column aggregates to kNN accuracy).
    *
    * Scale shape: q45's probe pattern again — holdouts probe their
    * [[IvfProbes]] nearest cells of the labeled partition; vote and
    * rank run per-anchor after the cell equi-join. */
  private val KnnK = 5

  private def qKnnLabel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = withNorm(s, dir)
    val labels = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("int").as("lbl"))
    val all = base.join(labels, "vec_id")
    val train = all.filter(col("vec_id") % 10 =!= 0 && col("lbl").isNotNull)
    val pivots = base.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell"), col("v").as("pv"),
        col("norm").as("pn"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("pcos").desc, col("cell"))
    val tCells = train.join(broadcast(pivots))
      .withColumn("pcos", dot(col("v"), col("pv")) / (col("norm") * col("pn")))
      .withColumn("prnk", row_number().over(wAssign))
      .filter(col("prnk") === 1)
      .select(col("vec_id"), col("cell"), col("v"), col("norm"), col("lbl"))
    val holdout = all.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qn"), col("lbl").as("true_lbl"))
    val qProbes = holdout.join(broadcast(pivots))
      .withColumn("pcos",
        dot(col("qv"), col("pv")) / (col("qn") * col("pn")))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cell"))))
      .filter(col("prnk") <= IvfProbes)
      .select(col("qid"), col("cell").as("qcell"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    // holdout and its probe table grow WITH the corpus (10% of rows):
    // they shuffle on their equi-keys, only the constant pivot table is
    // ever broadcast.
    val topk = tCells.join(qProbes, col("cell") === col("qcell"))
      .select(col("qid"), col("vec_id").as("nid"), col("v"), col("norm"),
        col("lbl").as("nlbl"))
      .join(holdout, Seq("qid"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("norm")))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= KnnK)
    val wVote = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("nlbl"))
    topk.groupBy(col("qid"), col("nlbl"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vrnk", row_number().over(wVote))
      .filter(col("vrnk") === 1)
      .select(col("qid"), col("nlbl").as("pred_label"))
      .join(holdout.select(col("qid"), col("true_lbl")), "qid")
      .select(col("qid"), col("pred_label"),
        col("true_lbl").as("true_label"),
        (col("pred_label") === col("true_lbl")).cast(LongType).as("correct"))
      .orderBy(col("qid"))
  }

  private val qKnnLabelSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |             CAST(label AS INT) AS lbl FROM embeddings),
       |n AS (SELECT vec_id, v, lbl, sqrt(list_dot_product(v, v)) AS norm
       |      FROM e),
       |p AS (SELECT vec_id AS cell, v AS pv, norm AS pn FROM n
       |      WHERE vec_id < $IvfCells),
       |t AS (SELECT * FROM n WHERE vec_id % 10 <> 0 AND lbl IS NOT NULL),
       |tc AS (SELECT vec_id, cell, lbl FROM (
       |         SELECT t.vec_id, p.cell, t.lbl,
       |           ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
       |             list_dot_product(t.v, p.pv) / (t.norm * p.pn) DESC,
       |             p.cell) AS prnk
       |         FROM t CROSS JOIN p) WHERE prnk = 1),
       |h AS (SELECT vec_id AS qid, v AS qv, norm AS qn, lbl AS true_lbl
       |      FROM n WHERE vec_id % 10 = 0),
       |qp AS (SELECT qid, cell AS qcell FROM (
       |         SELECT h.qid, p.cell,
       |           ROW_NUMBER() OVER (PARTITION BY h.qid ORDER BY
       |             list_dot_product(h.qv, p.pv) / (h.qn * p.pn) DESC,
       |             p.cell) AS prnk
       |         FROM h CROSS JOIN p) WHERE prnk <= $IvfProbes),
       |topk AS (SELECT qid, nid, nlbl FROM (
       |    SELECT qp.qid, tc.vec_id AS nid, tc.lbl AS nlbl,
       |      ROW_NUMBER() OVER (PARTITION BY qp.qid ORDER BY
       |        list_dot_product(h.qv, tn.v) / (h.qn * tn.norm) DESC,
       |        tc.vec_id) AS rnk
       |    FROM tc JOIN qp ON tc.cell = qp.qcell
       |    JOIN h ON h.qid = qp.qid
       |    JOIN n tn ON tn.vec_id = tc.vec_id) WHERE rnk <= $KnnK),
       |votes AS (SELECT qid, nlbl, COUNT(*) AS votes FROM topk
       |          GROUP BY qid, nlbl),
       |pred AS (SELECT qid, nlbl AS pred_label FROM (
       |    SELECT qid, nlbl,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY votes DESC, nlbl) AS vrnk
       |    FROM votes) WHERE vrnk = 1)
       |SELECT pred.qid, pred.pred_label, h.true_lbl AS true_label,
       |  CAST(pred.pred_label = h.true_lbl AS BIGINT) AS correct
       |FROM pred JOIN h ON h.qid = pred.qid
       |ORDER BY pred.qid""".stripMargin

  /** q143 — LABEL-NOISE AUDIT over the kNN GRAPH (confident-learning
    * shape: a label whose nearest neighbors vote against it is probably
    * mislabeled). Distinct plumbing from q136's probe join: this is the
    * SRP band SELF-join (q40's candidate generator) ranking the top
    * [[NoiseK]] neighbors of EVERY labeled vector — i.e., distributed
    * kNN-graph construction, the same artifact embedding-quality and
    * graph-based semi-supervised pipelines build — then a per-vector
    * agreement vote. Vectors with fewer than 3 in-graph neighbors
    * abstain (too little evidence either way).
    *
    * Scale shape: candidates form only inside (band, bkey) buckets
    * whose occupancy the corpus-scaled r holds at O(TargetBucket), so
    * the graph build is linear in corpus size; the vote is one
    * per-center aggregate on the candidate partitioning. */
  private val NoiseK = 5

  private def qLabelNoise(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = withNorm(s, dir)
    val labels = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("int").as("lbl"))
    val lab = base.join(labels, "vec_id").filter(col("lbl").isNotNull)
    val r = rBits(countOf(base, dir))
    val bands = bandKeys(lab, NearDupBands, r)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("cid"), col("y.vec_id").as("nid"))
      .distinct()
    val wRank = Window.partitionBy(col("cid"))
      .orderBy(col("cos").desc, col("nid"))
    cand
      .join(lab.select(col("vec_id").as("cid2"), col("v").as("cv"),
        col("norm").as("cn"), col("lbl").as("clbl")), col("cid") === col("cid2"))
      .join(lab.select(col("vec_id").as("nid2"), col("v").as("nv"),
        col("norm").as("nn"), col("lbl").as("nlbl")), col("nid") === col("nid2"))
      .withColumn("cos", dot(col("cv"), col("nv")) / (col("cn") * col("nn")))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= NoiseK)
      .groupBy(col("cid"), col("clbl"))
      .agg(count(lit(1)).as("k_eff"),
        sum(when(col("nlbl") === col("clbl"), 1L).otherwise(0L)).as("agree"))
      .filter(col("k_eff") >= 3)
      .select(col("cid").as("vec_id"), col("clbl").as("label"),
        col("k_eff"), col("agree"),
        (col("agree") * 2 < col("k_eff")).cast(LongType).as("flagged"))
      .orderBy(col("vec_id"))
  }

  private val qLabelNoiseSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |             CAST(label AS INT) AS lbl
       |           FROM embeddings WHERE label IS NOT NULL),
       |n AS (SELECT vec_id, v, lbl, sqrt(list_dot_product(v, v)) AS norm
       |      FROM e),
       |$rSelSql,
       |bands AS (
       |${bandsSql(NearDupBands)}
       |),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS cid, y.vec_id AS nid
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id <> y.vec_id),
       |r AS (SELECT cand.cid, a.lbl AS clbl, b.lbl AS nlbl,
       |        ROW_NUMBER() OVER (PARTITION BY cand.cid ORDER BY
       |          list_dot_product(a.v, b.v) / (a.norm * b.norm) DESC,
       |          cand.nid) AS rnk
       |      FROM cand
       |      JOIN n a ON a.vec_id = cand.cid
       |      JOIN n b ON b.vec_id = cand.nid),
       |g AS (SELECT cid, clbl,
       |        CAST(COUNT(*) AS BIGINT) AS k_eff,
       |        CAST(SUM(CASE WHEN nlbl = clbl THEN 1 ELSE 0 END) AS BIGINT)
       |          AS agree
       |      FROM r WHERE rnk <= $NoiseK GROUP BY cid, clbl)
       |SELECT cid AS vec_id, clbl AS label, k_eff, agree,
       |  CAST(CASE WHEN agree * 2 < k_eff THEN 1 ELSE 0 END AS BIGINT)
       |    AS flagged
       |FROM g WHERE k_eff >= 3 ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q111

  /** Embedding dimensionality and the quantization grid for the Gram
    * pass. floor(x·1024) is bit-identical in both engines: a FLOAT
    * widens to DOUBLE exactly and scaling by 2^10 is exact, so the
    * only rounding is the shared floor. Entry magnitude is bounded by
    * n·(1024·|x|)² ≈ n·2^20 — a 100-TB row count of ~10^12 stays two
    * orders inside BIGINT. */
  private val EmbedDim = 64

  /** q111: GRAM MATRIX of the (quantized) embedding table — the
    * covariance/PCA input pass of every embedding-space curation step
    * (whitening, SemDeDup cell shaping, spectral filtering). Each row
    * contributes its 64×64 outer product, flattened to 4096 longs;
    * [[graft.functions.LongVectorSum]] folds them map-side into ONE
    * 32-KiB buffer per partition, so the "shuffle" is a handful of
    * binary blobs — the mergeable-sketch shape — where the naive
    * posexplode plan would shuffle n·4096 rows. The driver-side
    * eigensolve on the 64×64 result is spec'd (power iteration), not
    * gated: the distributed part IS this aggregate. */
  private def qEmbedGram(s: SparkSession, dir: String): DataFrame = {
    val outer = load(s, dir, "embeddings")
      .select(expr(
        s"""flatten(transform(
           |  transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)),
           |  x -> transform(
           |    transform(embedding, y -> CAST(floor(CAST(y AS DOUBLE) * 1024) AS BIGINT)),
           |    y -> x * y)))""".stripMargin).as("op"))
    outer
      .agg(graft.functions.LongVectorSum.vecsum(col("op"), EmbedDim * EmbedDim)
        .as("g"))
      .select(posexplode(col("g")).as(Seq("idx", "g")))
      .select((col("idx") divide lit(EmbedDim)).cast(LongType).as("i"),
        pmod(col("idx"), lit(EmbedDim)).cast(LongType).as("j"), col("g"))
      .orderBy(col("i"), col("j"))
  }

  private val qEmbedGramSql =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
       |  FROM embeddings)
       |SELECT CAST(a.i - 1 AS BIGINT) AS i, CAST(b.j - 1 AS BIGINT) AS j,
       |  CAST(SUM(q.q[a.i] * q.q[b.j]) AS BIGINT) AS g
       |FROM q,
       |  unnest(range(1, $EmbedDim + 1)) AS a(i),
       |  unnest(range(1, $EmbedDim + 1)) AS b(j)
       |GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  // ------------------------------------------------------------- q208

  /** q208: EMBEDDING COVARIANCE/CORRELATION AUDIT over the first 8
    * dimensions — the whitening / redundant-feature screen: per dim
    * pair (i ≤ j) the exact integer covariance numerator
    * n·Σxy − Σx·Σy on milli-quantized components and the correlation
    * in ppm via `graft_isqrt` of the variance numerators. Signed
    * divisions are spelled sign·(|x| div y).
    *
    * Scale shape: ONE single-pass, map-side-combinable wide aggregate
    * (8 sums + 8 squares + 28 cross products, all codegen'd — no
    * explode, no self-join, no shuffle of pair rows); the 1×52
    * aggregate row is reshaped to 36 report rows by `stack`, a
    * driver-free generator on a one-row frame. */
  private def qCovarianceAudit(s: SparkSession, dir: String): DataFrame = {
    val dims = 1 to 8
    val base = load(s, dir, "embeddings").select(
      dims.map(i => expr(
        // widen float→double BEFORE the arithmetic: both engines then
        // run the identical IEEE double ops (DuckDB would otherwise
        // stay in single precision and round differently near .5)
        s"CAST(floor(CAST(element_at(embedding, $i) AS DOUBLE) * 1000" +
          s" + 0.5) AS BIGINT)")
        .as(s"x$i")): _*)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n")) ++
        dims.map(i => sum(col(s"x$i")).as(s"s$i")) ++
        (for (i <- dims; j <- dims if i <= j) yield
          sum(expr(s"CAST(x$i AS DECIMAL(38,0)) * x$j")).as(s"p${i}_$j"))
    val wide = base.agg(aggs.head, aggs.tail: _*)
    val stackArgs = (for (i <- dims; j <- dims if i <= j) yield
      Seq(s"${i}L", s"${j}L", s"s$i", s"s$j", s"p${i}_$i", s"p${j}_$j",
        s"p${i}_$j")).flatten
    wide
      .select(col("n"),
        expr(s"stack(36, ${stackArgs.mkString(", ")})")
          .as(Seq("i", "j", "sx", "sy", "pxx", "pyy", "pxy")))
      .withColumn("cov_num", expr(
        "CAST(n AS DECIMAL(38,0)) * pxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("varx_num", expr(
        "CAST(CAST(n AS DECIMAL(38,0)) * pxx" +
          " - CAST(sx AS DECIMAL(38,0)) * sx AS BIGINT)"))
      .withColumn("vary_num", expr(
        "CAST(CAST(n AS DECIMAL(38,0)) * pyy" +
          " - CAST(sy AS DECIMAL(38,0)) * sy AS BIGINT)"))
      .withColumn("cov_milli2", expr(
        "CAST(CASE WHEN cov_num < 0 THEN -1 ELSE 1 END" +
          " * (abs(cov_num) div (CAST(n AS DECIMAL(38,0)) * n))" +
          " AS BIGINT)"))
      .withColumn("sd_prod",
        graft.functions.IntegerSqrt(col("varx_num")) *
          graft.functions.IntegerSqrt(col("vary_num")))
      // clamp: isqrt truncation in sd_prod can push |corr| a few ppm
      // past 1 (var div floor(sqrt(var))² ≥ 1); a correlation report
      // should stay in [-1, 1]
      .withColumn("corr_ppm", expr(
        "CASE WHEN sd_prod = 0 THEN 0L" +
          " ELSE least(1000000L, greatest(-1000000L," +
          " CAST(CASE WHEN cov_num < 0 THEN -1 ELSE 1 END" +
          " * (abs(cov_num) * 1000000 div sd_prod) AS BIGINT))) END"))
      .select(col("i"), col("j"), col("n"), col("cov_milli2"),
        col("corr_ppm"))
      .orderBy(col("i"), col("j"))
  }

  private val qCovarianceAuditSql = {
    val sums = (1 to 8).map(i =>
      s"CAST(SUM(x$i) AS BIGINT) AS s$i").mkString(",\n      |    ")
    val prods = (for (i <- 1 to 8; j <- 1 to 8 if i <= j) yield
      s"SUM(CAST(x$i AS HUGEINT) * x$j) AS p${i}_$j")
      .mkString(",\n      |    ")
    val quant = (1 to 8).map(i =>
      s"CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1000 + 0.5)" +
        s" AS BIGINT) AS x$i")
      .mkString(",\n      |    ")
    val rows = (for (i <- 1 to 8; j <- 1 to 8 if i <= j) yield
      s"SELECT $i AS i, $j AS j, n, s$i AS sx, s$j AS sy, " +
        s"p${i}_$i AS pxx, p${j}_$j AS pyy, p${i}_$j AS pxy FROM wide")
      .mkString("\n      |  UNION ALL ")
    s"""WITH q AS (
      |  SELECT $quant
      |  FROM embeddings),
      |wide AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    $sums,
      |    $prods
      |  FROM q),
      |pairs AS (
      |  $rows),
      |nums AS (
      |  SELECT i, j, n,
      |    CAST(n AS HUGEINT) * pxy - CAST(sx AS HUGEINT) * sy AS cov_num,
      |    CAST(CAST(n AS HUGEINT) * pxx - CAST(sx AS HUGEINT) * sx
      |      AS BIGINT) AS varx_num,
      |    CAST(CAST(n AS HUGEINT) * pyy - CAST(sy AS HUGEINT) * sy
      |      AS BIGINT) AS vary_num
      |  FROM pairs),
      |r AS (
      |  SELECT i, j, n, cov_num, varx_num, vary_num,
      |    CAST(floor(sqrt(CAST(varx_num AS DOUBLE))) AS BIGINT) AS sx0,
      |    CAST(floor(sqrt(CAST(vary_num AS DOUBLE))) AS BIGINT) AS sy0
      |  FROM nums),
      |c AS (
      |  SELECT i, j, n, cov_num,
      |    (sx0 - CASE WHEN sx0 > 0 AND sx0 * sx0 > varx_num THEN 1
      |        ELSE 0 END
      |      + CASE WHEN sx0 < 3037000499
      |          AND (sx0 + 1) * (sx0 + 1) <= varx_num THEN 1 ELSE 0 END)
      |    * (sy0 - CASE WHEN sy0 > 0 AND sy0 * sy0 > vary_num THEN 1
      |        ELSE 0 END
      |      + CASE WHEN sy0 < 3037000499
      |          AND (sy0 + 1) * (sy0 + 1) <= vary_num THEN 1 ELSE 0 END)
      |      AS sd_prod
      |  FROM r)
      |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
      |  CAST(CASE WHEN cov_num < 0 THEN -1 ELSE 1 END
      |    * (abs(cov_num) // (CAST(n AS HUGEINT) * n)) AS BIGINT)
      |    AS cov_milli2,
      |  CAST(CASE WHEN sd_prod = 0 THEN 0
      |    ELSE least(1000000, greatest(-1000000,
      |      CASE WHEN cov_num < 0 THEN -1 ELSE 1 END
      |      * (abs(cov_num) * 1000000 // sd_prod))) END AS BIGINT)
      |    AS corr_ppm
      |FROM c ORDER BY i, j""".stripMargin
  }

  /* Thirty-fourth wave (round 9):
    *
    *  - q261: MMR (maximal-marginal-relevance) DIVERSIFIED RE-RANKING —
    *    the standard post-retrieval step that trades relevance against
    *    redundancy: pick argmax of λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)
    *    greedily, k times. The DISTRIBUTED part is candidate scoring +
    *    pool selection (integer-grid dot products against the query
    *    vector, then TakeOrdered-64 — exactly how production MMR
    *    re-ranks a bounded retrieval pool, never the corpus); the greedy
    *    loop runs on the ≤64-row pool. λ = 7/10 stays integral
    *    (score = 7·rel − 3·maxsim); ties break on vec_id, so the whole
    *    pick sequence is hash-gateable — the DuckDB oracle replays all
    *    ten greedy rounds as unrolled materialized CTEs over the same
    *    pool and pairwise-dot table.
    *  - q262: STREAMING DECODE-HEALTH parity — q257's audio audit run
    *    through Structured Streaming: the corpus geometry is staged as
    *    time-ordered file slices, each micro-batch encodes + decodes its
    *    rows through the REAL `javax.sound.sampled` path inside the
    *    stream (typed map, no state), the per-row decode verdicts land
    *    in a parquet sink, and the per-source report aggregates the
    *    read-back. Gate: identical to q257's oracle — streaming == batch
    *    for the codec path (the q26==q27 device applied to multimodal).
    *
    * Scale shapes: q261 scoring is one broadcast-join pass + TakeOrdered
    * (the pool bound is the operator's contract); q262 decode is
    * stateless per-row inside micro-batches — state O(1), sink is the
    * only materialization. */

  // ------------------------------------------------------------- q261

  private val MmrDim = 64
  private val MmrPool = 64
  private val MmrK = 10

  private def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = load(s, dir, "embeddings").select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT))")
      .as("qv"))
    val q0 = g.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").as("qid"), col("qv").as("qq"))
    val rel = g.crossJoin(broadcast(q0)) // one-row query-vector frame
      .filter(col("vec_id") =!= col("qid"))
      .select(col("vec_id"), col("qv"),
        expr("aggregate(zip_with(qv, qq, (x, y) -> x * y), 0L, " +
          "(acc, v) -> acc + v)").as("rel"))
    val pool = rel.orderBy(col("rel").desc, col("vec_id")).limit(MmrPool)
    // bounded collect: the ≤64-row candidate pool (the operator's
    // contract bound — production MMR re-ranks a bounded pool)
    val cand = pool.collect().map(r => (r.getLong(0),
      r.getSeq[Long](1).toArray, r.getLong(2)))
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length && i < b.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Long])]
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)] // pick, id, rel, maxsim, mmr
    val remaining =
      scala.collection.mutable.ArrayBuffer.from(cand)
    var k = 1
    while (k <= MmrK && remaining.nonEmpty) {
      val scored = remaining.map { case (id, v, r) =>
        val ms = if (selected.isEmpty) 0L
          else selected.map(sv => dot(v, sv._2)).max
        (id, v, r, ms, 7L * r - 3L * ms)
      }
      val best = scored.minBy { case (id, _, _, _, mmr) => (-mmr, id) }
      picks += ((k.toLong, best._1, best._3, best._4, best._5))
      selected += ((best._1, best._2))
      remaining --= remaining.filter(_._1 == best._1)
      k += 1
    }
    picks.toSeq.toDF("pick", "vec_id", "rel", "maxsim", "mmr")
      .orderBy(col("pick"))
  }

  private val qMmrRerankSql: String = {
    val dotExpr = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(range(1, $MmrDim + 1), " +
        s"i -> $a.qv[i] * $b.qv[i])) AS BIGINT)"
    val rounds = (2 to MmrK).map { n =>
      s"""s$n AS MATERIALIZED (
         |  SELECT vec_id, rel, ms, $n AS pick FROM (
         |    SELECT p.vec_id AS vec_id, p.rel AS rel, MAX(y.d) AS ms
         |    FROM pool p JOIN sym y ON y.a = p.vec_id
         |    WHERE y.b IN (SELECT vec_id FROM all${n - 1})
         |      AND p.vec_id NOT IN (SELECT vec_id FROM all${n - 1})
         |    GROUP BY 1, 2) t
         |  ORDER BY 7 * rel - 3 * ms DESC, vec_id LIMIT 1),
         |all$n AS MATERIALIZED (
         |  SELECT * FROM all${n - 1} UNION ALL SELECT * FROM s$n)""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
       |  FROM embeddings),
       |q0 AS (SELECT vec_id AS qid, qv FROM g ORDER BY vec_id LIMIT 1),
       |rel AS (
       |  SELECT v.vec_id, v.qv,
       |    ${dotExpr("v", "q")} AS rel
       |  FROM g v, q0 q WHERE v.vec_id <> q.qid),
       |pool AS MATERIALIZED (
       |  SELECT vec_id, qv, rel FROM rel
       |  ORDER BY rel DESC, vec_id LIMIT $MmrPool),
       |sym AS MATERIALIZED (
       |  SELECT a.vec_id AS a, b.vec_id AS b, ${dotExpr("a", "b")} AS d
       |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
       |s1 AS MATERIALIZED (
       |  SELECT vec_id, rel, CAST(0 AS BIGINT) AS ms, 1 AS pick
       |  FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
       |all1 AS MATERIALIZED (SELECT * FROM s1),
       |$rounds
       |SELECT CAST(pick AS BIGINT) AS pick, vec_id, rel,
       |  ms AS maxsim, 7 * rel - 3 * ms AS mmr
       |FROM all$MmrK ORDER BY pick""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q38_sim_cosine_topk" -> QueryDef(qTopK, Some(qTopKSql),
      "brute-force cosine top-k (exact ANN baseline)"),
    "q39_sim_ann_lsh" -> QueryDef(qAnnLsh, Some(qAnnLshSql),
      "SRP LSH ANN: corpus-scaled bits, OR bands, Hamming-1 multi-probe"),
    "q40_sim_cosine_neardup" -> QueryDef(qNearDup, Some(qNearDupSql),
      "embedding-cosine near-dup pairs, SRP-candidate-scoped"),
    "q45_sim_ann_ivf" -> QueryDef(qAnnIvf, Some(qAnnIvfSql),
      "IVF ANN: Voronoi cells over data pivots, nprobe cell probing"),
    "q69_kmeans_lloyd" -> QueryDef(qKmeans, Some(qKmeansSql),
      "bit-reproducible Lloyd k-means on a 2^-20 grid (IVF centroid trainer)"),
    "q89_semantic_dedup" -> QueryDef(qSemanticDedup, Some(qSemanticDedupSql),
      "SemDeDup: within-cell cosine prune, keep the centroid-closest copy"),
    "q102_cluster_sample" -> QueryDef(qClusterSample, Some(qClusterSampleSql),
      "cluster-balanced embedding sample: IVF cells + per-cell hash quota"),
    "q111_embed_gram" -> QueryDef(qEmbedGram, Some(qEmbedGramSql),
      "quantized Gram matrix via the LongVectorSum native aggregate"),
    "q123_ann_pq" -> QueryDef(qAnnPq, Some(qAnnPqSql),
      "product-quantization ANN: integer-grid codebooks, ADC scan, " +
        "in-gate recall verdict"),
    "q135_hard_negatives" -> QueryDef(qHardNegatives, Some(qHardNegativesSql),
      "contrastive hard-negative mining: IVF-probe-scoped, label-mismatch, " +
        "semi-hard cosine band"),
    "q136_knn_label" -> QueryDef(qKnnLabel, Some(qKnnLabelSql),
      "kNN auto-labeling of a held-out tenth by majority vote over " +
        "IVF-probed labeled neighbors"),
    "q143_label_noise" -> QueryDef(qLabelNoise, Some(qLabelNoiseSql),
      "label-noise audit: SRP kNN-graph neighbor vote flags " +
        "probable mislabels"),
    "q208_covariance_audit" -> QueryDef(qCovarianceAudit,
      Some(qCovarianceAuditSql),
      "embedding dim-pair covariance/correlation audit: one single-pass wide aggregate, stack reshape, isqrt correlations"),
    "q261_mmr_rerank" -> QueryDef(qMmrRerank, Some(qMmrRerankSql),
      "MMR diversified re-rank: distributed scoring + TakeOrdered pool, " +
        "integer greedy, oracle replays all ten rounds"))
}
