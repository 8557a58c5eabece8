package graft.ops
package graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import Tables.load

/** Graph structure scores: PageRank, triangles, clustering coefficients and
  * link prediction. */
object Centrality {

  // --------------------------------------------------------------- q122

  /** q122: TRIANGLE COUNTING on the near-dup candidate graph — the
    * second graph-analytics primitive next to q52's components
    * (triangles measure how clique-like a duplicate cluster is, which
    * separates "one template, many copies" from "chains of drift").
    * Node-iterator form: edges kept in canonical a<b orientation, one
    * self-join on the shared middle vertex, one membership join for
    * the closing edge — every join equi-keyed, each triangle counted
    * exactly once as a<b<c. Scale note: the candidate graph is
    * LSH-sparse by construction; the classic degree-ordered
    * orientation is exactly the a<b form used here. */
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val e = MinHash.minhashCandidates(s, dir)
    val viaB = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .join(e.select(col("doc_a").as("b"), col("doc_b").as("c")), "b")
    viaB.join(e.select(col("doc_a").as("a"), col("doc_b").as("c")),
        Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
      .orderBy(col("a"), col("b"), col("c"))
  }

  private val qTrianglesSql =
    s"""WITH ${MinHash.candidatesCte}
       |SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |FROM cand e1
       |JOIN cand e2 ON e2.doc_a = e1.doc_b
       |JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
       |ORDER BY a, b, c""".stripMargin

  /* Graph-authority and privacy-release operators over the star schema.
    *
    * q137: PageRank over the customer–supplier interaction graph — the
    * link-authority quality signal large-scale curation pipelines compute
    * over their crawl/host graph (cf. Common Crawl host-level ranks used
    * as a quality prior). The graph here is the bipartite
    * customer→supplier edge set induced by orders (edge weight = number
    * of lineitems), made symmetric so every node has out-degree and the
    * chain is irreducible without a dangling-mass term.
    *
    * q138: differentially-private histogram release via the TRUNCATED
    * GEOMETRIC mechanism (Ghosh–Roughgarden–Sundararajan's discrete
    * counterpart of Laplace, truncated at ±[[Graphs.DpTrunc]]) — the
    * privacy-preserving aggregate-release step a data platform runs
    * before exporting usage statistics.
    */

  // ------------------------------------------------------------- q137

  /** PageRank with INTEGER-EXACT arithmetic so the fixpoint is
    * hash-gateable across engines: float PageRank is unusable in a
    * cross-engine gate (a shuffled double sum has no summation order),
    * so ranks live on a 10^-12 grid as BIGINTs. Per-edge contribution
    * `((pr·85) div 100)·w div wtot` routes through DECIMAL(38,0)/
    * HUGEINT so the product cannot overflow at any corpus size, and
    * integer floor-division is deterministic everywhere — the same
    * device as q69's gridded k-means and q110's ppm lift.
    *
    * Scale shape per iteration: one equi-join of the rank table with
    * the edge table on src (both shuffle on the node key — the edge
    * table's partitioning is reused every round) and one map-side-
    * partial sum by dst. Nothing is broadcast: ranks and edges both
    * grow with the graph. The edge table (with out-weights) is
    * materialized once via localCheckpoint — it feeds all
    * [[PrIters]] rounds, and recomputing the lineitem⋈orders group-by
    * per round would triple the scan work (the q67 shared-frontier
    * lesson).
    */
  private val PrScale = 1000000000000L // 10^12 rank grid
  private val PrIters = 3

  private def edgesSql: String =
    s"""w AS (SELECT o.o_custkey AS c, l.l_suppkey AS s,
       |        CAST(COUNT(*) AS BIGINT) AS w
       |      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |      GROUP BY 1, 2),
       |edges AS (
       |  SELECT c * 2 AS src, s * 2 + 1 AS dst, w FROM w
       |  UNION ALL
       |  SELECT s * 2 + 1 AS src, c * 2 AS dst, w FROM w),
       |deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wtot
       |        FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)""".stripMargin

  private def qPageRank(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    // Pin the weighted pair aggregate BEFORE fanning it out: it feeds
    // the union twice AND deg AND the deg join — without the pin the
    // lineitem⋈orders shuffle+aggregate subtree is evaluated 4× inside
    // the one job that materializes `edges` (union arms and join sides
    // are independent subtrees to Catalyst; no cross-branch CSE).
    val w = graft.util.Pin(
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .agg(count(lit(1)).as("w")))
    // one scalar off the just-materialized pair aggregate sizes the
    // edge-table pin: past Pin.SpillRows the 2x-fanned edge frame pins
    // DISK_ONLY instead of in-memory (the q270 sf10 OOM class — at a
    // 100-TB lineitem the weighted bipartite edge table is exactly
    // that size class)
    val nW = w.count()
    val edges0 = w.select((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst"), col("w"))
      .unionAll(w.select((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst"), col("w")))
    val deg = edges0.groupBy(col("src")).agg(sum(col("w")).as("wtot"))
    // One LAYOUT materialization feeds every iteration's join (guide
    // §2.4): the edge table is pinned hash-partitioned + sorted on
    // `src` and advertises that layout, so each round's rank join
    // consumes the exchange paid once here — a plain pin under AQE
    // forgets its partitioning and the 3-round plan re-exchanged and
    // re-sorted these same blocks every round (before: 20 Exchanges,
    // see plans/r14/q137_pagerank_before.txt).
    val edges = graft.util.Pin.layout(edges0.join(deg, "src"), "src",
      rows = nW * 2)
    graft.util.Pin.release(w) // superseded by the pinned edge table
    // nodes gets the same layout on its join key: the per-round
    // rank rebuild (nodes ⋈ contribs) then reuses it, and its join
    // OUTPUT inherits hashpartitioning(node) — which the NEXT round's
    // edges ⋈ pr join consumes without any exchange on either side.
    val nodes = graft.util.Pin.layout(
      edges.select(col("src").as("node")).distinct(), "node",
      rows = nW * 2)
    val n = nodes.count()
    val base = (PrScale * 15 / 100) / n // deterministic: all integer
    var pr = nodes.withColumn("pr", lit(PrScale / n))
    for (_ <- 1 to PrIters) {
      val contribs = edges.join(pr, col("src") === col("node"))
        .select(col("dst"), expr(
          s"CAST(CAST(CAST(pr AS DECIMAL(38,0)) * 85 div 100 AS DECIMAL(38,0)) * w div wtot AS BIGINT)")
          .as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("in_mass"))
      pr = nodes.join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (coalesce(col("in_mass"), lit(0L)) + lit(base)).as("pr"))
    }
    pr.select(col("node"),
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        col("pr"))
      .orderBy(col("pr").desc, col("node"))
      .limit(100)
  }

  private val qPageRankSql = {
    val iters = (1 to PrIters).map { t =>
      s"""c$t AS (SELECT e.dst,
         |  CAST(SUM((CAST(p.pr AS HUGEINT) * 85 // 100) * e.w // e.wtot)
         |    AS BIGINT) AS in_mass
         |  FROM ew e JOIN pr${t - 1} p ON e.src = p.node GROUP BY e.dst),
         |pr$t AS (SELECT nodes.node,
         |  COALESCE(c$t.in_mass, 0) + (($PrScale * 15 // 100) // nn.n) AS pr
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN c$t ON c$t.dst = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |ew AS (SELECT e.src, e.dst, e.w, d.wtot
       |       FROM edges e JOIN deg d ON d.src = e.src),
       |pr0 AS (SELECT node, $PrScale // nn.n AS pr FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  CAST(pr AS BIGINT) AS pr
       |FROM pr$PrIters ORDER BY pr DESC, node LIMIT 100""".stripMargin
  }

  // ------------------------------------------------------------- q147

  /** q147: LOCAL CLUSTERING COEFFICIENT per node of the MinHash-LSH
    * candidate graph — lcc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) on a
    * ppm integer grid (floor division, hash-gateable). Triangles come
    * from q122's canonical a<b<c node-iterator (each triangle credits
    * its three corners once); degrees from one union-all + hash agg.
    * Every join is equi-keyed on a node or edge key; the graph is
    * LSH-sparse so the middle self-join is candidate-scoped, exactly
    * like q122. */
  private def qClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val e = MinHash.minhashCandidates(s, dir)
    val viaB = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .join(e.select(col("doc_a").as("b"), col("doc_b").as("c")), "b")
    val tri = viaB
      .join(e.select(col("doc_a").as("a"), col("doc_b").as("c")), Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    val deg = e.select(col("doc_a").as("node"))
      .unionAll(e.select(col("doc_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(tri, Seq("node"), "left")
      .na.fill(0L, Seq("tri"))
      .withColumn("lcc_ppm",
        when(col("deg") >= 2,
          expr("(2 * tri * 1000000) div (deg * (deg - 1))"))
          .otherwise(0L))
      .select(col("node"), col("deg"), col("tri"), col("lcc_ppm"))
      .orderBy(col("node"))
  }

  private val qClusteringCoeffSql =
    s"""WITH ${MinHash.candidatesCte},
       |tri0 AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM cand e1
       |  JOIN cand e2 ON e2.doc_a = e1.doc_b
       |  JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       |tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
       |         SELECT a AS node FROM tri0
       |         UNION ALL SELECT b FROM tri0
       |         UNION ALL SELECT c FROM tri0) GROUP BY 1),
       |dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |         SELECT doc_a AS node FROM cand
       |         UNION ALL SELECT doc_b FROM cand) GROUP BY 1)
       |SELECT dg.node AS node, deg, COALESCE(tri, CAST(0 AS BIGINT)) AS tri,
       |  CAST(CASE WHEN deg >= 2 THEN
       |      (2 * COALESCE(tri, 0) * 1000000) // (deg * (deg - 1))
       |    ELSE 0 END AS BIGINT) AS lcc_ppm
       |FROM dg LEFT JOIN tn ON tn.node = dg.node
       |ORDER BY dg.node""".stripMargin

  /* Twelfth wave (round 7): association & structure mining — link
    * prediction on the co-purchase graph (the "which edge is MISSING"
    * counterpart to q164's "which edge is strong"), PMI-family
    * collocations over text, an embedding covariance/correlation audit,
    * and Cramér's V effect sizes on top of the q160 chi-square device.
    *
    * House rules: integer-exact ppm/milli conventions, DECIMAL(38,0)/
    * HUGEINT routing past 2^63, square roots through `graft_isqrt`,
    * signed divisions spelled sign·(|x| div y) so both engines agree
    * regardless of their negative-division convention. */

  // ------------------------------------------------------------- q206

  /** q206: LINK PREDICTION on the co-purchase graph — rank part pairs
    * that are NOT co-purchased yet but share many co-purchase
    * neighbors: common-neighbor count, neighbor-set Jaccard, and the
    * resource-allocation index Σ_z 1/deg(z) (the log-free member of
    * the Adamic-Adar family, exact in ppm). Complements q164, which
    * scores EXISTING edges.
    *
    * Scale shape: the graph is SPARSIFIED FIRST — only strong edges
    * (co-purchased in ≥ 2 orders, q164's measured-stable support
    * floor) enter; on the raw co-occurrence graph every part is
    * 2 hops from every other (median degree 119 measured at sf1) and
    * the candidate space is Σ_z deg(z)² ≈ 3·10⁹ — the thresholded
    * graph is thousands of edges at any SF. Pair generation itself is
    * an order-key self-join (fan-out ≤ order width², never corpus²).
    * Bridge nodes are additionally degree-capped at 64 — on the
    * strong-edge graph a genuine hub guard that rarely binds, with
    * the capped count reported in every row so pruning is visible;
    * u/v degrees for Jaccard stay uncapped. Top-20 by (cn, ra) with
    * a total (u,v) tie-break — a TakeOrdered, never a global sort. */
  private def qLinkPrediction(s: SparkSession, dir: String): DataFrame = {
    // measured asymmetry (in the shared device): packing the pair into
    // one BIGINT (a·2³² + b) SLOWS Spark's codegen hash-agg here (119s
    // vs 71s min-of-3 at the 100× directory) while the same packing is
    // what makes the DuckDB oracle feasible — each engine gets its own
    // formulation. The edge table itself is the battery-shared pinned
    // device (q206/q217/q243 consume the identical graph).
    val edges = CoPurchase.strongEdges(s, dir)
    val sym = CoPurchase.symmetricEdges(edges)
    val deg = sym.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val nCapped = deg.filter(col("deg") > 64)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_capped_bridges"))
    // 2-hop through degree-capped bridges z
    val viaZ = sym.join(deg.withColumnRenamed("node", "b")
        .withColumnRenamed("deg", "zdeg"), "b")
      .filter(col("zdeg") <= 64)
      .select(col("a").as("u"), col("b").as("z"), col("zdeg"))
    val cand = viaZ.as("l")
      .join(viaZ.withColumnRenamed("u", "v").as("r"), Seq("z", "zdeg"))
      .filter(col("u") < col("v"))
      .join(edges.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div zdeg")).as("ra_ppm"))
    cand
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .withColumn("jaccard_ppm", expr("cn * 1000000 div (du + dv - cn)"))
      .crossJoin(broadcast(nCapped))
      .select(col("u"), col("v"), col("cn"), col("ra_ppm"),
        col("jaccard_ppm"), col("du"), col("dv"), col("n_capped_bridges"))
      .orderBy(col("cn").desc, col("ra_ppm").desc, col("u"), col("v"))
      .limit(20)
  }

  /** Oracle note: the support-floor aggregation runs on a PACKED
    * single-BIGINT pair key (a·2³² + b) — grouping the ~10⁸-row pair
    * stream on two separate columns made DuckDB spill past the
    * sandbox's 70 GiB temp budget at the 100× directory, while the
    * packed key finishes in seconds; unpacked afterwards, identical
    * results (partkeys are far below 2³²). The twice-referenced CTEs
    * are AS MATERIALIZED — DuckDB otherwise inlines `viaz` into both
    * sides of the 2-hop join and re-runs the whole upstream pair
    * pipeline twice concurrently, which is what actually blew the
    * spill budget. */
  private val qLinkPredictionSql =
    """WITH op AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pk AS (
      |  SELECT x.p * 4294967296 + y.p AS k
      |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
      |ek AS (SELECT k FROM pk GROUP BY k HAVING COUNT(*) >= 2),
      |edges AS MATERIALIZED (
      |  SELECT k // 4294967296 AS a, k % 4294967296 AS b FROM ek),
      |sym AS MATERIALIZED (
      |  SELECT a, b FROM edges
      |  UNION ALL SELECT b AS a, a AS b FROM edges),
      |deg AS MATERIALIZED (
      |  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |  FROM sym GROUP BY 1),
      |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_capped_bridges
      |       FROM deg WHERE deg > 64),
      |viaz AS MATERIALIZED (
      |  SELECT sym.a AS u, sym.b AS z, deg.deg AS zdeg
      |  FROM sym JOIN deg ON deg.node = sym.b WHERE deg.deg <= 64),
      |hop AS (
      |  SELECT l.u AS u, r.u AS v, l.zdeg
      |  FROM viaz l JOIN viaz r ON l.z = r.z AND l.u < r.u),
      |cand AS (
      |  SELECT hop.u, hop.v, CAST(COUNT(*) AS BIGINT) AS cn,
      |    CAST(SUM(1000000 // hop.zdeg) AS BIGINT) AS ra_ppm
      |  FROM hop LEFT JOIN edges e ON e.a = hop.u AND e.b = hop.v
      |  WHERE e.a IS NULL
      |  GROUP BY 1, 2)
      |SELECT u, v, cn, ra_ppm,
      |  CAST(cn * 1000000 // (du.deg + dv.deg - cn) AS BIGINT)
      |    AS jaccard_ppm,
      |  du.deg AS du, dv.deg AS dv, nc.n_capped_bridges
      |FROM cand
      |JOIN deg du ON du.node = cand.u
      |JOIN deg dv ON dv.node = cand.v
      |CROSS JOIN nc
      |ORDER BY cn DESC, ra_ppm DESC, u, v LIMIT 20""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q122_triangles" -> QueryDef(qTriangles, Some(qTrianglesSql),
      "triangle counting on the LSH candidate graph (a<b<c canonical)"),
    "q137_pagerank" -> QueryDef(qPageRank, Some(qPageRankSql),
      "integer-exact PageRank over the customer-supplier graph " +
        "(link-authority quality prior)"),
    "q147_clustering_coeff" -> QueryDef(qClusteringCoeff,
      Some(qClusteringCoeffSql),
      "per-node local clustering coefficient on the LSH candidate graph"),
    "q206_link_prediction" -> QueryDef(qLinkPrediction,
      Some(qLinkPredictionSql),
      "missing-link ranking on the co-purchase graph: common neighbors, Jaccard, resource-allocation index, degree-capped bridges"))
}
