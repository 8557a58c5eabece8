package graft.ops
package graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef

/** k-core decomposition by iterative peeling, fixed and density-derived k. */
object Cores {

  // ------------------------------------------------------------- q243

  /** Peel-loop bound shared by the Spark loop and the unrolled oracle:
    * both stop after exactly this many peels unless the fixpoint lands
    * earlier, so the two sides agree even on a hypothetical input that
    * hasn't converged by the bound. */
  private val CoreRounds = 20
  private val CoreK = 3

  /** q243: K-CORE (k=3) of the co-purchase graph (q217's edges: parts
    * co-ordered ≥2 times). Each peel round is one degree aggregate +
    * two semi-joins, lineage cut by Pin so round r's plan never nests
    * round r−1's; the loop exits early at the fixpoint (edge count
    * stable — the count is the per-round action, a scalar, never a
    * collect). Output: the 20 highest-degree core members beside the
    * core's node/edge totals. */
  private def qKCore(s: SparkSession, dir: String): DataFrame = {
    // battery-shared pinned edge device (q206/q217/q243)
    val e = CoPurchase.strongEdges(s, dir)
    // one scalar off the already-pinned device sizes every generation
    // pin: past Pin.SpillRows the symmetric frame and each peel round
    // go DISK_ONLY (the q270 sf10 OOM class, retired loop by loop)
    val nE = e.count()
    def pin(df: DataFrame) = graft.util.Pin.sized(nE * 2)(df)
    coreReport(peel(pin(CoPurchase.symmetricEdges(e)), pin, CoreK,
      CoreRounds))
  }

  /** The peel loop of q243 and q270 over a pinned symmetric (a, b) edge
    * frame: each round keeps the edges whose endpoints both have degree
    * ≥ k, until the edge count is stable or after `rounds` peels.
    * Returns the core's (node, degree) frame. */
  private def peel(sym0: DataFrame, pin: DataFrame => DataFrame, k: Long,
      rounds: Int): DataFrame = {
    var edges = sym0
    var nEdges = edges.count()
    var round = 0
    var stable = nEdges == 0L
    while (round < rounds && !stable) {
      val keep = edges.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("a"))
      val next = pin(edges
        .join(keep, Seq("a"), "left_semi")
        .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      val n = next.count()
      // `next` is eagerly materialized, so the previous round's pin is
      // dead weight — at sf10 the support-1 graph is 239M directed
      // rows, and holding 8 pinned generations OOMs a 64g heap;
      // release each DETERMINISTICALLY as soon as its successor
      // exists (Pin.release reaches the checkpoint RDD itself —
      // Dataset.unpersist alone left reclamation to the GC cleaner).
      graft.util.Pin.release(edges)
      stable = n == nEdges
      edges = next
      nEdges = n
      round += 1
    }
    edges.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** The 20 highest-degree core members beside the core's node/edge
    * totals; `extra` columns sit between the degree and the totals. */
  private def coreReport(deg: DataFrame, extra: Column*): DataFrame = {
    val tot = deg.agg(count(lit(1)).as("core_nodes"),
        coalesce(sum(col("degree")), lit(0L)).as("sd"))
      .select(col("core_nodes"), expr("sd div 2").as("core_edges"))
    deg.orderBy(col("degree").desc, col("node")).limit(20)
      .crossJoin(broadcast(tot)) // one-row totals frame
      .select(Seq(col("node"), col("degree")) ++ extra ++
        Seq(col("core_nodes"), col("core_edges")): _*)
      .orderBy(col("degree").desc, col("node"))
  }

  /** The same peel unrolled for the oracles over `s0` (the symmetric
    * edges): s{i+1} = s{i} restricted to nodes with degree ≥ `k` in
    * s{i}, then the core's `deg` and `tot` CTEs. Every round
    * MATERIALIZED: DuckDB inlines plain CTEs, and each round references
    * its predecessor three times — un-materialized, the unroll
    * re-evaluates the whole chain exponentially. */
  private def peelSql(rounds: Int, k: String): String = {
    val unrolled = (0 until rounds).map { i =>
      s"""n${i + 1} AS MATERIALIZED (
         |  SELECT a FROM s$i GROUP BY a HAVING COUNT(*) >= $k),
         |s${i + 1} AS MATERIALIZED (
         |  SELECT s.a, s.b FROM s$i s
         |  JOIN n${i + 1} x ON x.a = s.a
         |  JOIN n${i + 1} y ON y.a = s.b)""".stripMargin
    }.mkString(",\n")
    s"""$unrolled,
       |deg AS (
       |  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
       |  FROM s$rounds GROUP BY 1),
       |tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS core_nodes,
       |    CAST(COALESCE(SUM(degree), 0) // 2 AS BIGINT) AS core_edges
       |  FROM deg)""".stripMargin
  }

  private val qKCoreSql: String =
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT x.p AS a, y.p AS b FROM op x JOIN op y ON x.o = y.o
       |  WHERE x.p < y.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |s0 AS MATERIALIZED (
       |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
       |${peelSql(CoreRounds, CoreK.toString)}
       |SELECT node, degree, core_nodes, core_edges
       |FROM (SELECT * FROM deg ORDER BY degree DESC, node LIMIT 20), tot
       |ORDER BY degree DESC, node""".stripMargin

  /* Thirty-ninth wave (round 10) — the round-9 verdict's asks #3/#5/#6:
    *
    *  - q270: DENSITY-ADAPTIVE K-CORE. q243's k=3/support=2 core is
    *    structurally empty above sf0.01 (the co-purchase support
    *    histogram cliffs: at sf0.1 only 3 573 of 1.196M pairs reach
    *    support 2), so its scale ladder only exercised the empty-core
    *    branch. Here the peel threshold is DERIVED from measured graph
    *    density instead of fixed: over the support-1 co-purchase graph,
    *    k = max(1, ⌊E/V⌋) — the classical degeneracy lower bound (every
    *    graph with E edges and V vertices has a subgraph of min degree
    *    ≥ E/V), so the k-core is PROVABLY non-empty at every scale
    *    factor, and k lands at 57–59 across sf0.01→sf10 on this corpus:
    *    the peel loop strips real fringe layers everywhere on the
    *    ladder. Both engines derive k from the same integer arithmetic
    *    and stop after the same round bound, so the gate stays exact.
    *  - q271: MERKLE REPAIR PLAN — q269's anti-entropy primitive
    *    connected to the CDC replication domain end to end. Source
    *    file-state (per-file tx head) and replica state (q44's
    *    40%-snapshot) each get a 64-leaf range-digest tree over the
    *    file-id space; divergent leaves (count or digest mismatch) are
    *    drilled into, differing files inside them are re-shipped: the
    *    missing tx window's block deltas run through the A1
    *    [[graft.changeset.RangeMerge]] typed aggregator to emit the
    *    exact byte ranges a replicator would transfer. The oracle
    *    replays the same tree compare; with append-only deltas the
    *    merge fold is min(start)/max(end)/max(tx), so the SQL twin is
    *    exact.
    *  - q272: STREAMING-MAINTAINED TABLE PROFILE — q263's profiler
    *    restated as a `transformWithState` keyed aggregation: per
    *    column, row/null counts, min/max, and the mergeable KMV
    *    distinct-estimate sketch are maintained in typed ValueState
    *    per micro-batch — at 100 TB you cannot rescan to re-profile,
    *    so the profile must ride the ingest stream; mergeable sketches
    *    are the whole point of the KMV device. Gate: the final
    *    streamed profile equals the batch q263 statistics (minus the
    *    deliberately-dropped exact-distinct branch — exact NDV is
    *    unbounded state, the thing the sketch exists to replace).
    *
    * Scale shapes: q270's pair build is the shared strongEdges device
    * (order-width² fan-out, never corpus²) and each peel round is one
    * degree aggregate + two semi-joins on a Pinned frame; q271 moves
    * only per-file scalars until the final delta scan, and the tree
    * compare is a 64-row exchange; q272's state is ≤(K + 4) scalars per
    * column — constant per key — and every statistic is mergeable. */

  // ------------------------------------------------------------- q270

  /** Shared round bound: both engines stop after exactly this many
    * peels unless the fixpoint lands earlier (q243's contract). */
  private val AdaptRounds = 8

  private def qKCoreAdaptive(s: SparkSession, dir: String): DataFrame = {
    // support-1 co-purchase graph through the battery-shared device
    val e = CoPurchase.strongEdges(s, dir, 1L)
    // density-derived peel threshold (bounded scalars; E undirected)
    val nE = e.count()
    // spill-safe pin for beyond-memory graphs (size-adaptive, like k):
    // the measured gate lives in Pin.SpillRows, shared with the other
    // iterative loops (Components, q243, PageRank)
    def pin(df: DataFrame) = graft.util.Pin.sized(nE * 2)(df)
    val sym0 = pin(CoPurchase.symmetricEdges(e))
    val nV = sym0.select(col("a")).distinct().count()
    val k = math.max(1L, if (nV == 0) 1L else nE / nV)
    coreReport(peel(sym0, pin, k, AdaptRounds), lit(k).as("k_used"))
  }

  private val qKCoreAdaptiveSql: String =
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT x.p AS a, y.p AS b FROM op x JOIN op y ON x.o = y.o
       |  WHERE x.p < y.p GROUP BY 1, 2),
       |s0 AS MATERIALIZED (
       |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
       |kk AS MATERIALIZED (
       |  SELECT GREATEST(1, (SELECT COUNT(*) FROM e)
       |    // (SELECT COUNT(DISTINCT a) FROM s0)) AS k),
       |${peelSql(AdaptRounds, "(SELECT k FROM kk)")}
       |SELECT node, degree, CAST((SELECT k FROM kk) AS BIGINT) AS k_used,
       |  core_nodes, core_edges
       |FROM (SELECT * FROM deg ORDER BY degree DESC, node LIMIT 20), tot
       |ORDER BY degree DESC, node""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q243_k_core" -> QueryDef(qKCore, Some(qKCoreSql),
      "k-core decomposition by bounded iterative peel, oracle-unrolled"),
    "q270_k_core_adaptive" -> QueryDef(qKCoreAdaptive,
      Some(qKCoreAdaptiveSql),
      "density-adaptive k-core: k = max(1, E div V) (the degeneracy " +
        "lower bound, provably non-empty core) over the support-1 " +
        "co-purchase graph; non-vacuous peel at every laddered SF"))
}
