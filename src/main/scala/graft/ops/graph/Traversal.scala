package graft.ops
package graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef

/** Graph traversals: BFS distances and random walks. */
object Traversal {

  // ------------------------------------------------------------- q217

  /** q217: SINGLE-SOURCE BFS DISTANCES on the strong co-purchase
    * graph (q206's sparsified edges), from the smallest part key in
    * the graph, depth-capped at 8 — the iterative frontier pattern
    * every graph traversal at scale reduces to: each round is ONE
    * frontier⋈edges equi-join plus a min-distance dedup, lineage cut
    * per round (the q137/q52 checkpoint device). Reports the distance
    * histogram plus the unreachable count — connectivity shape at a
    * glance.
    *
    * The oracle is a recursive CTE over the same edges — the one query
    * family where DuckDB natively expresses iteration, which makes the
    * loop itself gateable, not just one unrolling. */
  private def qBfsDistances(s: SparkSession, dir: String): DataFrame = {
    // battery-shared pinned edge device (q206/q217/q243 — one build per
    // session+dir); the symmetric closure is re-pinned here because the
    // loop consumes it once per round
    val edges = CoPurchase.strongEdges(s, dir)
    val sym = graft.util.Pin(CoPurchase.symmetricEdges(edges))
    val nodes = graft.util.Pin(sym.select(col("a").as("node")).distinct())
    val src = nodes.agg(min(col("node")).as("node"))
    var dist = graft.util.Pin(src.withColumn("d", lit(0L)))
    var frontier = dist
    var round = 0
    var grew = true
    while (grew && round < 8) {
      round += 1
      val next = frontier.join(sym, col("node") === col("a"))
        .select(col("b").as("node"), lit(round.toLong).as("d"))
        .join(dist.select(col("node")), Seq("node"), "left_anti")
        .distinct()
      val pinned = graft.util.Pin(next)
      grew = pinned.limit(1).count() > 0
      if (grew) {
        dist = graft.util.Pin(dist.unionByName(pinned))
        frontier = pinned
      }
    }
    val reach = dist.groupBy(col("d")).agg(count(lit(1)).as("n_nodes"))
    val unreachable = nodes
      .join(dist.select(col("node")), Seq("node"), "left_anti")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_nodes"))
      .select(lit(-1L).as("d"), col("n_nodes"))
    reach.unionByName(unreachable).filter(col("n_nodes") > 0)
      .orderBy(col("d"))
  }

  private val qBfsDistancesSql =
    """WITH RECURSIVE op AS MATERIALIZED (
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
      |src AS (SELECT MIN(a) AS node FROM sym),
      |walk(node, d) AS (
      |  SELECT node, CAST(0 AS BIGINT) FROM src
      |  UNION
      |  SELECT sym.b, walk.d + 1
      |  FROM walk JOIN sym ON sym.a = walk.node
      |  WHERE walk.d < 8),
      |dist AS (SELECT node, MIN(d) AS d FROM walk GROUP BY 1),
      |reach AS (
      |  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |  FROM dist GROUP BY 1),
      |unreach AS (
      |  SELECT CAST(-1 AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT)
      |    AS n_nodes
      |  FROM (SELECT DISTINCT a AS node FROM sym) n
      |  WHERE NOT EXISTS (SELECT 1 FROM dist WHERE dist.node = n.node))
      |SELECT d, n_nodes FROM reach WHERE n_nodes > 0
      |UNION ALL
      |SELECT d, n_nodes FROM unreach WHERE n_nodes > 0
      |ORDER BY d""".stripMargin

  // ------------------------------------------------------------- q288

  private val WalkSteps = 4
  private val WalkSupport = 2L

  private def stepHashExpr(t: Int): String =
    s"CAST(conv(substring(md5(concat('t$t|', a, '|', b)), 1, 12), " +
      "16, 10) AS BIGINT)"

  private def qRandomWalks(s: SparkSession, dir: String): DataFrame = {
    val e = CoPurchase.symmetricEdges(
      CoPurchase.strongEdges(s, dir, WalkSupport))
    // next(t, v): the hash-argmin neighbor, computed once per node per
    // step (walks are memoryless given the step index)
    def nxt(t: Int): DataFrame =
      e.withColumn("h", expr(stepHashExpr(t)))
        .groupBy(col("a"))
        .agg(min(struct(col("h"), col("b"))).as("m"))
        .select(col("a").as(s"c$t"), col("m.b").as(s"n$t"))
    val nodes = e.select(col("a").as("n0")).distinct()
    (1 to WalkSteps).foldLeft(nodes) { (acc, t) =>
      acc.join(nxt(t),
        acc(s"n${t - 1}") === col(s"c$t")).drop(s"c$t")
    }
      .select(col("n0"), col("n1"), col("n2"), col("n3"), col("n4"))
      .orderBy(col("n0"))
  }

  private val qRandomWalksSql = {
    def hash(t: Int) =
      s"CAST(('0x' || substring(md5('t$t|' || a || '|' || b), 1, 12)) " +
        "AS BIGINT)"
    val nxts = (1 to WalkSteps).map { t =>
      s"""nx$t AS MATERIALIZED (
         |  SELECT a, b FROM (
         |    SELECT a, b, row_number() OVER (PARTITION BY a
         |      ORDER BY ${hash(t)}, b) AS rn
         |    FROM e)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT x.p AS a, y.p AS b FROM op x JOIN op y ON x.o = y.o
       |  WHERE x.p < y.p GROUP BY 1, 2
       |  HAVING COUNT(*) >= $WalkSupport),
       |e AS MATERIALIZED (
       |  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       |$nxts
       |SELECT n.a AS n0, nx1.b AS n1, nx2.b AS n2, nx3.b AS n3,
       |  nx4.b AS n4
       |FROM (SELECT DISTINCT a FROM e) n
       |JOIN nx1 ON nx1.a = n.a
       |JOIN nx2 ON nx2.a = nx1.b
       |JOIN nx3 ON nx3.a = nx2.b
       |JOIN nx4 ON nx4.a = nx3.b
       |ORDER BY n0""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q217_bfs_distances" -> QueryDef(qBfsDistances,
      Some(qBfsDistancesSql),
      "single-source BFS distance histogram on the strong co-purchase graph, depth-capped frontier loop vs recursive-CTE oracle"),
    "q288_random_walks" -> QueryDef(qRandomWalks,
      Some(qRandomWalksSql),
      "deterministic random walks (DeepWalk input): 4-step walk from " +
        "every co-purchase node, step = stated-hash argmin neighbor, " +
        "computed once per (step, node) and joined - never a " +
        "per-walk loop"))
}
