package graft.ops
package graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Tables.load

/** The shared strong co-purchase graph the graph queries build on. */
object CoPurchase {

  // ------------------------------------- shared co-purchase edge device

  /** Cache of pinned strong-edge tables keyed by (session, directory,
    * support floor): q206 (link prediction), q217 (BFS), and q243
    * (k-core) all consume the SAME sparsified co-purchase graph, and
    * its construction — the order-key pair self-join + support-floor
    * aggregate — is the battery's widest repeated shuffle (110 s of
    * q243's sf10 time was spent rebuilding what q206 had already
    * built). The pinned result is thousands of rows at any SF (the
    * support floor is what makes the graph usable at all), so holding
    * it for the session costs KBs while saving the third and fourth
    * rebuild of a ~10⁸-row pair stream. Keyed reuse also avoids the
    * round-7 persist leak: repeated invocations share ONE pinned
    * table instead of accumulating new ones.
    *
    * ASSUMPTION: the keyed directory is immutable for the lifetime of
    * the session (true for the driver's read-only sf dirs). A spec
    * that rewrites parquet under a reused tmp dir must call
    * [[invalidateStrongEdges]] first, or it will read the stale pin.
    * Entries also retain localCheckpoint blocks and the SparkSession
    * reference until invalidated or the JVM exits. */
  private val strongEdgeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long),
      DataFrame]()

  /** Test/lifecycle hook: drop every cached strong-edge pin (all
    * sessions, all dirs) and unpersist their blocks. Use when a spec
    * rewrites data under a directory it already queried, or to release
    * checkpoint storage in a long-lived session. */
  def invalidateStrongEdges(): Unit = {
    val it = strongEdgeCache.values().iterator()
    while (it.hasNext) {
      try graft.util.Pin.release(it.next())
      catch { case _: Throwable => () } // session may already be closed
    }
    strongEdgeCache.clear()
  }

  /** Strong co-purchase edges (a < b): part pairs co-ordered in
    * ≥ `minSupport` distinct orders. Pair generation is an order-key
    * self-join (fan-out ≤ order width², never corpus²); the support
    * floor (q164's measured-stable 2) sparsifies BEFORE anything
    * quadratic downstream. Pinned once per (session, dir, support)
    * and shared across the graph battery. */
  def strongEdges(s: SparkSession, dir: String,
      minSupport: Long = 2L): DataFrame =
    strongEdgeCache.computeIfAbsent((s, dir, minSupport), _ => {
      val op = load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      graft.util.Pin(op.as("x").join(op.as("y"), Seq("o"))
        .filter(col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("co"))
        .filter(col("co") >= minSupport)
        .select(col("a"), col("b")))
    })

  /** Symmetric closure of a directed (a < b) edge table. */
  def symmetricEdges(edges: DataFrame): DataFrame =
    edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
}
