package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.load

/** Thirty-ninth wave (round 10) — the round-9 verdict's asks #3/#5/#6:
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
object Wave39 {

  // ------------------------------------------------------------- q270

  /** Shared round bound: both engines stop after exactly this many
    * peels unless the fixpoint lands earlier (q243's contract). */
  private val AdaptRounds = 8

  private def qKCoreAdaptive(s: SparkSession, dir: String): DataFrame = {
    // support-1 co-purchase graph through the battery-shared device
    val e = Graphs.strongEdges(s, dir, 1L)
    // density-derived peel threshold (bounded scalars; E undirected)
    val nE = e.count()
    // spill-safe pin for beyond-memory graphs (size-adaptive, like k):
    // the measured gate lives in Pin.SpillRows, shared with the other
    // iterative loops (Components, Wave24, PageRank)
    def pin(df: org.apache.spark.sql.DataFrame) =
      graft.util.Pin.sized(nE * 2)(df)
    val sym0 = pin(Graphs.symmetricEdges(e))
    val nV = sym0.select(col("a")).distinct().count()
    val k = math.max(1L, if (nV == 0) 1L else nE / nV)
    var edges = sym0
    var nEdges = edges.count()
    var round = 0
    var stable = nEdges == 0L
    while (round < AdaptRounds && !stable) {
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
    val deg = edges.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("degree"))
    val tot = deg.agg(count(lit(1)).as("core_nodes"),
        coalesce(sum(col("degree")), lit(0L)).as("sd"))
      .select(col("core_nodes"), expr("sd div 2").as("core_edges"))
    deg.orderBy(col("degree").desc, col("node")).limit(20)
      .crossJoin(broadcast(tot)) // one-row totals frame
      .select(col("node"), col("degree"), lit(k).as("k_used"),
        col("core_nodes"), col("core_edges"))
      .orderBy(col("degree").desc, col("node"))
  }

  private val qKCoreAdaptiveSql: String = {
    val rounds = (0 until AdaptRounds).map { i =>
      s"""n${i + 1} AS MATERIALIZED (
         |  SELECT a FROM s$i GROUP BY a
         |  HAVING COUNT(*) >= (SELECT k FROM kk)),
         |s${i + 1} AS MATERIALIZED (
         |  SELECT s.a, s.b FROM s$i s
         |  JOIN n${i + 1} x ON x.a = s.a
         |  JOIN n${i + 1} y ON y.a = s.b)""".stripMargin
    }.mkString(",\n")
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
       |$rounds,
       |deg AS (
       |  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
       |  FROM s$AdaptRounds GROUP BY 1),
       |tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS core_nodes,
       |    CAST(COALESCE(SUM(degree), 0) // 2 AS BIGINT) AS core_edges
       |  FROM deg)
       |SELECT node, degree, CAST((SELECT k FROM kk) AS BIGINT) AS k_used,
       |  core_nodes, core_edges
       |FROM (SELECT * FROM deg ORDER BY degree DESC, node LIMIT 20), tot
       |ORDER BY degree DESC, node""".stripMargin
  }

  // ------------------------------------------------------------- q271

  private val RepairLeaves = 64L

  /** 48-bit md5-prefix row digest of (file, last-tx) — q269's device. */
  private def stateDigest(f: String, last: String)
      : org.apache.spark.sql.Column =
    expr(s"CAST(conv(substring(md5(concat_ws('|', " +
      s"CAST($f AS STRING), CAST($last AS STRING))), 1, 12), 16, 10) " +
      "AS DECIMAL(38,0))")

  private def qMerkleRepair(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id").as("f"), col("event_id").as("tx"))
    val mxTx = ev.agg(max(col("tx"))).head().getLong(0) // metadata scalar
    val t1 = (mxTx * 0.4).toLong // q44's snapshot split
    val src = ev.groupBy(col("f")).agg(max(col("tx")).as("src_last"))
    val rep = ev.filter(col("tx") <= t1)
      .groupBy(col("f")).agg(max(col("tx")).as("rep_last"))
    val st = graft.util.Pin(src.join(rep, Seq("f"), "left")
      .select(col("f"), col("src_last"),
        coalesce(col("rep_last"), lit(-1L)).as("rep_last")))
    val mxF = st.agg(max(col("f"))).head().getLong(0) // metadata scalar
    val leafOf = expr(s"f * $RepairLeaves div ${mxF + 1}")
    val withLeaf = st.withColumn("leaf", leafOf)
    // per-leaf (count, order-independent digest) per replica side; the
    // replica's tree only covers files it holds (rep_last >= 0)
    val srcTree = withLeaf.groupBy(col("leaf")).agg(
      count(lit(1)).as("sn"),
      sum(stateDigest("f", "src_last")).as("sd"))
    val repTree = withLeaf.filter(col("rep_last") >= 0L)
      .groupBy(col("leaf")).agg(
        count(lit(1)).as("rn"),
        sum(stateDigest("f", "rep_last")).as("rd"))
    val divergent = srcTree.join(repTree, Seq("leaf"), "full_outer")
      .filter(!(col("sn") <=> col("rn")) || !(col("sd") <=> col("rd")))
      .select(col("leaf"))
    // drill-down: only files inside divergent leaves are compared
    val toRepair = withLeaf
      .join(broadcast(divergent), Seq("leaf"), "left_semi")
      .filter(col("src_last") =!= col("rep_last"))
    // the missing tx window's deltas, through the A1 range-merge
    // aggregator (append-only here, so the fold is min/max/max)
    import s.implicits._
    val deltas = ev.join(toRepair, Seq("f"))
      .filter(col("tx") > col("rep_last"))
      .select(col("f").as("blockId"), col("tx").as("txId"),
        ((col("tx") % 50) * 100).as("startOffset"),
        ((col("tx") % 50) * 100 + 100 + (col("f") % 37) * 10)
          .as("endOffset"),
        lit(graft.changeset.RangeMerge.DeltaOp.Append).as("op"))
      .as[graft.changeset.RangeMerge.Delta]
    val shipped = deltas.groupByKey(_.blockId)
      .agg(graft.changeset.RangeMerge.agg.toColumn)
      .map { case (f, m) =>
        (f, m.startOffset, m.endOffset, m.lastTxId)
      }
      .toDF("f", "ship_start", "ship_end", "ship_last_tx")
    val missing = ev.join(toRepair, Seq("f"))
      .filter(col("tx") > col("rep_last"))
      .groupBy(col("f")).agg(count(lit(1)).as("n_missing"))
    toRepair.join(missing, Seq("f")).join(shipped, Seq("f"))
      .select(col("f").as("file_id"), col("leaf"), col("src_last"),
        col("rep_last"), col("n_missing"), col("ship_start"),
        col("ship_end"), col("ship_last_tx"))
      .orderBy(col("file_id"))
  }

  private val qMerkleRepairSql =
    s"""WITH ev AS (SELECT user_id AS f, event_id AS tx FROM events),
       |t AS (SELECT CAST(floor(max(tx) * 0.4) AS BIGINT) AS t1 FROM ev),
       |src AS (SELECT f, max(tx) AS src_last FROM ev GROUP BY 1),
       |rep AS (SELECT f, max(tx) AS rep_last FROM ev, t
       |        WHERE tx <= t.t1 GROUP BY 1),
       |st AS MATERIALIZED (
       |  SELECT s.f, s.src_last, COALESCE(r.rep_last, -1) AS rep_last,
       |    s.f * $RepairLeaves // ((SELECT max(f) FROM ev) + 1) AS leaf
       |  FROM src s LEFT JOIN rep r ON r.f = s.f),
       |srct AS (
       |  SELECT leaf, COUNT(*) AS sn,
       |    SUM(CAST(('0x' || substring(md5(f || '|' || src_last), 1, 12))
       |      AS BIGINT)) AS sd
       |  FROM st GROUP BY 1),
       |rept AS (
       |  SELECT leaf, COUNT(*) AS rn,
       |    SUM(CAST(('0x' || substring(md5(f || '|' || rep_last), 1, 12))
       |      AS BIGINT)) AS rd
       |  FROM st WHERE rep_last >= 0 GROUP BY 1),
       |div AS (
       |  SELECT COALESCE(s.leaf, r.leaf) AS leaf
       |  FROM srct s FULL OUTER JOIN rept r ON s.leaf = r.leaf
       |  WHERE s.sn IS DISTINCT FROM r.rn OR s.sd IS DISTINCT FROM r.rd),
       |rp AS (
       |  SELECT st.* FROM st JOIN div ON div.leaf = st.leaf
       |  WHERE st.src_last <> st.rep_last),
       |ship AS (
       |  SELECT rp.f, rp.leaf, rp.src_last, rp.rep_last,
       |    CAST(COUNT(*) AS BIGINT) AS n_missing,
       |    CAST(MIN((e.tx % 50) * 100) AS BIGINT) AS ship_start,
       |    CAST(MAX((e.tx % 50) * 100 + 100 + (rp.f % 37) * 10)
       |      AS BIGINT) AS ship_end,
       |    CAST(MAX(e.tx) AS BIGINT) AS ship_last_tx
       |  FROM rp JOIN ev e ON e.f = rp.f AND e.tx > rp.rep_last
       |  GROUP BY 1, 2, 3, 4)
       |SELECT f AS file_id, leaf, src_last, rep_last, n_missing,
       |  ship_start, ship_end, ship_last_tx
       |FROM ship ORDER BY file_id""".stripMargin

  // ------------------------------------------------------------- q272

  private val ProfK = 256
  private val ProfM = 281474976710656L // 2^48, the 12-hex-char space

  final case class ProfIn(c: String, v: Option[String])
  final case class ProfState(n: Long, nulls: Long, sk: Seq[Long],
      minS: Option[String], maxS: Option[String])
  final case class ProfOut(col_name: String, n_rows: Long,
      n_null: Long, ndv_est: Long, min_s: String, max_s: String)

  /** 48-bit md5-prefix hash, JVM-side: must equal the SQL device
    * `conv(substring(md5(v), 1, 12), 16, 10)` used by q263's oracle. */
  private[ops] def md5Prefix48(v: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8"))
    // first 6 bytes = first 12 hex chars
    (0 until 6).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
  }

  /** Per-column profile state machine: every statistic is MERGEABLE
    * (counts add, min/max fold, the KMV sketch is a capped sorted
    * merge), which is exactly what lets the profile ride micro-batches
    * without rescans. */
  private class ProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, ProfIn, ProfOut] {
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[ProfState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[ProfState]("prof",
        org.apache.spark.sql.Encoders.product[ProfState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(c: String, it: Iterator[ProfIn],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ProfOut] = {
      var s0 = if (st.exists()) st.get()
        else ProfState(0L, 0L, Nil, None, None)
      var n = s0.n; var nulls = s0.nulls
      var minS = s0.minS; var maxS = s0.maxS
      val fresh = Seq.newBuilder[Long]
      for (r <- it) {
        n += 1
        r.v match {
          case None => nulls += 1
          case Some(v) =>
            fresh += md5Prefix48(v)
            if (minS.forall(v < _)) minS = Some(v)
            if (maxS.forall(v > _)) maxS = Some(v)
        }
      }
      val sk = (s0.sk ++ fresh.result()).distinct.sorted.take(ProfK)
      s0 = ProfState(n, nulls, sk, minS, maxS)
      st.update(s0)
      val est = if (sk.size < ProfK) sk.size.toLong
        else (ProfK - 1).toLong * ProfM / sk.last
      Iterator(ProfOut(c, n, nulls, est,
        minS.orNull, maxS.orNull))
    }
  }

  private def qStreamProfile(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import org.apache.spark.sql.types.{StringType, StructType}
    val schema = new StructType()
      .add("pk", StringType).add("sk", StringType).add("q", StringType)
      .add("rf", StringType).add("sd", StringType)
    // Pin the stream's state partitioning to 8 (captured at checkpoint
    // creation): the state alphabet is FIVE keys (the profiled
    // columns), but a 32-thread bench session otherwise opens 32
    // RocksDB stores per micro-batch — instantiation, snapshot and
    // commit per store are the cost, not the 5 keys of state (the
    // q129 lesson applied here).
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
    val result = graft.streaming.StreamScratch.withRocksDb(s) {
      graft.streaming.StreamScratch.withScratch("graft_sprof_") {
      tmp =>
        // Stage RAW rows (one json line per lineitem row), 2
        // time-ordered micro-batches (was 8: the KMV/min/max fold is
        // order- and batching-invariant, so extra triggers only bought
        // extra fixed RocksDB/commit lifecycles — 8c/32c ratio 0.74);
        // two batches still prove the cross-batch state merge. The
        // 5-way melt happens INSIDE the stream via flatMap. Staging
        // the pre-melted rows cost 5× the IO/parse and measured 25 s
        // at sf0.1 — the melt is free executor-side, the staging
        // bytes were the bottleneck.
        val raw = load(s, dir, "lineitem").selectExpr(
          "l_orderkey % 2 AS slice",
          "CAST(l_partkey AS STRING) AS pk",
          "CAST(l_suppkey AS STRING) AS sk",
          "CAST(CAST(l_quantity AS BIGINT) AS STRING) AS q",
          "CAST(l_returnflag AS STRING) AS rf",
          "CAST(l_shipdate AS STRING) AS sd")
        val in = graft.streaming.SliceReplay.stage(tmp,
          raw.select(to_json(struct(col("pk"), col("sk"), col("q"),
            col("rf"), col("sd"))).as("value"), col("slice")), 2)
        val out = graft.streaming.GateOut.dir()
        val q = s.readStream
          .option("maxFilesPerTrigger", 1)
          .text(in)
          .select(from_json(col("value"), schema).as("d"))
          .select(col("d.pk"), col("d.sk"), col("d.q"), col("d.rf"),
            col("d.sd"))
          .as[(Option[String], Option[String], Option[String],
            Option[String], Option[String])]
          .flatMap { case (pk, sk, q, rf, sd) =>
            Seq(ProfIn("l_partkey", pk), ProfIn("l_suppkey", sk),
              ProfIn("l_quantity", q), ProfIn("l_returnflag", rf),
              ProfIn("l_shipdate", sd))
          }
          .groupByKey(_.c)
          .transformWithState(new ProfileProcessor, TimeMode.None(),
            OutputMode.Append(),
            org.apache.spark.sql.Encoders.product[ProfOut])
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/chk")
          .format("parquet").option("path", out)
          .start()
        q.awaitTermination()
        s.read.parquet(out)
      }
    }
    // each micro-batch emitted a running snapshot; the final profile
    // per column is the row with the largest cumulative n_rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("col_name")).orderBy(col("n_rows").desc)
    result.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("ndv_est"), col("min_s"), col("max_s"))
      .orderBy(col("col_name"))
    }
  }

  /** q263's oracle minus the exact-distinct branch (deliberately not
    * maintained in streaming state — unbounded). */
  private val qStreamProfileSql =
    s"""WITH melt AS (
       |  SELECT 'l_partkey' AS col_name, CAST(l_partkey AS VARCHAR) AS v
       |    FROM lineitem
       |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR)
       |    FROM lineitem
       |  UNION ALL SELECT 'l_quantity',
       |    CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) FROM lineitem
       |  UNION ALL SELECT 'l_returnflag', CAST(l_returnflag AS VARCHAR)
       |    FROM lineitem
       |  UNION ALL SELECT 'l_shipdate', CAST(l_shipdate AS VARCHAR)
       |    FROM lineitem),
       |h AS (
       |  SELECT col_name, v,
       |    CAST(('0x' || substring(md5(v), 1, 12)) AS BIGINT) AS hv
       |  FROM melt),
       |-- top-$ProfK per column via row_number, NOT
       |-- array_agg(DISTINCT .. ORDER BY ..)[1:k]: the array form
       |-- materializes a fully sorted multi-million-element list per
       |-- group and ground for ~30+ min on the 30M-row sf1 melt; the
       |-- windowed form is one sort + an early cut (same result)
       |hd AS (SELECT DISTINCT col_name, hv FROM h
       |       WHERE hv IS NOT NULL),
       |hr AS (SELECT col_name, hv, row_number() OVER
       |         (PARTITION BY col_name ORDER BY hv) AS rn FROM hd),
       |sk AS (
       |  SELECT col_name, array_agg(hv ORDER BY hv) AS sk
       |  FROM hr WHERE rn <= $ProfK GROUP BY 1)
       |SELECT m.col_name,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) - COUNT(m.v) AS BIGINT) AS n_null,
       |  CAST(CASE WHEN len(s.sk) < $ProfK THEN len(s.sk)
       |    ELSE (${ProfK - 1} * $ProfM) // s.sk[len(s.sk)] END
       |    AS BIGINT) AS ndv_est,
       |  MIN(m.v) AS min_s, MAX(m.v) AS max_s
       |FROM melt m JOIN sk s ON s.col_name = m.col_name
       |GROUP BY m.col_name, s.sk
       |ORDER BY m.col_name""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q270_k_core_adaptive" -> QueryDef(qKCoreAdaptive,
      Some(qKCoreAdaptiveSql),
      "density-adaptive k-core: k = max(1, E div V) (the degeneracy " +
        "lower bound, provably non-empty core) over the support-1 " +
        "co-purchase graph; non-vacuous peel at every laddered SF"),
    "q271_merkle_repair" -> QueryDef(qMerkleRepair, Some(qMerkleRepairSql),
      "Merkle anti-entropy repair plan: 64-leaf digest trees over " +
        "source vs snapshot replica file-state, divergent-leaf " +
        "drill-down, missing tx windows through the A1 range-merge " +
        "aggregator into exact re-ship byte ranges"),
    "q272_stream_profile" -> QueryDef(qStreamProfile,
      Some(qStreamProfileSql),
      "q263's table profile maintained per micro-batch in " +
        "transformWithState typed state (mergeable counts/min/max/KMV " +
        "sketch); final streamed profile == batch statistics"))
}
