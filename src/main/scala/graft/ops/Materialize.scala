package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import Tables.load

/** Materialization battery: the three table-shaping operators a CDC
  * engine's consumers run on the WAREHOUSE side of the pipe — merge the
  * change stream into current state (q126), keep the full slowly-changing
  * history (q127), and lay the merged table out for multi-dimension scan
  * pruning (q128). The reference stops at delivering ordered deltas to
  * Kafka (`core/.../ChangeDeltaSerDe.java` envelopes, per-entity ordered
  * partitions); these gates state what the downstream applies to them,
  * re-expressed as single-shuffle Spark plans over the `events` change
  * stream (key = `user_id`, change order = `ts, event_id`).
  *
  * Scale shapes:
  *  - q126/q127: ONE shuffle on the merge key; the window rank and the
  *    per-key aggregate reuse the same hash partitioning (no second
  *    exchange — the same device as the q26 FSM). Latest-wins with a
  *    delete rule is exactly Debezium/Delta `MERGE` compaction; per-key
  *    state is one row, so a 1000-executor run is embarrassingly
  *    key-parallel with no driver state.
  *  - q128: the Morton key is computed row-local by a codegen'd
  *    expression, and FILE assignment is a bit-prefix of the key — no
  *    global sort, no single-partition window, no exchange at all beyond
  *    the final stats aggregate. That is deliberately the
  *    range-partition-free formulation that survives 100 TB: tiles are a
  *    fixed grid of the key space, so the layout job is one map + one agg
  *    regardless of row count.
  */
object Materialize {

  // --------------------------------------------------------------- q126

  /** q126: CDC MERGE — materialize current state from the change stream,
    * latest-wins per key with a delete rule (`error` = tombstone, the
    * DLQ-adjacent convention of the fixture stream). Emits per surviving
    * key the last change's payload, the change count, and the update
    * instant: the table a `MERGE INTO` on an ordered CDC feed produces. */
  private def qCdcMerge(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    load(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast(LongType).as("n_changes"),
        max(when(col("rn") === 1, col("event_type"))).as("last_type"),
        max(when(col("rn") === 1, col("value"))).as("last_value"),
        max(when(col("rn") === 1, col("ts"))).as("updated_at"))
      .filter(col("last_type") =!= "error")
      .orderBy(col("user_id"))
  }

  private val qCdcMergeSql =
    """WITH r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_changes,
      |  max(CASE WHEN rn = 1 THEN event_type END) AS last_type,
      |  max(CASE WHEN rn = 1 THEN value END) AS last_value,
      |  max(CASE WHEN rn = 1 THEN ts END) AS updated_at
      |FROM r GROUP BY user_id
      |HAVING max(CASE WHEN rn = 1 THEN event_type END) <> 'error'
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q127

  /** q127: SCD TYPE-2 — the history-keeping complement of q126: per key,
    * collapse runs of the unchanged tracked attribute and emit one
    * validity interval per actual change (`valid_to` = next change's
    * instant, NULL while current). Change detection is a `lag` on the
    * full stream; interval stitching is a `lead` on the survivors —
    * both windows share the `user_id` hash partitioning, so the whole
    * dimension build is one shuffle. */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    load(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(ord))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(ord))
      .withColumn("valid_to", lead(col("ts"), 1).over(ord))
      .select(col("user_id"), col("version").cast(LongType),
        col("event_type"), col("ts").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Shared SCD2 change-detection CTE — interpolated into BOTH the q127
    * and q133 oracles so a future fix to the run-collapse predicate or
    * tie-break cannot silently diverge them. */
  private val Scd2Cte =
    """d AS (
      |  SELECT *, LAG(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_type, ts, event_id FROM d
      |  WHERE prev_type IS NULL OR prev_type <> event_type)""".stripMargin

  private val qScd2Sql =
    s"""WITH $Scd2Cte
       |SELECT user_id,
       |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       |  event_type, ts AS valid_from,
       |  LEAD(ts) OVER w AS valid_to,
       |  CAST(CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_current
       |FROM c
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, version""".stripMargin

  // --------------------------------------------------------------- q128

  /** q128: Z-ORDER LAYOUT — cluster `lineitem` on the Morton interleave
    * of (`l_partkey`, `l_suppkey`) and report per-tile min/max statistics
    * plus whether a probe predicate (`l_partkey` in [500, 599]) can skip
    * the tile. A tile is the top `22-Shift` bits of the Z-key — a fixed
    * grid of the key space — so BOTH dimensions are range-bounded inside
    * every tile and the hit flags show the probe touching only the tiles
    * whose partkey band overlaps: min/max footer stats become 2-D
    * pruning, the thing single-column sort layout cannot give. */
  private val ZShift = 12
  private val ProbeLo = 500
  private val ProbeHi = 599

  private def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val z = graft.functions.bits.morton(col("l_partkey"), col("l_suppkey"))
    load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        shiftright(z, ZShift).as("tile"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        min(col("l_partkey")).as("min_part"),
        max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"),
        max(col("l_suppkey")).as("max_supp"))
      .withColumn("probe_hit",
        when(col("min_part") <= ProbeHi && col("max_part") >= ProbeLo, 1L)
          .otherwise(0L))
      .orderBy(col("tile"))
  }

  private val qZorderLayoutSql =
    s"""WITH z AS (
       |  SELECT l_partkey, l_suppkey,
       |    CAST(list_sum(list_transform(range(0, 11), i ->
       |      (((l_partkey >> i) & 1) << (2 * i))
       |      + (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS BIGINT)
       |      >> $ZShift AS tile
       |  FROM lineitem)
       |SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp,
       |  CAST(CASE WHEN min(l_partkey) <= $ProbeHi
       |    AND max(l_partkey) >= $ProbeLo THEN 1 ELSE 0 END AS BIGINT)
       |    AS probe_hit
       |FROM z GROUP BY tile ORDER BY tile""".stripMargin

  // --------------------------------------------------------------- q129

  // public: the Encoder's generated projections access these from
  // codegen'd classes outside this object
  final case class MergeEvent(user_id: Long, event_id: Long,
      event_type: String, value: Double, us: Long)
  final case class MergeState(us: Long, event_id: Long,
      event_type: String, value: Double, n: Long)
  final case class MergeOut(user_id: Long, n_changes: Long,
      last_type: String, last_value: Double, last_us: Long)

  /** Per-key latest-wins fold on the `transformWithState` API: state is
    * the current merged row; every batch that touches a key re-emits the
    * key's merged row with its (strictly growing) cumulative change
    * count, so the final state is recoverable from the sink as the
    * max-count row per key. Latest-wins compares (ts, event_id), which
    * is order-independent — batch boundaries cannot change the result,
    * the property the gate proves by matching the batch q126 oracle. */
  private class MergeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, MergeEvent, MergeOut] {
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[MergeState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[MergeState]("merged",
        org.apache.spark.sql.Encoders.product[MergeState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, it: Iterator[MergeEvent],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[MergeOut] = {
      var cur = if (st.exists()) Some(st.get()) else None
      var added = 0L
      for (e <- it) {
        added += 1
        if (cur.forall(c => e.us > c.us || (e.us == c.us && e.event_id > c.event_id)))
          cur = Some(MergeState(e.us, e.event_id, e.event_type, e.value,
            cur.map(_.n).getOrElse(0L)))
      }
      val out = cur.map { c =>
        val merged = c.copy(n = c.n + added)
        st.update(merged)
        MergeOut(uid, merged.n, merged.event_type, merged.value, merged.us)
      }
      out.iterator
    }
  }

  /** q129: q126 restated as a STREAMING merge — the change stream
    * arrives as four time-sliced micro-batches and the per-key state
    * maintains the merged row incrementally (typed ValueState over
    * RocksDB). Gated against the identical batch oracle: streaming
    * materialization == batch `MERGE`, the same restatement contract as
    * q63/q109/q124. */
  private def qStreamCdcMerge(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
    val schema = new StructType()
      .add("user_id", LongType).add("event_id", LongType)
      .add("event_type", StringType).add("value", DoubleType)
      .add("us", LongType)
    // pin the stream's state partitioning to 8 (captured at checkpoint
    // creation): a 32-thread bench session would otherwise open 32
    // RocksDB stores per micro-batch for a 150-key state. The RocksDB
    // provider (required by transformWithState) is likewise scoped to
    // this query and RESTORED after — leaking it session-wide would
    // silently re-provider every later streaming query
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8",
        graft.streaming.StreamScratch.ProviderKey ->
          graft.streaming.StreamScratch.RocksDbProvider) {
    val result = graft.streaming.StreamScratch.withScratch("graft_smerge_") { tmp =>
      // up to four hash-partitioned input files = up to four
      // micro-batches in arbitrary slice order — fine HERE because
      // latest-wins is a commutative fold (q130, whose watermark DOES
      // need time order, stages per-slice files with ordered mod-times)
      val ev = load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("us"))
      // bounded collect: one min/max scalar pair for slice sizing
      val Array(mm) = ev.agg(min(col("us")), max(col("us"))).collect()
      val (lo, step) = (mm.getLong(0), (mm.getLong(1) - mm.getLong(0)) / 4 + 1)
      ev.withColumn("slice", ((col("us") - lo) / step).cast(LongType))
        .repartition(4, col("slice"))
        .select(to_json(struct(col("user_id"), col("event_id"),
          col("event_type"), col("value"), col("us"))).as("value"))
        .write.mode("overwrite").text(s"$tmp/in")
      // sink lands OUTSIDE scratch (GateOut): O(keys) emissions return
      // as a lazy reader, never driver rows
      val out = graft.streaming.GateOut.dir()
      val q = s.readStream
        .option("maxFilesPerTrigger", 1)
        .text(s"$tmp/in")
        .select(from_json(col("value"), schema).as("d"))
        .select(col("d.*")).as[MergeEvent]
        .groupByKey(_.user_id)
        .transformWithState(new MergeProcessor, TimeMode.None(),
          OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[MergeOut])
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/chk")
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
      s.read.parquet(out)
    }
    // final state per key = the max-cumulative-count emission
    result
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_changes"), col("last_type"),
        col("last_value"), col("last_us")), col("n_changes")).as("m"))
      .select(col("user_id"), col("m.*"))
      .filter(col("last_type") =!= "error")
      .select(col("user_id"), col("n_changes"), col("last_type"),
        col("last_value"), expr("timestamp_micros(last_us)").as("updated_at"))
      .orderBy(col("user_id"))
    }
  }

  // --------------------------------------------------------------- q130

  /** q130: STREAM-STREAM interval join — the one Structured Streaming
    * join surface the battery didn't yet gate: two watermarked event
    * streams (views and purchases split from the staged change feed)
    * joined on key + event-time range (`purchase within 1 hour after the
    * view`). With the range condition + both-side watermarks Spark
    * bounds the join state and evicts it as the watermark passes — the
    * exact mechanism that keeps a 100-TB/day double-stream join's state
    * finite — while AvailableNow completeness makes the emitted pairs
    * equal the batch interval join, which is the oracle.
    *
    * Scale shape: state is hash-partitioned on `user_id` (both sides),
    * per-key state is bounded by the 2 h watermark delay x per-key rate,
    * and eviction is continuous; nothing accumulates for the stream's
    * lifetime. */
  private def qStreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{StringType, StructType}
    val schema = new StructType()
      .add("user_id", LongType).add("event_id", LongType)
      .add("event_type", StringType).add("us", LongType)
    // pinned state partitioning + HDFS-backed provider (q124/q129 leave
    // the session on RocksDB; a stream-stream join opens 4 stores per
    // partition per batch — see StreamConfs). Note: the gate's
    // ~1.5 s/micro-batch is TRIGGER overhead (planning + two source
    // listings + sink commit), not state volume — measured identical at
    // 2 and 8 state partitions; it amortizes to nothing on a real
    // stream where a trigger carries minutes of data
    graft.streaming.StreamConfs.withHdfsStateStore(s) {
    val result = graft.streaming.StreamScratch.withScratch("graft_ssj_") { tmp =>
      // slice files staged in TIME order with ordered mod-times
      // (SliceReplay): the file source replays them as in-order
      // micro-batches, the premise the watermark's state eviction is
      // correct under (q129's merge is order-independent and skips this)
      val ev = load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .filter(col("event_type").isin("view", "purchase"))
      // bounded collect: one min/max scalar pair for slice sizing
      val Array(mm) = ev.agg(min(col("us")), max(col("us"))).collect()
      // 4 slices (was 16): every trigger costs ~1.5 s of fixed overhead
      // (planning + two source listings + state/sink commits) that at
      // the gate's data volume dwarfs the join work — 16 triggers made
      // this the bench's single most expensive query for pure lifecycle
      // (measured: triggerExecution >> addBatch, ratio 8c/32c ≈ 1).
      // Four time-ordered slices keep what the 16 proved: view->purchase
      // pairs still land on slice boundaries (3 of them), so cross-batch
      // join state and in-order watermark advance are still exercised,
      // and the emitted pair set is batching-invariant (inner interval
      // join + AvailableNow completeness) — oracle re-verified.
      val (lo, step) = (mm.getLong(0), (mm.getLong(1) - mm.getLong(0)) / 4 + 1)
      val in = graft.streaming.SliceReplay.stage(tmp,
        ev.withColumn("slice", ((col("us") - lo) / step).cast(LongType))
          .select(to_json(struct(col("user_id"), col("event_id"),
            col("event_type"), col("us"))).as("value"), col("slice")), 4)(s)
      def side(t: String, pfx: String) = s.readStream
        .option("maxFilesPerTrigger", 1)
        .text(in)
        .select(from_json(col("value"), schema).as("d"))
        .filter(col("d.event_type") === t)
        .select(col("d.user_id").as(s"${pfx}_user"),
          col("d.event_id").as(s"${pfx}_id"),
          expr("timestamp_micros(d.us)").as(s"${pfx}_ts"))
        .withWatermark(s"${pfx}_ts", "2 hours")
      // sink lands OUTSIDE scratch (GateOut): O(pairs) result, lazy return
      val out = graft.streaming.GateOut.dir()
      val q = side("view", "v")
        .join(side("purchase", "p"),
          expr("""v_user = p_user AND p_ts >= v_ts
                 |AND p_ts <= v_ts + interval 1 hour""".stripMargin))
        .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
          col("p_id").as("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/chk")
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
      s.read.parquet(out)
    }
    result.orderBy(col("user_id"), col("view_id"), col("purchase_id"))
    }
  }

  private val qStreamIntervalJoinSql =
    """WITH v AS (SELECT user_id, event_id, ts FROM events
      |           WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id, ts FROM events
      |      WHERE event_type = 'purchase')
      |SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |  CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
      |FROM v JOIN p ON v.user_id = p.user_id
      |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY v.user_id, view_id, purchase_id""".stripMargin

  // --------------------------------------------------------------- q131

  /** q131: OVERLAPPING CHUNK WINDOWS — the RAG/retrieval chunker: fixed
    * window of [[ChunkW]] tokens advanced by stride [[ChunkS]] (so
    * consecutive chunks share `W-S` boundary tokens and no retrieval
    * query can fall into a blind spot between chunks). Distinct from
    * q90's disjoint chunking: overlap is the point here. Row-local
    * explode (`sequence` of starts) — embarrassingly parallel, no
    * shuffle before the final sort. */
  private val ChunkW = 64
  private val ChunkS = 48

  private def qChunkOverlap(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(expr(s"sequence(0, size(ws) - 1, $ChunkS)")).as("start"))
      .select(col("doc_id"), (col("start") / ChunkS).cast(LongType).as("chunk_idx"),
        col("start").cast(LongType).as("start_tok"),
        least(lit(ChunkW), size(col("ws")) - col("start")).cast(LongType).as("n_tok"),
        expr(s"element_at(ws, start + 1)").as("head_tok"),
        expr(s"element_at(ws, cast(least(start + $ChunkW, size(ws)) as int))").as("tail_tok"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val qChunkOverlapSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents),
       |c AS (SELECT doc_id, ws, unnest(range(0, len(ws), $ChunkS)) AS start
       |      FROM w)
       |SELECT doc_id,
       |  CAST(start // $ChunkS AS BIGINT) AS chunk_idx,
       |  CAST(start AS BIGINT) AS start_tok,
       |  CAST(least($ChunkW, len(ws) - start) AS BIGINT) AS n_tok,
       |  ws[start + 1] AS head_tok,
       |  ws[least(start + $ChunkW, len(ws))] AS tail_tok
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------------------------------- q132

  /** q132: GDPR ERASURE CASCADE — the referential fan-out a CDC
    * consumer must answer for a deletion request: for a deterministic
    * request set of customers, the rows each table loses. One semi-join
    * chain customer → orders → lineitem, each equi-keyed on the child's
    * foreign key; counts and key checksums per table so the cascade is
    * auditable, not just counted. Scale shape: the request set scales
    * with the table, so no broadcast hint — AQE size-decides; all three
    * audit rows come from one union plan (single job, shared subplans
    * eligible for exchange reuse). */
  private def qGdprCascade(s: SparkSession, dir: String): DataFrame = {
    val reqs = load(s, dir, "customer")
      .filter(col("c_custkey") % 1000 === 7)
      .select(col("c_custkey"))
    val orders = load(s, dir, "orders")
      .join(reqs, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"))
    val lines = load(s, dir, "lineitem")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"))
    // ONE union plan, no driver-side collects: the three audit rows are
    // a single job (and the shared orders subplan is eligible for
    // Spark's exchange reuse instead of being re-executed per action)
    def audit(df: DataFrame, table: String, checksum: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).cast(LongType).as("n_rows_erased"),
          coalesce(sum(checksum), lit(0L)).cast(LongType).as("key_checksum"))
        .select(lit(table).as("table_name"), col("n_rows_erased"),
          col("key_checksum"))
    audit(reqs, "customer", col("c_custkey"))
      .unionAll(audit(orders, "orders", col("o_orderkey")))
      .unionAll(audit(lines, "lineitem",
        col("l_orderkey") * 10 + col("l_linenumber")))
      .orderBy(col("table_name"))
  }

  private val qGdprCascadeSql =
    """WITH reqs AS (SELECT c_custkey FROM customer
      |             WHERE c_custkey % 1000 = 7),
      |o AS (SELECT o_orderkey FROM orders
      |      WHERE o_custkey IN (SELECT c_custkey FROM reqs)),
      |l AS (SELECT l_orderkey, l_linenumber FROM lineitem
      |      WHERE l_orderkey IN (SELECT o_orderkey FROM o))
      |SELECT * FROM (
      |  SELECT 'customer' AS table_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows_erased,
      |    CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS key_checksum
      |  FROM reqs
      |  UNION ALL
      |  SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(l_orderkey * 10 + l_linenumber), 0) AS BIGINT)
      |  FROM l
      |  UNION ALL
      |  SELECT 'orders', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT)
      |  FROM o)
      |ORDER BY table_name""".stripMargin

  // --------------------------------------------------------------- q133

  /** q133: POINT-IN-TIME join to the SCD2 dimension — the reason type-2
    * history exists: every fact row joined to the dimension version
    * VALID AT its event time (`valid_from <= ts < valid_to`, current
    * version open-ended). Per (user, version): the event count — whose
    * per-user sum equals the user's raw event count, the
    * no-leak/no-loss property of temporal join correctness. Equi-join
    * on the user key with a residual interval predicate: per-user
    * fan-out is bounded by that user's version count, never all-pairs. */
  private def qScd2PointInTime(s: SparkSession, dir: String): DataFrame = {
    val dim = qScd2(s, dir) // (user_id, version, event_type, valid_from, valid_to, is_current)
      .select(col("user_id"), col("version"), col("valid_from"), col("valid_to"))
    val ev = load(s, dir, "events")
      .select(col("user_id").as("e_user"), col("ts"))
    // LEFT join + count(ts): a version whose validity interval is empty
    // (two change events sharing one (user, ts)) must still appear,
    // with n_events = 0 — an inner join would silently drop it and the
    // "version set == q127" invariant would break on tied timestamps
    dim.join(ev, col("e_user") === col("user_id")
        && col("ts") >= col("valid_from")
        && (col("valid_to").isNull || col("ts") < col("valid_to")),
        "left")
      .groupBy(col("user_id"), col("version"))
      .agg(count(col("ts")).cast(LongType).as("n_events"))
      .orderBy(col("user_id"), col("version"))
  }

  private val qScd2PointInTimeSql =
    s"""WITH $Scd2Cte,
       |dim AS (
       |  SELECT user_id,
       |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       |    ts AS valid_from, LEAD(ts) OVER w AS valid_to
       |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT dim.user_id, dim.version,
       |  CAST(COUNT(e.ts) AS BIGINT) AS n_events
       |FROM dim LEFT JOIN events e ON e.user_id = dim.user_id
       |  AND e.ts >= dim.valid_from
       |  AND (dim.valid_to IS NULL OR e.ts < dim.valid_to)
       |GROUP BY dim.user_id, dim.version
       |ORDER BY dim.user_id, dim.version""".stripMargin

  // --------------------------------------------------------------- q134

  /** q134: STREAM-STATIC join — the remaining streaming-join surface
    * next to q130's stream-stream: a fact STREAM (lineitem replayed as
    * up to four micro-batches) enriched against a static DIMENSION (part,
    * re-read per trigger; Spark plans it as a broadcast against each
    * batch), then aggregated per brand with exact DECIMAL revenue.
    * Stateless per batch on the join side — the canonical shape of a
    * 100-TB/day enrichment pipeline where the dimension fits an
    * executor broadcast and the stream never shuffles for the join. The
    * per-brand running aggregate is maintained in Update-mode state and
    * the final state must equal the batch restatement, which is the
    * oracle. */
  private def qStreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import org.apache.spark.sql.types.{DoubleType, StructType}
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
    val schema = new StructType()
      .add("l_partkey", LongType).add("l_extendedprice", DoubleType)
      .add("l_discount", DoubleType)
    // collision-free memory-sink name (same rationale as q172)
    val name = "graft_ssx_sink_" + Advanced.sinkNameCounter.incrementAndGet()
    val result = graft.streaming.StreamScratch.withScratch("graft_ssx_") { tmp =>
      // 2 slices (was 4): the per-brand running aggregate is additive
      // and batching-invariant; two batches still prove the Update-mode
      // state carry while halving the fixed trigger lifecycles. Oracle
      // re-verified.
      load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        .withColumn("slice", pmod(col("l_partkey"), lit(2)))
        .repartition(2, col("slice"))
        .select(to_json(struct(col("l_partkey"), col("l_extendedprice"),
          col("l_discount"))).as("value"))
        .write.mode("overwrite").text(s"$tmp/in")
      val part = load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      val q = s.readStream
        .option("maxFilesPerTrigger", 1)
        .text(s"$tmp/in")
        .select(from_json(col("value"), schema).as("d"))
        .select(col("d.*"))
        .join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).cast(LongType).as("n_items"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("rev"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", s"$tmp/chk")
        .format("memory").queryName(name)
        .start()
      q.awaitTermination()
      // Update mode emits a row per (brand, batch-with-changes); the
      // final state per brand is the LAST emission — max n_items (the
      // running count is strictly monotone). The memory sink is driver-
      // resident by nature (bounded: the brand alphabet × batches); one
      // tiny persist moves it to GateOut so the view drops and the gate
      // returns a lazy reader, never driver rows
      val persisted = graft.streaming.GateOut.persist(
        s.table(name)
          .groupBy(col("p_brand"))
          .agg(max_by(struct(col("n_items"), col("rev")), col("n_items")).as("m"))
          .select(col("p_brand"), col("m.n_items"),
            col("m.rev").cast(DoubleType).as("revenue")))
      s.sql(s"DROP TABLE IF EXISTS $name")
      persisted
    }
    result.orderBy(col("p_brand"))
    }
  }

  private val qStreamStaticJoinSql =
    """SELECT p.p_brand,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin

  // --------------------------------------------------------------- q139

  final case class ScdEvent(user_id: Long, event_id: Long,
      event_type: String, us: Long)
  final case class ScdState(prev_type: String, versions: Long)
  final case class ScdOpen(user_id: Long, version: Long,
      event_type: String, us: Long)

  /** q139: q127's SCD TYPE-2 build restated as a STREAMING dimension
    * maintainer — the warehouse-side consumer that keeps the history
    * table current as CDC batches land, instead of rebuilding it. Keyed
    * state is just (last tracked value, version counter); each
    * micro-batch emits the versions it OPENS, and interval stitching
    * (`valid_to` = next version's open instant) happens once over the
    * sink — open events are append-only facts, so the stitch is a
    * window over immutable output, not a state rewrite. Gated against
    * the IDENTICAL batch q127 oracle (shared [[Scd2Cte]]).
    *
    * Unlike q129's commutative latest-wins fold, run-collapse is
    * order-SENSITIVE, so the input replays through q130's ordered slice
    * staging (time-sliced files, ordered mod-times) and each batch
    * sorts its per-key slice — order within key across batches is then
    * total, and the version counter in state lines up with the batch
    * row_number. Scale shape: state is two fields per key, hash-
    * partitioned on the merge key; the stitch window reuses the same
    * key partitioning. */
  private def qStreamScd2(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode, Trigger}
    import org.apache.spark.sql.types.{StringType, StructType}
    val schema = new StructType()
      .add("user_id", LongType).add("event_id", LongType)
      .add("event_type", StringType).add("us", LongType)
    graft.streaming.StreamConfs.withHdfsStateStore(s) {
      val opens = graft.streaming.StreamScratch.withScratch("graft_sscd_") { tmp =>
        val ev = load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        // bounded collect: one min/max scalar pair for slice sizing
        val Array(mm) = ev.agg(min(col("us")), max(col("us"))).collect()
        // 4 slices (was 8): per-key order stays TOTAL under any
        // time-disjoint slicing (each batch sorts its slice, slices
        // replay in time order), so the version counters and emitted
        // opens are batching-invariant; the extra triggers were pure
        // fixed lifecycle cost. Runs still span 3 batch boundaries, so
        // cross-batch run-collapse state stays exercised. Oracle
        // re-verified.
        val (lo, step) = (mm.getLong(0), (mm.getLong(1) - mm.getLong(0)) / 4 + 1)
        val in = graft.streaming.SliceReplay.stage(tmp,
          ev.withColumn("slice", ((col("us") - lo) / step).cast(LongType))
            .select(to_json(struct(col("user_id"), col("event_id"),
              col("event_type"), col("us"))).as("value"), col("slice")), 4)(s)
        // sink lands OUTSIDE scratch (GateOut): O(versions) result,
        // stitched lazily after the scratch scope closes
        val out = graft.streaming.GateOut.dir()
        val q = s.readStream
          .option("maxFilesPerTrigger", 1)
          .text(in)
          .select(from_json(col("value"), schema).as("d"))
          .select(col("d.*")).as[ScdEvent]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Append(),
            GroupStateTimeout.NoTimeout()) {
            (uid: Long, it: Iterator[ScdEvent], st: GroupState[ScdState]) =>
              val sorted = it.toArray.sortBy(e => (e.us, e.event_id))
              var cur = st.getOption.getOrElse(ScdState(null, 0L))
              val out = Seq.newBuilder[ScdOpen]
              for (e <- sorted)
                if (cur.prev_type == null || cur.prev_type != e.event_type) {
                  cur = ScdState(e.event_type, cur.versions + 1)
                  out += ScdOpen(uid, cur.versions, e.event_type, e.us)
                } else cur = cur.copy(prev_type = e.event_type)
              st.update(cur)
              out.result().iterator
          }
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/chk")
          .format("parquet").option("path", out)
          .start()
        q.awaitTermination()
        s.read.parquet(out)
      }
      val w = Window.partitionBy(col("user_id")).orderBy(col("version"))
      opens
        .withColumn("valid_from", expr("timestamp_micros(us)"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from"), col("valid_to"),
          when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
        .orderBy(col("user_id"), col("version"))
    }
  }

  // ------------------------------------------------------------- registry

  def defs: Seq[(String, QueryDef)] = Seq(
    "q126_cdc_merge" -> QueryDef(qCdcMerge, Some(qCdcMergeSql),
      "CDC merge materialization: latest-wins per key + delete rule"),
    "q127_scd2_history" -> QueryDef(qScd2, Some(qScd2Sql),
      "SCD type-2 dimension: change detection + validity intervals"),
    "q128_zorder_layout" -> QueryDef(qZorderLayout, Some(qZorderLayoutSql),
      "Z-order layout: Morton tiles, per-tile stats, 2-D probe pruning"),
    "q129_stream_cdc_merge" -> QueryDef(qStreamCdcMerge, Some(qCdcMergeSql),
      "streaming transformWithState merge == batch q126 oracle"),
    "q130_stream_interval_join" -> QueryDef(qStreamIntervalJoin,
      Some(qStreamIntervalJoinSql),
      "watermarked stream-stream interval join == batch interval join"),
    "q131_chunk_overlap" -> QueryDef(qChunkOverlap, Some(qChunkOverlapSql),
      "RAG chunking: fixed window, overlapping stride, row-local explode"),
    "q132_gdpr_cascade" -> QueryDef(qGdprCascade, Some(qGdprCascadeSql),
      "GDPR erasure cascade: semi-join fan-out with per-table audit sums"),
    "q133_scd2_pointintime" -> QueryDef(qScd2PointInTime,
      Some(qScd2PointInTimeSql),
      "point-in-time join of facts to SCD2 versions (temporal correctness)"),
    "q134_stream_static_join" -> QueryDef(qStreamStaticJoin,
      Some(qStreamStaticJoinSql),
      "stream-static dimension enrichment + update-mode agg == batch"),
    "q139_stream_scd2" -> QueryDef(qStreamScd2, Some(qScd2Sql),
      "streaming SCD2 maintenance: keyed run-collapse state, append-only " +
        "opens, sink-side interval stitch == batch q127 oracle"))
}
