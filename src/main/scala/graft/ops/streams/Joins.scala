package graft.ops
package streams

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}
import Tables.load

/** Structured Streaming joins: stream-stream inner and outer interval
  * joins, stream-static enrichment. */
object Joins {

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
    import org.apache.spark.sql.streaming.Trigger
    // pinned state partitioning + HDFS-backed provider (q124/q129 leave
    // the session on RocksDB; a stream-stream join opens 4 stores per
    // partition per batch — see StreamConfs). Note: the gate's
    // ~1.5 s/micro-batch is TRIGGER overhead (planning + two source
    // listings + sink commit), not state volume — measured identical at
    // 2 and 8 state partitions; it amortizes to nothing on a real
    // stream where a trigger carries minutes of data
    graft.streaming.StreamConfs.withHdfsStateStore(s) {
    val result = graft.streaming.StreamScratch.withScratch("graft_ssj_") { tmp =>
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
      val in = StreamInputs.stageViewsAndPurchases(s, dir, tmp, 4)
      def side(t: String, pfx: String) =
        StreamInputs.readViewsAndPurchases(s, in)
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
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import org.apache.spark.sql.types.{DoubleType, StructType}
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
    val schema = new StructType()
      .add("l_partkey", LongType).add("l_extendedprice", DoubleType)
      .add("l_discount", DoubleType)
    // collision-free memory-sink name (same rationale as q172)
    val name = "graft_ssx_sink_" + StreamInputs.sinkNameCounter.incrementAndGet()
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

  // ------------------------------------------------------------- q158

  /** q158: STREAM-STREAM **LEFT OUTER** interval join — the other half
    * of q130's inner join, and the harder streaming surface: an
    * unmatched view must be emitted WITH NULLS, which the engine can
    * only do once the watermark proves no matching purchase can still
    * arrive. The gate's device for completeness: a far-future SENTINEL
    * row is staged as the last slice and flows through the watermark
    * operator BEFORE being filtered out of the join inputs — it drags
    * the watermark past every real row's eviction time, so all pending
    * outer results flush and the stream equals the batch LEFT JOIN
    * (the oracle). Without the sentinel the trailing delay-window of
    * views would never emit — the classic production pitfall this gate
    * encodes.
    *
    * Scale shape = q130: state hash-partitioned on user_id, bounded by
    * watermark delay × per-key rate, evicted continuously. */
  private def qStreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import org.apache.spark.sql.streaming.Trigger
    graft.streaming.StreamConfs.withHdfsStateStore(s) {
      val result = graft.streaming.StreamScratch.withScratch("graft_soj_") { tmp =>
        // 2 data slices (was 8): the trigger count, not the join, was
        // the cost (fixed per-trigger planning/listing/commit overhead
        // on BOTH sides; 8c/32c ratio 0.67). Two time-ordered slices
        // still put view->purchase pairs across a batch boundary
        // (cross-batch outer-join state exercised) and the two sentinel
        // batches still advance-then-flush the watermark exactly as
        // documented below; the emitted row set is batching-invariant
        // (no row is ever late: slices are time-ordered and the 2 h
        // delay exceeds one slice's in-batch skew) — oracle re-verified.
        // TWO sentinel slices far past hi + delay + join window. The
        // sentinels carry REAL event types on impossible (negative)
        // user ids: a typed-out marker row would be removed by the
        // event_type filter, which Catalyst pushes BELOW the watermark
        // operator (PushDownPredicates walks through EventTimeWatermark)
        // — measured: such a sentinel never advances the watermark.
        // Typed-in rows pass both side filters, advance both side
        // watermarks, equi-match nothing (negative ids, view -1 vs
        // purchase -2), and are dropped on read-back. Two slices
        // because a watermark computed from batch b's data only takes
        // effect in batch b+1: sentinel-1 advances it, the batch
        // processing sentinel-2 runs under it and flushes the last
        // pending outer rows.
        def sentinels(hi: Long) = (0 until 2).map { j =>
          val sentinelUs = hi + (24L + j) * 3600000000L
          s"""{"user_id":-1,"event_id":${-1 - j},""" +
            s""""event_type":"view","us":$sentinelUs}""" + "\n" +
            s"""{"user_id":-2,"event_id":${-3 - j},""" +
            s""""event_type":"purchase","us":$sentinelUs}"""
        }
        val in = StreamInputs.stageViewsAndPurchases(s, dir, tmp, 2, sentinels)
        def side(t: String, pfx: String) =
          StreamInputs.readViewsAndPurchases(s, in)
            .select(col("d.user_id").as(s"${pfx}_user"),
              col("d.event_id").as(s"${pfx}_id"),
              col("d.event_type").as(s"${pfx}_t"),
              expr("timestamp_micros(d.us)").as(s"${pfx}_ts"))
            .withWatermark(s"${pfx}_ts", "2 hours")
            .filter(col(s"${pfx}_t") === t) // after the watermark operator
        // sink lands OUTSIDE scratch (GateOut): O(pairs) result, lazy return
        val out = graft.streaming.GateOut.dir()
        val q = side("view", "v")
          .join(side("purchase", "p"),
            expr("""v_user = p_user AND p_ts >= v_ts
                   |AND p_ts <= v_ts + interval 1 hour""".stripMargin),
            "leftOuter")
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
      // NULLS FIRST made explicit on both sides: Spark's asc default is
      // nulls-first, DuckDB's is nulls-last — an implicit sort order
      // would shuffle the unmatched rows to different positions
      result
        .filter(col("user_id") >= 0) // drop any flushed sentinel rows
        .orderBy(col("user_id"), col("view_id"),
          col("purchase_id").asc_nulls_first)
    }
  }

  private val qStreamOuterJoinSql =
    """WITH v AS (SELECT user_id, event_id, ts FROM events
      |           WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id, ts FROM events
      |      WHERE event_type = 'purchase')
      |SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |  CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
      |FROM v LEFT JOIN p ON v.user_id = p.user_id
      |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY v.user_id, view_id, purchase_id NULLS FIRST""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q130_stream_interval_join" -> QueryDef(qStreamIntervalJoin,
      Some(qStreamIntervalJoinSql),
      "watermarked stream-stream interval join == batch interval join"),
    "q134_stream_static_join" -> QueryDef(qStreamStaticJoin,
      Some(qStreamStaticJoinSql),
      "stream-static dimension enrichment + update-mode agg == batch"),
    "q158_stream_outer_join" -> QueryDef(qStreamOuterJoin,
      Some(qStreamOuterJoinSql),
      "stream-stream LEFT OUTER interval join == batch left join " +
        "(sentinel-flushed watermark completeness)"))
}
