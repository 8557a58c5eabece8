package graft.ops
package streams

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, StructField, StructType}
import graft.{QueryDef, Tables}
import Tables.load

/** Streaming and incremental aggregate maintenance, each equal to its batch
  * restatement. */
object Maintenance {

  /** q80: STREAMING aggregate maintenance — the materialized-view
    * pattern: a per-language stats table kept current by ADDITIVE merge,
    * state(id) = state(id−1) ⊕ agg(batch). Counts and sums are
    * commutative monoids, so per-batch partial aggregation composes
    * exactly (the same algebra that makes map-side combine correct),
    * and each version dir recomputes identically under retry (the
    * q72/q77 device). The maintained table is #languages rows; each
    * batch costs one narrow agg of the batch plus a tiny merge — never
    * a rescan of history. Gate: the final version hash-matches the
    * batch groupBy oracle. */
  private def qStreamAggMaintain(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val schema = StructType(Seq(
      StructField("lang", StringType), StructField("doc_id", LongType),
      StructField("n_chars", LongType)))
    val stateCols = Seq("lang", "n_docs", "chars", "checksum")
    val result = graft.streaming.StreamScratch.withScratch("graft_sagg_") { tmp =>
      val staged = load(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"))
      // final maintained version lives in scratch — one distributed
      // persist into GateOut, never a driver collect
      graft.streaming.GateOut.persist(
        graft.streaming.VersionedMaintenance.run(tmp, staged, schema) {
          (prev, batch) =>
            val delta = batch.groupBy(col("lang"))
              .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
                sum(col("doc_id")).as("checksum"))
            prev.map(_.select(stateCols.map(col): _*)).getOrElse(delta.limit(0))
              .unionByName(delta)
              .groupBy(col("lang"))
              .agg(sum(col("n_docs")).as("n_docs"), sum(col("chars")).as("chars"),
                sum(col("checksum")).as("checksum"))
        }
          .select(stateCols.map(col): _*))
    }
    result.orderBy(col("lang"))
  }

  private val qStreamAggMaintainSql =
    """SELECT lang, COUNT(*) AS n_docs,
      | CAST(SUM(n_chars) AS BIGINT) AS chars,
      | CAST(SUM(doc_id) AS BIGINT) AS checksum
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------- q145

  /** q145: STREAMING DEDUP via the built-in `dropDuplicatesWithinWatermark`
    * — Spark's engine-native bounded-state dedup (state for a key is
    * evicted once the watermark passes its event time + delay, so state
    * is O(keys-per-delay-window), never O(stream lifetime)). The gate
    * stages the event log as 16 time-ordered slices and injects an
    * EXACT duplicate copy of every 7th event one slice LATER than its
    * original (arrival skew across a micro-batch boundary), so the
    * dedup state must survive the batch boundary to drop it; the
    * watermark delay is derived from the data span (3 slice widths) so
    * the construction holds at every SF. Result == batch DISTINCT,
    * which (event ids being unique) is the event log itself. */
  private def qStreamDedupWm(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import org.apache.spark.sql.streaming.Trigger
    val schema = new StructType()
      .add("event_id", LongType).add("user_id", LongType)
      .add("event_type", StringType).add("us", LongType)
    graft.streaming.StreamConfs.withHdfsStateStore(s) {
      val result = graft.streaming.StreamScratch.withScratch("graft_ddw_") { tmp =>
        val ev = load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        // bounded collect: one min/max scalar pair for slice sizing
        val Array(mm) = ev.agg(min(col("us")), max(col("us"))).collect()
        // 4 slices (was 16): the gate's cost was 16 fixed trigger
        // lifecycles, not dedup state (8c/32c ratio ~1). Four slices
        // keep the construction's point — duplicates still arrive one
        // micro-batch AFTER their originals (3 boundaries), so dedup
        // state must still survive batch boundaries to drop them; the
        // watermark-delay derivation below is slice-width-relative and
        // holds unchanged. Output == batch DISTINCT either way —
        // oracle re-verified.
        val (lo, step) = (mm.getLong(0), (mm.getLong(1) - mm.getLong(0)) / 4 + 1)
        // originals sliced by event time; duplicates of every 7th event
        // staged one slice later (cap 3) — same bytes, later arrival
        val orig = ev
          .withColumn("slice", ((col("us") - lo) / step).cast(LongType))
        val dup = orig.filter(col("event_id") % 7 === 0)
          .withColumn("slice", least(col("slice") + 1, lit(3L)))
        val in = graft.streaming.SliceReplay.stage(tmp,
          orig.unionAll(dup)
            .select(to_json(struct(col("event_id"), col("user_id"),
              col("event_type"), col("us"))).as("value"), col("slice")), 4)
        // delay = 3 slice widths: a dup one slice late is always inside
        // the watermark, an original is never late (slices are ordered)
        val delaySec = (3L * step) / 1000000L + 1L
        // sink lands OUTSIDE scratch (GateOut): the deduped stream —
        // O(dataset) — must never transit the driver on return
        val out = graft.streaming.GateOut.dir()
        val q = s.readStream
          .option("maxFilesPerTrigger", 1)
          .text(in)
          .select(from_json(col("value"), schema).as("d"))
          .select(col("d.event_id").as("event_id"),
            col("d.user_id").as("user_id"),
            col("d.event_type").as("event_type"), col("d.us").as("us"))
          .withColumn("ts", expr("timestamp_micros(us)"))
          .withWatermark("ts", s"$delaySec seconds")
          .dropDuplicatesWithinWatermark("event_id")
          .drop("ts")
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/chk")
          .format("parquet").option("path", out)
          .start()
        q.awaitTermination()
        s.read.parquet(out)
      }
      result.orderBy(col("event_id"))
    }
  }

  private val qStreamDedupWmSql =
    """SELECT event_id, user_id, event_type,
      |  CAST(epoch_us(ts) AS BIGINT) AS us
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------- q151

  /** q151: INCREMENTAL VIEW MAINTENANCE of a join-aggregate view
    * (revenue + item count per customer over orders ⋈ lineitem). The
    * delta rule for distributive aggregates: V(base ∪ Δ) = merge of
    * the PARTIAL aggregates of base and Δ — partials stay exact
    * DECIMAL(18,6) sums until the single final cast, so the maintained
    * view is bit-identical to the full recompute (the oracle), not
    * approximately equal. Here "base" is 90% of lineitem and Δ the
    * `l_orderkey % 10 = 0` tranche; in production the base partial is
    * a materialized table and only Δ is scanned — the property this
    * gate proves is exactly what lets a 100-TB nightly view absorb a
    * small delta without re-reading the base. */
  private def qIvmJoinView(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    def partial(rows: DataFrame): DataFrame =
      rows.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6))).as("rev"),
          count(lit(1)).as("n"))
    val base = partial(li.filter(pmod(col("l_orderkey"), lit(10)) =!= 0))
    val delta = partial(li.filter(pmod(col("l_orderkey"), lit(10)) === 0))
    base.unionByName(delta)
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).cast(DoubleType).as("revenue"),
        sum(col("n")).as("n_items"))
      .orderBy(col("o_custkey"))
  }

  private val qIvmJoinViewSql =
    """SELECT o_custkey,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ------------------------------------------------------------- q152

  /** q152: STREAMING incremental maintenance of q151's join-aggregate
    * view — the delta stream (lineitem tranches replayed one file per
    * micro-batch) folds into a versioned per-customer partial state
    * via [[graft.streaming.VersionedMaintenance]]: each batch joins
    * only ITS OWN rows against the dimension and merges partial
    * DECIMAL sums into the previous state version. State and result
    * stay exact decimals until the single final cast, so the
    * continuously-maintained view is bit-identical to q151's full
    * recompute (they share one oracle). This is the "materialized view
    * that absorbs a trickle" operator: per-trigger work is
    * O(|batch| + |touched keys|), never O(view).
    *
    * Scale note: the per-batch join shuffles batch rows against the
    * orders dimension on the order key (no broadcast — orders grows
    * with SF); the state merge groups on the customer key. Both are
    * the keys the production table would already be bucketed by. */
  private def qStreamIvm(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
      val result = graft.streaming.StreamScratch.withScratch("graft_sivm_") { tmp =>
        val li = load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val ord = load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val schema = new StructType()
          .add("l_orderkey", LongType)
          .add("l_extendedprice", org.apache.spark.sql.types.DoubleType)
          .add("l_discount", org.apache.spark.sql.types.DoubleType)
        val jsonRows = li.select(to_json(struct(col("l_orderkey"),
          col("l_extendedprice"), col("l_discount"))).as("value"))
        // final state version lives in scratch — one distributed
        // re-write into GateOut, never a driver collect
        // 2 maintenance batches (was the 4-file default): the decimal
        // partial-sum merge is additive and batching-invariant, so two
        // folds prove the prev-state merge at half the per-trigger
        // fixed cost (each fold re-reads the state and re-shuffles the
        // batch against orders). Oracle re-verified.
        graft.streaming.GateOut.persist(
          graft.streaming.VersionedMaintenance.run(tmp, jsonRows, schema,
            nFiles = 2) {
            (prev, batch) =>
              val partial = batch
                .join(ord, col("l_orderkey") === col("o_orderkey"))
                .groupBy(col("o_custkey"))
                .agg(
                  sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                    .cast(DecimalType(18, 6))).cast(DecimalType(38, 6)).as("rev"),
                  count(lit(1)).as("n"))
              prev.fold(partial)(p => p.unionByName(partial)
                .groupBy(col("o_custkey"))
                .agg(sum(col("rev")).cast(DecimalType(38, 6)).as("rev"),
                  sum(col("n")).as("n")))
          })
      }
      result
        .select(col("o_custkey"), col("rev").cast(DoubleType).as("revenue"),
          col("n").as("n_items"))
        .orderBy(col("o_custkey"))
    }
  }

  // ------------------------------------------------------------- q172

  /** q172: COMPLETE-OUTPUT-MODE streaming aggregate — the third output
    * mode, closing the matrix (Append: q130/q139/q145/q158; Update:
    * q134; Complete: here). The whole aggregate result re-emits every
    * trigger into the in-memory sink; after AvailableNow drains the
    * staged slices, the LAST complete emission must equal the batch
    * aggregate, which is the oracle. Exact DECIMAL revenue as
    * everywhere. Complete mode is the one whose state never evicts —
    * correct only because the grouping alphabet (return flags) is
    * bounded; the scaladoc point IS that choosing Complete for an
    * unbounded key space is the production mistake. */
  private def qStreamCompleteAgg(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import org.apache.spark.sql.types.{DoubleType, StructType}
    graft.streaming.StreamConfs.withHdfsStateStore(s) {
      graft.streaming.StreamScratch.withScratch("graft_cmpl_") { tmp =>
        val li = load(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"),
            col("l_discount"))
        // 4 staged files, 2 per trigger (below): Complete mode
        // re-emits the WHOLE aggregate every trigger, so halving the
        // trigger count halves the fixed lifecycle — but the STAGING
        // write keeps its 4-way parallelism (repartition(2) measured
        // slower: the one-time 60 MB JSON dump became the bottleneck).
        // Two batches still prove the cross-batch fold. Oracle
        // re-verified.
        li.select(to_json(struct(col("l_returnflag"),
            col("l_extendedprice"), col("l_discount"))).as("value"))
          .repartition(4)
          .write.mode("overwrite").text(s"$tmp/in")
        val schema = new StructType()
          .add("l_returnflag", org.apache.spark.sql.types.StringType)
          .add("l_extendedprice", DoubleType).add("l_discount", DoubleType)
        // collision-free sink name: abs(hashCode) is negative at
        // Int.MinValue and two dirs can collide — a counter cannot
        val name = "graft_complete_" +
          StreamInputs.sinkNameCounter.incrementAndGet()
        val q = s.readStream
          .option("maxFilesPerTrigger", 2) // 4 files -> 2 triggers
          .text(s"$tmp/in")
          .select(from_json(col("value"), schema).as("d"))
          .groupBy(col("d.l_returnflag").as("l_returnflag"))
          .agg(
            sum((col("d.l_extendedprice") * (lit(1.0) - col("d.l_discount")))
              .cast(DecimalType(18, 6))).as("rev"),
            count(lit(1)).as("n_items"))
          .writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/chk")
          .outputMode(OutputMode.Complete())
          .format("memory").queryName(name)
          .start()
        q.awaitTermination()
        // revenue released as exact integer CENTS, not a double: at 3
        // groups the sum carries 17 significant digits and the
        // DECIMAL->DOUBLE conversion rounds differently in the two
        // engines by 1 ulp (caught at sf1). floor() before the cast
        // because Spark truncates decimal->long where DuckDB rounds.
        // the memory sink is driver-resident by nature (bounded here:
        // the return-flag alphabet); one tiny distributed persist moves
        // the final emission to GateOut so the temp view can drop and
        // the gate still returns a lazy reader, never driver rows
        val result = graft.streaming.GateOut.persist(
          s.table(name)
            .select(col("l_returnflag"),
              expr("CAST(floor(rev * 100) AS BIGINT)").as("revenue_cents"),
              col("n_items")))
        s.catalog.dropTempView(name)
        result.orderBy(col("l_returnflag"))
      }
    }
  }

  private val qStreamCompleteAggSql =
    """SELECT l_returnflag,
      |  CAST(floor(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,6))) * 100) AS BIGINT) AS revenue_cents,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q80_stream_agg_maintain" -> QueryDef(qStreamAggMaintain,
      Some(qStreamAggMaintainSql),
      "streaming additive aggregate maintenance == batch groupBy"),
    "q145_stream_dedup_wm" -> QueryDef(qStreamDedupWm, Some(qStreamDedupWmSql),
      "built-in dropDuplicatesWithinWatermark == batch distinct " +
        "(cross-batch arrival-skew duplicates dropped)"),
    "q151_ivm_join_view" -> QueryDef(qIvmJoinView, Some(qIvmJoinViewSql),
      "incremental join-view maintenance: partial-DECIMAL delta merge " +
        "== full recompute"),
    "q152_stream_ivm" -> QueryDef(qStreamIvm, Some(qIvmJoinViewSql),
      "streaming continuous join-view maintenance == batch q151 " +
        "(versioned partial-DECIMAL state folds)"),
    "q172_stream_complete_agg" -> QueryDef(qStreamCompleteAgg,
      Some(qStreamCompleteAggSql),
      "Complete-output-mode streaming aggregate == batch (closes the " +
        "output-mode matrix)"))
}
