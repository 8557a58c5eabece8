package graft.streaming

import graft.model.{ChangeEvent, FileState}
import graft.state.FileStateFSM
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming form of the CDC pipeline (SURVEY §3.2): decoded
  * change events → per-path keyed FSM → state updates + routed deltas.
  *
  * The reference's poll-loop consumers (`agent/namenode/
  * SourceChangeDeltaProcessor.java:69-110`, 1 s receive timeout) are
  * micro-batch triggers; its ZK watermark + Kafka commit bookkeeping is
  * the checkpoint directory; its global replication lock is replaced by
  * key-partition ownership (`groupByKey(path)`) — each executor owns its
  * paths, so there is nothing to lock at any cluster size.
  *
  * Incremental semantics match batch replay exactly: the state carries
  * `lastTxId`, so late/duplicate events are dropped with the same F3
  * guard the batch fold uses — the convergence property (streaming
  * replay == batch replay) is asserted in StreamingSpec and exposed as
  * query q27 against the same DuckDB oracle as the batch FSM (q26).
  */
object ChangeStreamPipeline {

  /** JSON-lines wire schema of a change event (FIXTURES.md §1, reduced
    * to the flat rebuild model). */
  val eventSchema: StructType = StructType(Seq(
    StructField("txId", LongType),
    StructField("op", StringType),
    StructField("path", StringType),
    StructField("mode", StringType),
    StructField("sizeCents", LongType),
    StructField("ts", LongType),
    StructField("srcPath", StringType),
    StructField("blockId", LongType),
    StructField("startOffset", LongType),
    StructField("endOffset", LongType),
    StructField("prevBlockId", LongType)))

  /** Decode a raw JSON-lines DataFrame (batch or streaming) into typed
    * events; bad lines → null txId → dropped to the error channel. */
  def decode(raw: DataFrame)(implicit spark: SparkSession): Dataset[ChangeEvent] = {
    import spark.implicits._
    raw.select(from_json(col("value"), eventSchema).as("e"))
      .select(
        coalesce(col("e.txId"), lit(-1L)).as("txId"),
        coalesce(col("e.op"), lit("Error")).as("op"),
        coalesce(col("e.path"), lit("")).as("path"),
        coalesce(col("e.mode"), lit("New")).as("mode"),
        coalesce(col("e.sizeCents"), lit(0L)).as("sizeCents"),
        coalesce(col("e.ts"), lit(0L)).as("ts"),
        coalesce(col("e.srcPath"), lit("")).as("srcPath"),
        coalesce(col("e.blockId"), lit(-1L)).as("blockId"),
        coalesce(col("e.startOffset"), lit(-1L)).as("startOffset"),
        coalesce(col("e.endOffset"), lit(-1L)).as("endOffset"),
        coalesce(col("e.prevBlockId"), lit(-1L)).as("prevBlockId"))
      .as[ChangeEvent]
  }

  /** Incremental FSM step: fold this micro-batch's events (txId-ordered)
    * into the carried state, emit the updated state. */
  def fsmStep(path: String, events: Iterator[ChangeEvent],
      state: GroupState[FileState]): Iterator[FileState] = {
    val st0 = state.getOption.getOrElse(FileState(path))
    val st1 = FileStateFSM.fold(st0, events)
    state.update(st1)
    Iterator.single(st1)
  }

  /** Streaming FSM over a typed event stream. The state store is
    * RocksDB: the keyed state is one entry per tracked FILE, and a
    * 100M-file namespace does not fit the default in-heap provider —
    * RocksDB keeps it on executor-local disk with incremental
    * checkpointing, which is the only shape that survives namespace
    * scale (the reference's equivalent store was the ZK tree, which
    * capped out far earlier). */
  def stateStream(events: Dataset[ChangeEvent])(
      implicit spark: SparkSession): Dataset[FileState] = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // checkpoint the RocksDB CHANGELOG per batch instead of uploading a
    // full state snapshot — the difference between O(batch) and
    // O(namespace) per-commit I/O once the state holds many millions of
    // file entries
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    events.groupByKey(_.path)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fsmStep)
  }

  /** JSON-lines files under `inDir` as a streaming `value` column. */
  private def textSource(inDir: String, maxFilesPerTrigger: Option[Int])(
      implicit spark: SparkSession): DataFrame = {
    val reader = spark.readStream.schema(
      StructType(Seq(StructField("value", StringType))))
    maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .text(inDir)
  }

  /** Start the keyed FSM over raw JSON lines: decode → [[stateStream]]
    * → `sink`, update mode, AvailableNow, checkpointed at `checkpoint`. */
  private def startFsm(raw: DataFrame, checkpoint: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row])(
      implicit spark: SparkSession): StreamingQuery =
    sink(stateStream(decode(raw)).toDF().writeStream.outputMode("update"))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Sink appending each micro-batch's updated states as parquet. */
  private def appendParquet(outDir: String)(
      w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.write.mode("append").parquet(outDir)
    }

  /** Wire the full streaming query: JSON-lines event files under
    * `inDir` → FSM → in-memory table `name` (tests/dev) with a
    * checkpoint. Swap the source/sink for Kafka on a cluster with the
    * connector jar (`readStream.format("kafka")...` — identical plan). */
  def start(inDir: String, checkpoint: String, name: String,
      maxFilesPerTrigger: Option[Int] = None)(
      implicit spark: SparkSession): StreamingQuery = {
    startFsm(textSource(inDir, maxFilesPerTrigger), checkpoint)(
      _.format("memory").queryName(name))
  }

  /** Same pipeline with a FILE sink: each micro-batch's updated states
    * are appended as parquet under `outDir` (the last update per key
    * wins on read-back, disambiguated by `lastTxId`). Unlike the
    * `memory` sink, nothing is collected to the driver — this is the
    * cluster-shaped sink and the one the gate/bench query uses. */
  def startFiles(inDir: String, outDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None,
      statePartitions: Option[Int] = None)(
      implicit spark: SparkSession): StreamingQuery = {
    // The stateful shuffle's partition count is frozen into the checkpoint
    // at first start, and each state partition owns a full store instance
    // (a RocksDB under this provider) whose open/commit/checkpoint cost is
    // paid per micro-batch regardless of row count. Size it to the keyspace:
    // a 100M-file namespace wants hundreds of partitions, a 100k-event
    // local replay wants a handful — 32 idle stores would just multiply
    // native-store setup into the measured path. StreamExecution clones the
    // session config at start(), so the temporary override cannot leak into
    // concurrent batch queries once restored.
    graft.GraftSession.withConf(spark, statePartitions.toSeq
        .map(n => "spark.sql.shuffle.partitions" -> n.toString): _*) {
      startFsm(textSource(inDir, maxFilesPerTrigger), checkpoint)(
        appendParquet(outDir))
    }
  }

  /** Streaming exact dedup (the F3 duplicate guard at record level, as
    * its own operator): first arrival of each (user_id, event_type)
    * wins; `withWatermark` + `dropDuplicates` keeps the key state
    * bounded — state for a key is dropped once the watermark passes its
    * event time plus the delay, which is what lets the operator run
    * forever on an unbounded stream. The gate replay uses an
    * effectively-infinite delay so arrival order (file listing order is
    * nondeterministic) cannot re-emit a key whose state expired
    * mid-replay; a production deployment sets the delay to its real
    * out-of-orderness bound and the plan is unchanged. */
  def startDedup(inDir: String, outDir: String, checkpoint: String,
      watermarkDelay: String = "3650 days",
      statePartitions: Option[Int] = None)(
      implicit spark: SparkSession): StreamingQuery = {
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", LongType)))
    graft.GraftSession.withConf(spark, statePartitions.toSeq
        .map(n => "spark.sql.shuffle.partitions" -> n.toString): _*) {
      spark.readStream
        .schema(StructType(Seq(StructField("value", StringType))))
        .text(inDir)
        .select(from_json(col("value"), schema).as("e"))
        .select(col("e.user_id").as("user_id"),
          col("e.event_type").as("event_type"),
          timestamp_millis(col("e.ts")).as("ts"))
        .withWatermark("ts", watermarkDelay)
        // dropDuplicatesWithinWatermark, NOT dropDuplicates(keys): with
        // plain dropDuplicates the state store only evicts entries whose
        // KEY carries the event-time column — keying on (user, type)
        // alone would grow state forever on an unbounded stream. The
        // WithinWatermark variant dedups on the keys and evicts each
        // entry once the watermark passes its event time + delay, which
        // is the bounded-state contract the delay parameter promises.
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
        .writeStream
        .outputMode("append")
        // the TRANSACTIONAL file sink (not foreachBatch + append): its
        // _spark_metadata commit log makes a retried micro-batch
        // invisible to readers, so the emitted set stays exactly-once
        // even when a batch fails after writing part files — which is
        // the contract (streaming == batch DISTINCT) this operator pins
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }

  /** Kafka-shaped sink projection (K1/K2/F8): entity-keyed records so the
    * default partitioner totally orders each entity's events within a
    * partition (ref `agent/pipeline/ChangeDeltaKafkaPartitioner.java:
    * 37-48` — key hash replaces the custom partitioner). `headers`
    * carries id/mode/correlation like the reference's message envelope. */
  def toKafkaRecords(events: DataFrame, namespace: String): DataFrame =
    events.select(
      concat_ws("::", col("domain"), col("entity")).as("key"),
      to_json(struct(events.columns.map(col): _*)).as("value"),
      array(
        struct(lit("graft_message_id").as("key"),
          encode(concat_ws(":", lit(namespace), col("mode"),
            col("txId").cast("string")), "UTF-8").as("value")),
        struct(lit("graft_mode").as("key"),
          encode(col("mode"), "UTF-8").as("value"))).as("headers"))

  /** File-backed "topic" sink used where no Kafka broker exists: same
    * record projection, one directory per topic, partitioned by key hash
    * (pmod(hash(key), n)) to mirror broker partitioning.
    * `maxRecordsPerFile` bounds each output file (O3 parity with the
    * reference's byte-budget batch splitting,
    * `autil/HadoopDataLoader.java:151-168` — record-count is the
    * columnar analog of its byte budget). */
  def writeTopic(records: DataFrame, topicDir: String, partitions: Int,
      maxRecordsPerFile: Long = 0L): Unit =
    records
      .withColumn("partition", pmod(hash(col("key")), lit(partitions)))
      .write.mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("partition")
      .parquet(topicDir)

  // ── Kafka connector path (S5/K1) ──────────────────────────────────────
  // The container these tests run in carries no spark-sql-kafka
  // connector jar and no broker, so these variants are exercised only up
  // to plan construction (KafkaPathSpec pins the exact missing-source
  // error). On a cluster with `--packages org.apache.spark:
  // spark-sql-kafka-0-10_2.13:<spark-version>` the same code runs
  // unchanged: the source replaces the reference's hand-rolled poll loop
  // + ZK offset store (`core/messaging/HCDCKafkaReceiver.java:149-173`,
  // `KafkaStateManager.java:13-100`) with checkpointed offsets, and the
  // sink replaces `HCDCKafkaSender.java:40-90` — entity ordering comes
  // from the record key (K2), not a custom partitioner class.

  /** Streaming FSM over a Kafka topic: same decode → keyed-FSM →
    * file-sink plan as [[startFiles]], with the text source swapped for
    * the Kafka connector. */
  def startKafkaSource(bootstrapServers: String, topic: String,
      outDir: String, checkpoint: String)(
      implicit spark: SparkSession): StreamingQuery = {
    val raw = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("includeHeaders", "true")
      .load()
      .selectExpr("CAST(value AS STRING) AS value")
    startFsm(raw, checkpoint)(appendParquet(outDir))
  }

  /** Kafka sink for the routed event stream: [[toKafkaRecords]]'
    * key/value/headers projection is exactly the connector's contract. */
  def startKafkaSink(events: DataFrame, namespace: String,
      bootstrapServers: String, topic: String, checkpoint: String): StreamingQuery =
    toKafkaRecords(events, namespace)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()
}
