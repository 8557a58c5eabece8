package graft.ops

import graft.{QueryDef, Tables}
import graft.changeset.RangeMerge
import graft.filters.DomainFilters
import graft.filters.DomainFilters.Filter
import graft.model.{ChangeEvent, Mode, Op}
import graft.state.FileStateFSM
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import Tables.load

/** CDC operator battery — the reference's own semantics (SURVEY §2.3,
  * §2.5 A1/A4, §2.6 W4, §2.10) exercised over the driver's test tables.
  * The `events` table stands in for the decoded edit-log stream: event_id
  * is the txId, user_id keys the tracked entity.
  */
object Cdc {

  /** F3 duplicate suppression: first event per (entity, op-type).
    * Deterministic form of `dropDuplicates` — ranked window, rank 1. */
  private def qDedup(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    load(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"), col("ts").as("first_ts"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val qDedupSql =
    """SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
      |FROM (SELECT user_id, event_type, event_id, ts,
      |        ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts, event_id) AS rn
      |      FROM events) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** F4/W4 sequence-gap detection via lag (ref
    * `agent/common/TransactionProcessor.java:147-166`). */
  private def qGaps(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    load(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"))
      .withColumn("gap", col("event_id") - col("prev_event_id"))
      .filter(col("gap") > 60)
      .orderBy(col("user_id"), col("event_id"))
  }

  private val qGapsSql =
    """SELECT user_id, event_id, prev_event_id, gap FROM (
      |  SELECT user_id, event_id,
      |   LAG(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_event_id,
      |   event_id - LAG(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS gap
      |  FROM events) t
      |WHERE gap > 60 ORDER BY user_id, event_id""".stripMargin

  /** A4 transaction high-watermark per stream (ref
    * `agent/common/ZkStateManager.java:164-180`). */
  private def qWatermark(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(max(col("event_id")).as("processed_tx_id"),
        count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts"))
      .orderBy(col("event_type"))

  private val qWatermarkSql =
    """SELECT event_type, max(event_id) AS processed_tx_id,
      | COUNT(*) AS n_events, max(ts) AS last_ts
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** T8 sessionization: Spark's native session_window (30-min gap). */
  private def qSession(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  private val qSessionSql =
    """WITH e AS (
      |  SELECT user_id, ts, value,
      |   CASE WHEN LAG(ts) OVER w IS NULL
      |         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sess AS (
      |  SELECT user_id, ts, value,
      |   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM e)
      |SELECT user_id, min(ts) AS session_start, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** A1 compressed change set: the order-sensitive range-merge fold as a
    * typed Aggregator. Synthetic block deltas are derived
    * deterministically from lineitem (block=orderkey, tx=linenumber;
    * every 7th-mod-3 delta a truncate, 7th-mod-6 a delete) so the
    * truncate/delete paths are actually exercised — a naive
    * min/max-groupBy gives DIFFERENT (wrong) answers here. */
  private def qRangeMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // txId must be unique per block for a deterministic fold; linenumber
    // is not unique in the synthetic data, so rank the full row tuple.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"))
    val deltas = load(s, dir, "lineitem")
      .withColumn("rn", row_number().over(w).cast(LongType))
      .select(
        col("l_orderkey").as("blockId"),
        col("rn").as("txId"),
        ((col("l_partkey") % 50) * 100).as("startOffset"),
        ((col("l_partkey") % 50) * 100 + 100 +
          (floor(col("l_quantity")).cast("int") % 37) * 10).as("endOffset"),
        when(col("rn") % 7 === 3, RangeMerge.DeltaOp.Truncate)
          .when(col("rn") % 7 === 6, RangeMerge.DeltaOp.Delete)
          .otherwise(RangeMerge.DeltaOp.Append).as("op"))
      .as[RangeMerge.Delta]
    deltas.groupByKey(_.blockId)
      .agg(RangeMerge.agg.toColumn)
      .map { case (k, m) =>
        (k, m.startOffset, m.endOffset, m.deleted, m.lastTxId)
      }
      .toDF("block_id", "start_off", "end_off", "deleted", "last_txid")
      .orderBy(col("block_id"))
  }

  private val qRangeMergeSql =
    """WITH ranked AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice)
      |    AS BIGINT) AS rn
      |  FROM lineitem),
      |d AS (
      |  SELECT l_orderkey AS block_id, rn AS txid,
      |         (l_partkey % 50) * 100 AS s,
      |         (l_partkey % 50) * 100 + 100 + (CAST(floor(l_quantity) AS INT) % 37) * 10 AS e,
      |         CASE rn % 7 WHEN 3 THEN 'truncate' WHEN 6 THEN 'delete'
      |              ELSE 'append' END AS op
      |  FROM ranked),
      |fd AS (SELECT block_id, min(CASE WHEN op = 'delete' THEN txid END) AS del_tx
      |       FROM d GROUP BY block_id),
      |cons AS (SELECT d.* FROM d JOIN fd ON d.block_id = fd.block_id
      |         WHERE (fd.del_tx IS NULL OR d.txid < fd.del_tx) AND d.op <> 'delete'),
      |lt AS (SELECT block_id, max(CASE WHEN op = 'truncate' THEN txid END) AS tr_tx
      |       FROM cons GROUP BY block_id),
      |m AS (SELECT c.block_id,
      |        min(c.s) AS start_off,
      |        max(CASE WHEN lt.tr_tx IS NULL OR c.txid >= lt.tr_tx THEN c.e END) AS end_off,
      |        max(c.txid) AS last_cons_tx
      |      FROM cons c JOIN lt ON c.block_id = lt.block_id GROUP BY c.block_id)
      |SELECT fd.block_id,
      |       COALESCE(m.start_off, CAST(-1 AS BIGINT)) AS start_off,
      |       COALESCE(m.end_off, CAST(-1 AS BIGINT)) AS end_off,
      |       fd.del_tx IS NOT NULL AS deleted,
      |       COALESCE(fd.del_tx, m.last_cons_tx) AS last_txid
      |FROM fd LEFT JOIN m ON fd.block_id = m.block_id
      |ORDER BY fd.block_id""".stripMargin

  // d-odd first: with the reference's conditional-slash-strip, src19
  // paths ALSO prefix-match /data/src1 (remainder "9/doc-..."), so this
  // filter must outrank the src1 filters to ever claim a path. src19
  // docs have doc_id % 20 == 19 (always odd), hence the odd-digit regex.
  private val routeFilters = Seq(
    Filter("d-odd", "ODDP", "/data/src19", "doc-\\d*[13579]\\.(parquet|json)$", 1),
    Filter("d-parq", "PARQ", "/data/src1", ".*\\.parquet$", 2),
    Filter("d-parq2", "PARQ2", "/data/src1", ".*\\.parquet$", 3), // shadowed
    Filter("d-json", "JSON1", "/data/src1", ".*\\.json$", 4),
    Filter("d-s2", "S2ALL", "/data/src2", ".*", 5))

  /** Synthetic file path per document (shared by the routing and
    * delta-pointer queries — ONE definition, so their semantics cannot
    * de-sync): every 97th doc gets a `.COPYING` suffix to exercise
    * suppression. */
  private def docPaths(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("/data/"), col("source"), lit("/doc-"),
          col("doc_id").cast("string"),
          when(col("doc_id") % 97 === 0, ".COPYING")
            .when(col("lang") === "en", ".parquet")
            .otherwise(".json")).as("path"))

  /** F1/F2/J3 regex routing, first-match-wins, global ignore regex. */
  private def qFilterRoute(s: SparkSession, dir: String): DataFrame = {
    val docs = docPaths(s, dir)
    DomainFilters.route(docs, routeFilters)
      .select(col("doc_id"), col("path"), col("domain"), col("entity"))
      .orderBy(col("doc_id"))
  }

  /** Remainder after the reference's conditional slash strip, for a
    * filter dir of length `n` (1-indexed SQL substring). */
  private def remSql(n: Int) =
    s"CASE WHEN substring(path, ${n + 1}, 1) = '/' THEN substring(path, ${n + 2}) ELSE substring(path, ${n + 1}) END"

  /** docs+keep CTE pair — the oracle-side twin of [[docPaths]] + the
    * global ignore regex, shared by the q25 and q48 oracles. */
  private val docsKeepCte =
    """docs AS (
      |  SELECT doc_id,
      |    '/data/' || source || '/doc-' || CAST(doc_id AS VARCHAR) ||
      |    CASE WHEN doc_id % 97 = 0 THEN '.COPYING'
      |         WHEN lang = 'en' THEN '.parquet' ELSE '.json' END AS path
      |  FROM documents),
      |keep AS (SELECT * FROM docs WHERE NOT regexp_matches(path,
      |  '(.*)\.(_*)COPYING(_*)|/tmp/(.*)|(.*)\.hive-staging(.*)'))""".stripMargin

  /** First-match entity CASE — oracle-side twin of `routeFilters`. */
  private val entityCaseSql = {
    val rem10 = remSql(10) // '/data/src1', '/data/src2'
    val rem11 = remSql(11) // '/data/src19'
    s"""CASE
       |   WHEN starts_with(path, '/data/src19') AND regexp_matches($rem11, 'doc-\\d*[13579]\\.(parquet|json)$$') THEN 'ODDP'
       |   WHEN starts_with(path, '/data/src1') AND regexp_matches($rem10, '.*\\.parquet$$') THEN 'PARQ'
       |   WHEN starts_with(path, '/data/src1') AND regexp_matches($rem10, '.*\\.json$$') THEN 'JSON1'
       |   WHEN starts_with(path, '/data/src2') AND regexp_matches($rem10, '.*') THEN 'S2ALL'
       |   ELSE 'IgnoreTx' END""".stripMargin
  }

  private val qFilterRouteSql = {
    val rem10 = remSql(10) // '/data/src1', '/data/src2'
    val rem11 = remSql(11) // '/data/src19'
    s"""WITH $docsKeepCte
       |SELECT doc_id, path,
       |  CASE
       |   WHEN starts_with(path, '/data/src19') AND regexp_matches($rem11, 'doc-\\d*[13579]\\.(parquet|json)$$') THEN 'd-odd'
       |   WHEN starts_with(path, '/data/src1') AND regexp_matches($rem10, '.*\\.parquet$$') THEN 'd-parq'
       |   WHEN starts_with(path, '/data/src1') AND regexp_matches($rem10, '.*\\.json$$') THEN 'd-json'
       |   WHEN starts_with(path, '/data/src2') AND regexp_matches($rem10, '.*') THEN 'd-s2'
       |   ELSE '_none' END AS domain,
       |  $entityCaseSql AS entity
       |FROM keep ORDER BY doc_id""".stripMargin
  }

  /** T5 keyed FSM replay: events mapped to file-lifecycle ops
    * (signup→AddFile, click→AppendFile, purchase→CloseFile,
    * error→Error sticky, view→IgnoreTx) and folded per entity by the
    * typed FSM. */
  private def qFsm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = eventOps(s, dir).as[ChangeEvent]
    stateReport(FileStateFSM.replayAll(ev)(s).toDF())
  }

  private val qFsmSql =
    """WITH ops AS (
      |  SELECT user_id, event_id,
      |    CASE event_type WHEN 'signup' THEN 'create' WHEN 'click' THEN 'append'
      |         WHEN 'purchase' THEN 'close' WHEN 'error' THEN 'error' END AS op,
      |    value
      |  FROM events WHERE event_type <> 'view'),
      |err AS (SELECT user_id, min(event_id) AS err_tx FROM ops
      |        WHERE op = 'error' GROUP BY user_id),
      |cons AS (SELECT o.* FROM ops o LEFT JOIN err e ON o.user_id = e.user_id
      |         WHERE e.err_tx IS NULL OR o.event_id <= e.err_tx),
      |agg AS (SELECT user_id,
      |    COUNT(*) AS n_ops,
      |    CAST(SUM(CASE WHEN op = 'append' THEN 1 ELSE 0 END) AS BIGINT) AS n_appends,
      |    CAST(SUM(CASE WHEN op = 'append' THEN CAST(value AS DECIMAL(18,2))
      |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS data_size,
      |    max(event_id) AS last_txid,
      |    arg_max(op, event_id) AS last_op
      |  FROM cons GROUP BY user_id)
      |SELECT user_id AS file_id,
      |  CASE last_op WHEN 'error' THEN 'Error' WHEN 'create' THEN 'New'
      |       WHEN 'append' THEN 'Updating' WHEN 'close' THEN 'Finalized' END AS state,
      |  n_ops, n_appends, data_size, last_txid
      |FROM agg ORDER BY file_id""".stripMargin

  /** Event projection shared by the batch (q26) and streaming (q27) FSM
    * replays. */
  private[graft] def eventOps(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(
        col("event_id").as("txId"),
        when(col("event_type") === "signup", Op.AddFile)
          .when(col("event_type") === "click", Op.AppendFile)
          .when(col("event_type") === "purchase", Op.CloseFile)
          .when(col("event_type") === "error", Op.ErrorTx)
          .otherwise(Op.IgnoreTx).as("op"),
        col("user_id").cast("string").as("path"),
        lit(Mode.New).as("mode"),
        when(col("event_type") === "click",
          (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType))
          .otherwise(0L).as("sizeCents"),
        unix_millis(col("ts")).as("ts"),
        lit("").as("srcPath"), lit(-1L).as("blockId"),
        lit(-1L).as("startOffset"), lit(-1L).as("endOffset"),
        lit(-1L).as("prevBlockId"))

  private[graft] def stateReport(states: DataFrame): DataFrame =
    states
      .filter(col("nOps") > 0)
      .select(col("path").cast(LongType).as("file_id"), col("state"),
        col("nOps").as("n_ops"), col("nAppends").as("n_appends"),
        (col("dataSizeCents") / lit(100.0)).as("data_size"),
        col("lastTxId").as("last_txid"))
      .orderBy(col("file_id"))

  /** q27: the SAME replay through Structured Streaming (file source →
    * flatMapGroupsWithState → parquet file sink via foreachBatch),
    * checked against the SAME DuckDB oracle as q26 — streaming == batch
    * == oracle. The sink is append-parquet with last-update-wins
    * read-back: no `coalesce(1)`, no memory sink, nothing collected to
    * the driver inside the measured path. */
  private def qFsmStream(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_").toString
    eventOps(s, dir)
      .select(to_json(struct(col("*"))).as("value"))
      // 8 input files, matching the state partition count — the default
      // 32-way layout quadruples source listing/open cost for a replay
      // whose wall-clock is all per-file and per-store fixed overhead
      .coalesce(8)
      .write.mode("overwrite").text(s"$tmp/in")
    // Checkpoint-file checksums (corruption detection on a remote
    // checkpoint FS) double the small-file count of every commit; on a
    // single-node replay against local disk they are pure overhead, so
    // the lifecycle query turns them off. Cluster deployments keep the
    // Spark default.
    val q = graft.GraftSession.withConf(spark,
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") {
      graft.streaming.ChangeStreamPipeline
        .startFiles(s"$tmp/in", s"$tmp/out", s"$tmp/chk",
          statePartitions = Some(8)) // ~100k events / 150 keys at gate scale
    }
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("path")).orderBy(col("lastTxId").desc, col("nOps").desc)
    stateReport(
      s.read.parquet(s"$tmp/out").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn"))
  }

  /** q86: the q26 replay through the reference's PROTOBUF WIRE — events
    * are serialized to real `DFSChangeDelta` envelopes
    * ([[graft.streaming.ChangeDeltaCodec]], field numbers from
    * `common/src/main/proto/data_block.proto`), persisted as a
    * file-backed topic, decoded back with the type-dispatch of
    * `core/messaging/ChangeDeltaSerDe.java:259-288`, and folded through
    * the same FSM. Same DuckDB oracle as q26/q27/q28: JSON wire ==
    * protobuf wire == batch == oracle. Size-bearing appends ride as
    * `DFSUpdateBlocks` (deltaSize) because `DFSAppendFile` carries no
    * size on the real wire — the FSM folds both identically.
    */
  private def qProtoWire(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    val evs = eventOps(s, dir).as[ChangeEvent]
      .map(e => if (e.op == Op.AppendFile) e.copy(op = Op.UpdateBlocks) else e)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_proto_").toString
    // write/read the topic so decode runs against persisted bytes, not a
    // fused in-memory plan (the same reason q27 spools through files)
    graft.streaming.ChangeDeltaCodec.encodeRecords(evs, "graft")
      .write.mode("overwrite").parquet(tmp)
    val decoded = graft.streaming.ChangeDeltaCodec
      .decodeRecords(s.read.parquet(tmp))
    stateReport(FileStateFSM.replayAll(decoded).toDF())
  }

  /** q28: snapshot/backlog/live bootstrap (T4). The event log is split
    * at 40%/70% of the tx range: everything before t1 is folded into a
    * bootstrap state table (the FSImage/snapshot load), (t1, t2] is
    * replayed as Backlog, the rest as live New events on top via
    * cogroup. Checked against the SAME full-replay oracle as q26/q27:
    * bootstrap-then-replay must converge to replay-from-scratch. */
  private def qBootstrap(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    val all = eventOps(s, dir).as[ChangeEvent]
    val maxId = all.agg(max(col("txId"))).as[Long].head() // metadata scalar
    val t1 = (maxId * 0.4).toLong
    val t2 = (maxId * 0.7).toLong
    val bootstrap = FileStateFSM.replayAll(all.filter(_.txId <= t1))
    val backlog = all.filter(e => e.txId > t1 && e.txId <= t2)
      .map(_.copy(mode = Mode.Backlog))
    val live = all.filter(_.txId > t2)
    stateReport(
      FileStateFSM.replayWithInit(bootstrap, backlog.union(live)).toDF())
  }

  /** q44: replica-state reconciliation (J2) + the snapshot-done →
    * Backlog decision. A snapshot is cut at 40% of the tx range (the
    * same split q28 uses); replica rows register each snapshot'd file
    * with `lastReplicatedTx` = snapshot head; the live head comes from
    * full replay. Output: per-file replication lag and whether the
    * handshake synthesizes a Backlog CloseFile (file advanced past its
    * snapshot — ref `HDFSSnapshotProcessor.java:234-286`). */
  private def qReplicaLag(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    val all = eventOps(s, dir).as[ChangeEvent]
    val maxId = all.agg(max(col("txId"))).as[Long].head() // metadata scalar
    val t1 = (maxId * 0.4).toLong
    // one keyed pass folds BOTH the snapshot-prefix and live states —
    // one shuffle total instead of two replays plus a reconcile join
    graft.state.ReplicaTracker.reconcileFromEvents(all, t1, _.path.toLong)
      .select(col("inode").as("file_id"), col("snapshot_txid"),
        col("last_replicated_tx"), col("last_txid"), col("lag"),
        col("backlog"))
      .orderBy(col("file_id"))
  }

  private val qReplicaLagSql =
    """WITH ops AS (
      |  SELECT user_id, event_id,
      |    CASE event_type WHEN 'signup' THEN 'create' WHEN 'click' THEN 'append'
      |         WHEN 'purchase' THEN 'close' WHEN 'error' THEN 'error' END AS op
      |  FROM events WHERE event_type <> 'view'),
      |t AS (SELECT CAST(floor(max(event_id) * 0.4) AS BIGINT) AS t1 FROM events),
      |err AS (SELECT user_id, min(event_id) AS err_tx FROM ops
      |        WHERE op = 'error' GROUP BY user_id),
      |cons AS (SELECT o.* FROM ops o LEFT JOIN err e ON o.user_id = e.user_id
      |         WHERE e.err_tx IS NULL OR o.event_id <= e.err_tx),
      |head AS (SELECT user_id, max(event_id) AS last_txid FROM cons GROUP BY user_id),
      |errs AS (SELECT o.user_id, min(o.event_id) AS err_tx FROM ops o, t
      |         WHERE o.op = 'error' AND o.event_id <= t.t1 GROUP BY o.user_id),
      |conss AS (SELECT o.* FROM ops o CROSS JOIN t
      |          LEFT JOIN errs e ON o.user_id = e.user_id
      |          WHERE o.event_id <= t.t1
      |            AND (e.err_tx IS NULL OR o.event_id <= e.err_tx)),
      |snap AS (SELECT user_id, max(event_id) AS snap_txid FROM conss GROUP BY user_id)
      |SELECT h.user_id AS file_id, s.snap_txid AS snapshot_txid,
      |       s.snap_txid AS last_replicated_tx, h.last_txid,
      |       h.last_txid - s.snap_txid AS lag,
      |       h.last_txid > s.snap_txid AS backlog
      |FROM head h JOIN snap s ON h.user_id = s.user_id
      |ORDER BY file_id""".stripMargin

  /** q48: the K7 delta-upload + pointer flow as a hash-gated query
    * (ref `agent/common/CDCDataConverter.java:117-129` upload +
    * `agent/pipeline/FileTransactionProcessor.java:526-555` pointer
    * emit). Routed documents are physically written as one Avro delta
    * per entity, READ BACK from disk, and summarized into the pointer
    * table (entity, file count, id checksum) — the oracle recomputes
    * the same summary straight from the routing semantics, so a bug
    * anywhere in route → convert → upload → read-back flips the hash.
    * The per-entity loop is driver-side metadata (the filter registry,
    * ≤ a handful of rows), never a data loop. */
  private def qDeltaPointer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // checkpoint: the routed set feeds the distinct, every per-entity
    // write, and nothing else — recomputing the route per consumer
    // would rescan the source once per entity
    val routed = DomainFilters.route(docPaths(s, dir), routeFilters)
      .filter(col("entity") =!= "IgnoreTx")
      // cluster by entity before materializing: each per-entity delta
      // write then scans one entity-sized partition instead of every
      // partition of the routed set (the writes below are per-entity
      // filters over this set; the registry bounds the entity count)
      .repartition(routeFilters.map(_.entity).distinct.size, col("entity"))
      .transform(graft.util.Pin.apply)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_delta_").toString
    // bounded collect: the registered-entity alphabet (registry-sized)
    val entities = routed.select(col("entity")).distinct()
      .as[String].collect().sorted
    if (entities.isEmpty) // nothing routed: empty pointer table, not a crash
      return Seq.empty[(String, Long, Long)]
        .toDF("entity", "n_docs", "sum_doc_id")
    val avro = graft.convert.Formats.byName("avro")
    entities.foreach { e =>
      avro.write(routed.filter(col("entity") === e)
        .select(col("doc_id"), col("path")), s"$tmp/$e")
    }
    // the pointer table is built from what actually landed on disk;
    // the per-entity summary is a handful of scalars, so it is read
    // eagerly and the delta staging area cleaned up before returning
    val rows = entities.map { e =>
      val r = avro.read(s, s"$tmp/$e")
        .agg(count(lit(1)), sum(col("doc_id"))).head()
      (e, r.getLong(0), r.getLong(1))
    }.toSeq
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(tmp), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    rows.toDF("entity", "n_docs", "sum_doc_id")
      .select(col("entity"), col("n_docs"),
        col("sum_doc_id").cast(LongType).as("sum_doc_id"))
      .orderBy(col("entity"))
  }

  private val qDeltaPointerSql =
    s"""WITH $docsKeepCte,
       |routed AS (
       |  SELECT doc_id, $entityCaseSql AS entity FROM keep)
       |SELECT entity, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
       |FROM routed WHERE entity <> 'IgnoreTx'
       |GROUP BY entity ORDER BY entity""".stripMargin

  /** q63: streaming watermarked dedup as a gate query — events become
    * JSON lines on disk, replayed through `withWatermark` +
    * `dropDuplicates` (AvailableNow, parquet file sink), and the
    * re-read emitted set is summarized per event type. The oracle is
    * the batch restatement (DISTINCT over the same keys): streaming
    * dedup == batch distinct, the same convergence contract q27 pins
    * for the FSM. */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    // the summary is computed from the sink INSIDE the scratch scope
    // (which deletes the staged event log + sink + checkpoint even on
    // failure) and persisted into GateOut by one distributed write —
    // the gate returns a lazy reader, never driver rows
    val result = graft.streaming.StreamScratch.withScratch("graft_sdedup_") { tmp =>
      load(s, dir, "events")
        .select(to_json(struct(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts"))).as("value"))
        .coalesce(8)
        .write.mode("overwrite").text(s"$tmp/in")
      val q = graft.streaming.ChangeStreamPipeline.startDedup(
        s"$tmp/in", s"$tmp/out", s"$tmp/chk", statePartitions = Some(8))
      q.awaitTermination()
      graft.streaming.GateOut.persist(
        s.read.parquet(s"$tmp/out")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_keys"), sum(col("user_id")).as("checksum")))
    }
    result.orderBy(col("event_type"))
  }

  private val qStreamDedupSql =
    """SELECT event_type, COUNT(*) AS n_keys,
      | CAST(SUM(user_id) AS BIGINT) AS checksum
      |FROM (SELECT DISTINCT user_id, event_type FROM events) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q82: ordered conversion FUNNEL — view → click → purchase, each
    * stage strictly AFTER the previous one for the same user (the
    * sequence constraint is what separates a funnel from three counts).
    * Three conditional aggregations keyed on user_id: the first shuffle
    * establishes the per-user partitioning and the following joins +
    * aggs reuse that key, so at scale this is one real shuffle plus
    * co-partitioned passes — never a per-user sort or collect. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
    val u1 = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("v"))
    val u2 = e.join(u1, "user_id")
      .groupBy(col("user_id"))
      .agg(first(col("v")).as("v"),
        min(when(col("event_type") === "click" && col("ts") > col("v"),
          col("ts"))).as("c"))
    val u3 = e.join(u2, "user_id")
      .groupBy(col("user_id"))
      .agg(first(col("v")).as("v"), first(col("c")).as("c"),
        min(when(col("event_type") === "purchase" && col("ts") > col("c"),
          col("ts"))).as("p"))
    u3.agg(
      count(lit(1)).as("n_users"),
      count(col("v")).as("n_viewed"),
      count(col("c")).as("n_clicked_after_view"),
      count(col("p")).as("n_full_funnel"),
      sum(when(col("p").isNotNull, col("user_id")).otherwise(0L))
        .as("converted_checksum"))
  }

  private val qFunnelSql =
    """WITH u1 AS (
      |  SELECT user_id,
      |   min(CASE WHEN event_type = 'view' THEN ts END) AS v
      |  FROM events GROUP BY user_id),
      |u2 AS (
      |  SELECT e.user_id, u1.v,
      |   min(CASE WHEN e.event_type = 'click' AND e.ts > u1.v
      |            THEN e.ts END) AS c
      |  FROM events e JOIN u1 USING (user_id) GROUP BY e.user_id, u1.v),
      |u3 AS (
      |  SELECT e.user_id, u2.v, u2.c,
      |   min(CASE WHEN e.event_type = 'purchase' AND e.ts > u2.c
      |            THEN e.ts END) AS p
      |  FROM events e JOIN u2 USING (user_id)
      |  GROUP BY e.user_id, u2.v, u2.c)
      |SELECT COUNT(*) AS n_users,
      | COUNT(v) AS n_viewed,
      | COUNT(c) AS n_clicked_after_view,
      | COUNT(p) AS n_full_funnel,
      | CAST(SUM(CASE WHEN p IS NOT NULL THEN user_id ELSE 0 END) AS BIGINT)
      |   AS converted_checksum
      |FROM u3""".stripMargin

  /** q83: retention COHORTS — users grouped by first-activity week,
    * crossed with the weeks they were active (the classic retention
    * triangle). Two aggregations and one equi-join, all keyed on
    * user_id / week — the shape survives any user count. */
  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
    val cohorts = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = e.select(col("user_id"),
        date_trunc("week", col("ts")).as("active_week"))
      .distinct()
    cohorts.join(active, "user_id")
      .groupBy(col("cohort_week"), col("active_week"))
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("checksum"))
      .orderBy(col("cohort_week"), col("active_week"))
  }

  private val qRetentionSql =
    """WITH f AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      |  FROM events)
      |SELECT f.cohort_week, a.active_week, COUNT(*) AS n_users,
      | CAST(SUM(f.user_id) AS BIGINT) AS checksum
      |FROM f JOIN a USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, active_week""".stripMargin

  /** q84: event-transition matrix — per-user event streams turned into
    * (from, to) bigram counts via a lead window (the Markov-chain /
    * path-analysis view of a clickstream). One shuffle on user_id; the
    * within-user sort is bounded by a single user's event count. */
  private def qTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    load(s, dir, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val qTransitionsSql =
    """SELECT event_type AS from_type, next_type AS to_type,
      | COUNT(*) AS n_transitions,
      | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM (
      |  SELECT user_id, event_type,
      |   lead(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS next_type
      |  FROM events) t
      |WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  /** q85: event-rate ANOMALY detection — hourly counts per event type
    * z-scored against that type's own hourly distribution; hours with
    * |z| ≥ 2 are flagged. Both moments accumulate in exact DECIMAL
    * (counts are integers, squares are integers), so mean and variance
    * agree bit-for-bit across engines before the one sqrt/divide —
    * the q69/q70 determinism recipe applied to monitoring. Shape: one
    * narrow agg to hourly counts, one tiny per-type agg over
    * (#types × #hours) rows, broadcast back. */
  private def qRateAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = load(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("n").cast(DecimalType(38, 0))).as("s1"),
        // cast ONE factor to decimal BEFORE multiplying (the q70 recipe):
        // long*long would wrap silently past ~3e9 hourly events, and the
        // wrapped product cast to decimal looks plausible downstream
        sum(col("n").cast(DecimalType(38, 0)) * col("n")).as("s2"))
      .withColumn("mean", col("s1").cast(DoubleType) / col("n_hours"))
      .withColumn("variance",
        (col("s2").cast(DoubleType)
          - col("s1").cast(DoubleType) * col("s1").cast(DoubleType)
            / col("n_hours")) / col("n_hours"))
      .select(col("event_type"), col("mean"), col("variance"))
    hourly.join(broadcast(stats), "event_type")
      .withColumn("z", (col("n").cast(DoubleType) - col("mean"))
        / sqrt(col("variance")))
      // variance > 0 keeps a degenerate all-equal series from emitting
      // ±Inf z-scores (deterministic but meaningless)
      .filter(col("variance") > 0.0 && abs(col("z")) >= 2.0)
      .select(col("event_type"), col("hour"), col("n"), col("z"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Shared with q112 (the streaming maintenance twin in CorpusOps). */
  private[ops] val qRateAnomalySql =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type,
      |   CAST(SUM(CAST(n AS HUGEINT)) AS DOUBLE) / COUNT(*) AS mean,
      |   (CAST(SUM(CAST(n AS HUGEINT) * n) AS DOUBLE)
      |     - CAST(SUM(CAST(n AS HUGEINT)) AS DOUBLE)
      |       * CAST(SUM(CAST(n AS HUGEINT)) AS DOUBLE) / COUNT(*))
      |     / COUNT(*) AS variance
      |  FROM hourly GROUP BY event_type)
      |SELECT h.event_type, h.hour, h.n,
      | (CAST(h.n AS DOUBLE) - s.mean) / sqrt(s.variance) AS z
      |FROM hourly h JOIN stats s USING (event_type)
      |WHERE s.variance > 0.0
      |  AND abs((CAST(h.n AS DOUBLE) - s.mean) / sqrt(s.variance)) >= 2.0
      |ORDER BY event_type, hour""".stripMargin

  /** q141: MULTI-TOUCH ATTRIBUTION — every touchpoint (view/click/
    * signup) attributes to the user's NEAREST FOLLOWING purchase within
    * a [[AttrLookbackUs]] lookback; per conversion the first touch, the
    * last touch, and linear (1/n, integer ppm) credit roll up by touch
    * type. The marketing-warehouse staple on top of a CDC event feed,
    * and the missing ORDERED complement of q82's funnel counts.
    *
    * The "nearest following purchase" is one descending-order window
    * per user (`last(..., ignoreNulls)` over ts DESC unbounded→current
    * picks the closest later purchase) — so attribution is a single
    * user_id shuffle, and the per-conversion and per-type rollups reuse
    * that partitioning. No self-join of events against events: at 100
    * TB the window formulation touches each event once, where the
    * naive touch⋈purchase interval join is quadratic in per-user
    * activity. Credit is integer ppm (1e6 div n) so the gate never
    * hashes a float. */
  private val AttrLookbackUs = 7L * 86400L * 1000000L

  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val touched = e
      .withColumn("conv_id",
        last(when(col("event_type") === "purchase", col("event_id")), true)
          .over(wDesc))
      .withColumn("conv_us",
        last(when(col("event_type") === "purchase", col("us")), true)
          .over(wDesc))
      .filter(col("event_type").isin("view", "click", "signup") &&
        col("conv_id").isNotNull &&
        col("conv_us") - col("us") <= AttrLookbackUs)
    val wAsc = Window.partitionBy(col("conv_id"))
      .orderBy(col("us"), col("event_id"))
    val wDsc = Window.partitionBy(col("conv_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    val perConv = touched
      .withColumn("n_touches", count(lit(1)).over(
        Window.partitionBy(col("conv_id"))))
      .withColumn("rnk_first", row_number().over(wAsc))
      .withColumn("rnk_last", row_number().over(wDsc))
    perConv.groupBy(col("event_type").as("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("rnk_first") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("rnk_last") === 1, 1L).otherwise(0L)).as("n_last"),
        sum(expr("1000000 div n_touches")).as("linear_ppm"))
      .orderBy(col("touch_type"))
  }

  private val qAttributionSql =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |t AS (SELECT *,
       |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END
       |      IGNORE NULLS) OVER w AS conv_id,
       |    last_value(CASE WHEN event_type = 'purchase' THEN us END
       |      IGNORE NULLS) OVER w AS conv_us
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us DESC, event_id DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |tt AS (SELECT * FROM t
       |  WHERE event_type IN ('view', 'click', 'signup')
       |    AND conv_id IS NOT NULL AND conv_us - us <= $AttrLookbackUs),
       |pc AS (SELECT *,
       |    COUNT(*) OVER (PARTITION BY conv_id) AS n_touches,
       |    ROW_NUMBER() OVER (PARTITION BY conv_id
       |      ORDER BY us, event_id) AS rnk_first,
       |    ROW_NUMBER() OVER (PARTITION BY conv_id
       |      ORDER BY us DESC, event_id DESC) AS rnk_last
       |  FROM tt)
       |SELECT event_type AS touch_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_touches,
       |  CAST(SUM(CASE WHEN rnk_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_first,
       |  CAST(SUM(CASE WHEN rnk_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_last,
       |  CAST(SUM(1000000 // n_touches) AS BIGINT) AS linear_ppm
       |FROM pc GROUP BY event_type ORDER BY touch_type""".stripMargin

  /** q142: TIME-DECAYED ENGAGEMENT SCORES — the feature-store
    * "recency-weighted activity" feature: each event's value decays by
    * half per [[DecayHalfLifeDays]] since the corpus watermark, summed
    * per user. Exactness device: the decay factor is a DYADIC rational
    * (weight = 1e6 >> e for integer e = age_days div half_life), the
    * value is micro-quantized (floor(v·1e6+0.5), bit-identical in
    * both engines), and the sum runs in DECIMAL(38,0)/HUGEINT — so a
    * recency-weighted double sum, normally un-gateable under shuffle
    * reordering, hashes exactly.
    *
    * Scale shape: the watermark is a 1-row broadcast; the score is one
    * map-side-partial hash aggregate on user_id. */
  private val DecayHalfLifeDays = 7L

  private def qDecayScore(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
    val ref = e.agg(max(col("us")).as("ref_us"))
    e.crossJoin(broadcast(ref))
      .withColumn("eexp", expr(
        s"least((ref_us - us) div ${86400000000L} div $DecayHalfLifeDays, 62L)"))
      .withColumn("v_u", expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"))
      .withColumn("w_ppm", expr("shiftright(CAST(1000000 AS BIGINT), CAST(eexp AS INT))"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(sum(CAST(v_u AS DECIMAL(38,0)) * w_ppm) div 1000000 AS BIGINT)")
          .as("score_micro"))
      .orderBy(col("user_id"))
  }

  private val qDecayScoreSql =
    s"""WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
       |r AS (SELECT MAX(us) AS ref_us FROM e),
       |w AS (SELECT user_id,
       |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_u,
       |    (CAST(1000000 AS BIGINT) >> LEAST(
       |      (r.ref_us - us) // ${86400000000L} // $DecayHalfLifeDays, 62))
       |      AS w_ppm
       |  FROM e CROSS JOIN r)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CAST(v_u AS HUGEINT) * w_ppm) // 1000000 AS BIGINT)
       |    AS score_micro
       |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q85_rate_anomaly" -> QueryDef(qRateAnomaly, Some(qRateAnomalySql),
      "hourly event-rate z-score anomalies (exact-decimal moments)"),
    "q84_event_transitions" -> QueryDef(qTransitions, Some(qTransitionsSql),
      "per-user event bigram counts via lead window (path analysis)"),
    "q141_attribution" -> QueryDef(qAttribution, Some(qAttributionSql),
      "multi-touch attribution: first/last/linear credit via one " +
        "descending window, no interval self-join"),
    "q142_decay_score" -> QueryDef(qDecayScore, Some(qDecayScoreSql),
      "time-decayed engagement features: dyadic half-life weights, " +
        "integer-exact micro sums"),
    "q82_event_funnel" -> QueryDef(qFunnel, Some(qFunnelSql),
      "ordered conversion funnel (strictly-after sequencing per user)"),
    "q83_retention_cohorts" -> QueryDef(qRetention, Some(qRetentionSql),
      "retention triangle: first-activity cohorts x active weeks"),
    "q20_cdc_dedup_first" -> QueryDef(qDedup, Some(qDedupSql),
      "F3 duplicate suppression (first per key)"),
    "q21_cdc_gap_detect" -> QueryDef(qGaps, Some(qGapsSql),
      "F4/W4 tx sequence gap detection via lag"),
    "q22_cdc_watermark" -> QueryDef(qWatermark, Some(qWatermarkSql),
      "A4 tx high-watermark per stream"),
    "q23_cdc_sessionize" -> QueryDef(qSession, Some(qSessionSql),
      "T8 session_window 30-min gap"),
    "q24_cdc_range_merge" -> QueryDef(qRangeMerge, Some(qRangeMergeSql),
      "A1 compressed change set (typed Aggregator, truncate/delete aware)"),
    "q25_cdc_filter_route" -> QueryDef(qFilterRoute, Some(qFilterRouteSql),
      "F1/F2/J3 regex domain routing, first-match-wins + ignore regex"),
    "q26_cdc_fsm_replay" -> QueryDef(qFsm, Some(qFsmSql),
      "T5 keyed file-lifecycle FSM replay (mapGroups)"),
    "q27_cdc_stream_fsm" -> QueryDef(qFsmStream, Some(qFsmSql),
      "T5/T6 streaming FSM replay (flatMapGroupsWithState) == batch == oracle"),
    "q28_cdc_bootstrap" -> QueryDef(qBootstrap, Some(qFsmSql),
      "T4 snapshot/backlog/live bootstrap converges to full replay"),
    "q86_cdc_proto_wire" -> QueryDef(qProtoWire, Some(qFsmSql),
      "F8/F9 DFSChangeDelta protobuf wire round-trip == batch == oracle"),
    "q44_cdc_replica_lag" -> QueryDef(qReplicaLag, Some(qReplicaLagSql),
      "J2 replica-state table: replication lag + snapshot-done Backlog decision"),
    "q48_cdc_delta_pointer" -> QueryDef(qDeltaPointer, Some(qDeltaPointerSql),
      "K7 delta upload + pointer: route -> avro delta per entity -> read-back summary"),
    "q63_stream_dedup" -> QueryDef(qStreamDedup, Some(qStreamDedupSql),
      "T6/F3 watermarked streaming dropDuplicates == batch distinct"))
}
