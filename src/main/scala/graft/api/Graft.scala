package graft.api

import graft.filters.DomainFilters
import graft.filters.DomainFilters.Filter
import graft.model.{ChangeEvent, FileState, Mode, Op, ReplicaState}
import graft.state.{FileStateFSM, RenameExpander, ReplicaTracker}
import graft.streaming.ChangeStreamPipeline
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.StreamingQuery

/** Thin management facade — the Spark-native replacement for the
  * reference's CLI runners + Spring REST surface (SURVEY §2.12:
  * filter add/remove, snapshot run/status, edits-log processing;
  * `svc/namenode/SnapshotService.java:26-177`,
  * `svc/namenode/EditsLogReaderService.java:21-75`, and the runner
  * mains under `agent/namenode/main/`). Each reference endpoint was a
  * thin wrapper over exactly these operations; [[GraftRest]] serves
  * the same routes over HTTP on the JDK's built-in server.
  *
  * Instances are driver-side session objects; all heavy lifting stays in
  * Spark jobs. The state table is a plain parquet directory — queryable
  * with any Spark/DuckDB reader (the reference's ZK tree doubled as a
  * query surface; a columnar table is the scalable form of that).
  */
final class Graft(val spark: SparkSession, stateDir: String) {
  implicit private val s: SparkSession = spark
  import spark.implicits._

  @volatile private var registered: Vector[Filter] = Vector.empty

  // ── filter registry (DomainManager parity) ────────────────────────────
  def addFilter(f: Filter): Unit = synchronized {
    registered = (registered :+ f).sortBy(_.priority)
  }
  def removeFilter(domain: String, entity: String): Unit = synchronized {
    registered = registered.filterNot(f =>
      f.domain == domain && f.entity == entity)
  }
  def filters: Seq[Filter] = registered

  /** Route a path-carrying DataFrame through the registered filters. */
  def route(events: DataFrame): DataFrame =
    DomainFilters.route(events, registered)

  // ── replay / state ───────────────────────────────────────────────────
  // State persistence protocol (K6 at scale): the table is a sequence of
  // versioned parquet dirs `files_v<N>`. v-dirs become visible only via
  // their job-commit `_SUCCESS` marker, and readers always select the
  // highest COMPLETE version set — so a crash mid-write leaves a
  // markerless dir that readers skip, and no write ever overwrites a dir
  // a reader may be scanning (the former `mode("overwrite")` of the very
  // dir being read was timing-dependent data loss). Incremental batches
  // persist ONLY the touched paths as a delta version (the reference
  // updates per-znode, `agent/common/FileStateHelper.java:231-274`; a
  // full-table rewrite per micro-batch dies at a 100M-file namespace);
  // readers merge base+deltas with last-version-wins per path, and
  // [[compact]] folds them back into one base (auto after
  // [[Graft.AutoCompactAfter]] deltas).

  /** Batch replay (rename fan-out applied first); persisted as a new
    * full base version. */
  def replay(events: Dataset[ChangeEvent]): Dataset[FileState] = {
    val st = FileStateFSM.replayAll(RenameExpander.expandFileRenames(events))
    persist(st)
    st
  }

  /** Incremental replay: fold this batch's events into the state of the
    * TOUCHED paths only, and persist only those as a delta version. */
  def replayIncrement(events: Dataset[ChangeEvent]): Dataset[FileState] = {
    val ev = RenameExpander.expandFileRenames(events)
    val touched = ev.toDF().select(col("path")).distinct()
    val base = files.table(only = Some(touched)).as[FileState]
    val updated = FileStateFSM.replayWithInit(base, ev)
    persist(updated)
    if (versions().size > Graft.AutoCompactAfter) compact()
    stateTable
  }

  /** Columns added to FileState after a store was written read back as
    * nulls under the pinned model schema and get defaults here, so a
    * persisted store survives model evolution (`blocks`/`chainKnown`/
    * `nAppends` did not exist in early versions). `blocks` defaults to
    * the empty chain with `chainKnown = false` — the fsimage bootstrap's
    * "chain not loaded" form, which the FSM folds onto.
    * NOTE: streaming-FSM checkpoints do NOT get this treatment — a
    * state-schema change requires a fresh checkpoint (bootstrap from
    * the state table, then resume the stream). */
  private val fileDefaults = Seq(
    "blocks" -> array().cast(
      "array<struct<blockId:bigint,prevBlockId:bigint,numBytes:bigint,lastTxId:bigint>>"),
    "chainKnown" -> lit(false), // unknown provenance → chain unknown
    "nAppends" -> lit(0L))

  /** Merged view: base + deltas, newest version wins per path. */
  def stateTable: Dataset[FileState] = files.table().as[FileState]

  /** Fold all versions into a single new base and prune the old ones. */
  def compact(): Unit = files.compact()

  /** Committed state versions, ascending (dirs with a `_SUCCESS`
    * marker; an uncommitted/crashed write is invisible). */
  def versions(): Seq[Long] = files.versions()

  private def persist(st: Dataset[FileState]): Unit = files.write(st.toDF())

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    java.net.URI.create(stateDir), spark.sparkContext.hadoopConfiguration)
  private def hpath(rel: String) =
    new org.apache.hadoop.fs.Path(if (rel.isEmpty) stateDir else s"$stateDir/$rel")

  /** One versioned table under `stateDir` (the state table and the
    * replica registry share the protocol above): `<prefix>_v<N>` dirs,
    * committed by their `_SUCCESS` marker, read under the model
    * `schema` with `defaults` filling columns older versions lack, and
    * merged with the newest version winning per path. */
  private final class Versioned(prefix: String, schema: => StructType,
      defaults: Seq[(String, Column)], missing: String) {
    private val re = (java.util.regex.Pattern.quote(prefix) + """_v(\d+)""").r
    // a row's version is its file's parent dir — anchored at the end so
    // a `stateDir` that itself contains `<prefix>_v<N>/` cannot match
    private val fileVersion =
      "/" + java.util.regex.Pattern.quote(prefix) + """_v(\d+)/[^/]+$"""
    private lazy val modelSchema = schema
    private def dir(v: Long) = s"${prefix}_v$v"

    /** Every version dir on disk, committed or not — the next write must
      * never reuse a crashed writer's dir. */
    def allDirs(): Seq[Long] =
      if (!fs.exists(hpath(""))) Seq.empty
      else fs.listStatus(hpath("")).toSeq.map(_.getPath.getName)
        .collect { case re(v) => v.toLong }

    def versions(): Seq[Long] =
      allDirs().filter(v => fs.exists(hpath(s"${dir(v)}/_SUCCESS"))).sorted

    def write(df: DataFrame,
        v: Long = allDirs().maxOption.getOrElse(-1L) + 1): Unit =
      df.write.mode("errorifexists").parquet(s"$stateDir/${dir(v)}")

    def delete(vs: Seq[Long]): Unit = vs.foreach(v => fs.delete(hpath(dir(v)), true))

    /** The merged view: every committed version in ONE scan under the
      * model schema, so building it launches no schema-inference job.
      * `only` keeps just those paths, applied below the newest-wins
      * window so only they are windowed. */
    def table(only: Option[DataFrame] = None): DataFrame = {
      val vs = versions()
      require(vs.nonEmpty, missing)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("path")).orderBy(col("__v").desc)
      val scan = spark.read.schema(modelSchema)
        .parquet(vs.map(v => s"$stateDir/${dir(v)}"): _*)
        .withColumn("__v",
          regexp_extract(col("_metadata.file_path"), fileVersion, 1).cast("long"))
      val merged = only.fold(scan)(scan.join(_, Seq("path"), "left_semi"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__v", "__rn")
      defaults.foldLeft(merged) { case (acc, (name, default)) =>
        acc.withColumn(name, coalesce(col(name), default))
      }
    }

    def compact(): Unit = {
      val vs = versions()
      write(graft.util.Pin(table()))
      delete(vs)
    }

    // Memoized merged view keyed by the committed-version list: lookups
    // filter a PINNED materialization instead of re-reading and
    // re-windowing every version per call; any new committed version
    // (delta write, compaction) invalidates by key.
    @volatile private var cache: Option[(Seq[Long], DataFrame)] = None

    def cached(): DataFrame = synchronized {
      val vs = versions()
      cache match {
        case Some((`vs`, df)) => df
        case _ =>
          val pinned = graft.util.Pin(table())
          cache = Some((vs, pinned))
          pinned
      }
    }
  }

  private val files = new Versioned("files",
    Encoders.product[FileState].schema, fileDefaults,
    s"no state versions under $stateDir")
  private val replicas = new Versioned("replicas",
    Encoders.product[ReplicaState].schema, Nil,
    s"no replica registry under $stateDir — POST /admin/snapshot/start first")

  // ── snapshot (HDFSSnapshotProcessor parity) ──────────────────────────
  /** Emit synthetic Snapshot-mode CloseFile events for every live file
    * in the state table matching the registered filters (ref
    * `agent/namenode/HDFSSnapshotProcessor.java:83-233`: bootstrap
    * downstream consumers from current state). */
  def snapshot(asOfTxId: Long): Dataset[ChangeEvent] = {
    val matched = route(stateTable.toDF())
      .filter(col("entity") =!= "IgnoreTx" &&
        col("state") =!= graft.model.FileLifecycle.Deleted)
    matched.select(col("path"), col("dataSizeCents")).as[(String, Long)]
      .map { case (p, cents) =>
        ChangeEvent(asOfTxId, Op.CloseFile, p, mode = Mode.Snapshot,
          sizeCents = cents)
      }
  }

  /** Snapshot progress — count of matching live files per entity. */
  def snapshotStatus(): DataFrame =
    route(stateTable.toDF())
      .filter(col("entity") =!= "IgnoreTx")
      .groupBy(col("domain"), col("entity"))
      .agg(count(lit(1)).as("n_files"),
        max(col("lastTxId")).as("max_txid"))

  // ── streaming / watermark ────────────────────────────────────────────
  /** Tx high-watermark of the persisted state (A4 parity). */
  def watermark(): Long = {
    val r = stateTable.agg(max(col("lastTxId"))).as[Option[Long]].head()
    r.getOrElse(-1L)
  }

  // ── replica registry + snapshot service lifecycle ────────────────────
  // SnapshotService parity (`svc/namenode/SnapshotService.java:107-177`):
  // the reference holds a static processor created by
  // POST /admin/snapshot/start and disposed by /admin/snapshot/stop;
  // POST /snapshot/done is the pipeline→service callback that flips a
  // file's replica record to ready and emits a Backlog CloseFile when
  // the live head advanced past the snapshot
  // (`agent/namenode/HDFSSnapshotProcessor.java:234-286`). Here the
  // registry is a versioned parquet table next to the state table
  // (`replicas_v<N>`, the same `_SUCCESS`-gated delta protocol), and
  // the callback is a driver-side single-file update: two single-row
  // lookups against MEMOIZED merged views (pinned once per committed
  // version set — no per-call union/window recompute or parquet
  // re-read) plus a ONE-ROW delta version — never a registry rewrite.
  // Each lookup still filters the materialized registry (O(registry)
  // scan at memory speed, amortized over AutoCompactAfter callbacks);
  // a deployment needing strictly sub-linear callbacks would bucket
  // the registry by path hash and prune to one bucket per lookup.

  @volatile private var snapshotService: Boolean = false

  /** Initialize the snapshot service: build the replica registry from
    * the CURRENT state table (one row per live tracked file, ref
    * `HDFSSnapshotProcessor.java:83-106`) as a fresh base version.
    * Re-start rebuilds from current state, like the reference's
    * processor re-init. Returns the registered file count. */
  def snapshotStart(): Long = synchronized {
    val reg = ReplicaTracker.fromSnapshot(stateTable, Graft.inodeOf).toDF()
      // sever lineage before the old registry dirs are deleted below
      .transform(graft.util.Pin.apply)
    replicas.delete(replicas.allDirs())
    replicas.write(reg, 0L)
    snapshotService = true
    reg.count()
  }

  /** Dispose the service (ref /admin/snapshot/stop → NameNodeEnv
    * dispose). The registry dirs persist on disk — like the reference's
    * ZK tree — and a later start() rebuilds a fresh epoch. */
  def snapshotStop(): Unit = snapshotService = false

  /** Merged replica registry (base + one-row callback deltas, newest
    * version wins per path). */
  def replicaTable: Dataset[ReplicaState] = replicas.table().as[ReplicaState]

  /** The snapshot-done callback (`HDFSSnapshotProcessor.java:234-286`):
    * validates the file + replica records and the snapshot tx, flips
    * the record to ready, and — when the file's live head advanced past
    * the snapshot — appends a Backlog CloseFile at the live head to
    * [[backlogFeed]] so the delta stage catches the file up. Duplicate
    * calls are idempotent (the reference warns and returns the record).
    * Throws [[Graft.NotFound]] (→ 404) for unknown path/record and
    * IllegalArgumentException (→ 400) on tx mismatch. */
  def snapshotDone(path: String, txId: Long): Graft.SnapshotDone =
    synchronized {
      if (!snapshotService) throw new Graft.Conflict(
        "snapshot service not started (POST /admin/snapshot/start)")
      // bounded lookups: one file-state row + one replica row (take(1))
      // against the memoized pinned views
      val fileSt = files.cached().filter(col("path") === path)
        .as[FileState].take(1).headOption.getOrElse(
          throw new Graft.NotFound(s"HDFS file state not found. [path=$path]"))
      val replica = replicas.cached().filter(col("path") === path)
        .as[ReplicaState].take(1).headOption.getOrElse(
          throw new Graft.NotFound(
            s"HDFS file replication record not found. [path=$path]"))
      if (txId != replica.snapshotTxId)
        throw new IllegalArgumentException("Snapshot transaction mismatch. " +
          s"[expected=${replica.snapshotTxId}][actual=$txId]")
      if (replica.snapshotReady) // duplicate call: idempotent
        return Graft.SnapshotDone(replica, backlogEmitted = false,
          duplicate = true)
      val backlog = fileSt.lastTxId > replica.snapshotTxId
      if (backlog)
        // the catch-up event the delta stage consumes: Backlog CloseFile
        // stamped at the live head (FSM Backlog accept: txId >= lastTxId)
        Seq(ChangeEvent(fileSt.lastTxId, Op.CloseFile, path, Mode.Backlog))
          .toDS().write.mode("append").parquet(s"$stateDir/backlog")
      val updated = replica.copy(
        lastReplicatedTx = math.max(replica.lastReplicatedTx,
          if (backlog) fileSt.lastTxId else txId),
        snapshotReady = true)
      replicas.write(Seq(updated).toDS().toDF())
      if (replicas.versions().size > Graft.AutoCompactAfter)
        replicas.compact()
      Graft.SnapshotDone(updated, backlogEmitted = backlog, duplicate = false)
    }

  /** Backlog CloseFile events appended by [[snapshotDone]] callbacks —
    * the queue the delta-replication stage drains. */
  def backlogFeed: Dataset[ChangeEvent] =
    if (!fs.exists(hpath("backlog"))) spark.emptyDataset[ChangeEvent]
    else spark.read.parquet(s"$stateDir/backlog").as[ChangeEvent]

  // ── edits-log processor lifecycle ────────────────────────────────────
  // EditsLogReaderService parity (`svc/namenode/EditsLogReaderService
  // .java:21-75`): POST /editslog/start launches the change-stream
  // processor, /editslog/stop halts it, /editslog/status reports it.
  // One managed query per facade, like the reference's static runner.

  @volatile private var editsQuery: Option[StreamingQuery] = None

  /** Start the edits-log processor: JSON-line change events under
    * `inDir` fold through the keyed FSM and land as parquet state
    * updates under `outDir`. Throws [[Graft.Conflict]] (→ 409) if
    * already running. */
  def editslogStart(inDir: String, outDir: String,
      checkpoint: String): StreamingQuery = synchronized {
    if (editsQuery.exists(_.isActive)) throw new Graft.Conflict(
      "edits-log processor already running")
    val q = ChangeStreamPipeline.startFiles(inDir, outDir, checkpoint)
    editsQuery = Some(q)
    q
  }

  /** Stop the running processor; false when none was running. */
  def editslogStop(): Boolean = synchronized {
    editsQuery match {
      case Some(q) if q.isActive => q.stop(); true
      case _ => false
    }
  }

  def editslogRunning: Boolean = editsQuery.exists(_.isActive)
}

object Graft {
  /** Delta-version count that triggers auto-compaction on the next
    * incremental replay (keeps the read-side merge bounded). */
  val AutoCompactAfter = 8

  /** [[Graft.snapshotDone]] outcome: the updated replica record, whether
    * a Backlog CloseFile was emitted, and whether the call was a
    * duplicate (reference: warn + return existing record). */
  final case class SnapshotDone(replica: ReplicaState,
      backlogEmitted: Boolean, duplicate: Boolean)

  /** Lookup miss on the single-file callback surface — the REST layer
    * maps this to 404 (unknown path ≠ malformed request). */
  final class NotFound(msg: String) extends RuntimeException(msg)

  /** Service-lifecycle conflict (started twice / used before start) —
    * the REST layer maps this, and ONLY this, to 409. A dedicated type
    * rather than IllegalStateException: Spark throws ISE for unrelated
    * conditions (stopped SparkContext, dead StreamingQuery), and those
    * are server errors (500), not client conflicts. */
  final class Conflict(msg: String) extends RuntimeException(msg)

  /** Stable synthetic inode for a path (C10 id-synth parity — this
    * namespace has no real inode numbers). Companion-level so the
    * closure shipped to executors does not capture a facade instance.
    * 64-bit (first 8 bytes of MD5 over the path), NOT String.hashCode:
    * a 32-bit hash makes distinct-path collisions near-certain at a
    * 100M-file registry (birthday bound ~50% at 77k paths), and the
    * inode keys replica-watermark joins — a collision would cross-wire
    * two files' replication state. */
  private[api] def inodeOf(st: FileState): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(st.path.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }
}
