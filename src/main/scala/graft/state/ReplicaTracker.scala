package graft.state

import graft.model.{ChangeEvent, FileLifecycle, FileState, Mode, Op, ReplicaState}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Replica-state bookkeeping keyed by inode (SURVEY §2.4 J2; ref
  * `agent/model/DFSFileReplicaState.java:18-36`,
  * `agent/common/ReplicationStateHelper.java:40-70`): the second state
  * table that answers "what has been REPLICATED vs what has been SEEN",
  * which the single file-state table cannot.
  *
  * Includes the snapshot-done → Backlog handshake
  * (`agent/namenode/HDFSSnapshotProcessor.java:234-286`): when a
  * snapshot completes for a file whose live head advanced past the
  * snapshot transaction, a `Backlog` CloseFile is synthesized at the
  * live head so the delta stage catches the file up — the reference does
  * this over a REST callback; here it is one equi-join per batch.
  *
  * Scale shape: everything is a single path-keyed equi shuffle between
  * two state tables (no driver loops, no per-file RPC); the reconcile
  * output is itself a table, so "replication lag" is a query, not a
  * side effect.
  */
object ReplicaTracker {

  /** Replica rows registered at snapshot time, one per live tracked
    * file: `snapshotTxId` = the file's head when the snapshot was cut,
    * and nothing is replicated beyond it yet
    * (`HDFSSnapshotProcessor.java:83-106`). */
  def fromSnapshot(states: Dataset[FileState], inodeOf: FileState => Long)(
      implicit spark: SparkSession): Dataset[ReplicaState] = {
    import spark.implicits._
    states.filter(st => st.nOps > 0 && st.state != FileLifecycle.Deleted)
      .map(st => ReplicaState(inodeOf(st), st.path,
        snapshotTxId = st.lastTxId, lastReplicatedTx = st.lastTxId))
  }

  /** Event-sourced reconcile in ONE keyed pass: both the
    * snapshot-prefix state (events ≤ `snapshotTx`) and the live state
    * fold per key in the same `mapGroups`, so building the replica view
    * from an event log costs one shuffle — not two replays plus a join
    * (the replays share the sorted event sequence; only the fold is
    * duplicated, which is CPU-trivial next to a shuffle at scale).
    * Same output contract as [[reconcile]]. */
  def reconcileFromEvents(events: Dataset[ChangeEvent], snapshotTx: Long,
      inodeOf: FileState => Long)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events.groupByKey(_.path)
      .mapGroups { (p, it) =>
        val evs = it.toSeq.sortBy(_.txId)
        val snap = evs.takeWhile(_.txId <= snapshotTx)
          .foldLeft(FileState(p))(FileStateFSM.transition)
        val live = evs.foldLeft(FileState(p))(FileStateFSM.transition)
        (p, snap, live)
      }
      .filter { case (_, snap, _) =>
        snap.nOps > 0 && snap.state != FileLifecycle.Deleted
      }
      .map { case (p, snap, live) =>
        (inodeOf(snap), p, snap.lastTxId, snap.lastTxId, live.lastTxId,
          live.lastTxId - snap.lastTxId, live.lastTxId > snap.lastTxId)
      }
      .toDF("inode", "path", "snapshot_txid", "last_replicated_tx",
        "last_txid", "lag", "backlog")
  }

  /** Join replicas against the live file-state table: per file, the
    * replicated head vs the seen head and the resulting lag. Columns:
    * `inode, path, snapshot_txid, last_replicated_tx, last_txid, lag,
    * backlog` (backlog = the snapshot-done decision: file advanced past
    * its snapshot ⇒ a Backlog CloseFile must be emitted). */
  def reconcile(replicas: Dataset[ReplicaState],
      live: Dataset[FileState]): DataFrame =
    replicas.toDF()
      .select(col("inode"), col("path"),
        col("snapshotTxId").as("snapshot_txid"),
        col("lastReplicatedTx").as("last_replicated_tx"))
      .join(live.toDF().select(col("path"), col("lastTxId").as("last_txid")),
        "path")
      .withColumn("lag", col("last_txid") - col("last_replicated_tx"))
      .withColumn("backlog", col("lag") > 0)

  /** The synthesized Backlog CloseFile events of the snapshot-done
    * handshake (`HDFSSnapshotProcessor.java:234-286`): one per file
    * whose live head advanced past its snapshot, stamped at the live
    * head so the FSM's Backlog accept rule (txId >= lastTxId) admits
    * it. */
  def backlogEvents(reconciled: DataFrame)(
      implicit spark: SparkSession): Dataset[ChangeEvent] = {
    import spark.implicits._
    reconciled.filter(col("backlog"))
      .select(col("path"), col("last_txid"))
      .as[(String, Long)]
      .map { case (p, head) =>
        ChangeEvent(head, Op.CloseFile, p, Mode.Backlog)
      }
  }

  /** Advance `lastReplicatedTx` after a successful delta replication
    * (`ReplicationStateHelper.java:40-70` update path) — monotonic:
    * a stale completion can never move the watermark backwards. */
  def recordReplicated(replicas: Dataset[ReplicaState],
      completed: Dataset[(Long, Long)])(
      implicit spark: SparkSession): Dataset[ReplicaState] = {
    import spark.implicits._
    replicas.toDF()
      .join(completed.toDF("c_inode", "c_txid"),
        col("inode") === col("c_inode"), "left")
      .select(col("inode"), col("path"), col("snapshotTxId"),
        greatest(col("lastReplicatedTx"), coalesce(col("c_txid"), lit(-1L)))
          .as("lastReplicatedTx"),
        col("snapshotReady"))
      .as[ReplicaState]
  }

  /** Mark snapshot upload complete for a set of inodes. */
  def markReady(replicas: Dataset[ReplicaState], inodes: Dataset[Long])(
      implicit spark: SparkSession): Dataset[ReplicaState] = {
    import spark.implicits._
    replicas.toDF()
      .join(inodes.toDF("r_inode"), col("inode") === col("r_inode"), "left")
      .select(col("inode"), col("path"), col("snapshotTxId"),
        col("lastReplicatedTx"),
        (col("snapshotReady") || col("r_inode").isNotNull)
          .as("snapshotReady"))
      .as[ReplicaState]
  }
}
