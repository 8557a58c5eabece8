package graft.state

import graft.model.{BlockState, ChangeEvent, FileLifecycle => L, FileState, Op}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Keyed file-lifecycle state machine — the Spark-native form of the
  * reference's per-path transaction replay (state lifecycle
  * `core/model/EFileState.java:3-5`; transition sites
  * `agent/namenode/SourceTransactionProcessor.java:87-131` add,
  * `:159-161` append→Updating, `:333-335` delete, `:615-617`
  * close→Finalized; duplicate-tx guard F3 e.g. `:74-78`; error handling
  * `:798-822`).
  *
  * The reference replays transactions one-at-a-time under a global ZK
  * lock; here each path's events fold independently, so a cluster
  * processes millions of files in parallel — partition ownership replaces
  * the distributed lock (SURVEY §2.10 T9).
  *
  * Transition rules (documented contract, also mirrored by the DuckDB
  * oracle of `q26_cdc_fsm_replay`):
  *  - events fold in txId order per path
  *  - a txId ≤ lastTxId is a duplicate → dropped (idempotent replay, F3)
  *  - `IgnoreTx` advances nothing but is tolerated anywhere
  *  - `Error` is sticky: state = Error, all later events ignored
  *  - otherwise the op maps the state: AddFile→New, AppendFile/AddBlock/
  *    UpdateBlocks→Updating, CloseFile→Finalized, DeleteFile→Deleted
  *  - `AppendFile`-family adds `sizeCents` to dataSize; AddBlock bumps
  *    numBlocks
  */
object FileStateFSM {

  /** Mode-accept rules (SURVEY §2.3 F5/F7, §2.10 T4; ref
    * `agent/common/TransactionProcessor.java:76-84` and the per-stage
    * mode filters; all six modes of `MessageObject.java:11-26`):
    * `Snapshot` events bootstrap — accepted only while the path is
    * still Unknown (a live state means the snapshot is stale);
    * `Backlog` catch-up accepted at-or-after the current watermark
    * (txId >= lastTxId — it re-describes the snapshot head); `New`,
    * `ReSend` and `Retry` must strictly advance (txId > lastTxId) — a
    * ReSend at-or-below the watermark is the DESIGNED no-op of an
    * at-least-once re-emit, same guard as the F3 duplicate drop. */
  def accepts(st: FileState, ev: ChangeEvent): Boolean = ev.mode match {
    case graft.model.Mode.Snapshot => st.state == L.Unknown
    case graft.model.Mode.Backlog => ev.txId >= st.lastTxId
    case _ => ev.txId > st.lastTxId
  }

  /** Chain-integrity check (SURVEY §2.6 W2; ref
    * `agent/common/FileStateHelper.java:176-199`): a new block's
    * `prevBlockId` must name the current chain tail. `-1` means the
    * event carries no chain info (non-edit-log sources) — accepted.
    * `chainKnown = false` (bootstrap-loaded states, or states mutated
    * by a chain-less block event) means the chain is UNKNOWN, not
    * empty: chained events are accepted rather than bricking every
    * bootstrapped file on first catch-up append, without also turning
    * the check off for ordinary files. */
  def chainValid(st: FileState, ev: ChangeEvent): Boolean =
    ev.prevBlockId < 0 || !st.chainKnown ||
      st.blocks.lastOption.map(_.blockId).getOrElse(-1L) == ev.prevBlockId

  def transition(st: FileState, ev: ChangeEvent): FileState = {
    // sticky error: only a `Retry` (error-channel reprocess,
    // MessageObject.java:11-26) may un-stick it — the op it carries
    // maps the state out of Error like any live transition
    if (st.state == L.Error && ev.mode != graft.model.Mode.Retry) return st
    if (!accepts(st, ev)) return st // duplicate/out-of-order/mode guard
    if (ev.mode == graft.model.Mode.Backlog && ev.txId == st.lastTxId) {
      // backlog event AT the watermark re-describes the snapshot head:
      // confirm the state transition but never re-count size/ops (F7)
      return ev.op match {
        case Op.CloseFile => st.copy(state = L.Finalized)
        case _ => st
      }
    }
    ev.op match {
      case Op.IgnoreTx => st
      case Op.ErrorTx =>
        st.copy(state = L.Error, lastTxId = ev.txId, nOps = st.nOps + 1)
      case Op.AddFile =>
        st.copy(state = L.New, lastTxId = ev.txId, nOps = st.nOps + 1)
      case Op.AppendFile =>
        st.copy(state = L.Updating, lastTxId = ev.txId, nOps = st.nOps + 1,
          nAppends = st.nAppends + 1,
          dataSizeCents = st.dataSizeCents + ev.sizeCents)
      case Op.UpdateBlocks =>
        // update the named block's size in place (last block if unnamed)
        val blocks =
          if (st.blocks.isEmpty) st.blocks
          else {
            val idx = if (ev.blockId >= 0)
              st.blocks.lastIndexWhere(_.blockId == ev.blockId)
            else st.blocks.size - 1
            if (idx < 0) st.blocks
            else st.blocks.updated(idx, st.blocks(idx)
              .copy(numBytes = math.max(ev.endOffset, 0L), lastTxId = ev.txId))
          }
        st.copy(state = L.Updating, lastTxId = ev.txId, nOps = st.nOps + 1,
          nAppends = st.nAppends + 1,
          dataSizeCents = st.dataSizeCents + ev.sizeCents, blocks = blocks)
      case Op.AddBlock if !chainValid(st, ev) =>
        // broken prev-chain: reference refuses the transaction; the
        // sticky Error state is our error-channel equivalent
        st.copy(state = L.Error, lastTxId = ev.txId, nOps = st.nOps + 1)
      case Op.AddBlock =>
        val blocks =
          if (ev.blockId < 0) st.blocks
          else st.blocks :+ BlockState(ev.blockId,
            // the event's chain pointer is authoritative when present
            // (a bootstrap-loaded state has an empty list but a real
            // predecessor); fall back to the local tail
            if (ev.prevBlockId >= 0) ev.prevBlockId
            else st.blocks.lastOption.map(_.blockId).getOrElse(-1L),
            math.max(ev.endOffset, 0L), ev.txId)
        st.copy(state = L.Updating, lastTxId = ev.txId, nOps = st.nOps + 1,
          numBlocks = st.numBlocks + 1, blocks = blocks,
          // recording a real block makes the tail KNOWN again (so chain
          // validation resumes even after a bootstrap); an id-less block
          // event loses track of the chain
          chainKnown = ev.blockId >= 0)
      case Op.TruncateBlock =>
        // truncate to endOffset bytes (ref `DFSTruncateBlockType` /
        // `SourceTransactionProcessor` truncate path): fully-truncated
        // tail blocks drop off the chain, the boundary block shrinks.
        // If the state carries no per-block detail (bootstrap-loaded or
        // chain-less events), the counter is kept — recomputing it from
        // an empty list would wrongly zero the block count.
        val newLen = math.max(ev.endOffset, 0L)
        val (kept, _) = st.blocks.foldLeft(
          (Vector.empty[BlockState], 0L)) { case ((acc, cum), b) =>
          if (cum >= newLen) (acc, cum + b.numBytes)
          else {
            val keepBytes = math.min(b.numBytes, newLen - cum)
            (acc :+ b.copy(numBytes = keepBytes,
              lastTxId = if (keepBytes < b.numBytes) ev.txId else b.lastTxId),
              cum + b.numBytes)
          }
        }
        st.copy(state = L.Updating, lastTxId = ev.txId, nOps = st.nOps + 1,
          blocks = kept,
          // with an unknown chain the list is partial — recomputing the
          // counter from it would drop the unseen bootstrap-era blocks
          numBlocks =
            if (st.chainKnown) kept.size.toLong else st.numBlocks)
      case Op.CloseFile =>
        // a close carrying a size is authoritative for the file length
        // (decoder closes carry total block bytes; the synthetic event
        // battery closes carry 0 → accumulated appends stand). A
        // SNAPSHOT close is a bootstrap without block detail: the chain
        // becomes unknown, like the fsimage loaders.
        st.copy(state = L.Finalized, lastTxId = ev.txId, nOps = st.nOps + 1,
          dataSizeCents =
            if (ev.sizeCents > 0) ev.sizeCents else st.dataSizeCents,
          chainKnown =
            if (ev.mode == graft.model.Mode.Snapshot) false
            else st.chainKnown)
      case Op.DeleteFile =>
        st.copy(state = L.Deleted, lastTxId = ev.txId, nOps = st.nOps + 1)
      case _ => st
    }
  }

  /** Fold one path's events into `st0` in txId order (a stable sort, so
    * events sharing a txId keep their arrival order). */
  def fold(st0: FileState, events: Iterator[ChangeEvent]): FileState =
    events.toSeq.sortBy(_.txId).foldLeft(st0)(transition)

  /** Ordered replay of one path's events. */
  def replay(path: String, events: Iterator[ChangeEvent]): FileState =
    fold(FileState(path), events)

  /** Batch replay: one shuffle on path, then an independent ordered fold
    * per key — the plan that survives 100× scale (no global order, no
    * driver loop). */
  def replayAll(events: Dataset[ChangeEvent])(
      implicit spark: SparkSession): Dataset[FileState] = {
    import spark.implicits._
    events.groupByKey(_.path).mapGroups((p, it) => replay(p, it))
  }

  /** Replay on top of bootstrap state (SURVEY §2.10 T4: the
    * snapshot/backlog/live protocol — `initial` is the state loaded by
    * the FSImage/snapshot bootstrap, `events` the backlog + live tail).
    * One cogroup shuffle keyed on path; keys present only in `initial`
    * pass through unchanged; keys present only in `events` start from
    * the empty state. Convergence (bootstrap-then-replay == full replay)
    * is pinned by q28 against the same oracle as q26/q27. */
  def replayWithInit(initial: Dataset[FileState],
      events: Dataset[ChangeEvent])(
      implicit spark: SparkSession): Dataset[FileState] = {
    import spark.implicits._
    initial.groupByKey(_.path)
      .cogroup(events.groupByKey(_.path)) { (p, inits, evs) =>
        val st0 = inits.toSeq.headOption.getOrElse(FileState(p))
        Iterator.single(fold(st0, evs))
      }
  }
}
