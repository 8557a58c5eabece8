package graft.streaming

import graft.model.{ChangeEvent, Mode, Op}
import graft.util.ProtoWire.{Reader, Writer}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Protobuf wire codec for the reference's actual Kafka envelope —
  * `DFSChangeDelta` and its 11 typed payload messages
  * (`common/src/main/proto/data_block.proto:9-152`), with the type
  * dispatch of `core/messaging/ChangeDeltaSerDe.java:259-288` (payload
  * class discriminated by the envelope's `type` string = Java canonical
  * class name) and the message-id convention of
  * `ChangeDeltaSerDe.java:92` (`namespace:mode:txId:id` — the message
  * MODE travels in the id, not in the envelope).
  *
  * Reads and writes through [[graft.util.ProtoWire]], the same
  * bounds-checked wire reader/writer [[graft.ingest.FsImageBinary]]
  * uses: no protobuf runtime on the classpath, only the public wire
  * format (varint / length-delimited, field numbers from the .proto).
  * This is the piece that makes the rebuild DROP-IN compatible with an
  * existing hcdc deployment's Kafka topics: the bytes this codec writes
  * parse with the reference's generated classes and vice versa.
  *
  * Unit convention: the wire's integral size fields (`length`,
  * `deltaSize`) transport [[ChangeEvent.sizeCents]] verbatim. Real hcdc
  * topics carry raw byte counts there; a deployment bridging real
  * topics into the cents-denominated FSM applies ×100 at the edge (the
  * `FsImageBinary.bootstrapState` convention).
  *
  * One deliberate asymmetry, from the .proto itself: `DFSAppendFile`
  * (`data_block.proto:57-61`) has NO size field — the reference
  * communicates append sizes via `DFSUpdateBlocks.blocks[].deltaSize`.
  * Size-bearing appends must therefore travel as `UpdateBlocks` events
  * (encode throws rather than silently dropping the size); the FSM
  * folds both ops identically (state→Updating, nAppends+1,
  * dataSize+sizeCents), so replay results are unchanged.
  */
object ChangeDeltaCodec {

  /** Java canonical class names of the generated payload messages —
    * the envelope `type` values the reference's parse dispatch matches
    * on (`ChangeDeltaSerDe.java:259-288`). */
  private val Pkg = "ai.sapper.hcdc.common.model."
  private[streaming] def typeNameOf(op: String): String = Pkg + (op match {
    case Op.AddFile => "DFSAddFile"
    case Op.AppendFile => "DFSAppendFile"
    case Op.DeleteFile => "DFSDeleteFile"
    case Op.AddBlock => "DFSAddBlock"
    case Op.UpdateBlocks => "DFSUpdateBlocks"
    case Op.TruncateBlock => "DFSTruncateBlock"
    case Op.CloseFile => "DFSCloseFile"
    case Op.RenameFile => "DFSRenameFile"
    case Op.IgnoreTx => "DFSIgnoreTx"
    case Op.ErrorTx => "DFSError"
    case Op.ChangeData => "DFSChangeData"
    case other => throw new IllegalArgumentException(s"unknown op $other")
  })

  /** `DFSTransaction.Operation` enum numbers (`data_block.proto:10-22`). */
  private def opEnumOf(op: String): Int = op match {
    case Op.AddFile => 0
    case Op.AddBlock => 1
    case Op.CloseFile | Op.ChangeData => 2 // pointer messages ride a CLOSE tx
    case Op.RenameFile => 3
    case Op.UpdateBlocks => 5
    case Op.DeleteFile => 6
    case Op.AppendFile => 7
    case Op.TruncateBlock => 8
    case Op.IgnoreTx => 9
    case Op.ErrorTx => 10
    case other => throw new IllegalArgumentException(s"unknown op $other")
  }

  // ── typed payload encode ────────────────────────────────────────────

  /** DFSTransaction {1: txId, 2: op enum, 3: timestamp}. */
  private def writeTx(w: Writer, e: ChangeEvent): Unit = w.msg(1) { t =>
    t.int64(1, e.txId); t.int64(2, opEnumOf(e.op).toLong); t.int64(3, e.ts)
  }

  /** DFSFile {2: path, 3: inodeId} — the proto has no field 1
    * (`data_block.proto:28-33`); inode ids are not part of the rebuild's
    * flat model, so 0 rides the required slot. */
  private def writeFile(w: Writer, field: Int, path: String): Unit =
    w.msg(field) { f => f.str(2, path); f.int64(3, 0L) }

  /** DFSBlock {1: blockId, 2: size, 3: blockSize, 4: genStamp,
    * 5: startOffset, 6: endOffset, 7: deltaSize?}. */
  private def writeBlock(w: Writer, field: Int, blockId: Long, start: Long,
      end: Long, deltaSize: Long): Unit = w.msg(field) { b =>
    b.int64(1, blockId)
    b.int64(2, math.max(end, 0L))
    b.int64(3, 0L)
    b.int64(4, 0L)
    b.int64(5, start)
    b.int64(6, end)
    if (deltaSize != 0L) b.int64(7, deltaSize)
  }

  /** Serialize the typed payload message for one event (the envelope's
    * `body` bytes). */
  private[streaming] def encodeBody(e: ChangeEvent): Array[Byte] = {
    val w = new Writer
    e.op match {
      case Op.AddFile | Op.CloseFile =>
        // DFSAddFile / DFSCloseFile share a layout (proto:46-55, 89-98)
        writeTx(w, e); writeFile(w, 2, e.path)
        w.int64(3, e.sizeCents) // length
        w.int64(4, 0L) // blockSize
        w.int64(5, e.ts); w.int64(6, e.ts) // modified/accessed
        if (e.blockId >= 0)
          writeBlock(w, 7, e.blockId, e.startOffset, e.endOffset, 0L)
      case Op.AppendFile =>
        require(e.sizeCents == 0L,
          "DFSAppendFile has no size field (data_block.proto:57-61) — " +
            "size-bearing appends travel as UpdateBlocks (deltaSize)")
        writeTx(w, e); writeFile(w, 2, e.path)
        if (e.blockId >= 0) w.bool(3, true) // newBlock
      case Op.DeleteFile =>
        writeTx(w, e); writeFile(w, 2, e.path); w.int64(3, e.ts)
      case Op.AddBlock =>
        writeTx(w, e); writeFile(w, 2, e.path)
        if (e.prevBlockId >= 0)
          writeBlock(w, 3, e.prevBlockId, 0L, 0L, 0L) // penultimate
        writeBlock(w, 4, e.blockId, e.startOffset, e.endOffset, e.sizeCents)
      case Op.UpdateBlocks =>
        writeTx(w, e); writeFile(w, 2, e.path)
        writeBlock(w, 3, e.blockId, e.startOffset, e.endOffset, e.sizeCents)
      case Op.TruncateBlock =>
        writeTx(w, e); writeFile(w, 2, e.path)
        writeBlock(w, 3, e.blockId, e.startOffset, e.endOffset, e.sizeCents)
        w.int64(4, math.max(e.endOffset, 0L)) // newLength
      case Op.RenameFile =>
        writeTx(w, e); writeFile(w, 2, e.srcPath); writeFile(w, 3, e.path)
        w.int64(4, e.sizeCents) // length
      case Op.IgnoreTx =>
        writeTx(w, e); w.str(2, "IGNORE") // opCode
        if (e.path.nonEmpty) writeFile(w, 3, e.path)
      case Op.ErrorTx =>
        writeTx(w, e); w.int64(2, 1L) // ErrorCode.FATAL
        w.str(3, "") // message
        if (e.path.nonEmpty) writeFile(w, 4, e.path)
      case Op.ChangeData =>
        writeTx(w, e); writeFile(w, 2, e.path)
        w.str(3, ""); w.str(4, "") // domain, entityName
        w.int64(5, 0L) // FileSystemCode.LOCAL
        w.str(6, e.srcPath) // outputPath
      case other => throw new IllegalArgumentException(s"unknown op $other")
    }
    w.result
  }

  /** Kafka record KEY per `ChangeDeltaSerDe` — the file path (src path
    * for renames), `IGNORE:<tx>` for ignores, empty for errors. */
  def keyOf(e: ChangeEvent): String = e.op match {
    case Op.RenameFile => e.srcPath
    case Op.IgnoreTx => s"IGNORE:${e.txId}"
    case Op.ErrorTx => ""
    case _ => e.path
  }

  /** Message id per `ChangeDeltaSerDe.java:92`:
    * `namespace:mode:txId:id` — mode's only home on the wire. */
  def messageIdOf(e: ChangeEvent, namespace: String): String =
    s"$namespace:${e.mode}:${e.txId}:0"

  /** Full envelope bytes: DFSChangeDelta {1: namespace, 2: txId (string),
    * 3: entity, 4: type, 5: timestamp, 6: body}
    * (`data_block.proto:143-152`). Timestamp is the EVENT time, not wall
    * clock — the one deliberate divergence from the reference's
    * `System.currentTimeMillis()`, for deterministic replay. */
  def encode(e: ChangeEvent, namespace: String): Array[Byte] = {
    val w = new Writer
    w.str(1, namespace)
    w.str(2, e.txId.toString)
    w.str(3, keyOf(e))
    w.str(4, typeNameOf(e.op))
    w.int64(5, e.ts)
    w.bytes(6, encodeBody(e))
    w.result
  }

  // ── decode ──────────────────────────────────────────────────────────

  private final case class Blk(blockId: Long, start: Long, end: Long,
      deltaSize: Long)

  private def readTx(p: Reader): (Long, Long) = { // (txId, ts)
    var tx = -1L; var ts = 0L
    while (p.hasMore) p.tag() match {
      case (1, 0) => tx = p.varint()
      case (3, 0) => ts = p.varint()
      case (_, w) => p.skip(w)
    }
    (tx, ts)
  }

  private def readFile(p: Reader): String = {
    var path = ""
    while (p.hasMore) p.tag() match {
      case (2, 2) => path = p.strField()
      case (_, w) => p.skip(w)
    }
    path
  }

  private def readBlock(p: Reader): Blk = {
    var id = -1L; var start = -1L; var end = -1L; var delta = 0L
    while (p.hasMore) p.tag() match {
      case (1, 0) => id = p.varint()
      case (5, 0) => start = p.varint()
      case (6, 0) => end = p.varint()
      case (7, 0) => delta = p.varint()
      case (_, w) => p.skip(w)
    }
    Blk(id, start, end, delta)
  }

  /** Parse mode out of a `namespace:mode:txId:id` message id; absent or
    * malformed ids decode as live (`New`) events. */
  private[streaming] def modeOf(messageId: String): String = {
    val parts = if (messageId == null) Array.empty[String]
      else messageId.split(':')
    if (parts.length >= 2 && Mode.all.contains(parts(1))) parts(1)
    else Mode.New
  }

  /** Decode one envelope (+ optional message id carrying the mode) into
    * the flat event model — the exact inverse of [[encode]] and a
    * faithful reader of reference-produced bytes (same field numbers,
    * same type dispatch). */
  def decode(envelope: Array[Byte], messageId: String = null): ChangeEvent = {
    val p = new Reader(envelope)
    var tpe = ""; var body: Array[Byte] = Array.emptyByteArray
    while (p.hasMore) p.tag() match {
      case (4, 2) => tpe = p.strField()
      case (6, 2) => body = p.bytesField()
      case (_, w) => p.skip(w)
    }
    require(tpe.nonEmpty, "DFSChangeDelta missing required `type` (field 4)")
    val mode = modeOf(messageId)
    val b = new Reader(body)
    var tx = -1L; var ts = 0L
    var path = ""; var srcPath = ""
    var length = 0L
    var blk = Blk(-1L, -1L, -1L, 0L)
    var prevBlockId = -1L
    val short = if (tpe.startsWith(Pkg)) tpe.substring(Pkg.length) else tpe
    short match {
      case "DFSAddFile" | "DFSCloseFile" =>
        var firstBlk = true
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (2, 2) => path = readFile(b.sub())
          case (3, 0) => length = b.varint()
          case (7, 2) => if (firstBlk) { blk = readBlock(b.sub()); firstBlk = false }
                         else b.skip(2)
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx,
          if (short == "DFSAddFile") Op.AddFile else Op.CloseFile,
          path, mode, length, ts, "", blk.blockId, blk.start, blk.end)
      case "DFSAppendFile" =>
        var newBlock = false
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (2, 2) => path = readFile(b.sub())
          case (3, 0) => newBlock = b.varint() != 0L
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx, Op.AppendFile, path, mode, 0L, ts,
          blockId = if (newBlock) 0L else -1L)
      case "DFSDeleteFile" =>
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (2, 2) => path = readFile(b.sub())
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx, Op.DeleteFile, path, mode, 0L, ts)
      case "DFSAddBlock" =>
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (2, 2) => path = readFile(b.sub())
          case (3, 2) => prevBlockId = readBlock(b.sub()).blockId
          case (4, 2) => blk = readBlock(b.sub())
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx, Op.AddBlock, path, mode, blk.deltaSize, ts, "",
          blk.blockId, blk.start, blk.end, prevBlockId)
      case "DFSUpdateBlocks" =>
        // `blocks` is REPEATED on the reference wire: a producer may
        // batch several block deltas in one message. The flat event
        // keeps the first block's identity/offsets but the size delta
        // must be the SUM over all blocks — dropping later deltaSizes
        // would silently diverge the FSM's dataSize from an hcdc
        // consumer fed the same topic.
        var firstBlk = true
        var deltaSum = 0L
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (2, 2) => path = readFile(b.sub())
          case (3, 2) =>
            val one = readBlock(b.sub())
            deltaSum += one.deltaSize
            if (firstBlk) { blk = one; firstBlk = false }
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx, Op.UpdateBlocks, path, mode, deltaSum, ts, "",
          blk.blockId, blk.start, blk.end)
      case "DFSTruncateBlock" =>
        // newLength (field 4) is authoritative for the post-truncate
        // length — the reference producer sets it separately from the
        // block (`agent/model/DFSTransactionType.java` truncate path),
        // and the FSM reads the event's endOffset as that new length.
        // A truncate-to-negative cannot exist on the wire (uint64), so
        // the -1→0 normalization of an unset endOffset is identity
        // under the FSM's max(endOffset, 0).
        var newLength = -1L
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (2, 2) => path = readFile(b.sub())
          case (3, 2) => blk = readBlock(b.sub())
          case (4, 0) => newLength = b.varint()
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx, Op.TruncateBlock, path, mode, blk.deltaSize, ts, "",
          blk.blockId, blk.start,
          if (newLength >= 0) newLength else blk.end)
      case "DFSRenameFile" =>
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (2, 2) => srcPath = readFile(b.sub())
          case (3, 2) => path = readFile(b.sub())
          case (4, 0) => length = b.varint()
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx, Op.RenameFile, path, mode, length, ts, srcPath)
      case "DFSIgnoreTx" =>
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (3, 2) => path = readFile(b.sub())
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx, Op.IgnoreTx, path, mode, 0L, ts)
      case "DFSError" =>
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (4, 2) => path = readFile(b.sub())
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx, Op.ErrorTx, path, mode, 0L, ts)
      case "DFSChangeData" =>
        var out = ""
        while (b.hasMore) b.tag() match {
          case (1, 2) => val t = readTx(b.sub()); tx = t._1; ts = t._2
          case (2, 2) => path = readFile(b.sub())
          case (6, 2) => out = b.strField()
          case (_, w) => b.skip(w)
        }
        ChangeEvent(tx, Op.ChangeData, path, mode, 0L, ts, out)
      case other =>
        // the reference throws MessagingError on an unknown type
        // (`ChangeDeltaSerDe.java:286`): same contract
        throw new IllegalArgumentException(s"invalid message type [$other]")
    }
  }

  // ── Spark surface ───────────────────────────────────────────────────

  /** Project a typed event stream into reference-wire Kafka records:
    * `key` (entity, the ordering key), `message_id`
    * (namespace:mode:txId:id header) and protobuf `value` bytes. The
    * encode is a typed map (binary serialization has no Catalyst
    * builtin), one pass, no shuffle. */
  def encodeRecords(events: Dataset[ChangeEvent], namespace: String)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events.map(e => (keyOf(e), messageIdOf(e, namespace), encode(e, namespace)))
      .toDF("key", "message_id", "value")
  }

  /** Decode a record stream (`value` bytes + optional `message_id`)
    * back into typed events — the drop-in reader for an existing hcdc
    * topic. Works on batch and streaming frames alike. */
  def decodeRecords(records: DataFrame)(
      implicit spark: SparkSession): Dataset[ChangeEvent] = {
    import spark.implicits._
    val withId =
      if (records.columns.contains("message_id")) records
      else records.withColumn("message_id", org.apache.spark.sql.functions.lit(null: String))
    withId.select(col("value").cast("binary"), col("message_id").cast("string"))
      .as[(Array[Byte], String)]
      .map { case (v, id) => decode(v, id) }
  }
}
