package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.filters.DomainFilters.Filter
import graft.ingest.EditLogDecoder
import graft.ingest.EditLogDecoder.EditOp

/** Layout -63 edit-log writer: the inverse of
  * `EditLogDecoder.decodeSegment`. Every op is framed as
  * `opcode:u8 length:i32 txid:i64 body crc32:u32`, where the CRC covers
  * opcode through body. */
object EditLogWriter {
  import EditLogDecoder._

  private final class W {
    val buf = new ByteArrayOutputStream()
    def u8(v: Int): Unit = buf.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >>> 8); u8(v) }
    def i32(v: Int): Unit = { u8(v >>> 24); u8(v >>> 16); u8(v >>> 8); u8(v) }
    def i64(v: Long): Unit = { i32((v >>> 32).toInt); i32(v.toInt) }
    def str(s: String): Unit = { // DeprecatedUTF8
      val b = s.getBytes(StandardCharsets.UTF_8); u16(b.length); buf.write(b)
    }
    def text(s: String): Unit = { // Hadoop Text
      val b = s.getBytes(StandardCharsets.UTF_8); vlong(b.length); buf.write(b)
    }
    def vlong(v0: Long): Unit = { // WritableUtils.writeVLong
      if (v0 >= -112 && v0 <= 127) u8(v0.toInt)
      else {
        var v = v0
        var len = -112
        if (v < 0) { v = ~v; len = -120 }
        var tmp = v
        while (tmp != 0) { tmp >>= 8; len -= 1 }
        u8(len)
        val n = if (len < -120) -(len + 120) else -(len + 112)
        var idx = n
        while (idx != 0) {
          val shift = (idx - 1) * 8
          u8(((v & (0xffL << shift)) >> shift).toInt)
          idx -= 1
        }
      }
    }
    def bytes: Array[Byte] = buf.toByteArray
  }

  private def body(o: EditOp): Array[Byte] = {
    val w = new W
    o.opCode match {
      case OpAdd | OpClose =>
        w.i64(o.inodeId); w.str(o.path); w.u16(3)
        w.i64(o.mtime); w.i64(o.mtime); w.i64(o.blockSize)
        w.i32(o.blocks.size)
        o.blocks.foreach { b => w.i64(b.blockId); w.i64(b.numBytes); w.i64(b.genStamp) }
        w.text("hdfs"); w.text("supergroup"); w.u16(0x1a4)
        if (o.opCode == OpAdd) {
          w.i32(0); w.vlong(0) // no ACL entries, empty xattrs
          w.str("DFSClient_1"); w.str("10.0.0.1")
          w.u8(if (o.overwrite) 1 else 0)
        }
      case OpDelete => w.str(o.path); w.i64(o.mtime)
      case OpUpdateBlocks | OpAddBlock =>
        w.str(o.path); w.vlong(o.blocks.size)
        var sz = 0L; var gs = 0L
        o.blocks.foreach { b =>
          w.i64(b.blockId); w.vlong(b.numBytes - sz); w.vlong(b.genStamp - gs)
          sz = b.numBytes; gs = b.genStamp
        }
      case OpAppend =>
        w.str(o.path); w.str("DFSClient_1"); w.str("10.0.0.1")
        w.u8(if (o.overwrite) 1 else 0)
      case OpTruncate =>
        w.str(o.path); w.str("DFSClient_1"); w.str("10.0.0.1")
        w.i64(o.newLength); w.i64(o.mtime)
      case OpRename =>
        w.str(o.path); w.str(o.dst); w.i64(o.mtime)
        w.i32(o.renameOptions.size)
        o.renameOptions.foreach {
          case "OVERWRITE" => w.u8(1)
          case "TO_TRASH" => w.u8(2)
          case _ => w.u8(0)
        }
      case _ => () // segment markers carry no body
    }
    w.bytes
  }

  def segment(ops: Seq[EditOp]): Array[Byte] = {
    val w = new W
    w.i32(LayoutVersion); w.i32(0)
    ops.foreach { o =>
      val b = body(o)
      val f = new W
      f.u8(o.opCode); f.i32(8 + b.length + 4); f.i64(o.txId); f.buf.write(b)
      val framed = f.bytes
      val crc = new java.util.zip.CRC32()
      crc.update(framed)
      w.buf.write(framed); w.i32(crc.getValue.toInt)
    }
    w.bytes
  }

  def segmentName(first: Long, last: Long): String =
    f"edits_$first%019d-$last%019d"
}

/** Seeded HDFS namespace simulator producing the edit ops of a
  * catch-up backlog: create, add-block, update-blocks, close, append,
  * truncate, rename and delete over a fixed set of file slots. */
final class EditLogGen(seed: Long, slots: Int) {
  import EditLogDecoder._
  private val rnd = new java.util.SplittableRandom(seed)
  private var tx = 0L
  private var nextBlock = 1073741825L
  private var genStamp = 1001L
  private final class Slot(val idx: Int, var path: String,
      var open: Boolean = false, var exists: Boolean = false,
      var blocks: Vector[EditBlock] = Vector.empty, var renames: Int = 0) {
    def inode: Long = 16386L + idx
  }
  private val table = Array.tabulate(slots)(i => new Slot(i, EditLogGen.pathOf(i)))

  private def name(code: Int): String = code match {
    case OpAdd => "OP_ADD"; case OpDelete => "OP_DELETE"
    case OpClose => "OP_CLOSE"; case OpRename => "OP_RENAME"
    case OpUpdateBlocks => "OP_UPDATE_BLOCKS"; case OpAddBlock => "OP_ADD_BLOCK"
    case OpTruncate => "OP_TRUNCATE"; case OpAppend => "OP_APPEND"
    case OpStartLogSegment => "OP_START_LOG_SEGMENT"
    case OpEndLogSegment => "OP_END_LOG_SEGMENT"
  }
  private def base(code: Int): EditOp = { tx += 1; EditOp(tx, code, name(code)) }
  private def mtime: Long = 1700000000000L + tx * 7

  def marker(code: Int): EditOp = base(code)

  /** One namespace change on a random slot. */
  def next(): EditOp = {
    val s = table(rnd.nextInt(slots))
    val r = rnd.nextInt(100)
    if (!s.exists) {
      s.exists = true; s.open = true; s.blocks = Vector.empty
      base(OpAdd).copy(path = s.path, inodeId = s.inode, mtime = mtime,
        blockSize = EditLogGen.BlockCap)
    } else if (s.open) {
      if (s.blocks.isEmpty || (r < 25 && s.blocks.size < 4)) {
        val b = EditBlock(nextBlock, 512L + rnd.nextInt(1024), genStamp)
        nextBlock += 1; genStamp += 1
        val op = base(OpAddBlock).copy(path = s.path,
          blocks = s.blocks.lastOption.toSeq :+ b)
        s.blocks :+= b
        op
      } else if (r < 70) {
        val last = s.blocks.last
        val grown = last.copy(numBytes = math.min(EditLogGen.BlockCap,
          last.numBytes + 256 + rnd.nextInt(1024)))
        s.blocks = s.blocks.updated(s.blocks.size - 1, grown)
        base(OpUpdateBlocks).copy(path = s.path, blocks = s.blocks)
      } else {
        s.open = false
        base(OpClose).copy(path = s.path, inodeId = s.inode, mtime = mtime,
          blockSize = EditLogGen.BlockCap, blocks = s.blocks)
      }
    } else if (r < 50) {
      s.open = true
      base(OpAppend).copy(path = s.path)
    } else if (r < 65 && s.blocks.nonEmpty) {
      val total = s.blocks.map(_.numBytes).sum
      val len = total / 2
      var cum = 0L
      s.blocks = s.blocks.flatMap { b =>
        val keep = math.max(0L, math.min(b.numBytes, len - cum)); cum += b.numBytes
        if (keep > 0) Some(b.copy(numBytes = keep)) else None
      }
      base(OpTruncate).copy(path = s.path, newLength = len, mtime = mtime)
    } else if (r < 85) {
      s.renames += 1
      val dst = s"${EditLogGen.pathOf(s.idx)}.r${s.renames}"
      val op = base(OpRename).copy(path = s.path, dst = dst, mtime = mtime)
      s.path = dst
      op
    } else {
      s.exists = false
      base(OpDelete).copy(path = s.path, mtime = mtime)
    }
  }
}

object EditLogGen {
  val BlockCap = 8192L

  /** File slot i's path: sales and logs data routed by the filters,
    * warehouse files nothing matches, and /tmp and _COPYING_ files the
    * global ignore rule suppresses. */
  def pathOf(i: Int): String = (i % 100) match {
    case b if b < 30 => s"/data/sales/orders/part-$i.csv"
    case 30 => s"/data/sales/returns/part-$i.csv"
    case b if b < 56 => s"/data/logs/web/day-${i % 31}/log-$i.json"
    case b if b < 80 => s"/warehouse/hive/t${i % 50}/part-$i.parquet"
    case b if b < 90 => s"/tmp/staging/f$i"
    case _ => s"/data/logs/web/upload-$i.json._COPYING_"
  }

  val filters: Seq[Filter] = Seq(
    Filter("sales", "orders", "/data/sales/orders", ".*", 1),
    Filter("sales", "returns", "/data/sales/returns", ".*", 2),
    Filter("logs", "web", "/data/logs/web", ".*\\.json.*", 3))

  /** Generate `segments` finalized segments holding `ops` namespace ops
    * in total (each framed by start/end segment markers). */
  def backlog(seed: Long, slots: Int, ops: Int, segments: Int)
      : Seq[(String, Seq[EditOp])] = {
    val g = new EditLogGen(seed, slots)
    val per = math.max(1, ops / segments)
    (0 until segments).map { _ =>
      val b = mutable.ArrayBuffer.empty[EditOp]
      b += g.marker(EditLogDecoder.OpStartLogSegment)
      (0 until per).foreach(_ => b += g.next())
      b += g.marker(EditLogDecoder.OpEndLogSegment)
      (EditLogWriter.segmentName(b.head.txId, b.last.txId), b.toSeq)
    }
  }

  /** Deterministic stand-in for a block's bytes as a DataNode would
    * serve them. */
  def blockBytes(blockId: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](math.max(0, len))
    new java.util.SplittableRandom(blockId * 0x9E3779B97F4A7C15L).nextBytes(out)
    out
  }
}
