package graft

import graft.ingest.FsImageBinary
import graft.ingest.FsImageBootstrap.{Edge, INode}
import graft.streaming.ChangeDeltaCodec
import graft.util.ProtoWire
import org.scalatest.funsuite.AnyFunSuite

/** The shared protobuf wire reader on hand-assembled inputs: a
  * well-formed FSImage decodes, and every corrupt shape — a summary or
  * section outside the image, a truncated varint, an 11-byte varint —
  * throws IllegalArgumentException instead of reading out of bounds or
  * decoding bytes that belong to a sibling. The bytes are built here
  * from the public `fsimage.proto` field numbers, independent of the
  * reader's own writer. */
class ProtoWireSpec extends AnyFunSuite {

  // ── independent wire bytes ──────────────────────────────────────────
  private def vint(v: Long): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var x = v
    var go = true
    while (go) {
      val b = (x & 0x7f).toInt; x = x >>> 7
      if (x != 0) out += (b | 0x80).toByte else { out += b.toByte; go = false }
    }
    out.toArray
  }
  private def fld(n: Int, wire: Int): Array[Byte] = vint((n.toLong << 3) | wire)
  private def i64(n: Int, v: Long): Array[Byte] = fld(n, 0) ++ vint(v)
  private def ld(n: Int, b: Array[Byte]): Array[Byte] =
    fld(n, 2) ++ vint(b.length.toLong) ++ b
  private def str(n: Int, s: String): Array[Byte] = ld(n, s.getBytes("UTF-8"))
  private def delim(b: Array[Byte]): Array[Byte] = vint(b.length.toLong) ++ b
  private def int32BE(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v).array()

  private val Magic = "HDFSIMG1".getBytes("UTF-8")

  /** Magic, the sections in order, the delimited FileSummary and its
    * 4-byte length. `entries` overrides the (name, offset, length) the
    * summary records; `summary` overrides the summary body. */
  private def image(sections: Seq[(String, Array[Byte])],
      entries: Seq[(String, Long, Long)] => Seq[(String, Long, Long)] = identity,
      summary: Option[Array[Byte]] = None): Array[Byte] = {
    val offsets = sections.scanLeft(Magic.length.toLong)(_ + _._2.length)
    val recorded = entries(sections.zip(offsets).map { case ((n, b), off) =>
      (n, off, b.length.toLong) })
    val body = summary.getOrElse(i64(1, 1) ++ i64(2, -66) ++
      recorded.flatMap { case (n, off, len) =>
        ld(4, str(1, n) ++ i64(2, len) ++ i64(3, off)) }.toArray)
    val sum = delim(body)
    Magic ++ sections.flatMap(_._2) ++ sum ++ int32BE(sum.length)
  }

  private val nsInfo = "NS_INFO" -> delim(i64(6, 42))
  private val inodes = "INODE" -> (delim(i64(1, 16386) ++ i64(2, 2)) ++
    delim(i64(1, 2) ++ i64(2, 16385) ++ str(3, "")) ++
    delim(i64(1, 1) ++ i64(2, 16386) ++ str(3, "a.txt") ++
      ld(4, ld(6, i64(1, 1073741825L) ++ i64(2, 1001) ++ i64(3, 100)))))
  private val inodeDir = "INODE_DIR" ->
    delim(i64(1, 16385) ++ ld(2, vint(16386)))
  private val good = Seq(nsInfo, inodes, inodeDir)

  private def corrupt(bytes: Array[Byte]): IllegalArgumentException =
    intercept[IllegalArgumentException](FsImageBinary.parseImage(bytes))

  test("a hand-assembled image decodes: txid, inodes, blocks and edges") {
    val s = FsImageBinary.parseImage(image(good))
    assert(s.layoutVersion == -66L && s.txId == 42L && s.numInodes == 2L)
    assert(s.inodes == Seq(INode(16385L, "DIRECTORY", "", 0L, 0L),
      INode(16386L, "FILE", "a.txt", 1L, 100L)))
    assert(s.edges == Seq(Edge(16386L, 16385L)))
  }

  test("a summary whose length runs past the file start is rejected") {
    val bytes = image(good)
    val bad = bytes.dropRight(4) ++ int32BE(bytes.length)
    assert(corrupt(bad).getMessage.contains("summary length"))
    // a length with the sign bit set is an unsigned 32-bit count, not < 0
    assert(corrupt(bytes.dropRight(4) ++ int32BE(-1)).getMessage
      .contains("summary length"))
  }

  test("a section whose offset + length runs past EOF is rejected") {
    // INODE claims 5 inodes but its section entry runs 4 KiB past EOF
    val bad = image(Seq(nsInfo,
      "INODE" -> (delim(i64(2, 5)) ++ inodes._2.drop(delim(i64(1, 16386) ++
        i64(2, 2)).length)), inodeDir),
      entries = _.map {
        case ("INODE", off, len) => ("INODE", off, len + 4096)
        case e => e
      })
    assert(corrupt(bad).getMessage.contains("section INODE"))
    // an offset inside the magic is outside every section, too
    val intoMagic = image(good, entries = _.map {
      case ("NS_INFO", _, len) => ("NS_INFO", 0L, len)
      case e => e
    })
    assert(corrupt(intoMagic).getMessage.contains("section NS_INFO"))
  }

  test("a truncated varint is rejected, not completed from the next bytes") {
    // the summary's last field is a varint whose continuation bit is set
    // on the summary's final byte: the length trailer must not finish it
    val bad = image(good, summary = Some(i64(1, 1) ++ fld(2, 0) ++
      Array(0x80.toByte)))
    assert(corrupt(bad).getMessage.contains("malformed protobuf"))
    // the same inside a section: NS_INFO's txid cut mid-varint
    val inSection = image(Seq("NS_INFO" -> delim(fld(6, 0) ++
      Array(0xff.toByte)), inodes, inodeDir))
    assert(corrupt(inSection).getMessage.contains("malformed protobuf"))
  }

  test("an 11-byte varint is rejected; a 10-byte one decodes") {
    val eleven = fld(2, 0) ++ Array.fill(10)(0xff.toByte) ++ Array[Byte](1)
    val bad = image(good, summary = Some(i64(1, 1) ++ eleven))
    assert(corrupt(bad).getMessage.contains("longer than 10 bytes"))
    // -1 as a uint64 is the longest legal varint: ten bytes
    assert(vint(-1L).length == 10)
    val ok = image(good, summary = Some(i64(1, 1) ++ i64(2, -1L)))
    assert(FsImageBinary.parseImage(ok).layoutVersion == -1L)
  }

  test("the DFSChangeDelta codec reads through the same bounds-checked reader") {
    val eleven = fld(5, 0) ++ Array.fill(10)(0x80.toByte) ++ Array[Byte](1)
    val env = str(4, "ai.sapper.hcdc.common.model.DFSDeleteFile") ++ eleven
    val e = intercept[IllegalArgumentException](ChangeDeltaCodec.decode(env))
    assert(e.getMessage.contains("longer than 10 bytes"))
    // a length prefix beyond Int range is a bound violation, not a
    // truncated Int that happens to fit
    val huge = fld(6, 2) ++ vint((1L << 32) + 1) ++ Array[Byte](0)
    intercept[IllegalArgumentException](ChangeDeltaCodec.decode(
      str(4, "ai.sapper.hcdc.common.model.DFSDeleteFile") ++ huge))
    // a reader over a window outside its buffer is refused up front
    intercept[IllegalArgumentException](new ProtoWire.Reader(new Array[Byte](4), 2, 9))
  }
}
