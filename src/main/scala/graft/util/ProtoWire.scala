package graft.util

/** The protobuf wire format — varint, length-delimited and fixed-width
  * fields — read and written by hand, with no protobuf runtime on the
  * classpath. The one reader and writer behind both protobuf formats
  * this project speaks: the `DFSChangeDelta` topic envelope
  * ([[graft.streaming.ChangeDeltaCodec]]) and the binary FSImage
  * ([[graft.ingest.FsImageBinary]]). */
private[graft] object ProtoWire {

  /** Fields are emitted in the order the caller writes them; writing in
    * field-number order with required fields always present is
    * byte-identical to protobuf-java's canonical serialization. */
  final class Writer {
    private val buf = new java.io.ByteArrayOutputStream(64)
    def varint(v: Long): Unit = {
      var x = v
      var continue = true
      while (continue) {
        val b = (x & 0x7f).toInt
        x = x >>> 7
        if (x != 0) buf.write(b | 0x80) else { buf.write(b); continue = false }
      }
    }
    private def tag(field: Int, wire: Int): Unit =
      varint((field.toLong << 3) | wire)
    def int64(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def bool(field: Int, v: Boolean): Unit = { tag(field, 0); varint(if (v) 1L else 0L) }
    def str(field: Int, s: String): Unit =
      bytes(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def bytes(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong); buf.write(b, 0, b.length)
    }
    def msg(field: Int)(f: Writer => Unit): Unit = {
      val w = new Writer; f(w); bytes(field, w.result)
    }
    def result: Array[Byte] = buf.toByteArray
  }

  /** Reads the message in `b[o, end)`. Every read is BOUNDS-CHECKED
    * against `end`, so a corrupted length prefix, a truncated field or a
    * varint longer than 10 bytes throws IllegalArgumentException instead
    * of silently decoding bytes that belong to sibling fields (these
    * decoders read bytes someone else produced). */
  final class Reader(b: Array[Byte], private var o: Int, end: Int) {
    if (o < 0 || o > end || end > b.length) throw new IllegalArgumentException(
      s"malformed protobuf: message [$o, $end) outside ${b.length} bytes")
    def this(b: Array[Byte]) = this(b, 0, b.length)
    def hasMore: Boolean = o < end
    private def bounds(n: Int): Unit =
      if (n < 0 || n > end - o) throw new IllegalArgumentException(
        s"malformed protobuf: length $n exceeds message bound at offset $o")
    def varint(): Long = {
      var shift = 0; var v = 0L
      while ({ bounds(1); val x = b(o); o += 1; v |= (x & 0x7fL) << shift
        shift += 7; (x & 0x80) != 0 }) {
        if (shift >= 70) throw new IllegalArgumentException(
          s"malformed protobuf: varint longer than 10 bytes at offset ${o - 10}")
      }
      v
    }
    /** A length prefix, checked against the bytes left in this message. */
    private def length(): Int = {
      val n = varint()
      if (n < 0 || n > end - o) throw new IllegalArgumentException(
        s"malformed protobuf: length $n exceeds message bound at offset $o")
      n.toInt
    }
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
    def strField(): String = {
      val n = length()
      val s = new String(b, o, n, java.nio.charset.StandardCharsets.UTF_8)
      o += n; s
    }
    def bytesField(): Array[Byte] = {
      val n = length()
      val v = java.util.Arrays.copyOfRange(b, o, o + n); o += n; v
    }
    def sub(): Reader = {
      val n = length()
      val p = new Reader(b, o, o + n); o += n; p
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => bounds(8); o += 8
      // two statements, NOT `o += length()`: compound assignment reads
      // the OLD o before length() advances it, landing the skip short by
      // the length-prefix bytes
      case 2 => val n = length(); o += n
      case 5 => bounds(4); o += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }
}
