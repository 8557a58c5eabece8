package graft.ingest

import graft.ingest.FsImageBootstrap.{Edge, INode}
import graft.model.FileState
import graft.util.ProtoWire.Reader
import org.apache.spark.sql.{Dataset, SparkSession}

/** Binary (protobuf) FSImage loader (SURVEY §2.1 S4) — reads the
  * NameNode's on-disk image format directly, so bootstrap needs neither
  * the `hdfs oiv` XML detour the reference shells out to
  * (`agent/namenode/main/NameNodeReplicator.java:223-238`) nor any HDFS
  * server jar. Validated against the reference's real fixture image
  * (`namenode-agent/src/test/resources/edits/logs/current/fsimage_…`).
  *
  * On-disk layout (public `fsimage.proto` + `FSImageFormatProtobuf`):
  * {{{
  *   file := "HDFSIMG1" section-data… FileSummary summaryLength:i32BE
  *   FileSummary  := {1:ondiskVersion 2:layoutVersion 3:codec?
  *                    4:sections{1:name 2:length 3:offset}…}
  *   NS_INFO      := NameSystemSection {6:transactionId …}
  *   INODE        := delim INodeSection{1:lastInodeId 2:numInodes}
  *                   then numInodes × delim INode{1:type 2:id 3:name
  *                     4:INodeFile{6:blocks{1:id 2:genStamp 3:numBytes}}
  *                     5:INodeDirectory}
  *   INODE_DIR    := delim DirEntry{1:parent 2:children packed}…
  * }}}
  * Only uncompressed images are supported (a codec would appear in
  * FileSummary field 3 — the fixture and default deployments write
  * none).
  *
  * The decoded inodes/edges feed the SAME iterative-join path
  * resolution and bootstrap-state builder as the XML path
  * ([[FsImageBootstrap.resolvePaths]]) — one parse task per image file
  * via `binaryFile`, everything downstream distributed.
  */
object FsImageBinary {

  final case class Summary(layoutVersion: Long, txId: Long,
      numInodes: Long, inodes: Seq[INode], edges: Seq[Edge])

  private val Magic = "HDFSIMG1".getBytes("UTF-8")

  /** Parse one image file. Pure — runs inside a decode task. Reads go
    * through the bounds-checked [[ProtoWire.Reader]], and the summary
    * and every section are checked to lie inside the image before they
    * are read, so a corrupt image throws IllegalArgumentException. */
  def parseImage(bytes: Array[Byte]): Summary = {
    require(bytes.length > 12 && Magic.indices.forall(i => bytes(i) == Magic(i)),
      "not an HDFS protobuf fsimage (missing HDFSIMG1 magic)")
    val sumLen = ((bytes(bytes.length - 4) & 0xffL) << 24) |
      ((bytes(bytes.length - 3) & 0xff) << 16) |
      ((bytes(bytes.length - 2) & 0xff) << 8) | (bytes(bytes.length - 1) & 0xff)
    val sumStart = bytes.length - 4 - sumLen
    require(sumStart >= Magic.length,
      s"malformed fsimage: summary length $sumLen runs past the file start")
    // FileSummary itself is a delimited message at sumStart
    val summary = new Reader(bytes, sumStart.toInt, bytes.length - 4).sub()
    var layout = 0L
    var sections = Vector.empty[(String, Long, Long)]
    while (summary.hasMore) summary.tag() match {
      case (2, 0) => layout = summary.varint()
      case (3, 2) =>
        val codec = summary.strField()
        require(codec.isEmpty, s"compressed fsimage not supported: $codec")
      case (4, 2) =>
        val s = summary.sub()
        var name = ""; var len = 0L; var off = 0L
        while (s.hasMore) s.tag() match {
          case (1, 2) => name = s.strField()
          case (2, 0) => len = s.varint()
          case (3, 0) => off = s.varint()
          case (_, w) => s.skip(w)
        }
        // sections lie between the magic and the summary
        require(off >= Magic.length && len >= 0 && len <= sumStart - off,
          s"malformed fsimage: section $name [$off, +$len) outside the image")
        sections :+= ((name, len, off))
      case (_, w) => summary.skip(w)
    }
    def section(name: String): Option[Reader] =
      sections.find(_._1 == name).map { case (_, len, off) =>
        new Reader(bytes, off.toInt, (off + len).toInt)
      }

    val txId = section("NS_INFO").map { p =>
      val m = p.sub() // delimited NameSystemSection
      var tx = -1L
      while (m.hasMore) m.tag() match {
        case (6, 0) => tx = m.varint()
        case (_, w) => m.skip(w)
      }
      tx
    }.getOrElse(-1L)

    var numInodes = 0L
    val inodes = Seq.newBuilder[INode]
    section("INODE").foreach { p =>
      val hdr = p.sub() // INodeSection {1: lastInodeId, 2: numInodes}
      while (hdr.hasMore) hdr.tag() match {
        case (2, 0) => numInodes = hdr.varint()
        case (_, w) => hdr.skip(w)
      }
      var i = 0L
      while (i < numInodes && p.hasMore) {
        val m = p.sub()
        var tpe = 0L; var id = -1L; var name = ""
        var nBlocks = 0L; var totBytes = 0L
        while (m.hasMore) m.tag() match {
          case (1, 0) => tpe = m.varint()
          case (2, 0) => id = m.varint()
          case (3, 2) => name = m.strField()
          case (4, 2) => // INodeFile
            val f = m.sub()
            while (f.hasMore) f.tag() match {
              case (6, 2) => // BlockProto {1: id, 2: genStamp, 3: numBytes}
                val blk = f.sub()
                nBlocks += 1
                while (blk.hasMore) blk.tag() match {
                  case (3, 0) => totBytes += blk.varint()
                  case (_, w) => blk.skip(w)
                }
              case (_, w) => f.skip(w)
            }
          case (_, w) => m.skip(w)
        }
        val tname = tpe match {
          case 1 => "FILE"
          case 2 => "DIRECTORY"
          case 3 => "SYMLINK"
          case t => s"TYPE_$t"
        }
        if (id >= 0) inodes += INode(id, tname, name, nBlocks, totBytes)
        i += 1
      }
    }

    val edges = Seq.newBuilder[Edge]
    section("INODE_DIR").foreach { p =>
      while (p.hasMore) {
        val m = p.sub() // DirEntry {1: parent, 2: children packed}
        var parent = -1L
        while (m.hasMore) m.tag() match {
          case (1, 0) => parent = m.varint()
          case (2, 2) => // packed children
            val c = m.sub()
            while (c.hasMore) edges += Edge(c.varint(), parent)
          case (2, 0) => edges += Edge(m.varint(), parent)
          case (_, w) => m.skip(w)
        }
      }
    }
    Summary(layout, txId, numInodes, inodes.result(), edges.result())
  }

  /** Flattened parse record: `kind` discriminates inode/edge/txid rows
    * — one SMALL row per namespace object (a million-inode image is a
    * million rows, never one giant Seq-valued row). */
  final case class ImageRow(kind: String, id: Long, tpe: String,
      name: String, nBlocks: Long, totBytes: Long, child: Long,
      parent: Long, txId: Long)

  /** Distributed parse: ONE protobuf walk per image file, eagerly
    * checkpointed so the inode/edge/txId consumers all read the parsed
    * rows instead of re-decoding the image per downstream dataset. */
  def parseAll(spark: SparkSession, path: String): Dataset[ImageRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap { b =>
        val s = parseImage(b)
        s.inodes.iterator.map(i => ImageRow("inode", i.id, i.inodeType,
          i.name, i.numBlocks, i.totalBytes, -1L, -1L, -1L)) ++
          s.edges.iterator.map(e => ImageRow("edge", -1L, "", "", 0L, 0L,
            e.childId, e.parentId, -1L)) ++
          Iterator.single(ImageRow("txid", -1L, "", "", 0L, 0L, -1L, -1L,
            s.txId))
      }
      .transform(graft.util.Pin.apply)
  }

  private def inodesOf(parsed: Dataset[ImageRow])(
      implicit spark: SparkSession): Dataset[INode] = {
    import spark.implicits._
    parsed.filter(_.kind == "inode")
      .map(r => INode(r.id, r.tpe, r.name, r.nBlocks, r.totBytes))
  }

  private def edgesOf(parsed: Dataset[ImageRow])(
      implicit spark: SparkSession): Dataset[Edge] = {
    import spark.implicits._
    parsed.filter(_.kind == "edge").map(r => Edge(r.child, r.parent))
  }

  def parse(spark: SparkSession, path: String): (Dataset[INode], Dataset[Edge]) = {
    implicit val s: SparkSession = spark
    val parsed = parseAll(spark, path)
    (inodesOf(parsed), edgesOf(parsed))
  }

  /** Bootstrap state straight from a binary image: same downstream path
    * resolution and state shape as [[FsImageBootstrap.bootstrapState]];
    * `asOfTxId` defaults to the image's own transaction id (read from
    * the already-parsed summary — the image is decoded exactly once). */
  def bootstrapState(spark: SparkSession, imagePath: String,
      asOfTxId: Long = -1L): Dataset[FileState] = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val parsed = parseAll(spark, imagePath)
    val inodes = inodesOf(parsed)
    val edges = edgesOf(parsed)
    val txId =
      if (asOfTxId >= 0) asOfTxId
      else parsed.filter(_.kind == "txid").map(_.txId).reduce(math.max)
    val paths = FsImageBootstrap.resolvePaths(inodes, edges)
    import org.apache.spark.sql.functions._
    inodes.toDF().filter(col("inodeType") === "FILE")
      .join(paths, col("id") === col("inodeId"))
      .select(col("path"), col("numBlocks"), col("totalBytes"))
      .as[(String, Long, Long)]
      .map { case (p, nb, bytes) =>
        FileState(p, graft.model.FileLifecycle.Finalized, numBlocks = nb,
          dataSizeCents = bytes * 100, // fixed-point hundredths convention
          lastTxId = txId, nOps = 1, nAppends = 0,
          chainKnown = false) // per-block chain not loaded
      }
  }
}
