package graft.sources

import java.util
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE path for the block-replica file sink (K5's
  * `<blockId>-<prevBlockId>.blk` layout) with the two-phase commit
  * protocol a 1000-executor write actually needs:
  *
  *  1. every task attempt writes its files under a private
  *     `_tmp/<attemptUUID>/` directory — task retries and SPECULATIVE
  *     DUPLICATES each get their own, so concurrent attempts never
  *     collide;
  *  2. a task's `commit()` returns the attempt's file list as its
  *     [[WriterCommitMessage]]; Spark guarantees at most one attempt
  *     per task is committed;
  *  3. the driver's `BatchWrite.commit` publishes EXACTLY the files
  *     named in commit messages (rename out of the temp dir — a
  *     same-filesystem metadata op), then removes `_tmp`: losers of
  *     speculation and failed attempts vanish without a trace;
  *  4. any task failure aborts the job → `BatchWrite.abort` deletes
  *     the whole temp tree and the target keeps NO partial output.
  *
  * `spark.read.format(binaryFile)` over the published layout is the
  * read-back path (`ChangeSetAssembler.readReplicas`); a spec drives
  * both the happy path and an injected mid-write task failure.
  */
class BlockFileSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BlockFileSink.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BlockSinkTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

object BlockFileSink {
  val Schema: StructType = StructType(Seq(
    StructField("block_id", LongType, nullable = false),
    StructField("prev_block_id", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}

private class BlockSinkTable(path: String) extends Table with SupportsWrite {
  require(path != null, "graft block sink needs a .save(path)")
  override def name(): String = s"graft-blocksink:$path"
  override def schema(): StructType = BlockFileSink.Schema
  // BATCH_WRITE only: advertising TRUNCATE without a SupportsTruncate
  // builder would pass analysis and then fail at physical planning —
  // a clean analysis error for overwrite mode beats a late surprise
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        // one UUID per logical write, minted on the driver and shipped
        // to every writer: two CONCURRENT jobs targeting the same path
        // each own `_tmp/<writeUUID>` and cannot wipe each other's
        // in-flight attempts on commit/abort
        override def toBatch: BatchWrite = new BlockSinkBatchWrite(path,
          UUID.randomUUID().toString, HadoopConfShip.capture())
      }
    }
}

/** Ships the session's Hadoop configuration to executor-side DSv2
  * factories via Spark's own SerializableConfiguration — so fs.s3a
  * credentials, custom scheme impls, and kerberos settings set through
  * spark.hadoop.* reach the writer/reader (a fresh
  * `new Configuration()` would silently drop them). */
private[graft] object HadoopConfShip {
  type Shipped = org.apache.spark.util.SerializableConfiguration

  def capture(spark: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active): Shipped =
    new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
}

private case class BlockFilesCommitted(files: Seq[String])
    extends WriterCommitMessage

private class BlockSinkBatchWrite(path: String, writeId: String,
    conf: HadoopConfShip.Shipped) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new BlockSinkWriterFactory(path, writeId, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val all = messages.flatMap {
      case BlockFilesCommitted(files) => files
      case other =>
        throw new IllegalStateException(s"unexpected commit message $other")
    }
    // conflicting data inside ONE job fails LOUDLY before anything is
    // published: two tasks emitting the same (block_id, prev) name may
    // carry different payloads, and last-write-wins there would lose
    // one silently in a sink whose contract is commit integrity
    val dupes = all.groupBy(f => new Path(f).getName)
      .collect { case (name, fs) if fs.length > 1 => name }
    if (dupes.nonEmpty)
      throw new IllegalStateException(
        s"duplicate block files within one write: ${dupes.mkString(", ")}")
    val fs = SinkFileSystem.get(path, conf.value)
    val target = new Path(path)
    fs.mkdirs(target)
    // publish exactly the committed attempts' files; anything else in
    // _tmp (failed / speculative-loser attempts) is discarded below.
    // ACROSS jobs, replacing an existing name is deliberate: a block
    // delta re-emitted by a later run supersedes the earlier file
    // (idempotent re-runs), matching the replica layout's semantics.
    all.foreach { f =>
      val src = new Path(f)
      val dst = new Path(target, src.getName)
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"commit rename failed for $f")
    }
    // clean ONLY this job's temp tree; a sibling job's in-flight
    // attempts under _tmp/<otherUUID> must survive. The shared _tmp
    // root is removed opportunistically once empty (non-recursive
    // delete refuses a non-empty dir — ignore that outcome).
    fs.delete(new Path(new Path(target, "_tmp"), writeId), true)
    try fs.delete(new Path(target, "_tmp"), false) catch { case _: java.io.IOException => () }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = SinkFileSystem.get(path, conf.value)
    fs.delete(new Path(new Path(new Path(path), "_tmp"), writeId), true)
    try fs.delete(new Path(new Path(path), "_tmp"), false) catch { case _: java.io.IOException => () }
  }
}

private class BlockSinkWriterFactory(path: String, writeId: String,
    conf: HadoopConfShip.Shipped) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BlockSinkWriter(path, writeId, conf)
}

private class BlockSinkWriter(path: String, writeId: String,
    conf: HadoopConfShip.Shipped) extends DataWriter[InternalRow] {
  // one private dir per ATTEMPT (not per task id) under this JOB's
  // writeId: speculative twins of the same task write side by side and
  // only one gets committed; concurrent jobs never share a tree
  private val attemptDir = new Path(
    new Path(new Path(path, "_tmp"), writeId), UUID.randomUUID().toString)
  private lazy val fs = {
    val f = SinkFileSystem.get(path, conf.value)
    f.mkdirs(attemptDir)
    f
  }
  // a LinkedHashSet, not a buffer: a duplicate (block_id, prev) within
  // the attempt overwrites the same file and must be published once
  private val written = scala.collection.mutable.LinkedHashSet.empty[String]

  override def write(row: InternalRow): Unit = {
    val blockId = row.getLong(0)
    val prev = row.getLong(1)
    val data = row.getBinary(2)
    val f = new Path(attemptDir, s"$blockId-$prev.blk")
    val out = fs.create(f, true)
    try out.write(data) finally out.close()
    written += f.toString
  }

  override def commit(): WriterCommitMessage = BlockFilesCommitted(written.toSeq)

  override def abort(): Unit = fs.delete(attemptDir, true)

  override def close(): Unit = ()
}
