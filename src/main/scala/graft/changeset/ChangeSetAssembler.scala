package graft.changeset

import graft.sources.{HadoopConfShip, SinkFileSystem}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Change-set byte assembly + block-replica sink (SURVEY §2.1 S6/S10,
  * §2.2 K5; behavior of `agent/common/ChangeSetHelper.java:18-57` — seek
  * to the merged range's startOffset and copy `end-start+1` bytes — and
  * `core/io/FSBlock.java:40-45` replica naming
  * `<blockId>-<prevBlockId>.blk` under a per-file directory, uploaded by
  * `agent/pipeline/FileTransactionProcessor.java:598-632`).
  *
  * Spark shape: block bytes ride a `binary` column; slicing is a narrow
  * `mapPartitions` projection (no shuffle); the replica write is a
  * `foreachPartition` Hadoop-FS write so it targets `file://`, `hdfs://`
  * or `s3a://` uniformly — the reference's custom local/S3 FS layer
  * collapses into Hadoop FS URI schemes. Each task writes only its
  * partition's blocks: write parallelism == partition count at any
  * scale.
  */
object ChangeSetAssembler {

  /** Slice each block's merged change range out of its full bytes.
    * Expects columns: path:string, blockId:long, prevBlockId:long,
    * content:binary, startOffset:long, endOffset:long, deleted:boolean.
    * Emits (path, blockId, prevBlockId, deltaBytes) — deleted blocks
    * emit an empty delta (the pointer message carries the tombstone). */
  def sliceChangeSets(blocks: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("blockId", LongType),
      StructField("prevBlockId", LongType),
      StructField("delta", BinaryType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val iPath = blocks.schema.fieldIndex("path")
    val iBlock = blocks.schema.fieldIndex("blockId")
    val iPrev = blocks.schema.fieldIndex("prevBlockId")
    val iContent = blocks.schema.fieldIndex("content")
    val iStart = blocks.schema.fieldIndex("startOffset")
    val iEnd = blocks.schema.fieldIndex("endOffset")
    val iDel = blocks.schema.fieldIndex("deleted")
    blocks.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](iContent)
        val delta =
          if (r.getBoolean(iDel) || bytes == null) Array.emptyByteArray
          else {
            val s = math.max(0L, r.getLong(iStart)).toInt
            // reference copies end-start+1 bytes (inclusive end offset)
            val e = math.min(bytes.length.toLong, r.getLong(iEnd) + 1).toInt
            if (e > s) java.util.Arrays.copyOfRange(bytes, s, e)
            else Array.emptyByteArray
          }
        Row(r.getString(iPath), r.getLong(iBlock), r.getLong(iPrev), delta)
      }
    }(enc)
  }

  /** Replica file name — parity with `core/io/FSBlock.java:40-45`. */
  def replicaFileName(blockId: Long, prevBlockId: Long): String =
    s"$blockId-$prevBlockId.blk"

  /** Write sliced deltas as block-replica files:
    * `<targetDir>/<escaped file path>/<blockId>-<prevBlockId>.blk`.
    * Distributed foreachPartition write through Hadoop FS, with the
    * session's Hadoop conf shipped to the executors. */
  def writeReplicas(deltas: DataFrame, targetDir: String): Unit = {
    val iPath = deltas.schema.fieldIndex("path")
    val iBlock = deltas.schema.fieldIndex("blockId")
    val iPrev = deltas.schema.fieldIndex("prevBlockId")
    val iDelta = deltas.schema.fieldIndex("delta")
    val conf = HadoopConfShip.capture(deltas.sparkSession)
    deltas.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val fs = SinkFileSystem.get(targetDir, conf.value)
        it.foreach { r =>
          val bytes = r.getAs[Array[Byte]](iDelta)
          // deleted/empty blocks write no replica — the tombstone rides
          // the pointer message (ref: delete never copies block bytes)
          if (bytes != null && bytes.nonEmpty) {
            val fileDir = new org.apache.hadoop.fs.Path(targetDir,
              r.getString(iPath).stripPrefix("/").replace('/', '_'))
            val out = fs.create(new org.apache.hadoop.fs.Path(fileDir,
              replicaFileName(r.getLong(iBlock), r.getLong(iPrev))), true)
            out.write(bytes)
            out.close()
          }
        }
      }
    }
  }

  /** Read replicas back (binaryFile source over the .blk layout) —
    * the S10 replica-read side used when assembling downstream deltas. */
  def readReplicas(spark: SparkSession, targetDir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.blk")
      .option("recursiveFileLookup", "true")
      .load(targetDir)
      .select(
        regexp_extract(col("path"), "([0-9]+)-([0-9-]+)\\.blk$", 1)
          .cast(LongType).as("blockId"),
        regexp_extract(col("path"), "([0-9]+)-(-?[0-9]+)\\.blk$", 2)
          .cast(LongType).as("prevBlockId"),
        col("content").as("delta"),
        col("path").as("replicaPath"))
}
