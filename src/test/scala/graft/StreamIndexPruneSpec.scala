package graft

import graft.ops.curation.Dedup
import graft.streaming.StreamScratch.withScratch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the q72 scale property the round-4 verdict flagged: a
  * micro-batch's join against the accumulated band index must READ only
  * the bucket partitions the batch's own bands hash into — per-batch
  * index I/O is O(|batch bands|), not O(index). Measured with the
  * physical scan's own `numFiles` metric after execution, so the
  * assertion is about files actually opened, not about rows surviving a
  * post-read filter. */
class StreamIndexPruneSpec extends AnyFunSuite {
  private implicit lazy val spark: SparkSession = TestSpark.spark

  private val words = (0 until 120).map(i => s"w$i")
  private def doc(id: Long): (Long, String) =
    (id, (0 until 12).map(j => words(((id * 7 + j * 13) % 120).toInt)).mkString(" "))

  test("per-batch index read opens only the touched bucket partitions") {
    import spark.implicits._
    withScratch("graft_prune_") { tmp =>
      // seed 3 batches × 40 docs: the accumulated index spans (nearly)
      // all IndexBuckets partitions
      for (b <- 0 until 3) {
        val docs = ((b * 40) until (b * 40 + 40)).map(i => doc(i.toLong))
          .toDF("doc_id", "text")
        Dedup.streamIndexStep(docs, b.toLong, tmp)
      }
      val allFiles = {
        val root = java.nio.file.Paths.get(tmp, "bands")
        val s = java.nio.file.Files.walk(root)
        try s.filter(p => p.toString.endsWith(".parquet")).count()
        finally s.close()
      }
      // a 1-doc batch has exactly Bands (=4) band keys → ≤ 4 of the 16
      // bucket partitions are touched
      val one = Seq(doc(999L)).toDF("doc_id", "text")
      val touched = graft.ops.MinHash.bandTable(one)
        .withColumn("bucket", pmod(hash(col("band")), lit(Dedup.IndexBuckets)))
        .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq
      assert(touched.nonEmpty && touched.size <= 4,
        s"1-doc batch should touch ≤4 buckets, got ${touched.size}")

      val pruned = Dedup.readIndex(spark, s"$tmp/bands", 3L, touched)
      pruned.collect() // execute so the scan metric is populated
      val scan = pruned.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scan.nonEmpty, "expected a FileSourceScanExec leaf")
      val filesRead = scan.head.metrics("numFiles").value
      // one file per (batch, bucket) layout → at most touched × batches
      assert(filesRead <= touched.size.toLong * 3,
        s"read $filesRead files for ${touched.size} buckets × 3 batches")
      assert(filesRead < allFiles,
        s"pruning had no effect: read $filesRead of $allFiles index files")
    }
  }

  test("incremental pairs equal the batch candidate set on the same corpus") {
    import spark.implicits._
    withScratch("graft_prune_eq_") { tmp =>
      val corpus = (0 until 60).map(i => doc(i.toLong))
      // overlapping slices put the same (id, text) in two batches so
      // cross-batch AND duplicate-delivery paths are both exercised
      val batches = Seq(
        corpus.slice(0, 20),
        corpus.slice(15, 40),
        corpus.slice(35, 60))
      batches.zipWithIndex.foreach { case (docs, id) =>
        Dedup.streamIndexStep(docs.toDF("doc_id", "text"), id.toLong, tmp)
      }
      val incremental = spark.read.parquet(s"$tmp/pairs")
        .select(col("doc_a"), col("doc_b")).distinct()
        .as[(Long, Long)].collect().toSet
      val all = batches.flatten.distinct.toDF("doc_id", "text")
      val bands = graft.ops.MinHash.bandTable(all)
      val batch = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct().as[(Long, Long)].collect().toSet
      assert(incremental === batch,
        s"incremental=${incremental.size} batch=${batch.size}")
    }
  }
}
