package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Partition-pruning evidence for the 100-TB layout story: a fact
  * table written with hive-style partitioning must be read back with
  * (a) STATIC pruning when the partition column is filtered directly,
  * and (b) DYNAMIC partition pruning (DPP) when the filter arrives
  * through a dim-side join — the plan shape that turns a full fact
  * scan into a few-partition read on a real cluster. */
class PartitionPruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val factDir: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
    (0 until 10000).map(i => (i.toLong, i % 8, (i * 37 % 100).toLong))
      .toDF("id", "bucket", "v")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$tmp/fact.parquet")
    tmp
  }

  private def factScan(df: org.apache.spark.sql.DataFrame)
      : FileSourceScanExec = {
    df.collect() // execute so AQE finalizes the plan
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("fact.parquet")) => s
    }.getOrElse(fail("no file scan over the fact table in the plan"))
  }

  test("static filter on the partition column prunes the scan") {
    val df = spark.read.parquet(s"$factDir/fact.parquet")
      .filter(col("bucket") === 3)
    val scan = factScan(df)
    assert(scan.metadata("PartitionFilters").contains("bucket"),
      s"partition filter missing: ${scan.metadata("PartitionFilters")}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 of 8 partitions, got ${scan.selectedPartitions.partitionCount}")
    assert(df.count() == 10000L / 8)
  }

  test("a dim-side filter prunes the fact scan via DPP") {
    import spark.implicits._
    // the benefit heuristic estimates pruned bytes from stats — on a
    // KB-sized test fixture it always says "not worth it", so pin the
    // ratio fallback the way Spark's own DPP suite does (scoped)
    GraftSession.withConf(spark,
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0") {
      // the dim must be file-backed: a filtered in-memory LocalRelation
      // is constant-folded away, leaving no selective predicate for the
      // pruning rule to find
      Seq((3, "keep"), (5, "keep"), (6, "drop")).toDF("bucket", "tag")
        .write.mode("overwrite").parquet(s"$factDir/dim.parquet")
      val dim = spark.read.parquet(s"$factDir/dim.parquet")
      val fact = spark.read.parquet(s"$factDir/fact.parquet")
      val joined = fact.join(broadcast(dim.filter(col("tag") === "keep")),
        Seq("bucket"))
      // the result is the two buckets' worth of rows; executing also
      // finalizes the adaptive plan so the pruning subquery is visible
      assert(joined.count() == 2L * (10000L / 8))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"DPP subquery missing from fact scan:\n$plan")
    }
  }

  test("no partition filter means all partitions are read (control)") {
    val df = spark.read.parquet(s"$factDir/fact.parquet")
      .filter(col("v") > 50) // non-partition predicate only
    val scan = factScan(df)
    assert(scan.selectedPartitions.partitionCount == 8)
  }
}
