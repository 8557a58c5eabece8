package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE runtime skew mitigation (SURVEY §4): the OTHER skew strategy
  * next to deterministic salting (q17). A join where one key carries
  * almost all rows is re-planned at runtime — AQE splits the oversized
  * partition into parallel sub-joins, no code change and no result
  * change. Thresholds are lowered so gate-scale data exhibits what a
  * 100 TB hot key would; the hot rows carry an md5 payload because
  * skew detection runs on COMPRESSED shuffle sizes and a constant key
  * column alone compresses to nothing.
  */
class SkewJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    GraftSession.withConf(spark,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      // 50k rows on ONE key (incompressible payload) vs 50 spread keys
      val fact = spark.range(50000)
        .select(lit(0L).as("k"), md5(col("id").cast("string")).as("payload"))
        .union(spark.range(50).select((col("id") + 1).as("k"),
          md5(col("id").cast("string")).as("payload")))
      val dim = spark.range(51).select(col("id").as("k"),
        concat(lit("name-"), col("id")).as("name"))
      val joined = fact.join(dim, "k")
        .groupBy(col("name"))
        .agg(count(lit(1)).as("n"), max(col("payload")).as("mx"))
      val result = joined.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // correctness unchanged by the runtime re-plan
      assert(result("name-0") == 50000L)
      assert(result.size == 51)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    }
  }
}
