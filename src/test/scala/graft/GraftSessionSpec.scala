package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The session contract: what `GraftSession.local` configures, how
  * `withConf` restores, and that no other code builds a session. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val setKey = "spark.graft.test.setKey"
  private val unsetKey = "spark.graft.test.unsetKey"

  test("withConf restores a key that was set and unsets a key that was unset") {
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    try {
      val seen = GraftSession.withConf(spark, setKey -> "inside",
          unsetKey -> "inside") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(seen == ("inside", "inside"))
      assert(spark.conf.get(setKey) == "before")
      assert(spark.conf.getOption(unsetKey).isEmpty)
    } finally spark.conf.unset(setKey)
  }

  test("withConf restores both keys when the body throws") {
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    try {
      val e = intercept[IllegalStateException] {
        GraftSession.withConf(spark, setKey -> "inside", unsetKey -> "inside") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(spark.conf.get(setKey) == "before")
      assert(spark.conf.getOption(unsetKey).isEmpty)
    } finally spark.conf.unset(setKey)
  }

  test("local carries the session contract confs") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(GraftSession.cpus >= 1)
  }

  test("no source file outside GraftSession builds a session") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val offenders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter((p: Path) => builder.findFirstIn(Files.readString(p)).isDefined)
      .toSeq
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.local: ${offenders.mkString(", ")}")
  }
}
