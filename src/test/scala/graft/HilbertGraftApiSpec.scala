package graft

import graft.ops.tableops.ClusteredLayout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The q284/q287 layout device as a USER-CALLABLE operator (round-10
  * verdict ask #7): `ClusteredLayout.writeClusteredLayout` materializes
  * a Hilbert-clustered table version + zone-map manifest, and
  * `ClusteredLayout.hilbertScan` proves measured files-read reduction
  * with exact results. */
class HilbertGraftApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("writeHilbertLayout + hilbertRectangleScan: exact result, most files skipped") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_hapi_").toString
    val rng = new scala.util.Random(41)
    val rows = (1 to 50000).map { i =>
      (i.toLong, rng.nextInt(2000).toLong + 1, rng.nextInt(800).toLong + 1)
    }
    val df = rows.toDF("id", "pk", "sk")

    ClusteredLayout.writeClusteredLayout(df, Seq("pk", "sk"), s"$tmp/layout",
      files = 64)

    // q287's rectangle: 20-30% x 40-60% of each domain
    val (xLo, xHi) = (400L, 600L)
    val (yLo, yHi) = (320L, 480L)
    val (result, read, total) = ClusteredLayout.hilbertScan(
      spark, s"$tmp/layout", Seq(("pk", xLo, xHi), ("sk", yLo, yHi)))

    // exactness: the pruned scan returns precisely the filtered rows
    val expected = df.filter(col("pk").between(xLo, xHi) &&
      col("sk").between(yLo, yHi))
    assert(result.count() == expected.count())
    assert(result.select("id").except(expected.select("id")).isEmpty &&
      expected.select("id").except(result.select("id")).isEmpty)

    // measured files-read reduction: the rectangle covers 10% x 20% of
    // the domain; Hilbert clustering must confine it to a minority of
    // the 64 files (measured here: ~8-14 of 64)
    assert(total == 64, s"expected 64 data files, found $total")
    assert(read <= total / 3,
      s"expected <= 1/3 of files read, got $read of $total")

    // control: an id-ordered (unclustered) layout of the SAME data
    // leaves the rectangle spread across ~every file — the reduction
    // above is the clustering, not the zone-map bookkeeping
    df.repartitionByRange(64, col("id"))
      .write.mode("overwrite").parquet(s"$tmp/control/data")
    spark.read.parquet(s"$tmp/control/data")
      .groupBy(input_file_name().as("file"))
      .agg(min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
        min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/control/zonemap")
    val (_, readCtl, totalCtl) = ClusteredLayout.hilbertScan(
      spark, s"$tmp/control", Seq(("pk", xLo, xHi), ("sk", yLo, yHi)))
    assert(readCtl > totalCtl * 9 / 10,
      s"control layout should hit ~all files, hit $readCtl of $totalCtl")

    // single-dim probe on the SAME 2-D layout (round-11 ask #7): the
    // manifest stores per-dim bounds, so a 1-D predicate prunes too —
    // a 5%-of-domain pk band must skip a clear majority of files
    val (res1d, read1d, total1d) = ClusteredLayout.hilbertScan(
      spark, s"$tmp/layout", Seq(("pk", 400L, 500L)))
    val exp1d = df.filter(col("pk").between(400L, 500L))
    assert(res1d.count() == exp1d.count())
    assert(total1d == 64)
    assert(read1d <= total1d / 2,
      s"1-D probe should skip most files, read $read1d of $total1d")
  }

  test("3-D clustered layout: subset-dim probes prune and results stay exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_h3d_").toString
    val rng = new scala.util.Random(43)
    val rows = (1 to 60000).map { i =>
      (i.toLong, rng.nextInt(1000).toLong, rng.nextInt(1000).toLong,
        rng.nextInt(1000).toLong)
    }
    val df = rows.toDF("id", "a", "b", "c")
    ClusteredLayout.writeClusteredLayout(df, Seq("a", "b", "c"),
      s"$tmp/layout", files = 64)

    // full 3-D box: 20% of each dim -> 0.8% of the volume
    val (res3, read3, total3) = ClusteredLayout.hilbertScan(spark,
      s"$tmp/layout",
      Seq(("a", 100L, 299L), ("b", 400L, 599L), ("c", 700L, 899L)))
    val exp3 = df.filter(col("a").between(100L, 299L) &&
      col("b").between(400L, 599L) && col("c").between(700L, 899L))
    assert(res3.count() == exp3.count())
    assert(res3.select("id").except(exp3.select("id")).isEmpty &&
      exp3.select("id").except(res3.select("id")).isEmpty)
    assert(total3 == 64, s"expected 64 data files, found $total3")
    assert(read3 <= total3 / 3,
      s"3-D box should skip >= 2/3 of files, read $read3 of $total3")

    // 2-of-3-dim probe (the subset path): exact and still pruning
    val (res2, read2, _) = ClusteredLayout.hilbertScan(spark, s"$tmp/layout",
      Seq(("a", 100L, 299L), ("c", 700L, 899L)))
    val exp2 = df.filter(col("a").between(100L, 299L) &&
      col("c").between(700L, 899L))
    assert(res2.count() == exp2.count())
    assert(read2 <= 64 / 2,
      s"2-of-3 probe should skip half the files, read $read2 of 64")
  }

  test("legacy xmin/ymin zone map (pre-N-dim writer) still scans") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_hleg_").toString
    val rng = new scala.util.Random(43)
    val df = (1 to 20000).map { i =>
      (i.toLong, rng.nextInt(2000).toLong + 1, rng.nextInt(800).toLong + 1)
    }.toDF("id", "pk", "sk")
    // write the CURRENT layout, then rewrite the manifest in the
    // round-11 fixed-name format a persisted pre-round-12 layout carries
    ClusteredLayout.writeClusteredLayout(df, Seq("pk", "sk"), s"$tmp/layout",
      files = 32)
    val modern = spark.read.parquet(s"$tmp/layout/zonemap")
    modern.select(col("file"), col("pk_min").as("xmin"),
        col("pk_max").as("xmax"), col("sk_min").as("ymin"),
        col("sk_max").as("ymax"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/layout/zonemap_legacy")
    val legacyDir = java.nio.file.Paths.get(s"$tmp/layout/zonemap")
    org.apache.commons.io.FileUtils.deleteDirectory(legacyDir.toFile)
    org.apache.commons.io.FileUtils.moveDirectory(
      java.nio.file.Paths.get(s"$tmp/layout/zonemap_legacy").toFile,
      legacyDir.toFile)

    val (result, read, total) = ClusteredLayout.hilbertScan(
      spark, s"$tmp/layout", Seq(("pk", 400L, 600L), ("sk", 320L, 480L)))
    val expected = df.filter(col("pk").between(400L, 600L) &&
      col("sk").between(320L, 480L))
    assert(result.count() == expected.count())
    assert(read < total, "legacy manifest must still prune")
    // a legacy manifest records no dim names: a 1-pred probe would be
    // positionally ambiguous and must be refused, not guessed
    intercept[IllegalArgumentException] {
      ClusteredLayout.hilbertScan(spark, s"$tmp/layout", Seq(("sk", 1L, 2L)))
    }
  }
}
