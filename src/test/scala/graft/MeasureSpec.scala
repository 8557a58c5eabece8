package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite

/** Smoke test of the `Measure` tool on one cheap query at sf0.001. */
class MeasureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val q = "q01_pricing_summary"

  private def run(args: String*): Seq[String] = {
    val lines = mutable.ArrayBuffer.empty[String]
    Measure.run(spark, args, lines += _)
    lines.toSeq
  }

  test("time reports the timed runs and skips an unknown name") {
    val lines = run("time", s"$q,q0_no_such_query", dir, "2")
    assert(lines.exists(_.matches(s"\\[measure\\] $q times=[0-9.]+,[0-9.]+")),
      lines.mkString("\n"))
    assert(lines.contains("[measure] unknown query: q0_no_such_query"))
  }

  test("explain writes the formatted physical plan") {
    val out = Files.createTempDirectory("graft_measure_")
    val lines = run("explain", s"q0_no_such_query,$q", out.toString, dir, "t")
    val plan = Files.readString(out.resolve(s"${q}_t.txt"))
    assert(plan.contains("== Physical Plan =="), plan)
    assert(lines.contains("[measure] unknown query: q0_no_such_query"))
  }

  test("bad arguments print the usage") {
    assert(run("profile") == Seq(Measure.Usage))
  }
}
