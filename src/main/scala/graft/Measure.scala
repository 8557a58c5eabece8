package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Query measurement tool for optimization work:
  *
  *   time <q,...> [sfDir] [reps=3]
  *     one untimed warm-up, then `reps` timed runs of each query into
  *     Spark's `noop` sink, which produces every output column and
  *     collects nothing on the driver (a bare `count()` lets Catalyst
  *     prune the payload and under-measures);
  *   explain <q,...> <outDir> [sfDir] [suffix=before]
  *     writes each query's `explain("formatted")` plan to
  *     `<outDir>/<q>_<suffix>.txt`, the before/after plan evidence of an
  *     optimization.
  *
  * `sfDir` defaults to [[Bench.sfDir]]. An unknown or failing query is
  * reported and skipped. Example:
  * `sbt "runMain graft.Measure time q03_top_revenue_orders,q125_salted_join"`
  */
object Measure {
  val Usage = "usage: Measure time <q,...> [sfDir] [reps] | " +
    "Measure explain <q,...> <outDir> [sfDir] [suffix]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Run one subcommand on `spark`, one report line per query. */
  def run(spark: SparkSession, args: Seq[String],
      report: String => Unit = System.err.println): Unit = args match {
    case Seq("time", names, rest @ _*) =>
      val sfDir = rest.lift(0).getOrElse(Bench.sfDir)
      val reps = rest.lift(1).fold(3)(_.toInt)
      each(spark, names, sfDir, report) { (name, df) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          df().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once()
        val ts = Seq.fill(reps)(once())
        report(f"[measure] $name times=${ts.map(t => f"$t%.2f").mkString(",")}")
      }
    case Seq("explain", names, outDir, rest @ _*) =>
      val sfDir = rest.lift(0).getOrElse(Bench.sfDir)
      val suffix = rest.lift(1).getOrElse("before")
      Files.createDirectories(Paths.get(outDir))
      each(spark, names, sfDir, report) { (name, df) =>
        val out = Paths.get(outDir, s"${name}_$suffix.txt")
        Files.writeString(out, df().queryExecution.explainString(FormattedMode))
        report(s"[measure] wrote $out")
      }
    case _ => report(Usage)
  }

  /** `body(name, build)` for each comma-separated query name, where
    * `build()` builds the query's DataFrame on `sfDir`. */
  private def each(spark: SparkSession, names: String, sfDir: String,
      report: String => Unit)(body: (String, () => DataFrame) => Unit): Unit =
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => report(s"[measure] unknown query: $name")
        case Some(fn) =>
          try body(name, () => fn(spark, sfDir))
          catch { case e: Exception =>
            report(s"[measure] $name failed: ${e.getMessage}")
          }
      }
    }
}
