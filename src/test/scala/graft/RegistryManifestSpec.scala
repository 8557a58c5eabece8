package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Registry hygiene at 250+ queries: the invariants the driver's gate
  * run assumes are asserted mechanically — unique names, unique
  * numeric ids, id contiguity against the documented historical gap
  * ledger (COVERAGE.md "Query-ID ledger"), and an oracle for every
  * entry (a missing oracle silently downgrades the driver row to a
  * weaker rows-only check). Two source scans keep `ops/` organized by
  * domain: no file or object is named for the round that wrote it, and
  * no query file reaches into another query file for a helper — shared
  * helpers live in files that register no query.
  */
class RegistryManifestSpec extends AnyFunSuite {

  /** Ids never assigned: the round-1 relational battery was authored
    * with these gaps and the registry is append-only (renumbering
    * would invalidate every historical VERDICT/BENCH/CORRECTNESS row
    * naming a qNN). Never recycled. */
  private val gapLedger = Set(2, 4, 14, 18, 19)

  private lazy val names = Registry.all.map(_._1)
  private lazy val ids = names.map { n =>
    val m = "^q(\\d+)_".r.findFirstMatchIn(n)
    assert(m.isDefined, s"query name '$n' does not match q<id>_<slug>")
    m.get.group(1).toInt
  }

  test("query names are unique") {
    val dup = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dup.isEmpty, s"duplicate query names: ${dup.mkString(", ")}")
  }

  test("numeric ids are unique and never reuse a gap-ledger id") {
    val dup = ids.groupBy(identity).collect { case (i, g) if g.size > 1 => i }
    assert(dup.isEmpty, s"duplicate query ids: ${dup.mkString(", ")}")
    val recycled = ids.filter(gapLedger)
    assert(recycled.isEmpty,
      s"gap-ledger ids must never be recycled: ${recycled.mkString(", ")}")
  }

  test("ids are contiguous from q01 modulo the documented gap ledger") {
    val expected = (1 to ids.max).filterNot(gapLedger).toSet
    val missing = expected -- ids.toSet
    assert(missing.isEmpty,
      s"undocumented id gaps (extend the ledger in COVERAGE.md AND " +
        s"here only for ids that never existed): ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every registered query carries a DuckDB oracle") {
    val bare = Registry.all.collect { case (n, d) if d.oracle.isEmpty => n }
    assert(bare.isEmpty,
      s"queries without oracles (driver downgrades to rows-only): " +
        bare.mkString(", "))
  }

  test("QUERIES.md is current (regenerate: sbt \"runMain graft.QueriesIndex\")") {
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("QUERIES.md"))
    assert(committed == QueriesIndex.render(),
      "QUERIES.md is stale — run: sbt \"runMain graft.QueriesIndex\"")
  }

  test("every registered query carries a non-empty doc line") {
    val undocumented = Registry.all.collect {
      case (n, d) if d.doc.trim.isEmpty => n
    }
    assert(undocumented.isEmpty,
      s"undocumented queries: ${undocumented.mkString(", ")}")
  }

  private lazy val opsFiles: Seq[Path] =
    Files.walk(Paths.get("src/main/scala/graft/ops")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  /** Source text with comments dropped (a `//` inside a string cuts the
    * rest of its line too — harmless for a reference scan). */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .split("\n").map(_.replaceAll("//.*$", "")).mkString("\n")

  private val ObjectDecl = "(?m)^\\s*(?:private\\S*\\s+)?object\\s+(\\w+)".r

  test("ops/ is organized by domain: no file or object named for a round") {
    val RoundName = "^(Wave\\d+|Advanced|Extras|Relational2)$".r
    val named = opsFiles.flatMap { p =>
      val file = p.getFileName.toString.stripSuffix(".scala")
      (file +: ObjectDecl.findAllMatchIn(code(p)).map(_.group(1)).toSeq)
        .filter(n => RoundName.findFirstIn(n).isDefined).distinct.map(n => s"$p: $n")
    }
    assert(named.isEmpty, s"round-named ops files/objects: ${named.mkString(", ")}")
  }

  test("no query file references a helper defined in another query file") {
    val queryFiles = opsFiles.filter(p => code(p).contains("QueryDef("))
    assert(queryFiles.size >= 9, queryFiles)
    val owner: Map[String, Path] = queryFiles.flatMap { p =>
      ObjectDecl.findAllMatchIn(code(p)).map(_.group(1) -> p)
    }.toMap
    val reachIns = for {
      p <- queryFiles
      text = code(p)
      (obj, home) <- owner.toSeq if home != p
      if s"(?<!\\w)$obj\\.[A-Za-z_]".r.findFirstIn(text).isDefined
    } yield s"$p -> $obj ($home)"
    assert(reachIns.isEmpty,
      s"move shared helpers out of query files: ${reachIns.mkString("; ")}")
  }
}
