package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One codec per wire format: protobuf varints are read and written only
  * in `util/ProtoWire.scala`, and JSON text only through Jackson
  * (`util/Json`). Scans `src/main` so a second hand-written codec fails
  * here instead of drifting from the first. */
class CodecGuardSpec extends AnyFunSuite {
  private def offenders(pattern: String, except: String = ""): Seq[Path] = {
    val re = pattern.r
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .filterNot(p => except.nonEmpty && p.endsWith(except))
      .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
      .toSeq
  }

  test("only the wire file defines a protobuf varint codec") {
    val found = offenders("""def\s+varint\s*\(""", "graft/util/ProtoWire.scala")
    assert(found.isEmpty,
      s"read/write protobuf through graft.util.ProtoWire: ${found.mkString(", ")}")
  }

  test("no source file hand-writes a JSON string escaper") {
    // the `\u%04x` escape of a control char is the mark of one
    val found = offenders("""\\\\u[^\n]*%0?4[xX]""")
    assert(found.isEmpty,
      s"write JSON through graft.util.Json: ${found.mkString(", ")}")
  }

  test("no hand-written JSON parser object comes back") {
    val found = offenders("""object\s+JsonLite\b""")
    assert(found.isEmpty,
      s"parse JSON through graft.util.Json: ${found.mkString(", ")}")
  }
}
