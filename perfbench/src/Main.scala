package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Entry point of one benchmark run inside a fresh JVM. Writes the
  * result as one JSON object to `--out`; `perfbench/run.py` turns it
  * into the benchmark's result line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val r = a.workload match {
      case "catchup" => Catchup.run(a)
      case "live" => Live.run(a)
      case "delta" => Delta.run(a)
      case "queries" => Queries.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    val json =
      s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""e2e":${Work.json(r.e2e)},"layers":${Work.json(r.layers)},""" +
      s""""notes":${Work.jsonStr(r.notes)}}"""
    Files.write(Paths.get(a.out), (json + "\n").getBytes(StandardCharsets.UTF_8))
    // Spark's non-daemon threads must not keep the JVM alive
    System.exit(0)
  }
}
