package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's text: keys, key order and `%.3f` number text are
  * what readers of the stdout line and BENCH_full.json parse, and every
  * string in it — error text, the SF dir — is a proper JSON string. */
class BenchRecordSpec extends AnyFunSuite {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()

  test("record keeps its keys, key order and number text") {
    val rs = Seq(("q01_scan", 1.25, None), ("q02_join", 0.5, None),
      ("q10_agg", 12.0, None))
    assert(Bench.record(rs, 3.14159, "/root/testdata/sf0.1", _.takeWhile(_ != '_')) ==
      """{"metric":"total","value":13.750,"unit":"sec","n_queries":3,""" +
      """"queries":{"q01":1.250,"q02":0.500,"q10":12.000},"errors":{},""" +
      """"warmup_sec":3.142,"sf":"/root/testdata/sf0.1"}""")
    assert(Bench.record(rs, 0.0, "d", identity).contains(
      """"queries":{"q01_scan":1.250,"q02_join":0.500,"q10_agg":12.000}"""))
  }

  test("error text and the SF dir are escaped, not blanked") {
    val err = "java.lang.RuntimeException: bad \"x\" at C:\\tmp\n\tline\u0001"
    val sf = "/data/\"odd\" dir"
    val line = Bench.record(Seq(("q01_scan", 1.0, Some(err))), 0.0, sf,
      _.takeWhile(_ != '_'))
    val parsed = mapper.readTree(line)
    assert(parsed.get("errors").get("q01_scan").textValue == err)
    assert(parsed.get("sf").textValue == sf)
    assert(line.contains(""""queries":{"q01":1.000}"""))
  }
}
