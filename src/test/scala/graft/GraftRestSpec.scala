package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.api.{Graft, GraftRest}
import graft.model.{ChangeEvent, Op}
import org.scalatest.funsuite.AnyFunSuite

/** Exercises the §2.12 REST layer over real HTTP (ephemeral port):
  * the same verb sequence a reference operator would issue against the
  * Spring services — register filters, trigger a snapshot, poll status,
  * read the edits-log watermark — each answered from live Spark state. */
class GraftRestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val http = HttpClient.newHttpClient()
  private def send(method: String, url: String, body: String = ""): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(url))
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("filters/snapshot/status/watermark round-trip over HTTP") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rest_").toString
    val g = new Graft(spark, dir)
    g.replay(Seq(
      ChangeEvent(1, Op.AddFile, "/data/movies/p1.parquet"),
      ChangeEvent(2, Op.CloseFile, "/data/movies/p1.parquet"),
      ChangeEvent(3, Op.AddFile, "/data/movies/p2.parquet"),
      ChangeEvent(4, Op.CloseFile, "/data/movies/p2.parquet"),
      ChangeEvent(5, Op.AddFile, "/data/other/x.csv")).toDS())
    val rest = new GraftRest(g).start()
    val base = s"http://localhost:${rest.boundPort}"
    try {
      // PUT single filter
      val (c1, b1) = send("PUT", s"$base/snapshot/filters/add/d1",
        """{"entity":"MOVIES","dir":"/data/movies","regex":".*\\.parquet$","priority":1}""")
      assert(c1 == 200 && b1.contains("\"MOVIES\""))

      // PUT batch with a second domain
      val (c2, b2) = send("PUT", s"$base/snapshot/filters/add/d2/batch",
        """[{"entity":"CSV","dir":"/data/other","regex":".*\\.csv$","priority":2}]""")
      assert(c2 == 200 && b2.contains("\"CSV\"") && b2.contains("\"MOVIES\""))

      // GET registry
      val (c3, b3) = send("GET", s"$base/snapshot/filters")
      assert(c3 == 200 && b3.contains("\"MOVIES\"") && b3.contains("\"CSV\""))

      // POST snapshot run — counts must match the facade's own answer
      val want = g.snapshot(100L).count()
      val (c4, b4) = send("POST", s"$base/snapshot/run", """{"asOfTxId":100}""")
      assert(c4 == 200 && b4 == s"""{"asOfTxId":100,"count":$want}""")

      // GET per-entity status
      val (c5, b5) = send("GET", s"$base/snapshot/status")
      assert(c5 == 200 && b5.contains("\"entity\":\"MOVIES\"")
        && b5.contains("\"n_files\":2"))

      // DELETE one filter; registry shrinks
      val (c6, b6) = send("DELETE", s"$base/snapshot/filters/remove/d2/CSV")
      assert(c6 == 200 && !b6.contains("\"CSV\""))

      // GET editslog status: watermark mirrors the facade
      val (c7, b7) = send("GET", s"$base/editslog/status")
      assert(c7 == 200 && b7.contains(s""""watermark":${g.watermark()}"""))

      // malformed body → 400, unknown route → 404
      assert(send("PUT", s"$base/snapshot/filters/add/d3", "{oops")._1 == 400)
      assert(send("GET", s"$base/nope")._1 == 404)
    } finally rest.stop()
  }

  test("snapshot/done callback round-trip: ready flag + Backlog emission") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_done_").toString
    val g = new Graft(spark, dir)
    // two tracked files; snapshot will be cut at their heads (p1@2, p2@4)
    g.replay(Seq(
      ChangeEvent(1, Op.AddFile, "/data/m/p1.parquet"),
      ChangeEvent(2, Op.CloseFile, "/data/m/p1.parquet"),
      ChangeEvent(3, Op.AddFile, "/data/m/p2.parquet"),
      ChangeEvent(4, Op.CloseFile, "/data/m/p2.parquet")).toDS())
    val rest = new GraftRest(g).start()
    val base = s"http://localhost:${rest.boundPort}"
    try {
      // callback before service init → 409 (reference: checkService fails)
      assert(send("POST", s"$base/snapshot/done",
        """{"hdfsPath":"/data/m/p1.parquet","transactionId":2}""")._1 == 409)

      // init the service: registry built from current state
      val (cs, bs) = send("POST", s"$base/admin/snapshot/start")
      assert(cs == 200 && bs.contains(""""registered":2"""), s"$cs $bs")

      // the callback echoes the snapshot tx the service handed out (the
      // FSM's tx domain carries the reference's ×4 sub-transaction grid,
      // so the registry — not the raw edit-log ids — is the authority)
      def snapTx(p: String): Long =
        g.replicaTable.filter(_.path == p).head().snapshotTxId
      val p1Snap = snapTx("/data/m/p1.parquet")
      val p2Snap = snapTx("/data/m/p2.parquet")

      // p1's live head advances PAST its snapshot tx
      g.replayIncrement(Seq(
        ChangeEvent(5, Op.AppendFile, "/data/m/p1.parquet"),
        ChangeEvent(6, Op.CloseFile, "/data/m/p1.parquet")).toDS())
      val p1Head = g.stateTable.filter(_.path == "/data/m/p1.parquet")
        .head().lastTxId
      assert(p1Head > p1Snap)

      // done(p1 @ its snapshot tx): ready + Backlog CloseFile at live head
      val (c1, b1) = send("POST", s"$base/snapshot/done",
        s"""{"hdfsPath":"/data/m/p1.parquet","transactionId":$p1Snap}""")
      assert(c1 == 200, b1)
      assert(b1.contains(""""snapshotReady":true"""))
      assert(b1.contains(""""backlogEmitted":true"""))
      assert(b1.contains(s""""lastReplicatedTx":$p1Head"""))
      val backlog = g.backlogFeed.collect()
      assert(backlog.length == 1)
      assert(backlog.head.path == "/data/m/p1.parquet")
      assert(backlog.head.txId == p1Head && backlog.head.op == Op.CloseFile)
      assert(backlog.head.mode == graft.model.Mode.Backlog)

      // done(p2 @ its snapshot tx): file did NOT advance → no Backlog
      val (c2, b2) = send("POST", s"$base/snapshot/done",
        s"""{"hdfsPath":"/data/m/p2.parquet","transactionId":$p2Snap}""")
      assert(c2 == 200 && b2.contains(""""backlogEmitted":false"""))
      assert(g.backlogFeed.count() == 1)

      // duplicate call: idempotent, flagged, nothing re-emitted
      val (c3, b3) = send("POST", s"$base/snapshot/done",
        s"""{"hdfsPath":"/data/m/p1.parquet","transactionId":$p1Snap}""")
      assert(c3 == 200 && b3.contains(""""duplicate":true"""))
      assert(g.backlogFeed.count() == 1)

      // tx mismatch → 400; unknown path → 404; missing field → 400
      assert(send("POST", s"$base/snapshot/done",
        """{"hdfsPath":"/data/m/p2.parquet","transactionId":99}""")._1 == 400)
      assert(send("POST", s"$base/snapshot/done",
        """{"hdfsPath":"/nope","transactionId":1}""")._1 == 404)
      assert(send("POST", s"$base/snapshot/done",
        """{"hdfsPath":"/data/m/p1.parquet"}""")._1 == 400)

      // dispose → callbacks 409 again; restart rebuilds a fresh epoch
      assert(send("POST", s"$base/admin/snapshot/stop")._1 == 200)
      assert(send("POST", s"$base/snapshot/done",
        s"""{"hdfsPath":"/data/m/p2.parquet","transactionId":$p2Snap}""")
        ._1 == 409)
      val (c4, b4) = send("POST", s"$base/admin/snapshot/start")
      assert(c4 == 200 && b4.contains(""""registered":2"""))
      // fresh epoch: p1 re-registered at its NEW head, not ready
      val again = g.replicaTable.filter(_.path == "/data/m/p1.parquet").head()
      assert(again.snapshotTxId == p1Head && !again.snapshotReady)
    } finally rest.stop()
  }

  test("editslog start/status/stop lifecycle over HTTP") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_elog_").toString
    val g = new Graft(spark, dir)
    g.replay(Seq(ChangeEvent(1, Op.AddFile, "/d/a")).toDS())
    val scratch = java.nio.file.Files.createTempDirectory("graft_elog_in_")
    val inDir = s"$scratch/in"
    val outDir = s"$scratch/out"
    // stage one JSON-line change event for the processor to fold
    Seq("""{"txId":2,"op":"CloseFile","path":"/d/a","mode":"New"}""")
      .toDF("value").coalesce(1).write.text(inDir)
    val rest = new GraftRest(g).start()
    val base = s"http://localhost:${rest.boundPort}"
    try {
      // stop before start: no-op answer, not an error
      val (c0, b0) = send("POST", s"$base/editslog/stop")
      assert(c0 == 200 && b0.contains("NotRunning"))

      val (c1, b1) = send("POST", s"$base/editslog/start",
        s"""{"inDir":"$inDir","outDir":"$outDir","checkpoint":"$scratch/chk"}""")
      assert(c1 == 200 && b1.contains("Running"), b1)

      // missing config field → 400
      assert(send("POST", s"$base/editslog/start", """{"inDir":"x"}""")._1
        == 400)

      // AvailableNow drains the staged file, then the query self-stops;
      // poll status until running flips false (bounded wait)
      var tries = 0
      while (g.editslogRunning && tries < 100) { Thread.sleep(200); tries += 1 }
      val (c2, b2) = send("GET", s"$base/editslog/status")
      assert(c2 == 200 && b2.contains(""""running":false"""))

      // the processor really folded the staged event: state head at tx 2
      val folded = spark.read.parquet(outDir)
        .filter(org.apache.spark.sql.functions.col("path") === "/d/a")
      assert(folded.agg(org.apache.spark.sql.functions
        .max(org.apache.spark.sql.functions.col("lastTxId")))
        .head().getLong(0) == 2L)

      // stop after self-termination reports NotRunning
      val (c3, b3) = send("POST", s"$base/editslog/stop")
      assert(c3 == 200 && b3.contains("NotRunning"))
    } finally rest.stop()
  }

  test("a present field of the wrong type answers 400, never a default") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rest_types_").toString
    val g = new Graft(spark, dir)
    g.replay(Seq(ChangeEvent(1, Op.AddFile, "/data/movies/p1.parquet"),
      ChangeEvent(2, Op.CloseFile, "/data/movies/p1.parquet")).toDS())
    val rest = new GraftRest(g).start()
    val base = s"http://localhost:${rest.boundPort}"
    def run(b: String) = send("POST", s"$base/snapshot/run", b)
    def put(b: String) = send("PUT", s"$base/snapshot/filters/add/d1", b)
    val filter = """"entity":"M","dir":"/data/movies","regex":".*""""
    try {
      // a string tx is not the watermark, a fraction is not a tx, and an
      // integer past Long range is not a wrapped Long
      for (bad <- Seq(""""100"""", "100.5", "1e2", "99999999999999999999",
          "true", "[100]", "{}")) {
        val (c, b) = run(s"""{"asOfTxId":$bad}""")
        assert(c == 400 && b.contains("asOfTxId"), s"$bad -> $c $b")
      }
      // the well-typed forms still work: a tx, an explicit null and no
      // field at all (both of the latter mean the watermark)
      val want = g.snapshot(100L).count()
      assert(run("""{"asOfTxId":100}""") ==
        ((200, s"""{"asOfTxId":100,"count":$want}""")))
      val wm = g.watermark()
      assert(run("""{"asOfTxId":null}""")._2.startsWith(s"""{"asOfTxId":$wm,"""))
      assert(run("{}")._2.startsWith(s"""{"asOfTxId":$wm,"""))

      for (bad <- Seq(""""2"""", "2.5", "4294967296")) {
        val (c, b) = put(s"""{$filter,"priority":$bad}""")
        assert(c == 400 && b.contains("priority"), s"$bad -> $c $b")
      }
      for (k <- Seq("entity", "dir", "regex")) {
        val (c, b) = put(s"""{$filter,"$k":7}""")
        assert(c == 400 && b.contains(s"'$k'"), s"$k -> $c $b")
      }
      assert(send("POST", s"$base/snapshot/done",
        """{"hdfsPath":"/data/movies/p1.parquet","transactionId":"2"}""")._1 == 400)
      // nothing rejected reached the registry
      assert(g.filters.isEmpty)
      assert(put(s"""{$filter,"priority":2}""")._1 == 200)
      assert(g.filters.map(_.priority) == Seq(2))
    } finally rest.stop()
  }

  test("JSON contract: malformed shapes answer 400, text round-trips exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rest_json_").toString
    val g = new Graft(spark, dir)
    val rest = new GraftRest(g).start()
    val base = s"http://localhost:${rest.boundPort}"
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val filter = """{"entity":"M","dir":"/d","regex":".*"}"""
    try {
      // trailing tokens after the object
      assert(send("PUT", s"$base/snapshot/filters/add/d1", s"$filter x")._1 == 400)
      assert(send("PUT", s"$base/snapshot/filters/add/d1", s"$filter {}")._1 == 400)
      // an empty body where an object is required
      assert(send("POST", s"$base/snapshot/done", "")._1 == 400)
      // an array where an object is expected, an object where /batch
      // expects an array, and an array of non-objects
      assert(send("PUT", s"$base/snapshot/filters/add/d1", s"[$filter]")._1 == 400)
      assert(send("PUT", s"$base/snapshot/filters/add/d1/batch", filter)._1 == 400)
      assert(send("PUT", s"$base/snapshot/filters/add/d1/batch", "[1]")._1 == 400)
      assert(g.filters.isEmpty)

      // an error message with a quote, a backslash, a newline and U+0001
      // (all reach it through the percent-decoded route) parses back
      val (c404, b404) = send("GET", s"$base/nope%22%5C%0A%01")
      assert(c404 == 404)
      assert(mapper.readTree(b404).get("error").textValue ==
        "no route for GET /nope\"\\\n\u0001")

      // a non-ASCII regex round-trips through the registry
      val regex = "caf\u00e9/.*\\.parquet$"
      val (c1, _) = send("PUT", s"$base/snapshot/filters/add/d1",
        mapper.writeValueAsString(mapper.createObjectNode()
          .put("entity", "E").put("dir", "/d").put("regex", regex)))
      assert(c1 == 200)
      val (c2, b2) = send("GET", s"$base/snapshot/filters")
      assert(c2 == 200)
      assert(mapper.readTree(b2).get(0).get("regex").textValue == regex)
      assert(g.filters.map(_.regex) == Seq(regex))
    } finally rest.stop()
  }
}
