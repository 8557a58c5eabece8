package graft.api

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.filters.DomainFilters.Filter
import graft.util.Json
import scala.jdk.CollectionConverters._

/** REST layer over the [[Graft]] facade — the rebuild of the
  * reference's Spring service surface (SURVEY §2.12;
  * `svc/namenode/SnapshotService.java:26-135`,
  * `svc/namenode/EditsLogReaderService.java:21-45`) on the JDK's own
  * `com.sun.net.httpserver`, with bodies read and written by Jackson
  * (Jackson ships with Spark — the reference's Spring Boot stack
  * existed only to host these thin wrappers). Routes mirror the
  * reference's verbs over the operations the facade exposes:
  *
  *  - `PUT    /snapshot/filters/add/{domain}` — body
  *    `{"entity","dir","regex","priority"}` (SnapshotService `addFilter`)
  *  - `PUT    /snapshot/filters/add/{domain}/batch` — body = JSON array
  *    of the same objects
  *  - `DELETE /snapshot/filters/remove/{domain}/{entity}`
  *  - `GET    /snapshot/filters` — the registry
  *  - `POST   /snapshot/run` — optional body `{"asOfTxId":N}`; builds
  *    the snapshot event set and returns its count (SnapshotService
  *    `run` returns the emitted-count the same way)
  *  - `GET    /snapshot/status` — per-entity live-file counts + max tx
  *  - `POST   /snapshot/done` — body `{"hdfsPath","transactionId"}`
  *    (+ optional `"domain"`/`"entity"`, carried by the reference's
  *    `SnapshotDoneRequest` for the message envelope; routing here
  *    re-derives them from the registry) — the pipeline→snapshot-service
  *    callback (SnapshotService `snapshotDone`,
  *    `HDFSSnapshotProcessor.java:234-286`): flips the file's replica
  *    record to ready and emits a Backlog CloseFile when the live head
  *    advanced past the snapshot. 404 unknown path/record, 400 tx
  *    mismatch, 409 before `/admin/snapshot/start`.
  *  - `POST   /admin/snapshot/start` — init the service: build the
  *    replica registry from current state (SnapshotService `start`)
  *  - `POST   /admin/snapshot/stop` — dispose (SnapshotService `stop`)
  *  - `GET    /editslog/status` — state watermark + persisted versions +
  *    processor running flag (EditsLogReaderService `state`)
  *  - `POST   /editslog/start` — body `{"inDir","outDir","checkpoint"}`;
  *    launches the change-stream processor (EditsLogReaderService
  *    `start` took its ConfigSource the same way); 409 if running
  *  - `POST   /editslog/stop` — halts it (EditsLogReaderService `stop`)
  *
  * Request fields are typed: a present field of the wrong JSON type
  * (a string where an integer belongs, a non-integral number, an
  * integer that does not fit a Long) answers 400 rather than falling
  * back to a default; an explicit `null` counts as absent. Malformed
  * JSON, including tokens after the body's value, answers 400.
  *
  * Handlers run driver-side and call straight into Spark jobs, like
  * the reference's controllers called straight into its processors.
  * The admin verbs control DRIVER-SIDE service state (registry epoch,
  * managed streaming query) — JVM process control still belongs to the
  * cluster manager (spark-submit / YARN / k8s), as ARCHITECTURE.md
  * records for distributed locks.
  */
final class GraftRest(graft: Graft, port: Int = 0) {
  import GraftRest._

  private val server = HttpServer.create(new java.net.InetSocketAddress(port), 0)

  /** The actual bound port (useful with port = 0 in tests). */
  def boundPort: Int = server.getAddress.getPort

  def start(): GraftRest = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null) // single dispatch thread: driver-side admin surface
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)

  // ── dispatch ────────────────────────────────────────────────────────

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    try {
      (method, path) match {
        case ("PUT", p) if p.startsWith("/snapshot/filters/add/") =>
          val rest = p.stripPrefix("/snapshot/filters/add/")
          if (rest.endsWith("/batch")) {
            val domain = rest.stripSuffix("/batch")
            val fs = parseArray(body(ex)).map(o => toFilter(domain, o))
            fs.foreach(graft.addFilter)
          } else graft.addFilter(toFilter(rest, parseObject(body(ex))))
          respond(ex, 200, filtersJson(graft.filters))
        case ("DELETE", p) if p.startsWith("/snapshot/filters/remove/") =>
          p.stripPrefix("/snapshot/filters/remove/").split('/') match {
            case Array(domain, entity) =>
              graft.removeFilter(domain, entity)
              respond(ex, 200, filtersJson(graft.filters))
            case _ => respond(ex, 400,
              error("expected /snapshot/filters/remove/{domain}/{entity}"))
          }
        case ("GET", "/snapshot/filters") =>
          respond(ex, 200, filtersJson(graft.filters))
        case ("POST", "/snapshot/run") =>
          val b = body(ex)
          val asOf = (if (b.trim.isEmpty) None
            else long(parseObject(b), "asOfTxId")).getOrElse(graft.watermark())
          val n = graft.snapshot(asOf).count()
          respond(ex, 200, obj().put("asOfTxId", asOf).put("count", n))
        case ("GET", "/snapshot/status") =>
          // bounded collect: one row per registered entity (registry-sized)
          val rows = arr()
          graft.snapshotStatus().collect().foreach { r =>
            rows.addObject().put("domain", r.getString(0))
              .put("entity", r.getString(1))
              .put("n_files", r.getLong(2)).put("max_txid", r.getLong(3))
          }
          respond(ex, 200, rows)
        case ("POST", "/snapshot/done") =>
          val o = parseObject(body(ex))
          val r = graft.snapshotDone(required(o, "hdfsPath", str),
            required(o, "transactionId", long))
          respond(ex, 200, snapshotDoneJson(r))
        case ("POST", "/admin/snapshot/start") =>
          val n = graft.snapshotStart()
          respond(ex, 200, obj().put("state", "Running").put("registered", n))
        case ("POST", "/admin/snapshot/stop") =>
          graft.snapshotStop()
          respond(ex, 200, obj().put("state", "Disposed"))
        case ("POST", "/editslog/start") =>
          val o = parseObject(body(ex))
          graft.editslogStart(required(o, "inDir", str),
            required(o, "outDir", str), required(o, "checkpoint", str))
          respond(ex, 200, obj().put("state", "Running"))
        case ("POST", "/editslog/stop") =>
          val stopped = graft.editslogStop()
          respond(ex, 200,
            obj().put("state", if (stopped) "Stopped" else "NotRunning"))
        case ("GET", "/editslog/status") =>
          val o = obj().put("watermark", graft.watermark())
            .put("running", graft.editslogRunning)
          val vs = o.putArray("versions")
          graft.versions().foreach(v => vs.add(v))
          respond(ex, 200, o)
        case _ => respond(ex, 404, error(s"no route for $method $path"))
      }
    } catch {
      case e: Graft.NotFound => respond(ex, 404, error(e.getMessage))
      case e: IllegalArgumentException => respond(ex, 400, error(e.getMessage))
      case e: JsonProcessingException =>
        respond(ex, 400, error(e.getOriginalMessage))
      case e: Graft.Conflict => // service lifecycle conflicts, and only those
        respond(ex, 409, error(e.getMessage))
      case e: Throwable => respond(ex, 500, error(String.valueOf(e)))
    }
  }

  private def snapshotDoneJson(r: Graft.SnapshotDone): ObjectNode =
    obj().put("inode", r.replica.inode)
      .put("path", r.replica.path)
      .put("snapshotTxId", r.replica.snapshotTxId)
      .put("lastReplicatedTx", r.replica.lastReplicatedTx)
      .put("snapshotReady", r.replica.snapshotReady)
      .put("backlogEmitted", r.backlogEmitted)
      .put("duplicate", r.duplicate)

  private def toFilter(domain: String, o: ObjectNode): Filter = {
    val prio = long(o, "priority").fold(0) { p =>
      if (!p.isValidInt) throw new IllegalArgumentException(
        s"field 'priority' out of range: $p")
      p.toInt
    }
    Filter(domain, required(o, "entity", str), required(o, "dir", str),
      required(o, "regex", str), prio)
  }

  private def filtersJson(fs: Seq[Filter]): ArrayNode = {
    val out = arr()
    fs.foreach(f => out.addObject().put("domain", f.domain)
      .put("entity", f.entity).put("dir", f.dir).put("regex", f.regex)
      .put("priority", f.priority))
    out
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)

  private def respond(ex: HttpExchange, code: Int, json: JsonNode): Unit = {
    val bytes = Json.mapper.writeValueAsBytes(json)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

/** Response nodes and typed access to request bodies. Malformed JSON
  * throws Jackson's JsonProcessingException and a shape or type
  * mismatch throws IllegalArgumentException; the handler answers 400
  * for both. */
private object GraftRest {
  private def obj(): ObjectNode = Json.mapper.createObjectNode()
  private def arr(): ArrayNode = Json.mapper.createArrayNode()
  private def error(msg: String): ObjectNode = obj().put("error", msg)

  private def parseObject(s: String): ObjectNode = Json.mapper.readTree(s) match {
    case o: ObjectNode => o
    case _ => throw new IllegalArgumentException("expected a JSON object")
  }

  private def parseArray(s: String): Seq[ObjectNode] = Json.mapper.readTree(s) match {
    case a: ArrayNode => a.elements().asScala.toSeq.map {
      case o: ObjectNode => o
      case _ => throw new IllegalArgumentException(
        "expected a JSON array of objects")
    }
    case _ => throw new IllegalArgumentException("expected a JSON array")
  }

  /** The field `k`, or None when absent or null; a present value of any
    * other type than a string is rejected. */
  private def str(o: ObjectNode, k: String): Option[String] =
    field(o, k).map { v =>
      if (!v.isTextual) throw new IllegalArgumentException(
        s"field '$k' must be a string")
      v.textValue
    }

  /** The field `k`, or None when absent or null; a present value must be
    * an integral number that fits a Long. */
  private def long(o: ObjectNode, k: String): Option[Long] =
    field(o, k).map { v =>
      if (!v.isIntegralNumber || !v.canConvertToLong)
        throw new IllegalArgumentException(
          s"field '$k' must be an integer that fits a Long")
      v.longValue
    }

  private def field(o: ObjectNode, k: String): Option[JsonNode] =
    Option(o.get(k)).filterNot(_.isNull)

  private def required[T](o: ObjectNode, k: String,
      get: (ObjectNode, String) => Option[T]): T =
    get(o, k).getOrElse(throw new IllegalArgumentException(s"missing field '$k'"))
}
