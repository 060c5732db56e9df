package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Live monitoring surface — the CONTINUOUS-rendering half of the
  * reference's operational story, which `tools/OpsReport` (the static
  * after-the-fact artifact) deliberately leaves out. The reference
  * exposes two live surfaces: the Flink web dashboard its demo
  * environment enables (`utils/DemoStreamEnvironment.scala:28-30`)
  * and the Kibana dashboards its README walks through
  * (`README.md:137-172`). The Spark-first counterpart is not a port
  * of either UI: Structured Streaming already PUSHES every number
  * those dashboards poll — per-batch rows, rates, durations,
  * state-operator sizes, watermark — through
  * `StreamingQueryListener`. This listener keeps the latest view per
  * query and renders it two ways, both zero-dependency:
  *
  *   - atomic file publish (`liveops.json` + `liveops.html`,
  *     tmp-write + ATOMIC_MOVE per event) — tail-able, scrape-able,
  *     and safe for a concurrent reader, the same contract as a
  *     metrics sidecar;
  *   - an embedded HTTP endpoint (JDK `com.sun.net.httpserver`, no
  *     new dependency) serving the same JSON at `/liveops.json` and
  *     a self-refreshing HTML table at `/` — the "open a browser at
  *     the driver" experience of the Flink dashboard.
  *
  * On a real cluster this listener runs on the driver (listener
  * events are driver-side), so one endpoint serves the whole job —
  * the same topology as Flink's jobmanager UI. State kept per query
  * is O(1): only the LATEST progress, never the feed (the progress
  * history is the checkpoint's job — see OpsReport's reconciliation).
  */
final class LiveOps(publishDir: Option[Path] = None)
    extends StreamingQueryListener {

  /** Latest view of one query. `status` ∈ running|terminated|failed. */
  final case class QueryView(
      name: String,
      id: UUID,
      runId: UUID,
      status: String,
      batchId: Long,
      timestamp: String,
      numInputRows: Long,
      inputRowsPerSecond: Double,
      processedRowsPerSecond: Double,
      triggerMs: Long,
      addBatchMs: Long,
      stateRowsTotal: Long,
      stateBytes: Long,
      watermark: String,
      error: Option[String])

  private val views = TrieMap[UUID, QueryView]()

  def snapshot: Map[UUID, QueryView] = views.readOnlySnapshot().toMap

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = {
    views.put(e.id, QueryView(Option(e.name).getOrElse(""), e.id, e.runId,
      "running", -1L, e.timestamp, 0L, 0.0, 0.0, 0L, 0L, 0L, 0L, "", None))
    publish()
  }

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def dur(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
    def num(d: Double): Double = if (d.isNaN) 0.0 else d
    val ops = p.stateOperators
    views.put(p.id, QueryView(
      Option(p.name).getOrElse(""), p.id, p.runId, "running",
      p.batchId, p.timestamp, p.numInputRows,
      num(p.inputRowsPerSecond), num(p.processedRowsPerSecond),
      dur("triggerExecution"), dur("addBatch"),
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      Option(p.eventTime.get("watermark")).getOrElse(""), None))
    publish()
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    val prior = views.get(e.id)
    val status = if (e.exception.isDefined) "failed" else "terminated"
    prior match {
      case Some(v) => views.put(e.id, v.copy(status = status, error = e.exception))
      case None => // terminated before any progress reached us; nothing to show
    }
    publish()
  }

  // ---- rendering --------------------------------------------------

  /** The whole surface as one JSON object (stable key order by query
    * name then id, so diffs of successive scrapes are readable).
    */
  def json: String = {
    val rows = snapshot.values.toList.sortBy(v => (v.name, v.id.toString))
      .map { v =>
        s"""{"name":${Replay.jsonStr(v.name)},"id":${Replay.jsonStr(v.id.toString)},""" +
          s""""runId":${Replay.jsonStr(v.runId.toString)},"status":${Replay.jsonStr(v.status)},""" +
          s""""batchId":${v.batchId},"timestamp":${Replay.jsonStr(v.timestamp)},""" +
          s""""numInputRows":${v.numInputRows},""" +
          f""""inputRowsPerSecond":${v.inputRowsPerSecond}%.2f,""" +
          f""""processedRowsPerSecond":${v.processedRowsPerSecond}%.2f,""" +
          s""""triggerMs":${v.triggerMs},"addBatchMs":${v.addBatchMs},""" +
          s""""stateRowsTotal":${v.stateRowsTotal},"stateBytes":${v.stateBytes},""" +
          s""""watermark":${Replay.jsonStr(v.watermark)}""" +
          v.error.map(err => s""","error":${Replay.jsonStr(err)}""").getOrElse("") + "}"
      }
    rows.mkString("""{"queries":[""", ",", "]}")
  }

  /** Self-contained page; re-renders every 2 s (meta refresh works for
    * both the served and the file-published copy).
    */
  def html: String = {
    def esc(s: String) =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val rows = snapshot.values.toList.sortBy(v => (v.name, v.id.toString))
      .map { v =>
        s"<tr><td>${esc(v.name)}</td><td>${esc(v.status)}</td>" +
          s"<td>${v.batchId}</td><td>${v.numInputRows}</td>" +
          f"<td>${v.processedRowsPerSecond}%.1f</td>" +
          s"<td>${v.triggerMs}</td><td>${v.stateRowsTotal}</td>" +
          s"<td>${v.stateBytes}</td><td>${esc(v.watermark)}</td>" +
          s"<td>${esc(v.error.getOrElse(""))}</td></tr>"
      }.mkString("\n")
    s"""<!doctype html><html><head><meta charset="utf-8">
       |<meta http-equiv="refresh" content="2">
       |<title>graft live ops</title>
       |<style>body{font:13px monospace}table{border-collapse:collapse}
       |td,th{border:1px solid #999;padding:2px 8px;text-align:right}
       |td:first-child,th:first-child{text-align:left}</style></head>
       |<body><h3>graft streaming — live</h3>
       |<table><tr><th>query</th><th>status</th><th>batch</th>
       |<th>rows</th><th>rows/s</th><th>trigger ms</th>
       |<th>state rows</th><th>state bytes</th><th>watermark</th>
       |<th>error</th></tr>
       |$rows
       |</table></body></html>""".stripMargin
  }

  private def publish(): Unit = publishDir.foreach { dir =>
    def write(name: String, body: String): Unit = {
      val tmp = dir.resolve(name + ".tmp")
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    write("liveops.json", json)
    write("liveops.html", html)
  }

  /** Serve `/` (html) and `/liveops.json` on the given port (0 picks
    * an ephemeral one); returns the server — `.getAddress.getPort`
    * for the bound port, `.stop(0)` to shut down.
    */
  def serve(port: Int = 0): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    def handler(contentType: String, body: () => String) = new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val bytes = body().getBytes(StandardCharsets.UTF_8)
        x.getResponseHeaders.set("Content-Type", contentType)
        x.sendResponseHeaders(200, bytes.length.toLong)
        val os = x.getResponseBody
        try os.write(bytes) finally os.close()
      }
    }
    server.createContext("/liveops.json",
      handler("application/json; charset=utf-8", () => json))
    server.createContext("/", handler("text/html; charset=utf-8", () => html))
    server.start()
    server
  }
}

object LiveOps {
  /** Attach a fresh listener to the session (and optionally a publish
    * dir); caller owns detaching via `ss.streams.removeListener`.
    */
  def attach(ss: SparkSession, publishDir: Option[Path] = None): LiveOps = {
    val ops = new LiveOps(publishDir)
    ss.streams.addListener(ops)
    ops
  }
}
