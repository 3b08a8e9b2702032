package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.JsonUtil.quote

/** HTTP observability surface mirroring the reference's endpoint set
  * (reference: lib/HttpServer.js:34-89) from the driver, using the
  * JDK's built-in HttpServer (no extra dependencies):
  *
  *  - GET    /                   index of endpoints
  *  - GET    /status             counters + stored-event count + codegen totals
  *                               + memo inventory (entries, builds, bytes)
  *  - GET    /healthcheck        200 empty
  *  - GET    /dsl                the active (static + discovered) DSL
  *  - GET    /dsl/computed       per-(topic:path:window) {median, stdDev}
  *                               stats cache (lib/dsl/DSLHandler.js:264)
  *  - GET    /dsl/topics         DSL topic names
  *  - GET    /discovery/topics   discovered topic set
  *  - GET    /discovery/fields   discovered fields per topic
  *  - GET    /discovery/hashes   per-topic schema hashes
  *  - GET    /anomalies/cooldown cooldown cache read-back (last emit per key)
  *  - GET    /metrics            Prometheus text exposition (extension)
  *  - DELETE /db/truncate        clear the event store; waits for at most
  *                               one in-flight trigger
  *  - anything else -> 404, wrong method -> 405.
  */
class StatusServer(
    counters: Counters,
    discovery: Option[Discovery] = None,
    pipeline: Option[AnomalyPipeline] = None,
    port: Int = 0, // 0 = ephemeral
) {

  private var server: Option[HttpServer] = None

  /** Render a finite double as a JSON number (NaN/Inf are not valid
    * JSON — quote them like JS `JSON.stringify` would not, but the
    * stats gates upstream make them unreachable in practice).
    */
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) quote(d.toString) else d.toString

  private val index: Seq[(String, String)] = Seq(
    "Info" -> "graft",
    "Self" -> "GET /",
    "Status" -> "GET /status",
    "Healthcheck" -> "GET /healthcheck",
    "Loaded DSL" -> "GET /dsl",
    "Computed DSL" -> "GET /dsl/computed",
    "DSL Topics" -> "GET /dsl/topics",
    "Discovered Topics" -> "GET /discovery/topics",
    "Discovered Fields" -> "GET /discovery/fields",
    "Discovered Hashes" -> "GET /discovery/hashes",
    "Anomaly Cooldowns" -> "GET /anomalies/cooldown",
    "Prometheus Metrics" -> "GET /metrics",
    "Truncate Database" -> "DELETE /db/truncate",
  )

  def start(): Int = {
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    // "/" is the JDK fallback context: only the exact root serves the
    // index; unknown paths 404 (the reference's express default)
    s.createContext("/", exchange => route(exchange) {
      case ("GET", "/") =>
        (200, jsonObject(index.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }))
    })
    s.createContext("/status", exchange => route(exchange) {
      case ("GET", _) =>
        val sarkac = jsonObject(
          counters.snapshot.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}: $v" })
        val db = jsonObject(Seq(
          s"${quote("storedEvents")}: ${pipeline.map(_.storedEventCount).getOrElse(0L)}"))
        val (compiles, compileMs) = StatusServer.codegenTotals
        val codegen = jsonObject(Seq(
          s"${quote("compiles")}: $compiles", s"${quote("compileMs")}: $compileMs"))
        val (entries, builds, bytes) = StatusServer.memoTotals
        val memo = jsonObject(Seq(
          s"${quote("entries")}: $entries", s"${quote("builds")}: $builds",
          s"${quote("storageBytes")}: $bytes"))
        (200, jsonObject(Seq(
          s"${quote("stream")}: null", // no broker wired in this environment
          s"${quote("db")}: $db",
          s"${quote("sarkac")}: $sarkac",
          s"${quote("codegen")}: $codegen",
          s"${quote("memo")}: $memo")))
    })
    s.createContext("/healthcheck", exchange => route(exchange) {
      case ("GET", _) => (200, "")
    })
    s.createContext("/dsl", exchange => route(exchange) {
      case ("GET", "/dsl") => (200, dslJson)
      case ("GET", "/dsl/computed") =>
        (200, jsonObject(
          pipeline.map(_.statsCache).getOrElse(Nil)
            .sortBy { case (t, p, w, _, _) => (t, p, w) }
            .map { case (t, p, w, median, stdDev) =>
              s"${quote(s"$t:$p:$w")}: ${jsonObject(Seq(
                s"${quote("median")}: ${num(median)}", s"${quote("stdDev")}: ${num(stdDev)}"))}"
            }))
      case ("GET", "/dsl/topics") =>
        (200, jsonArray(
          discovery.map(_.dsl.topicNames).getOrElse(Nil).sorted.map(quote)))
    })
    s.createContext("/discovery", exchange => route(exchange) {
      case ("GET", "/discovery/topics") =>
        (200, jsonArray(discovery.map(_.topics.toSeq.sorted).getOrElse(Nil).map(quote)))
      case ("GET", "/discovery/fields") =>
        (200, jsonObject(
          discovery.map(_.discoveredFields.toSeq.sortBy(_._1)).getOrElse(Nil)
            .map { case (t, ps) => s"${quote(t)}: ${jsonArray(ps.map(quote))}" }))
      case ("GET", "/discovery/hashes") =>
        (200, jsonObject(
          discovery.map(_.hashes.toSeq.sortBy(_._1)).getOrElse(Nil)
            .map { case (t, h) => s"${quote(t)}: $h" }))
    })
    s.createContext("/metrics", exchange => route(exchange) {
      case ("GET", _) =>
        // Prometheus text exposition (beyond the reference surface):
        // counters as monotonic totals, Spark's codegen totals (a
        // steady stream compiles nothing, so a climbing count flags a
        // per-trigger value inlined into generated code), the memo
        // build count, and gauges for the stored events and the memo
        // inventory (entries held, block-manager bytes they pin)
        val (compiles, compileMs) = StatusServer.codegenTotals
        val (entries, builds, bytes) = StatusServer.memoTotals
        val totals = counters.snapshot.toSeq.sortBy(_._1).map { case (k, v) =>
          ("graft_" + k.replaceAll("([A-Z])", "_$1").toLowerCase + "_total", v)
        } ++ Seq("graft_codegen_compiles_total" -> compiles,
          "graft_codegen_compile_ms_total" -> compileMs, "graft_memo_builds_total" -> builds)
        val counterLines = totals.flatMap { case (name, v) => Seq(s"# TYPE $name counter", s"$name $v") }
        val gauges = Seq(
          "graft_stored_events" -> pipeline.map(_.storedEventCount).getOrElse(0L),
          "graft_memo_entries" -> entries.toLong,
          "graft_memo_storage_bytes" -> bytes,
        ).flatMap { case (name, v) => Seq(s"# TYPE $name gauge", s"$name $v") }
        (200, (counterLines ++ gauges).mkString("", "\n", "\n"))
    })
    s.createContext("/anomalies/cooldown", exchange => route(exchange) {
      case ("GET", _) =>
        (200, jsonObject(
          pipeline.map(_.cooldownSnapshot.toSeq.sortBy(_._1)).getOrElse(Nil)
            .map { case ((t, p, w), us) => s"${quote(s"$t:$p:$w")}: $us" }))
    })
    s.createContext("/db/truncate", exchange => route(exchange) {
      case ("DELETE", _) =>
        pipeline.foreach(_.truncate())
        (200, jsonObject(Seq(s"${quote("truncated")}: true")))
    })
    s.setExecutor(null)
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  def stop(): Unit = { server.foreach(_.stop(0)); server = None }

  private def jsonObject(fields: Seq[String]): String = fields.mkString("{", ", ", "}")
  private def jsonArray(items: Seq[String]): String = items.mkString("[", ", ", "]")

  /** Route one exchange: the partial function maps (method, path) to
    * (status, body); an unmatched path 404s, a matched path with the
    * wrong method 405s (checked by retrying the route with each common
    * method).
    */
  private def route(ex: HttpExchange)(pf: PartialFunction[(String, String), (Int, String)]): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    val (code, payload) =
      if (pf.isDefinedAt((method, path))) pf((method, path))
      else if (Seq("GET", "POST", "PUT", "DELETE").exists(m => pf.isDefinedAt((m, path))))
        (405, """{"error": "method not allowed"}""")
      else (404, """{"error": "not found"}""")
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    val contentType =
      if (ex.getRequestURI.getPath == "/metrics") "text/plain; version=0.0.4"
      else "application/json"
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    val os = ex.getResponseBody
    if (bytes.nonEmpty) os.write(bytes)
    os.close()
  }

  private def dslJson: String = jsonObject(
    discovery.map(_.dsl.topics).getOrElse(Nil).map { tc =>
      s"${quote(tc.topic)}: ${jsonObject(tc.fields.map(f =>
        s"${quote(f.path)}: [${f.windows.mkString(",")}]"))}"
    })
}

object StatusServer {

  /** Spark's process-wide codegen totals: classes Janino compiled
    * (CodegenMetrics) and the milliseconds spent compiling them.
    */
  private def codegenTotals: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000L)

  /** The memo inventory: entries held across every memo, builds since
    * the JVM started, and the block-manager bytes the entries pin.
    */
  private def memoTotals: (Int, Long, Long) = (
    graft.core.Memo.entryCount,
    graft.core.Memo.buildCount,
    org.apache.spark.sql.SparkSession.getDefaultSession
      .map(graft.core.Memo.storageBytes).getOrElse(0L))
}
