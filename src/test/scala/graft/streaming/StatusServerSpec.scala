package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import graft.SparkSpec
import graft.core.Dsl

/** Endpoint parity with the reference HTTP surface
  * (lib/HttpServer.js:34-89): every route is exercised, including the
  * stats-cache read-back, cooldown inspection, and store truncate.
  */
class StatusServerSpec extends SparkSpec {
  import spark.implicits._

  private def send(port: Int, path: String, method: String = "GET"): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val builder = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
    val req = method match {
      case "GET" => builder.GET().build()
      case "DELETE" => builder.DELETE().build()
      case m => builder.method(m, HttpRequest.BodyPublishers.noBody()).build()
    }
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def drivenPipeline(): AnomalyPipeline = {
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val p = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L)
    def batch(fromSec: Long, toSec: Long) =
      (fromSec until toSec by 5).map { s =>
        val one = if (s % 30 == 0 && s > 0) 150.5 else 15.5
        ("test-topic", s"k$s", s"""{"sub":{"one":$one}}""", new Timestamp(t0 + s * 1000))
      }.toDF("topic", "key", "value", "ts")
    p.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    p.processBatch(batch(60, 120), new Timestamp(t0 + 120000))
    p
  }

  test("/dsl/computed reports each field over its own windows") {
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"), "two" -> Seq("5m", "10m"))))
    val p = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L)
    def batch(fromSec: Long, toSec: Long) =
      (fromSec until toSec by 5).map { s =>
        ("test-topic", s"k$s", s"""{"sub":{"one":${15.5 + s % 10}},"two":${16 + s % 7}}""",
          new Timestamp(t0 + s * 1000))
      }.toDF("topic", "key", "value", "ts")
    p.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    p.processBatch(batch(60, 120), new Timestamp(t0 + 120000))
    val srv = new StatusServer(new Counters(spark), None, Some(p))
    val port = srv.start()
    try {
      val (c, computed) = send(port, "/dsl/computed")
      val keys = "\"([^\"]+)\": \\{".r.findAllMatchIn(computed).map(_.group(1)).toSet
      assert(c == 200 && keys == Set(
        "test-topic:sub.one:300", "test-topic:two:300", "test-topic:two:600"), computed)
    } finally srv.stop()
  }

  test("serves the full reference endpoint surface (S7)") {
    val counters = new Counters(spark)
    counters.analysedMessages.add(7)
    val disc = new Discovery(spark, Dsl.parse(Map("t" -> Map("a.b" -> Seq("15m")))))
    disc.discoverTopics(() => Seq("t", "u"))
    disc.discoverFields(Seq(("u", """{"rate":2.5}""")).toDF("topic", "value"))
    val pipeline = drivenPipeline()
    val srv = new StatusServer(counters, Some(disc), Some(pipeline))
    val port = srv.start()
    try {
      val (ci, idx) = send(port, "/")
      assert(ci == 200 && idx.contains("\"Computed DSL\": \"GET /dsl/computed\""))
      val (ch, health) = send(port, "/healthcheck")
      assert(ch == 200 && health.isEmpty)
      val (c1, status) = send(port, "/status")
      assert(c1 == 200 && status.contains("\"analysedMessages\": 7"))
      assert(status.contains("\"storedEvents\": " + pipeline.storedEventCount))
      val (c2, topics) = send(port, "/discovery/topics")
      assert(c2 == 200 && topics == "[\"t\", \"u\"]")
      val (c3, dsl) = send(port, "/dsl")
      assert(c3 == 200 && dsl.contains("\"a.b\": [900]"))
      val (c4, dslTopics) = send(port, "/dsl/topics")
      assert(c4 == 200 && dslTopics.contains("\"t\"") && dslTopics.contains("\"u\""))
      val (c5, fields) = send(port, "/discovery/fields")
      assert(c5 == 200 && fields.contains("\"u\": [\"rate\"]"))
      val (c6, hashes) = send(port, "/discovery/hashes")
      assert(c6 == 200 && hashes.contains("\"u\": "))
      // computed stats cache: one entry per (topic:path:window) with
      // the reference's {median, stdDev} shape
      val (c7, computed) = send(port, "/dsl/computed")
      assert(c7 == 200 && computed.contains("\"test-topic:sub.one:300\": {\"median\": "))
      assert(computed.contains("\"stdDev\": "))
      // cooldown cache: trigger 2 emits the 60 s spike; the 90 s one is
      // inside the 120 s cooldown, so last-emit stays at 60 s
      val (c8, cooldown) = send(port, "/anomalies/cooldown")
      assert(c8 == 200 && cooldown.contains(s"\"test-topic:sub.one:300\": ${(t0 + 60000) * 1000L}"))
      // Prometheus metrics (extension endpoint)
      val (cm, metrics) = send(port, "/metrics")
      assert(cm == 200 && metrics.contains("graft_analysed_messages_total 7"))
      assert(metrics.contains(s"graft_stored_events ${pipeline.storedEventCount}"))
      // Spark's codegen totals, the same values on /metrics and /status
      // (the driven pipeline compiled its first triggers' classes)
      def series(name: String, text: String = metrics) =
        s"(?m)^$name (\\d+)$$".r.findFirstMatchIn(text).map(_.group(1).toLong)
      val compiles = series("graft_codegen_compiles_total")
      val compileMs = series("graft_codegen_compile_ms_total")
      assert(compiles.exists(_ > 0L) && compileMs.isDefined, metrics)
      assert(metrics.contains("# TYPE graft_codegen_compiles_total counter"))
      assert(metrics.contains("# TYPE graft_codegen_compile_ms_total counter"))
      assert(send(port, "/status")._2.contains(
        s"\"codegen\": {\"compiles\": ${compiles.get}, \"compileMs\": ${compileMs.get}}"))
      // the memo inventory: one checkpointed entry makes all three
      // series non-zero; /status carries the same values under "memo"
      val probe = graft.core.Memo[org.apache.spark.sql.DataFrame]("status_server_spec")
      probe(spark, "ds")(spark.range(1000).toDF("id").localCheckpoint(eager = true))
      try {
        val (_, m2) = send(port, "/metrics")
        val entries = series("graft_memo_entries", m2)
        val builds = series("graft_memo_builds_total", m2)
        val bytes = series("graft_memo_storage_bytes", m2)
        assert(entries.exists(_ >= 1L) && builds.exists(_ >= 1L) && bytes.exists(_ > 0L), m2)
        assert(m2.contains("# TYPE graft_memo_entries gauge"))
        assert(m2.contains("# TYPE graft_memo_builds_total counter"))
        assert(m2.contains("# TYPE graft_memo_storage_bytes gauge"))
        val st = send(port, "/status")._2
        assert(st.contains(s"\"memo\": {\"entries\": ${entries.get}, " +
          s"\"builds\": ${builds.get}, \"storageBytes\": ${bytes.get}}"), st)
      } finally probe.clear()
      // unknown path 404s; wrong method 405s
      assert(send(port, "/nope")._1 == 404)
      assert(send(port, "/status", "POST")._1 == 405)
      assert(send(port, "/db/truncate", "GET")._1 == 405)
      // truncate clears the store (but keeps the cooldown cache)
      assert(pipeline.storedEventCount > 0)
      val (c9, trunc) = send(port, "/db/truncate", "DELETE")
      assert(c9 == 200 && trunc.contains("\"truncated\": true"))
      assert(pipeline.storedEventCount == 0L)
      assert(send(port, "/anomalies/cooldown")._2.contains("test-topic:sub.one:300"))
    } finally srv.stop()
  }
}
