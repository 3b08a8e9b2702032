package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Dsl
import graft.operators.Cooldown

/** End-to-end streaming semantics: replays the reference example
  * generator script (example/produceExampleMessages.js — steady
  * sub.one=15.5 / two=16 every 2.5 s, spike sub.one=150.5 at 30 s
  * multiples, spike two=-100 at 60 s multiples) through the
  * foreachBatch pipeline with an injected clock.
  */
class AnomalyPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** (topic, key, json value, ts) messages for one generator interval. */
  private def generatorScript(fromSec: Long, toSec: Long): Seq[(String, String, String, Timestamp)] =
    (fromSec until toSec by 5).flatMap { s =>
      val one = if (s % 30 == 0 && s > 0) 150.5 else 15.5
      val two = if (s % 60 == 0 && s > 0) -100.0 else 16.0
      Seq(("test-topic", s"k$s", s"""{"sub":{"one":$one},"two":$two}""", new Timestamp(t0 + s * 1000)))
    }

  test("replayed example generator: spikes alarm, steady signal does not") {
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"), "two" -> Seq("5m"))))
    val pipeline = new AnomalyPipeline(spark, dsl, cooldownMs = 0L)

    // trigger 1: 60 s of steady-ish traffic incl. one spike pair at 30/60 —
    // no snapshot yet, so nothing can alarm (staleness semantics)
    val b1 = generatorScript(0, 60).toDF("topic", "key", "value", "ts")
    val out1 = pipeline.processBatch(b1, new Timestamp(t0 + 60000))
    assert(out1.isEmpty, "first batch judged against empty snapshot")

    // trigger 2: next 60 s with spikes at 60 s and 90 s. sub.one alarms
    // (trigger 1's spike gave its window variance); two can NOT alarm yet:
    // its steady signal is constant -> stddev 0 -> F7 gate (the reference
    // quirk) — its first spike only ENTERS the store here.
    val b2 = generatorScript(60, 120).toDF("topic", "key", "value", "ts")
    val out2 = pipeline.processBatch(b2, new Timestamp(t0 + 120000)).collect()
    val byPath2 = out2.groupBy(_.path).view.mapValues(_.map(_.value).toSet).toMap
    assert(byPath2.get("sub.one").exists(_.contains(150.5)), s"sub.one spike missed: $byPath2")
    assert(!byPath2.contains("two"), "two cannot alarm before its window has variance")
    assert(!out2.exists(e => e.path == "sub.one" && e.value == 15.5), "steady value alarmed")

    // trigger 3: two's spike at 120 s judged against a snapshot that now
    // contains the -100 from 60 s -> nonzero stddev -> alarms
    val b3 = generatorScript(120, 180).toDF("topic", "key", "value", "ts")
    val out3 = pipeline.processBatch(b3, new Timestamp(t0 + 180000)).collect()
    val byPath3 = out3.groupBy(_.path).view.mapValues(_.map(_.value).toSet).toMap
    assert(byPath3.get("two").exists(_.contains(-100.0)), s"two spike missed: $byPath3")
  }

  test("cooldown suppresses re-emission across triggers") {
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val pipeline = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L)
    val b1 = generatorScript(0, 60).toDF("topic", "key", "value", "ts")
    pipeline.processBatch(b1, new Timestamp(t0 + 60000))
    val b2 = generatorScript(60, 120).toDF("topic", "key", "value", "ts")
    val out2 = pipeline.processBatch(b2, new Timestamp(t0 + 120000)).collect()
      .filter(_.path == "sub.one")
    val b3 = generatorScript(120, 180).toDF("topic", "key", "value", "ts")
    val out3 = pipeline.processBatch(b3, new Timestamp(t0 + 180000)).collect()
      .filter(_.path == "sub.one")
    // spike at 90 s emitted in trigger 2; spikes at 120/150 s are within
    // 120 s of it -> at most one more emission at exactly +120 s
    val allEmits = (out2 ++ out3).map(_.produced_us).sorted.toSeq
    allEmits.sliding(2).foreach {
      case Seq(a, b) => assert(b - a >= 120000000L, s"cooldown violated: $allEmits")
      case _ =>
    }
    assert(allEmits.nonEmpty)
  }

  test("anomaly records carry the reference output shape incl. originalMessage") {
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val pipeline = new AnomalyPipeline(spark, dsl, cooldownMs = 0L)
    pipeline.processBatch(generatorScript(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000))
    val out = pipeline.processBatch(
      generatorScript(60, 120).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 120000))
    val rec = pipeline.toAnomalyRecords(out)
    assert(rec.columns.toSeq == Seq("id", "topic", "path", "window", "humanWindow",
      "value", "median", "stdDev", "threeSigma", "produced", "originalMessage"))
    val r = rec.filter(col("path") === "sub.one").head
    assert(r.getAs[String]("humanWindow") == "5m")
    assert(math.abs(r.getAs[Double]("threeSigma")) > 1.0)
    // each record's raw payload is the message that triggered IT
    // (reference embeds it per anomaly, lib/dsl/DSLHandler.js:217-227)
    assert(rec.filter(col("originalMessage").isNull).count() == 0)
    val mismatched = rec.filter(col("path") === "sub.one")
      .filter(get_json_object(col("originalMessage"), "$.sub.one").cast("double") =!= col("value"))
    assert(mismatched.count() == 0, "originalMessage is not the triggering payload")
  }

  test("originalMessage survives the cross-trigger cooldown path") {
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val pipeline = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L)
    pipeline.processBatch(generatorScript(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000))
    val out2 = pipeline.processBatch(
      generatorScript(60, 120).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 120000)).collect()
    val spikes = out2.filter(e => e.path == "sub.one" && e.value == 150.5)
    assert(spikes.nonEmpty)
    assert(spikes.forall(e => e.original_message != null && e.original_message.contains("\"one\":150.5")))
  }

  test("plan size is independent of topic count (single-pass extraction)") {
    // 100-topic DSL: the extraction plan must not fan out per topic
    val manyTopics = (1 to 100).map(i => s"topic$i" -> Map("v" -> Seq("5m"))).toMap
    val few = Dsl.parse(Map("a" -> Map("v" -> Seq("5m"))))
    val many = Dsl.parse(manyTopics)
    val batch = Seq(("topic1", "k", """{"v":1.5}""", new Timestamp(t0))).toDF("topic", "key", "value", "ts")
    def planNodes(dsl: Dsl): Int =
      graft.operators.Extraction.fromJsonMessagesMulti(
        batch, col("topic"), col("value"), col("ts"),
        dsl.topics.map(tc => tc.topic -> tc.fields.map(_.path)),
        includeFrequency = true,
      ).queryExecution.optimizedPlan.collect { case p => p }.size
    assert(planNodes(many) == planNodes(few),
      "extraction plan node count must not grow with topic count")
    // and the 100-topic pipeline actually runs
    val p = new AnomalyPipeline(spark, many, cooldownMs = 0L)
    p.processBatch(batch, new Timestamp(t0 + 1000))
    assert(p.currentStore.count() == 2L) // v sample + __topic_frequency
  }

  test("empty batches and empty DSLs are harmless (no crash, no emission)") {
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val p = new AnomalyPipeline(spark, dsl, cooldownMs = 0L)
    val empty = Seq.empty[(String, String, String, Timestamp)].toDF("topic", "key", "value", "ts")
    assert(p.processBatch(empty, new Timestamp(t0 + 60000)).isEmpty)
    // real data after an empty trigger still works
    p.processBatch(generatorScript(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000))
    val out = p.processBatch(
      generatorScript(60, 120).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 120000))
    assert(out.count() > 0)
    // a DSL with no topics never emits and never throws
    val pEmpty = new AnomalyPipeline(spark, Dsl(Nil), cooldownMs = 0L)
    assert(pEmpty.processBatch(
      generatorScript(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000)).isEmpty)
    assert(pEmpty.storedEventCount == 0L)
  }

  test("bucketed stats mode emits the same anomalies as exact mode (scale form)") {
    // minute-aligned triggers + minute-multiple windows + samples in
    // bucket interiors -> identical sample sets per window; decimal
    // partial sums merge associatively -> identical stats -> identical
    // emissions. This pins the incremental per-segment-partials path to
    // the exact path end to end.
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"), "two" -> Seq("5m"))))
    def runAll(p: AnomalyPipeline) =
      (0 until 3).flatMap { tr =>
        p.processBatch(
          generatorScript(tr * 60L, (tr + 1) * 60L).toDF("topic", "key", "value", "ts"),
          new Timestamp(t0 + (tr + 1) * 60000L)
        ).collect().map(e => (e.topic, e.path, e.window_sec, e.produced_us, e.value))
      }.toSet
    val exact = runAll(new AnomalyPipeline(spark, dsl, cooldownMs = 0L))
    val bucketed = runAll(new AnomalyPipeline(spark, dsl, cooldownMs = 0L, statsBucketSec = Some(60L)))
    assert(exact.nonEmpty, "equivalence is vacuous: no anomalies emitted")
    assert(bucketed == exact, "bucketed-mode emissions diverged from exact mode")
  }

  test("beforeMessageProcessing hook: alter, drop, and error per message (H1)") {
    val counters = new Counters(spark)
    val batch = Seq(
      ("t", "k1", """{"v":1}""", new Timestamp(t0)),
      ("t", "k2", """{"v":2}""", new Timestamp(t0)), // dropped by hook
      ("t", "k3", """{"v":3}""", new Timestamp(t0)), // hook throws -> error + drop
      ("t", "k4", """{"v":4}""", new Timestamp(t0)), // altered by hook
    ).toDF("topic", "key", "value", "ts")
    val hook: AnomalyPipeline.Message => Option[AnomalyPipeline.Message] = m =>
      m.key match {
        case "k2" => None
        case "k3" => throw new IllegalStateException("bad message")
        case "k4" => Some(m.copy(value = """{"v":40}"""))
        case _    => Some(m)
      }
    val out = AnomalyPipeline.withMessageHook(batch, hook, counters.errors)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(out == Map("k1" -> """{"v":1}""", "k4" -> """{"v":40}"""))
    assert(counters.errors.value == 1L)
  }

  test("foreachBatch shell runs via MemoryStream end-to-end") {
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val pipeline = new AnomalyPipeline(spark, dsl, cooldownMs = 0L)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = AnomalyPipeline.run(
      pipeline,
      mem.toDF().toDF("topic", "key", "value", "ts"),
      onBatch = (records, _) => emitted += records.count(),
      clock = Some(df => new Timestamp(
        df.agg(max(col("ts"))).head.getTimestamp(0).getTime + 1000)),
    )
    mem.addData(generatorScript(0, 60))
    q.processAllAvailable()
    mem.addData(generatorScript(60, 120))
    q.processAllAvailable()
    q.stop()
    assert(emitted.length == 2)
    assert(emitted(0) == 0L) // no snapshot on first trigger
    assert(emitted(1) > 0L) // spikes alarm on second trigger
  }

  test("steady-state triggers compile no generated code (exact and bucketed stats)") {
    // per-trigger values (now, horizons) enter plans as bound params,
    // so from trigger 2 on every stage's source repeats and hits the
    // codegen cache; a value inlined as a literal recompiles per trigger
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"), "two" -> Seq("5m"))))
    for (bucketSec <- Seq(None, Some(60L))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_codegen").toFile.getAbsolutePath
      val p = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L,
        stateDir = Some(dir), statsBucketSec = bucketSec)
      val compiles = (0 until 6).map { tr =>
        val emitted = p.processBatch(
          generatorScript(tr * 60L, (tr + 1) * 60L).toDF("topic", "key", "value", "ts"),
          new Timestamp(t0 + (tr + 1) * 60000L))
        p.toAnomalyRecords(emitted).collect()
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      }
      assert(p.storedEventCount > 0L && p.cooldownSnapshot.nonEmpty, "the triggers did no work")
      assert(compiles.drop(2).distinct.size == 1,
        s"statsBucketSec=$bucketSec: Janino compile count per trigger end moved after trigger 2: $compiles")
    }
  }
}

class CooldownStateSpec extends SparkSpec {
  import spark.implicits._

  private def ev(sec: Long, topic: String = "t", path: String = "f") =
    CooldownState.AnomalyEvent(topic, path, 60L, sec * 1000000L, 1.0, 0.0, 1.0, 2.0)

  test("streaming state function matches the batch oracle on replayed input") {
    val events = Seq(0L, 60L, 119L, 121L, 300L).map(ev(_))
    // batch oracle
    val batchDf = events.map(e => (e.topic, e.path, e.window_sec,
      new Timestamp(e.produced_us / 1000), e.value))
      .toDF("topic", "path", "window_sec", "produced", "value")
    val oracle = Cooldown.applyBatch(batchDf, cooldownMs = 120000L)
      .collect().map(_.getAs[Timestamp]("produced").getTime * 1000).sorted
    // streaming state fn over a MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CooldownState.AnomalyEvent]
    val out = CooldownState(mem.toDS(), cooldownMs = 120000L)
    val q = out.writeStream.format("memory").queryName("cooldown_out")
      .outputMode("update").start()
    mem.addData(events.take(2)) // 0s, 60s in trigger 1
    q.processAllAvailable()
    mem.addData(events.drop(2)) // 119s, 121s, 300s in trigger 2
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cooldown_out").collect().map(_.getAs[Long]("produced_us")).sorted
    assert(got.toSeq == oracle.toSeq, "streaming cooldown != batch oracle")
    assert(got.toSeq == Seq(0L, 121000000L, 300000000L))
  }
}

class DiscoverySpec extends SparkSpec {
  import spark.implicits._

  test("topic diff both directions with blacklist subtraction (SO1/SO2)") {
    val d = new Discovery(spark, Dsl(Nil), blacklist = Set("internal"))
    val diff1 = d.discoverTopics(() => Seq("a", "b", "internal"))
    assert(diff1.created == Set("a", "b") && diff1.deleted.isEmpty)
    val diff2 = d.discoverTopics(() => Seq("b", "c"))
    assert(diff2.created == Set("c") && diff2.deleted == Set("a"))
  }

  test("discovery bumps topic/field counters (Sarkac stats parity)") {
    val counters = new Counters(spark)
    val d = new Discovery(spark, Dsl(Nil), counters = Some(counters))
    d.discoverTopics(() => Seq("a", "b"))
    assert(counters.topicUpdates.value == 2L)
    d.discoverFields(Seq(("a", """{"x":1}""")).toDF("topic", "value"))
    assert(counters.fieldUpdates.value == 1L)
  }

  test("field discovery: numeric leaves only, schema-hash change detection, static wins") {
    val statc = Dsl.parse(Map("t" -> Map("two" -> Seq("1h"))))
    val d = new Discovery(spark, statc, defaultWindows = Seq("15m"))
    val batch = Seq(
      ("t", """{"sub":{"one":15.5},"two":16,"name":"x","flag":true}"""),
      ("t", """{"ignored":"second message of topic"}"""),
      ("u", """{"rate":2.5}"""),
    ).toDF("topic", "value")
    val changed = d.discoverFields(batch)
    assert(changed == Set("t", "u"))
    val dsl = d.dsl
    // static "two" keeps 1h; discovered sub.one gets default 15m
    assert(dsl.forTopic("t").get.fields.toSet ==
      Set(graft.core.FieldConfig("two", Seq(3600L)), graft.core.FieldConfig("sub.one", Seq(900L))))
    assert(dsl.forTopic("u").get.fields == Seq(graft.core.FieldConfig("rate", Seq(900L))))
    // unchanged schema -> no rediscovery
    assert(d.discoverFields(batch).isEmpty)
  }

  test("re-discovery REPLACES a topic's earlier discovered fields") {
    val d = new Discovery(spark, Dsl(Nil), defaultWindows = Seq("15m"))
    d.discoverFields(Seq(("t", """{"a":1,"b":2}""")).toDF("topic", "value"))
    assert(d.dsl.forTopic("t").get.fields.map(_.path).toSet == Set("a", "b"))
    // schema changes: field a disappears, c appears -> stale 'a' must go
    d.discoverFields(Seq(("t", """{"b":2,"c":3}""")).toDF("topic", "value"))
    assert(d.dsl.forTopic("t").get.fields.map(_.path).toSet == Set("b", "c"))
  }

  test("discovered fields with zero valid windows are dropped (no empty-window crash)") {
    val d = new Discovery(spark, Dsl(Nil),
      beforeDiscoveryFieldConfig = (_, p) => if (p == "bad") Some(Seq("15min")) else None)
    d.discoverFields(Seq(("t", """{"bad":1,"good":2}""")).toDF("topic", "value"))
    val fields = d.dsl.forTopic("t").get.fields
    assert(fields.map(_.path) == Seq("good"))
    assert(d.dsl.forTopic("t").get.retentionSeconds == 900L) // no crash
  }

  test("field discovery collect is hard-capped at maxTopicsPerScan (driver-bound guard)") {
    val d = new Discovery(spark, Dsl(Nil), maxTopicsPerScan = 50)
    // a pathological 10k-topic batch must not land 10k samples on the
    // driver: one scan collects at most the cap, and because NEW topics
    // are anti-joined ahead of the cap, every further scan admits the
    // NEXT batch of topics instead of re-draining the same subset
    val batch = (0 until 10000).map(i => (s"t$i", s"""{"v":$i}""")).toDF("topic", "value")
    val changed = d.discoverFields(batch)
    assert(changed.size == 50, s"scan must cap at 50 topics, got ${changed.size}")
    assert(d.discoveredFields.size == 50)
    val changed2 = d.discoverFields(batch)
    assert(changed2.size == 50, s"second scan must admit 50 MORE topics, got ${changed2.size}")
    assert((changed2 & changed).isEmpty, "discovery re-admitted already-known topics as changed")
    assert(d.discoveredFields.size == 100, "discovery must accumulate across scans")
  }

  test("per-field window hook overrides the default (beforeDiscoveryFieldConfig)") {
    val d = new Discovery(spark, Dsl(Nil),
      beforeDiscoveryFieldConfig = (t, p) => if (p == "special") Some(Seq("1h")) else None)
    val batch = Seq(("t", """{"special":1,"plain":2}""")).toDF("topic", "value")
    d.discoverFields(batch)
    val fields = d.dsl.forTopic("t").get.fields.map(f => f.path -> f.windows).toMap
    assert(fields("special") == Seq(3600L))
    assert(fields("plain") == Seq(900L))
  }
}
