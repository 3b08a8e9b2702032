package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.core.Dsl
import graft.streaming.AnomalyPipeline

/** Streaming-path throughput benchmark: pushes synthetic JSON messages
  * through the full per-trigger pipeline (extract -> judge-vs-snapshot
  * -> store fold -> stats recompute -> cooldown) and reports messages
  * per second. The reference's operating envelope is low-thousands of
  * messages per second per instance (BASELINE.md: single Node event
  * loop, one Mongo insert per message x field, 3 aggregation
  * round-trips per key per 15 s scan).
  *
  * [[measure]] is the reusable core; `Bench` calls it at 2 and 100
  * topics each round and persists `stream_bench.json`, so hot-path
  * regressions show up in a committed per-round artifact instead of
  * living only in SCALE.md prose.
  */
object StreamBench {

  /** One measured configuration. `topics` is the effective topic count
    * (the default DSL has 2).
    */
  case class Result(msgsPerSec: Long, messages: Long, seconds: Double,
      anomalies: Long, topics: Int) {
    def json: String =
      s"""{"msgs_per_sec":$msgsPerSec,"messages":$messages,"seconds":${"%.3f".formatLocal(java.util.Locale.ROOT, seconds)},""" +
        s""""anomalies_emitted":$anomalies,"topics":$topics}"""
  }

  /** Run the full per-trigger pipeline over synthetic messages; one
    * untimed warm-up trigger, then `triggers` timed ones.
    *
    * Each timed trigger plants one spike per configured (topic, path),
    * so detect -> cooldown -> emit is on the clock. Triggers are 15 s
    * apart in event time, inside the 2 min cooldown: every configured
    * (topic, path, window) key emits exactly once, on the first timed
    * trigger, and any other emitted count throws.
    */
  def measure(spark: SparkSession, perTrigger: Int, triggers: Int, nTopics: Int): Result = {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // nTopics > 0: a WIDE DSL (nTopics x 2 fields) to exercise the
    // topic-count-independent single-pass extraction under load
    val dsl =
      if (nTopics > 0)
        Dsl.parse((0 until nTopics).map(i =>
          s"topic-$i" -> Map("sub.one" -> Seq("15m"), "two" -> Seq("15m"))).toMap)
      else Dsl.parse(Map(
        "topic-a" -> Map("sub.one" -> Seq("15m"), "two" -> Seq("15m")),
        "topic-b" -> Map("rate" -> Seq("15m", "1h")),
      ))
    val pipeline = new AnomalyPipeline(spark, dsl, cooldownMs = Dsl.CooldownMs)
    // far above 3 sigma while spikes stay under 9% of a window's
    // samples, and small enough for the exact DECIMAL(18,6) sum of squares
    val spike = 1000.0

    // one trigger = perTrigger messages spread over 15 s of event time
    def batch(trigger: Int, spiked: Boolean) = spark.range(perTrigger.toLong).map { n =>
      val i: Long = n
      val s = trigger * 15000L + (i * 15000L / perTrigger)
      // message `at` carries the spike: wide DSL, sub.one of topic-i at i
      // and two at nTopics + i; default DSL, topic-a sub.one at 0,
      // topic-b rate at 1, topic-a two at 2
      def v(steady: Double, at: Long) = if (spiked && i == at) spike else steady
      val (topic, value) =
        if (nTopics > 0)
          (s"topic-${i % nTopics}",
            s"""{"sub":{"one":${v(15.0 + (i % 7), i % nTopics)}},"two":${v(16.0 + (i % 5), nTopics + i % nTopics)}}""")
        else if (i % 2 == 0)
          ("topic-a", s"""{"sub":{"one":${v(15.0 + (i % 7), 0)}},"two":${v(16.0 + (i % 5), 2)}}""")
        else ("topic-b", s"""{"rate":${v(2.5 + (i % 11), 1)}}""")
      (topic, s"k$i", value, new Timestamp(t0 + s))
    }.toDF("topic", "key", "value", "ts")

    // warm-up trigger (session + codegen), not timed
    pipeline.processBatch(batch(0, spiked = false), new Timestamp(t0 + 15000))

    val start = System.nanoTime()
    var anomalies = 0L
    (1 to triggers).foreach { tr =>
      anomalies += pipeline.processBatch(batch(tr, spiked = true), new Timestamp(t0 + (tr + 1) * 15000L)).count()
    }
    val sec = (System.nanoTime() - start) / 1e9
    val expected = dsl.topics.flatMap(_.fields.flatMap(_.windows)).size.toLong
    if (anomalies != expected)
      throw new IllegalStateException(
        s"stream bench emitted $anomalies anomaly records, expected $expected (one per configured key)")
    val msgs = perTrigger.toLong * triggers
    Result((msgs / sec).round, msgs, sec, anomalies, if (nTopics > 0) nTopics else 2)
  }

  /** Throughput of the composed ADMISSION gate (docs/sec): synthetic
    * arriving documents (60-token texts + 64-dim embeddings) against
    * the PERSISTED corpus indexes of `sfDir` — the same snapshot
    * tables the gated queries maintain, memoized, so inside Bench they
    * are already built and this times only the gate itself. Batch
    * execution of the stream plan (stream == batch pinned by
    * AdmissionStreamSpec), one untimed warm-up batch then `batches`
    * timed ones. In the returned [[Result]], `anomalies` carries the
    * REJECTED count of the last batch (non-admit verdicts) and
    * `topics` the gate count (4: text, image, audio, vector).
    */
  def admissionMeasure(spark: SparkSession, sfDir: String,
      perBatch: Int, batches: Int): Result = {
    import org.apache.spark.sql.functions._
    val corpus = graft.queries.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0)
    val (sigIdx, _) = graft.sources.SignatureIndex.snapshotTables(spark, sfDir)
    val (phIdx, _) = graft.sources.PhashIndex.snapshotTables(spark, sfDir)
    val (auIdx, _) = graft.sources.AudioIndex.snapshotTables(spark, sfDir)
    val (emIdx, _) = graft.sources.EmbedIndex.snapshotTables(spark, sfDir)
    val centers = graft.pipeline.Similarity.estateCenters(spark, sfDir)
    // narrow codegen generation, checkpointed so generation cost stays
    // out of the timing (the gate's input arrives pre-decoded in a
    // real trigger too)
    val docs = spark.range(perBatch.toLong)
      .selectExpr(
        "id + 1000000 AS doc_id",
        "array_join(transform(sequence(1, 60), " +
          "j -> concat('tok', CAST((id * 61 + j * 7) % 5000 AS STRING))), ' ') AS text",
        "transform(sequence(0, 63), " +
          "d -> CAST(pmod(id * 64 + d, 97) AS FLOAT) / CAST(97 AS FLOAT)) AS embedding")
      .localCheckpoint(true)
    val gate = graft.streaming.IngestGate
      .admissionStream(docs, corpus, sigIdx, phIdx, auIdx, emIdx, centers).toDF()
    gate.count() // warm-up (codegen + broadcast build)
    val start = System.nanoTime()
    (1 to batches).foreach(_ => gate.count())
    val sec = (System.nanoTime() - start) / 1e9
    val rejected = gate.filter(col("verdict") =!= "admit").count()
    val msgs = perBatch.toLong * batches
    // topics doubles as the GATE count for the admission record — four
    // since the audio landmark gate joined the composition (round 11)
    Result((msgs / sec).round, msgs, sec, rejected, topics = 4)
  }

  /** Median + best + self-adjudicated contention verdict over a run
    * set — Bench's round-8 median/min/contended discipline applied to
    * THROUGHPUT (where contention shows as the median falling far
    * BELOW the best run, not rising above it). `contended` = true when
    * the best run is > 3x the median: the median then understates the
    * engine and the reader should trust `best` — previously every such
    * refresh discrepancy (14.5k median containing an 85.2k run, r10)
    * was re-litigated by hand.
    *
    * `priorBest` (the same family's `best` in the most recent COMMITTED
    * round record) extends the batch bench's `suspect_contended`
    * discipline to throughput: any run measuring below a third of what
    * this code demonstrably sustained on a quiet host is flagged in
    * `suspect_contended` (the r12 refresh recorded an 18.5 k run beside
    * a 123 k one on identical code — exactly the spread this field
    * adjudicates), and `suspect_all_runs` marks the case where even the
    * BEST run is below the bar — read the committed history before
    * calling that one a regression, but do not dismiss it unseen.
    */
  def summaryJson(rs: Seq[Result], priorBest: Option[Long] = None,
      priorMedian: Option[Long] = None): String = {
    val med = rs.sortBy(_.msgsPerSec).apply(rs.size / 2)
    val best = rs.maxBy(_.msgsPerSec)
    val worst = rs.minBy(_.msgsPerSec)
    val contended = best.msgsPerSec > 3L * med.msgsPerSec
    // best/worst ratio: the thinness statistic the r13 record lacked (3
    // runs spanning 24.8k–113.5k read as "median 98.7k" with the 4.6x
    // spread visible only by eyeballing the run list)
    val spread =
      if (worst.msgsPerSec <= 0) 0.0
      else best.msgsPerSec.toDouble / worst.msgsPerSec
    val spreadS = String.format(java.util.Locale.ROOT, "%.2f", Double.box(spread))
    val suspect = priorBest.map { p =>
      val flagged = rs.map(_.msgsPerSec).filter(_ * 3 < p)
      // uniformly-degraded family (the r15 round-end failure mode: a
      // loaded epoch slowed EVERY run so the per-run 3x flag caught
      // only the worst one and a 55.7k median shipped as the record
      // beside a committed 110.2k best): a median under TWO-THIRDS of
      // the committed prior best marks the whole family suspect —
      // either the epoch was loaded (adjudicate against the canary
      // bracket in the round record) or the code regressed (which the
      // batch suspects would corroborate). Healthy medians have run
      // 0.8–0.95x the committed best; the r15 failure read 0.505.
      val epochSlow = 3L * med.msgsPerSec < 2L * p
      s""""prior_best":$p,"suspect_contended":[${flagged.mkString(",")}],""" +
        s""""suspect_all_runs":${flagged.size == rs.size},""" +
        s""""suspect_epoch_slow":$epochSlow,"""
    }.getOrElse("")
    // carried alongside prior_best so the round-over-round comparison
    // reads central tendency AND ceiling, not just the lucky run
    val priorMed = priorMedian.map(p => s""""prior_median":$p,""").getOrElse("")
    s"""{"median":${med.json},"best":${best.json},"contended":$contended,""" +
      s""""spread":$spreadS,$suspect$priorMed""" +
      s""""runs":[${rs.map(_.json).mkString(",")}]}"""
  }
}
