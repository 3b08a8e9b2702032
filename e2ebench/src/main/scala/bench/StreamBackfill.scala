package bench

import java.io.File
import java.sql.Timestamp

/** `stream_backfill`: a closed loop. A fixed backlog of pre-written files
  * drains through the streaming query, `FilesPerTrigger` files per
  * trigger, with durable state (`stateDir`). Trigger 0 reads the
  * retention-long history, so the store starts at retention size; every
  * later trigger adds `Delta` seconds of event time. Trigger 1 is
  * warm-up; the measured window is triggers 2 to 1 + max(4, `seconds` *
  * 0.4) (2-5 for 12 s), the same indices in every run. With retention
  * spanning more than 12 triggers the store compacts
  * (`AnomalyPipeline.CompactSegments`) at trigger 12, after the window;
  * the traced run drains on to it and times it on its own, then continues
  * the drain under `local[1]` for the single-threaded baseline.
  */
object StreamBackfill {
  val Topics = 20
  val FilesPerTrigger = 4
  val MsgsPerTrigger = 20000
  val DeltaUs = 45000000L
  /** The first compaction: the history segment plus 12 trigger segments. */
  val CompactionTrigger = 12
  /** Triggers before this index are warm-up; trigger 0 is the history. */
  val FirstMeasured = 2
  /** Triggers of the `local[1]` baseline: one restart, then measured ones. */
  val Local1Triggers = 3

  /** Result of one drain: the driver plus what was offered. */
  final case class Drain(drv: StreamDriver, offered: Long, spikes: Seq[Messages.Spike],
      queryStartMs: Long, stateDir: File)

  /** Writes the backlog of the trigger indices `triggers` and drains it,
    * one micro-batch per index, with durable state in `state`.
    */
  def drain(o: Opts, spark: org.apache.spark.sql.SparkSession, trace: Trace, msgs: Messages,
      name: String, triggers: Range, state: File, shadowAt: Long => Boolean): Drain = {
    val dir = new File(o.work, s"$name-input"); dir.mkdirs()
    val R = msgs.retentionSec * 1000000L
    val perUs = MsgsPerTrigger.toDouble / DeltaUs
    val mtime0 = System.currentTimeMillis() - 1000L * (triggers.size * FilesPerTrigger + 10)
    // each file has its own seeded generator, so the files are written in
    // parallel and come out the same in every run
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    val files = try {
      triggers.flatMap(b => (0 until FilesPerTrigger).map(b -> _)).zipWithIndex.map { case ((b, j), i) =>
        val f = b * FilesPerTrigger + j
        pool.submit { () =>
          // trigger 0 covers [0, R); trigger b >= 1 covers [R + (b-1)D, R + bD)
          val (lo, hi) = if (b == 0) (0L, R) else (R + (b - 1) * DeltaUs, R + b * DeltaUs)
          val from = lo + (hi - lo) * j / FilesPerTrigger
          val to = lo + (hi - lo) * (j + 1) / FilesPerTrigger
          val n = math.round((to - from) * perUs).toInt
          val (lines, sp) = msgs.chunk(f, from, to, n, spikesFromUs = R)
          val name = f"part-$f%05d.jsonl"
          msgs.writeFile(dir, name, lines, mtime0 + 1000L * i)
          (name, lines.length.toLong, sp)
        }
      }.map(_.get())
    } finally pool.shutdown()
    val rows = files.map { case (name, n, _) => name -> n }.toMap
    val offered = rows.values.sum
    val spikes = files.flatMap(_._3)
    val drv = new StreamDriver(spark, trace, msgs, dir, state.getAbsolutePath,
      FilesPerTrigger, i => new Timestamp((msgs.BaseUs + R + triggers(i.toInt) * DeltaUs) / 1000L), shadowAt,
      n => rows.getOrElse(n, 0L), new File(o.work, "checkpoint"))
    val t0 = System.currentTimeMillis()
    val q = drv.start()
    drv.awaitRows(q, offered, 150000L)
    drv.stop(q)
    Drain(drv, offered, spikes, t0, state)
  }

  def run(o: Opts): Result = {
    val r = new Result
    val spark = Main.session(o.work, Main.Cores)
    val trace = new Trace(spark.sparkContext, o.trace)
    val msgs = new Messages(o.seed, Topics)
    val lastMeasured = FirstMeasured + math.max(4, o.seconds * 2 / 5) - 1
    val measured = (FirstMeasured to lastMeasured).map(_.toLong)
    val triggers = 1 + (if (o.trace) math.max(lastMeasured, CompactionTrigger) else lastMeasured)
    val gc0 = Trace.gcMs()
    // traced: the layers are timed by shadow calls after two triggers of the window
    val shadowAt = if (o.trace) Set(FirstMeasured + 1L, lastMeasured.toLong) else Set.empty[Long]
    val state = new File(o.work, "backfill-state")
    val d = drain(o, spark, trace, msgs, "backfill", 0 until triggers, state, shadowAt)
    val gcMs = Trace.gcMs() - gc0
    trace.drain()
    val drv = d.drv
    val all = drv.done
    val byId = all.map(b => b.id -> b).toMap
    val setupS = (d.queryStartMs - o.startMs) / 1000.0

    // output check
    val expected = Messages.expected(d.spikes, msgs.windowSecs, msgs.BaseUs)
    val (missing, extra, unconsumed, failed) = Streams.check(expected, drv.emitted, d.offered, all)
    r.attempted = d.offered
    r.failed = failed
    r.correct = failed == 0 && drv.failure.isEmpty && measured.forall(byId.contains)
    r.note("expected_records", expected.size); r.note("emitted_records", drv.emitted.size)
    r.note("missing_records", missing); r.note("unexpected_records", extra)
    r.note("unconsumed_messages", unconsumed)
    r.note("offered_messages", d.offered)
    r.note("analysed_messages", all.map(_.analysed).sum)
    drv.failure.foreach(e => r.note("query_failure", e.toString))
    r.note("trigger_ms", all.map(b => b.endMs - b.clockMs))

    if (measured.forall(byId.contains)) {
      val m = measured.map(byId)
      val prev = byId(measured.head - 1)
      val wallS = (m.last.endNs - prev.endNs) / 1e9
      val rows = m.map(_.analysed).sum
      val trig = m.map(b => (b.endMs - b.clockMs).toDouble)
      val compacted = m.filter(b => b.storeRows < byId(b.id - 1).storeRows).map(_.id)
      val jobs = m.map(b => trace.listener.byUnit(s"batch-${b.id}"))

      // determinism guard: rows per trigger, job count, compaction indices
      val guard = if (failed > 0) None else Guard.check(o, "stream_backfill",
        Map("measured_triggers" -> measured.mkString(","),
          "rows_per_trigger" -> m.map(_.analysed).mkString(","),
          "jobs" -> jobs.map(_.size).sum.toString,
          "compacted" -> compacted.mkString(",")),
        Set("rows_per_trigger", "jobs", "measured_triggers", "compacted"))
      guard.foreach { msg => r.correct = false; r.note("guard_failure", msg) }
      r.note("measured_triggers", s"${measured.head}-${measured.last}")
      r.note("rows_per_trigger", m.map(_.analysed).distinct)
      r.note("jobs_in_measured_triggers", jobs.map(_.size).sum)
      r.note("compacted_triggers", compacted)
      r.note("samples_triggers", m.size)
      r.note("gc_ms_in_window", m.last.gcMs - prev.gcMs)
      r.note("jit_ms_in_window", m.last.jitMs - prev.jitMs)

      val throughput = rows / wallS
      val stateMb = Streams.dirBytes(d.stateDir) / 1e6
      if (!o.trace) {
        r.m("setup_s", setupS, "s")
        r.m("cold_pass_s", (prev.endMs - d.queryStartMs) / 1000.0, "s")
        r.m("throughput_per_s", throughput, "1/s")
        r.m("latency_p50_ms", Json.median(trig), "ms")
        r.m("latency_tail_ms", trig.max, "ms")
        r.m("storage_mb", stateMb, "MB")
      } else {
        layers(r, trace, m, jobs, gcMs, all)
        r.m("jvm.jit_ms_per_trigger", (m.last.jitMs - prev.jitMs).toDouble / m.size, "ms")
        r.m("streaming.state_dir_mb", stateMb, "MB")
        r.m("streaming.emitted", drv.emitted.size, "count")
        r.m("streaming.expected", expected.size, "count")
        r.m("trace.throughput_per_s", throughput, "1/s")
        r.m("trace.latency_p50_ms", Json.median(trig), "ms")
        trace.writeSpans(Guard.traceFile(o))
        spark.stop()
        r.m("streaming.local1_msgs_per_s", local1(o, msgs, state, triggers), "1/s")
      }
    }
    if (!o.trace) spark.stop()
    r
  }

  /** Single-threaded baseline: the same drain continued under `local[1]`.
    * A `local[1]` session restarts the pipeline from the durable state the
    * traced drain left (past its compaction) and reads `Local1Triggers`
    * further triggers of the backlog; the first pays the restart (stats
    * recomputed from the restored store), the others are measured.
    */
  private def local1(o: Opts, msgs: Messages, state: File, from: Int): Double = {
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val w1 = new File(o.work, "local1"); w1.mkdirs()
    val spark = Main.session(w1, 1)
    val trace = new Trace(spark.sparkContext, false)
    val d = drain(o.copy(work = w1), spark, trace, msgs, "local1", from until from + Local1Triggers, state, _ => false)
    val b = d.drv.done.map(x => x.id -> x).toMap
    val last = Local1Triggers - 1L
    val v = if (d.drv.failure.isEmpty && (0L to last).forall(b.contains))
      (1L to last).map(b(_).analysed).sum / ((b(last).endNs - b(0L).endNs) / 1e9) else 0.0
    spark.stop()
    v
  }

  /** Per-layer metrics over the measured triggers `m`; the compaction
    * time comes from every trigger of the run (`all`) whose store shrank.
    */
  private def layers(r: Result, trace: Trace, m: Seq[BatchObs], jobs: Seq[Seq[JobRec]], gcMs: Long,
      all: Seq[BatchObs]): Unit = {
    val n = m.size.toDouble
    val trig = m.map(b => (b.endMs - b.clockMs).toDouble)
    val compMs = all.drop(1).sliding(2).collect { case Seq(a, b) if b.storeRows < a.storeRows => b }
      .map(b => (b.endMs - b.clockMs).toDouble).toSeq
    r.m("streaming.trigger_ms_p50", Json.median(trig), "ms")
    r.m("streaming.compaction_trigger_ms", if (compMs.nonEmpty) compMs.sum / compMs.size else 0.0, "ms")
    r.m("streaming.jobs_per_trigger", jobs.map(_.size).sum / n, "count")
    r.m("streaming.driver_gap_ms_per_trigger",
      m.zip(jobs).map { case (b, js) => trace.driverGapMs(b.clockMs, b.endMs, js) }.sum / n, "ms")
    r.m("streaming.task_cpu_ms_per_trigger", jobs.flatten.map(_.cpuNs).sum / 1e6 / n, "ms")
    r.m("sources.plan_ms_per_trigger", m.map(_.planMs).sum / n, "ms")
    r.m("streaming.sink_ms_per_trigger", m.map(b => (b.endMs - b.sinkStartMs).toDouble).sum / n, "ms")
    Seq("operators.extraction_ms", "operators.window_stats_ms", "operators.detect_ms",
      "streaming.cooldown_ms", "streaming.record_shape_ms").foreach { k =>
      r.m(k, Json.median(m.flatMap(_.shadow.get(k))), "ms")
    }
    r.m("streaming.store_rows", m.last.storeRows.toDouble, "count")
    r.m("streaming.bytes_written_mb", jobs.flatten.map(_.bytesWritten).sum / 1e6, "MB")
    r.m("streaming.cached_mb", Streams.cachedBytes(org.apache.spark.sql.SparkSession.active) / 1e6, "MB")
    r.m("spark.gc_ms", gcMs.toDouble, "ms")
    r.m("spark.spill_mb", jobs.flatten.map(_.spillBytes).sum / 1e6, "MB")
  }
}
