package bench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry
import graft.core.Memo

/** `batch_pass`: a fresh session runs a fixed subset of
  * `SparkEntry.queries` over the bench's copy of the test tables. The
  * cold phase calls each query once in name order and pays every
  * memoized-artifact build; the warm phase then calls the subset in
  * whole rounds, each round in a seeded order, until `--seconds` have
  * passed and at least `MinWarmCalls` calls were made, and times every
  * call. Each call's row count is checked
  * against the counts kept in `batch_queries.tsv`.
  */
object BatchPass {
  final case class Q(name: String, module: String, rows: Long)

  /** Modules of the engine the subset's query functions live in. */
  val Modules = Seq("queries", "pipeline", "sources")

  /** Enough warm calls that the p90 has at least ten samples beyond it. */
  val MinWarmCalls = 100

  def queries(benchDir: File): Seq[Q] = {
    val src = scala.io.Source.fromFile(new File(benchDir, "batch_queries.tsv"), "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, m, r) = l.split("\t")
      Q(n, m, r.toLong)
    }.toList.sortBy(_.name) finally src.close()
  }

  final case class Call(q: Q, unit: String, startMs: Long, endMs: Long, ms: Double, ok: Boolean, rows: Long)

  def run(o: Opts): Result = {
    val r = new Result
    val benchDir = new File(o.root, "e2ebench")
    val data = new File(benchDir, "data").getAbsolutePath
    val qs = queries(benchDir)
    val spark = Main.session(o.work, Main.Cores)
    val trace = new Trace(spark.sparkContext, o.trace)
    val registry = SparkEntry.queries
    var seq = 0

    def call(q: Q): Call = {
      seq += 1
      val unit = s"call-$seq-${q.name}"
      spark.sparkContext.setLocalProperty(Trace.UnitKey, unit)
      val s = System.currentTimeMillis(); val n0 = System.nanoTime()
      val rows = try registry(q.name)(spark, data).count() catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[batch_pass] ${q.name} failed: $e"); -1L
      }
      val ms = (System.nanoTime() - n0) / 1e6
      val e = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty(Trace.UnitKey, null)
      trace.span(q.name, s, e, if (seq <= qs.size) "cold" else "warm", unit)
      if (rows != q.rows) System.err.println(s"[batch_pass] ${q.name}: $rows rows, expected ${q.rows}")
      Call(q, unit, s, e, ms, rows == q.rows, rows)
    }

    // warm-up, part of set-up: a scan and an aggregate over the events
    // table through plain Spark, sharing no artifact with the subset
    graft.queries.Tables.events(spark, data).groupBy("event_type").count().collect()
    Memo.resetLog()
    val gc0 = Trace.gcMs()
    val coldStart = System.currentTimeMillis()
    val setupS = (coldStart - o.startMs) / 1000.0
    val cold = qs.map(call)
    val coldS = (System.currentTimeMillis() - coldStart) / 1000.0
    val memoLog = Memo.buildLog

    val rng = new java.util.Random(o.seed)
    val warm = mutable.ArrayBuffer.empty[Call]
    val warmStart = System.nanoTime()
    val budgetNs = o.seconds * 1000000000L
    while (System.nanoTime() - warmStart < budgetNs || warm.size < MinWarmCalls) {
      val order = qs.toArray
      for (i <- order.indices.reverse) { val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t }
      order.foreach(q => warm += call(q))
    }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val gcMs = Trace.gcMs() - gc0
    val memoMb = Memo.storageBytes(spark) / 1e6
    trace.drain()

    val all = cold ++ warm
    r.attempted = all.size
    r.failed = all.count(!_.ok)
    r.correct = r.failed == 0
    r.note("queries", qs.size); r.note("warm_calls", warm.size); r.note("warm_rounds", warm.size / qs.size)
    r.note("cold_ms", cold.map(c => f"${c.q.name}=${c.ms}%.0f:${c.rows}"))
    r.note("warm_ms_median", warm.groupBy(_.q.name).toSeq.sortBy(_._1).map { case (n, cs) => f"$n=${Json.median(cs.map(_.ms).toSeq)}%.0f" })
    r.note("failed_queries", all.filterNot(_.ok).map(c => s"${c.q.name}=${c.rows}").distinct)
    val wl = warm.map(_.ms).toSeq
    if (!o.trace) {
      r.m("setup_s", setupS, "s")
      r.m("cold_pass_s", coldS, "s")
      r.m("throughput_per_s", warm.size / warmS, "1/s")
      r.m("latency_p50_ms", Json.pct(wl, 0.5), "ms")
      r.m("latency_tail_ms", Json.pct(wl, 0.9), "ms")
      r.m("storage_mb", memoMb, "MB")
    } else {
      r.m("core.memo_builds", memoLog.size.toDouble, "count")
      r.m("core.memo_build_ms", memoLog.values.sum * 1000.0, "ms")
      r.m("core.memo_mb", memoMb, "MB")
      for (mod <- Modules) {
        val c = cold.filter(_.q.module == mod)
        val w = warm.filter(_.q.module == mod)
        val cj = c.map(x => x -> trace.listener.byUnit(x.unit))
        r.m(s"$mod.cold_ms", c.map(_.ms).sum, "ms")
        r.m(s"$mod.warm_ms_p50", Json.pct(w.map(_.ms).toSeq, 0.5), "ms")
        r.m(s"$mod.jobs", cj.map(_._2.size).sum.toDouble, "count")
        r.m(s"$mod.task_cpu_ms", cj.flatMap(_._2).map(_.cpuNs).sum / 1e6, "ms")
        r.m(s"$mod.driver_gap_ms", cj.map { case (x, js) => trace.driverGapMs(x.startMs, x.endMs, js) }.sum, "ms")
        r.m(s"$mod.shuffle_mb", cj.flatMap(_._2).map(_.shuffleBytes).sum / 1e6, "MB")
      }
      val jobs = trace.listener.jobs.values().toArray(Array.empty[JobRec])
      r.m("spark.gc_ms", gcMs.toDouble, "ms")
      r.m("spark.spill_mb", jobs.map(_.spillBytes).sum / 1e6, "MB")
      r.m("trace.throughput_per_s", warm.size / warmS, "1/s")
      r.m("trace.latency_p50_ms", Json.pct(wl, 0.5), "ms")
      trace.writeSpans(Guard.traceFile(o))
    }
    spark.stop()
    r
  }
}
