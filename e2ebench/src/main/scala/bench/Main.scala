package bench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's result: the contract line plus validity signals. */
final class Result {
  var correct = true
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]

  def m(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(name: String, value: Any): Unit = info(name) = value match {
    case d: Double => Json.num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: Seq[_] => s.map {
      case n: Long => n.toString
      case n: Int => n.toString
      case d: Double => Json.num(d)
      case x => Json.str(x.toString)
    }.mkString("[", ",", "]")
    case other => Json.str(other.toString)
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{" + "\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }

  def infoJson: String = info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{\"info\":{", ",", "}}")
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, root: File, startMs: Long, guard: File)

object Main {
  val Cores = 4

  /** The end-to-end metrics every untraced run prints. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cold_pass_s" -> "s",
    "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms", "storage_mb" -> "MB")

  /** The per-layer metrics every traced run prints, with their units. A
    * metric of a layer the workload does not run reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.trigger_ms_p50" -> "ms", "streaming.compaction_trigger_ms" -> "ms",
    "streaming.jobs_per_trigger" -> "count", "streaming.driver_gap_ms_per_trigger" -> "ms",
    "streaming.task_cpu_ms_per_trigger" -> "ms", "sources.plan_ms_per_trigger" -> "ms",
    "streaming.sink_ms_per_trigger" -> "ms",
    "operators.extraction_ms" -> "ms", "operators.window_stats_ms" -> "ms", "operators.detect_ms" -> "ms",
    "streaming.cooldown_ms" -> "ms", "streaming.record_shape_ms" -> "ms",
    "streaming.store_rows" -> "count", "streaming.state_dir_mb" -> "MB",
    "streaming.bytes_written_mb" -> "MB", "streaming.cached_mb" -> "MB",
    "streaming.emitted" -> "count", "streaming.expected" -> "count",
    "streaming.local1_msgs_per_s" -> "1/s",
    "core.memo_builds" -> "count", "core.memo_build_ms" -> "ms", "core.memo_mb" -> "MB",
  ) ++ BatchPass.Modules.flatMap(m => Seq(
    s"$m.cold_ms" -> "ms", s"$m.warm_ms_p50" -> "ms", s"$m.jobs" -> "count",
    s"$m.task_cpu_ms" -> "ms", s"$m.driver_gap_ms" -> "ms", s"$m.shuffle_mb" -> "MB",
  )) ++ Seq(
    "spark.gc_ms" -> "ms", "spark.spill_mb" -> "MB", "host.steal_share" -> "share",
    "jvm.jit_ms_per_trigger" -> "ms",
    "trace.throughput_per_s" -> "1/s", "trace.latency_p50_ms" -> "ms",
  )

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoint").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("root")),
      kv.get("start-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      new File(need("guard")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val steal0 = Trace.cpuJiffies()
    val r = o.workload match {
      case "stream_backfill" => StreamBackfill.run(o)
      case "batch_pass" => BatchPass.run(o)
      case w => sys.error(s"unknown workload $w")
    }
    val steal = Trace.stealShare(steal0, Trace.cpuJiffies())
    r.note("host_steal_share", steal)
    if (o.trace) r.m("host.steal_share", steal, "share")
    // print exactly the metric set BENCHMARK.json lists for this mode
    val wanted = if (o.trace) PerLayer else EndToEnd
    val got = r.metrics.clone()
    r.metrics.clear()
    wanted.foreach { case (k, unit) => r.metrics(k) = got.getOrElse(k, (0.0, unit)) }
    println(r.infoJson)
    println(r.json)
    System.out.flush()
    // ends the JVM even when a failed run left Spark threads behind
    sys.exit(0)
  }
}
