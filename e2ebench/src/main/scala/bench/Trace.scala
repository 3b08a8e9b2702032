package bench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-job record built from Spark's listener events. `unit` is the
  * benchmark's own attribution key: the micro-batch id for streaming jobs
  * (Spark tags those jobs with `streaming.sql.batchId`) or the bench call
  * id set as a local property around each batch query call.
  */
final class JobRec(val id: Int, val startMs: Long, val unit: String) {
  @volatile var endMs: Long = -1L
  @volatile var cpuNs: Long = 0L
  @volatile var bytesWritten: Long = 0L
  @volatile var spillBytes: Long = 0L
  @volatile var shuffleBytes: Long = 0L
}

/** Listener that counts every job and, when tracing, accumulates task
  * metrics per job. Job counts are always collected: the backfill
  * determinism guard needs them on every run.
  */
final class JobListener(tracing: Boolean) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val unit = props.flatMap(p => Option(p.getProperty(Trace.UnitKey)))
      .orElse(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map("batch-" + _))
      .getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, unit))
    if (tracing) e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (tracing && e.taskMetrics != null) {
      val j = stageToJob.get(e.stageId)
      Option(jobs.get(j)).foreach { r =>
        val m = e.taskMetrics
        r.synchronized {
          r.cpuNs += m.executorCpuTime
          r.bytesWritten += m.outputMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  def byUnit(unit: String): Seq[JobRec] = jobs.values.asScala.filter(_.unit == unit).toSeq
}

/** One span: a named interval with its parent and the trigger or query
  * it belongs to. Kept in memory and written out when the run ends.
  */
final case class Span(name: String, startMs: Long, endMs: Long, parent: String, id: String)

final class Trace(val sc: SparkContext, val tracing: Boolean) {
  val listener = new JobListener(tracing)
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]

  def span(name: String, startMs: Long, endMs: Long, parent: String, id: String): Unit =
    if (tracing) spans.synchronized { spans += Span(name, startMs, endMs, parent, id) }

  def timed[T](name: String, parent: String, id: String)(body: => T): (T, Double) = {
    val s = System.currentTimeMillis(); val n0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - n0) / 1e6
    span(name, s, System.currentTimeMillis(), parent, id)
    (r, ms)
  }

  /** Delivers every pending listener event. */
  def drain(): Unit = org.apache.spark.ListenerDrain(sc)

  /** Wall time of `[startMs, endMs]` not covered by any of `jobs`. */
  def driverGapMs(startMs: Long, endMs: Long, jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, startMs), math.min(if (j.endMs < 0) endMs else j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (endMs - startMs - covered).toDouble.max(0.0)
  }

  def writeSpans(path: java.nio.file.Path): Unit = if (tracing) {
    val lines = spans.synchronized(spans.toList).map { s =>
      s"""{"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""parent":${Json.str(s.parent)},"id":${Json.str(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Trace {
  /** Local property naming the bench call a job belongs to. */
  val UnitKey = "bench.unit"

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  def jitMs(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  /** (steal, total) jiffies from the first line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Nearest-rank percentile of a sample (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** The midpoint median: the mean of the two middle values of an even sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
