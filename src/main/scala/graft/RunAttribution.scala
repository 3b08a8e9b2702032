package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Where one timed bench run's wall time went, read from Spark's
  * listener events: the jobs and stages it ran, their task CPU, shuffle
  * (read + write) and disk-spill bytes, and the driver gap — wall time
  * covered by none of its jobs (planning, analysis, driver-side loops).
  */
final case class RunAttribution(jobs: Int, stages: Int, taskCpuMs: Long,
    shuffleMb: Double, spillMb: Double, driverGapMs: Long) {
  def jsonFields: String = {
    def mb(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    s""""jobs":$jobs,"stages":$stages,"task_cpu_ms":$taskCpuMs,""" +
      s""""shuffle_mb":${mb(shuffleMb)},"spill_mb":${mb(spillMb)},"driver_gap_ms":$driverGapMs"""
  }
}

object RunAttribution {

  /** Local property naming the timed run a job belongs to. Spark copies
    * local properties into the threads it starts for a query, and
    * [[graft.core.Jobs.concurrently]] starts its legs from the caller,
    * so every job of a run carries its tag.
    */
  val RunKey = "graft.bench.run"

  /** The attribution fields of a run that could not be attributed. */
  val nullFields: String =
    Seq("jobs", "stages", "task_cpu_ms", "shuffle_mb", "spill_mb", "driver_gap_ms")
      .map(k => s""""$k":null""").mkString(",")

  /** Milliseconds of `[startMs, endMs]` covered by none of `jobs`
    * (start, end) intervals; an end below zero marks a job still open
    * at `endMs`. The union of the intervals, not their sum: jobs of
    * one run can overlap ([[graft.core.Jobs.concurrently]]).
    */
  def driverGapMs(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (s, e) => (s.max(startMs), (if (e < 0) endMs else e).min(endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = startMs
    var curE = startMs
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    covered += curE - curS
    (endMs - startMs - covered).max(0L)
  }

  /** Accumulates per-run totals for jobs tagged with [[RunKey]]; jobs
    * without the tag (warm-up, canary) are ignored. Read a run with
    * [[take]] after the listener bus is drained.
    */
  final class Listener extends SparkListener {
    private final class Run {
      val jobs = mutable.HashMap.empty[Int, (Long, Long)]
      var stages = 0
      var cpuNs = 0L
      var shuffleBytes = 0L
      var spillBytes = 0L
    }
    private val runs = mutable.HashMap.empty[String, Run]
    private val jobRun = mutable.HashMap.empty[Int, Run]
    private val stageRun = mutable.HashMap.empty[Int, Run]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(RunKey))).foreach { tag =>
        val r = runs.getOrElseUpdate(tag, new Run)
        r.jobs(e.jobId) = (e.time, -1L)
        jobRun(e.jobId) = r
        e.stageIds.foreach(s => if (!stageRun.contains(s)) stageRun(s) = r)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobRun.remove(e.jobId).foreach(r => r.jobs(e.jobId) = (r.jobs(e.jobId)._1, e.time))
    }

    // stage-level task metrics are the totals over the stage's tasks
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageRun.get(si.stageId).foreach { r =>
        r.stages += 1
        Option(si.taskMetrics).foreach { m =>
          r.cpuNs += m.executorCpuTime
          r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.diskBytesSpilled
        }
      }
    }

    /** The totals of the run tagged `tag` over its wall interval
      * `[startMs, endMs]`; then forgets every run seen so far.
      */
    def take(tag: String, startMs: Long, endMs: Long): RunAttribution = synchronized {
      val r = runs.getOrElse(tag, new Run)
      runs.clear(); jobRun.clear(); stageRun.clear()
      RunAttribution(r.jobs.size, r.stages, r.cpuNs / 1000000L, r.shuffleBytes / 1e6,
        r.spillBytes / 1e6, driverGapMs(startMs, endMs, r.jobs.values.toSeq))
    }
  }
}
