package bench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import graft.core.Dsl

/** Seeded message inputs for the stream workloads, on the FIXTURES A2
  * shape: `{"sub":{"one":x},"two":y}` with steady values, plus planted
  * spike-one (`sub.one` = 150.5, every 30 s per topic) and spike-two
  * (`two` = -100, every 60 s per topic), both in event time.
  *
  * Steady values are uniform within +-1 of 15.5 / 16, so with the
  * hundreds of samples each window holds a steady value stays far
  * below 3 sigma; spikes are rare enough (under 1% of a window) that
  * every one of them stays above it. Whether a message is anomalous
  * therefore never depends on trigger boundaries, and the expected
  * record set follows from the spike schedule alone.
  */
final class Messages(seed: Long, val topics: Int) {
  import Messages.Spike

  val BaseUs: Long = 1704067200000000L // 2024-01-01T00:00:00Z

  val topicNames: IndexedSeq[String] = (0 until topics).map(i => f"t$i%02d")
  val windows: Seq[String] = Seq("5m", "10m")
  val windowSecs: Seq[Long] = Seq(300L, 600L)
  val retentionSec: Long = windowSecs.max

  val dsl: Dsl = Dsl.parse(topicNames.map(t => t -> Map("sub.one" -> windows, "two" -> windows)).toMap)

  private val phaseRng = new java.util.Random(seed * 1000003L + 17L)
  /** Per-topic spike phases (microseconds into each period). */
  private val phaseOne: IndexedSeq[Long] = topicNames.map(_ => (phaseRng.nextDouble() * 30e6).toLong / 1000L * 1000L)
  private val phaseTwo: IndexedSeq[Long] = topicNames.map(_ => (phaseRng.nextDouble() * 60e6).toLong / 1000L * 1000L)

  /** Spikes with event time in `[fromUs, toUs)`, never before `spikesFromUs`. */
  def spikes(fromUs: Long, toUs: Long, spikesFromUs: Long): Seq[Spike] = {
    def series(period: Long, phases: IndexedSeq[Long], path: String) =
      topicNames.indices.flatMap { t =>
        val lo = math.max(fromUs, spikesFromUs)
        var k = math.max(0L, (lo - phases(t) + period - 1) / period)
        val out = Seq.newBuilder[Spike]
        while (phases(t) + k * period < toUs) {
          val at = phases(t) + k * period
          if (at >= lo) out += Spike(topicNames(t), path, at)
          k += 1
        }
        out.result()
      }
    series(30000000L, phaseOne, "sub.one") ++ series(60000000L, phaseTwo, "two")
  }

  private def ts(us: Long): String =
    java.time.Instant.ofEpochMilli((BaseUs + us) / 1000L).toString match {
      case s if s.length == 20 => s.dropRight(1) + ".000Z" // whole seconds print without millis
      case s => s
    }

  private def line(topic: String, key: String, one: Double, two: Double, us: Long): String =
    s"""{"topic":"$topic","key":"$key","value":"{\\"sub\\":{\\"one\\":$one},\\"two\\":$two}","ts":"${ts(us)}"}"""

  private def steady(rng: java.util.Random, centre: Double): Double =
    math.rint((centre + (rng.nextDouble() * 2.0 - 1.0)) * 1000.0) / 1000.0

  /** One input file's `n` lines: the spikes in `[fromUs, toUs)` plus
    * steady messages, evenly spaced over the interval on seeded topics.
    * The line count does not depend on the seed, so neither do the rows
    * per trigger. Times are whole milliseconds (the JSON timestamp
    * precision).
    */
  def chunk(fileIdx: Long, fromUs: Long, toUs: Long, n: Int, spikesFromUs: Long): (Array[String], Seq[Spike]) = {
    val rng = new java.util.Random(seed * 7919L + fileIdx * 104729L + 1L)
    val span = toUs - fromUs
    val sp = spikes(fromUs, toUs, spikesFromUs)
    val steadyN = n - sp.size
    require(steadyN >= 0, s"$n lines cannot hold ${sp.size} spikes")
    val lines = Array.newBuilder[String]
    var i = 0
    while (i < steadyN) {
      val us = (fromUs + span * i / steadyN) / 1000L * 1000L
      val t = topicNames(rng.nextInt(topics))
      lines += line(t, s"k${rng.nextInt(1000)}", steady(rng, 15.5), steady(rng, 16.0), us)
      i += 1
    }
    sp.foreach { s =>
      val (one, two) =
        if (s.path == "sub.one") (150.5, steady(rng, 16.0)) else (steady(rng, 15.5), -100.0)
      lines += line(s.topic, s"k${rng.nextInt(1000)}", one, two, s.atUs)
    }
    (lines.result(), sp)
  }

  /** Writes lines to `dir/name` atomically (hidden temp file, then rename),
    * with the given modification time so the file source orders files by
    * their index.
    */
  def writeFile(dir: File, name: String, lines: Array[String], mtimeMs: Long): Unit = {
    val tmp = new File(dir, "." + name + ".tmp")
    Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    tmp.setLastModified(mtimeMs)
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}

object Messages {
  /** A planted spike: topic, path and event time (us since `BaseUs`). */
  final case class Spike(topic: String, path: String, atUs: Long)

  /** The expected anomaly records for a set of planted spikes: every spike
    * is anomalous in every configured window, and a 120 s event-time
    * cooldown per (topic, path, window) keeps a spike only if none was
    * kept in the previous 120 s. Keys: (topic, path, window, produced us
    * since the epoch).
    */
  def expected(spikes: Seq[Spike], windowSecs: Seq[Long], baseUs: Long,
      cooldownUs: Long = 120000000L): Set[(String, String, Long, Long)] =
    spikes.groupBy(s => (s.topic, s.path)).toSeq.flatMap { case ((t, p), ss) =>
      var last = Long.MinValue
      val kept = ss.map(_.atUs).sorted.filter { at =>
        val keep = last == Long.MinValue || at - last >= cooldownUs
        if (keep) last = at
        keep
      }
      for (w <- windowSecs; at <- kept) yield (t, p, w, baseUs + at)
    }.toSet
}
