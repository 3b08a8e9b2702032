package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Dsl

/** Restart safety: a new pipeline instance pointed at the same stateDir
  * must continue exactly where the old one stopped — same store (so the
  * first post-restart batch is judged against restored history) and
  * same cooldown cache (so suppression spans the restart).
  *
  * Spikes are sparse (90 s / 150 s / 210 s) — dense repeated spikes
  * inflate the trailing stddev until z drops below 1 (absorption), which
  * would make the assertions vacuous.
  */
class RestartSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  // 30 s spike seeds variance (an all-steady window is stddev-0-gated);
  // it is never judged itself (trigger 1 has no snapshot yet)
  private val spikeSecs = Set(30L, 90L, 150L, 210L)

  private def script(fromSec: Long, toSec: Long): Seq[(String, String, String, Timestamp)] =
    (fromSec until toSec by 5).map { s =>
      val one = if (spikeSecs(s)) 150.5 else 15.5
      ("test-topic", s"k$s", s"""{"sub":{"one":$one}}""", new Timestamp(t0 + s * 1000))
    }

  test("store, snapshot, and cooldown survive a pipeline restart") {
    val dir = Files.createTempDirectory("graft_state").toFile.getAbsolutePath
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))

    // instance 1: spike at 90 s emitted in trigger 2
    val p1 = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L, stateDir = Some(dir))
    p1.processBatch(script(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000))
    val out1 = p1.processBatch(script(60, 120).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 120000))
      .collect()
    assert(out1.map(_.produced_us).toSeq == Seq((t0 + 90000) * 1000L), "expected the 90 s spike emitted")
    val storeRows = p1.currentStore.count()

    // instance 2 (restart)
    val p2 = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L, stateDir = Some(dir))
    assert(p2.currentStore.count() == storeRows, "store not restored from stateDir")

    // spike at 150 s: detected against the restored snapshot, but only
    // 60 s after the pre-restart emission -> suppressed IFF the cooldown
    // cache survived the restart
    val out2 = p2.processBatch(script(120, 180).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 180000))
      .collect()
    assert(out2.isEmpty, s"cooldown lost across restart: ${out2.toSeq}")

    // spike at 210 s: exactly 120 s after the pre-restart emission ->
    // emitted (proves detection works against restored state, not just
    // that everything is suppressed)
    val out3 = p2.processBatch(script(180, 240).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 240000))
      .collect()
    assert(out3.map(_.produced_us).toSeq == Seq((t0 + 210000) * 1000L),
      s"expected the 210 s spike emitted after restart, got ${out3.toSeq}")
  }

  test("restart works in bucketed stats mode (partials rebuilt from the restored store)") {
    val dir = Files.createTempDirectory("graft_state_b").toFile.getAbsolutePath
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    def mk() = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L,
      stateDir = Some(dir), statsBucketSec = Some(60L))
    val p1 = mk()
    p1.processBatch(script(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000))
    val out1 = p1.processBatch(script(60, 120).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 120000))
      .collect()
    assert(out1.map(_.produced_us).toSeq == Seq((t0 + 90000) * 1000L))
    val p2 = mk()
    val out2 = p2.processBatch(script(120, 180).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 180000))
      .collect()
    assert(out2.isEmpty, s"cooldown lost across bucketed-mode restart: ${out2.toSeq}")
    val out3 = p2.processBatch(script(180, 240).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 240000))
      .collect()
    assert(out3.map(_.produced_us).toSeq == Seq((t0 + 210000) * 1000L),
      s"bucketed-mode detection broken after restart: ${out3.toSeq}")
  }

  test("bucketed stats are value-identical across a restart on a horizon-straddling bucket") {
    // the sharp case: the retention horizon (now - 5m) cuts MID-bucket,
    // and the segment holding the straddling bucket's older rows has
    // already aged past the exact horizon. Segment expiry must use the
    // bucket-floored horizon (same rule as the partial prune) or the
    // restart rebuild cannot reproduce the straddling bucket's sums and
    // post-restart stats silently diverge from the continuous run.
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    def mk(dir: String) = new AnomalyPipeline(spark, dsl, cooldownMs = 0L,
      stateDir = Some(dir), statsBucketSec = Some(60L))
    def msgs(fromSec: Long, toSec: Long): Seq[(String, String, String, Timestamp)] =
      (fromSec until toSec by 5).map { s =>
        ("test-topic", s"k$s", s"""{"sub":{"one":${s % 17 + 0.5}}}""", new Timestamp(t0 + s * 1000))
      }
    // 21 triggers of 30 s; the last (now = 630 s) has horizon 330 s —
    // inside bucket [300, 360) — and segment [300, 330) is older than
    // the exact horizon but inside the floored one
    val script = (0 until 21).map { k =>
      (msgs(k * 30L, (k + 1) * 30L), new Timestamp(t0 + (k + 1) * 30000L))
    }
    def run(dir: String, restartAfterFullScript: Boolean): Seq[(String, String, Long, Double, Double)] = {
      val p1 = mk(dir)
      script.foreach { case (b, now) => p1.processBatch(b.toDF("topic", "key", "value", "ts"), now) }
      // one more trigger at now = 650 s (horizon 350 s, floor 300 s),
      // run either on the same instance or on a restarted one
      val p2 = if (restartAfterFullScript) mk(dir) else p1
      p2.processBatch(msgs(630L, 648L).toDF("topic", "key", "value", "ts"),
        new Timestamp(t0 + 650000L))
      p2.statsCache.sorted
    }
    val continuous = run(Files.createTempDirectory("graft_beq_a").toFile.getAbsolutePath, restartAfterFullScript = false)
    val restarted = run(Files.createTempDirectory("graft_beq_b").toFile.getAbsolutePath, restartAfterFullScript = true)
    assert(continuous.nonEmpty, "no stats produced")
    assert(restarted == continuous,
      s"post-restart bucketed stats diverged:\n  continuous=$continuous\n  restarted =$restarted")
  }

  test("discovery-driven DSL growth: new field tracked after pipeline rebuild, state preserved") {
    // the reference adjusts its subscription + DSL when discovery finds
    // new fields (lib/Stream.js:145-152, DSLHandler.js:316-343); here a
    // new pipeline generation built from the grown DSL continues from
    // the SAME stateDir — pre-growth history and cooldown carry over
    val dir = Files.createTempDirectory("graft_state_d").toFile.getAbsolutePath
    val staticDsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    def msgs(fromSec: Long, toSec: Long): Seq[(String, String, String, Timestamp)] =
      (fromSec until toSec by 5).map { s =>
        val one = if (spikeSecs(s)) 150.5 else 15.5
        val extra = if (s == 150L) -500.0 else 3.0
        ("test-topic", s"k$s", s"""{"sub":{"one":$one},"extra":$extra}""", new Timestamp(t0 + s * 1000))
      }
    val p1 = new AnomalyPipeline(spark, staticDsl, cooldownMs = 120000L, stateDir = Some(dir))
    p1.processBatch(msgs(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000))
    val out1 = p1.processBatch(msgs(60, 120).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 120000)).collect()
    assert(out1.map(_.produced_us).toSeq == Seq((t0 + 90000) * 1000L))

    // discovery scans the live messages and grows the DSL (static wins)
    val disc = new Discovery(spark, staticDsl, defaultWindows = Seq("5m"))
    disc.discoverFields(msgs(60, 120).toDF("topic", "key", "value", "ts").select(col("topic"), col("value")))
    val grown = disc.dsl
    assert(grown.forTopic("test-topic").get.fields.map(_.path).toSet == Set("sub.one", "extra"))

    // generation 2 from the grown DSL, same state: sub.one history and
    // cooldown survive; 150 s spike suppressed (30 s after last emit)
    val p2 = new AnomalyPipeline(spark, grown, cooldownMs = 120000L, stateDir = Some(dir))
    val out2 = p2.processBatch(msgs(120, 180).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 180000)).collect()
    assert(!out2.exists(_.path == "sub.one"), s"cooldown lost across DSL growth: ${out2.toSeq}")
    // extra has no pre-growth history -> cannot alarm on its first window
    assert(!out2.exists(_.path == "extra"))
    // next trigger: extra now has history (steady 3.0 + the -500 spike
    // gave variance) and a fresh outlier at 210 s? extra stays steady,
    // so assert instead that sub.one's 210 s spike is emitted — full
    // detection works on the grown pipeline against carried state
    val out3 = p2.processBatch(msgs(180, 240).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 240000)).collect()
    assert(out3.exists(e => e.path == "sub.one" && e.produced_us == (t0 + 210000) * 1000L),
      s"grown pipeline lost detection: ${out3.toSeq}")
  }

  test("segment compaction preserves store contents and the persisted layout") {
    val dir = Files.createTempDirectory("graft_state_c").toFile.getAbsolutePath
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val p1 = new AnomalyPipeline(spark, dsl, cooldownMs = 0L, stateDir = Some(dir))
    // 14 one-message triggers, all within retention -> compaction fires
    // past 12 segments (CompactSegments) without losing any rows
    (0 until 14).foreach { tr =>
      p1.processBatch(script(tr * 5, tr * 5 + 5).toDF("topic", "key", "value", "ts"),
        new Timestamp(t0 + (tr + 1) * 5000))
    }
    // 1 message/trigger x (sub.one + __topic_frequency) = 2 samples
    assert(p1.currentStore.count() == 28L)
    val p2 = new AnomalyPipeline(spark, dsl, cooldownMs = 0L, stateDir = Some(dir))
    assert(p2.currentStore.count() == 28L, "compacted store not restored intact")
  }

  test("cooldown snapshot stays config-bounded and restore drops stale keys") {
    // the driver-held restart snapshot is one row per configured
    // (topic, path, window) — T*F*W, independent of message volume.
    val dir = Files.createTempDirectory("graft_state_cb").toFile.getAbsolutePath
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val p1 = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L, stateDir = Some(dir))
    assert(p1.configuredKeys == Set(("test-topic", "sub.one", 300L)))
    p1.processBatch(script(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000))
    p1.processBatch(script(60, 120).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 120000))
    assert(p1.cooldownSnapshot.size == p1.configuredKeys.size,
      "every configured key emitted once -> snapshot row count == configured-key count")
    assert(spark.read.parquet(s"$dir/cooldown").count() == p1.configuredKeys.size)

    // a snapshot written under a wider (older) DSL: the stale key must
    // not survive the restore into a narrower configuration
    Seq(("test-topic", "sub.one", 300L, 1L), ("gone-topic", "x.y", 60L, 2L))
      .toDF("topic", "path", "window_sec", "last_emit_us")
      .write.mode("overwrite").parquet(s"$dir/cooldown")
    val p2 = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L, stateDir = Some(dir))
    assert(p2.cooldownSnapshot.keySet == Set(("test-topic", "sub.one", 300L)),
      "restore must filter to configured keys")
  }

  test("an unreadable cooldown snapshot fails the restore, naming its path") {
    val dir = Files.createTempDirectory("graft_state_badcd").toFile.getAbsolutePath
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val p1 = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L, stateDir = Some(dir))
    p1.processBatch(script(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000))
    p1.processBatch(script(60, 120).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 120000))
    assert(p1.cooldownSnapshot.nonEmpty)

    // an empty map would re-arm every cooldown (duplicate records)
    val parts = new java.io.File(s"$dir/cooldown").listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty)
    parts.foreach(f => Files.write(f.toPath, "not parquet".getBytes("UTF-8")))
    val e = intercept[IllegalStateException] {
      new AnomalyPipeline(spark, dsl, cooldownMs = 120000L, stateDir = Some(dir))
    }
    assert(e.getMessage.contains(s"$dir/cooldown"), e.getMessage)
  }
}
