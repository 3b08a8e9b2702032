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

  test("exact stats match a continuous run across restarts") {
    // 22 triggers of 30 s against a 5m retention, with the pipeline
    // rebuilt from the stateDir before triggers 8, 15 and 22: after
    // every trigger the restarted run's stats equal the continuous
    // run's, bit for bit. The last trigger's horizon cuts a live
    // segment (its max event time is inside retention, its older rows
    // are not), so the restored store must keep that segment whole and
    // the stats must still drop its expired rows.
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    def mk(dir: String) = new AnomalyPipeline(spark, dsl, cooldownMs = 0L, stateDir = Some(dir))
    def msgs(fromSec: Long, toSec: Long): Seq[(String, String, String, Timestamp)] =
      (fromSec until toSec by 5).map { s =>
        ("test-topic", s"k$s", s"""{"sub":{"one":${s % 17 + 0.5}}}""", new Timestamp(t0 + s * 1000))
      }
    // the last trigger (now = 650 s, horizon 350 s) keeps the segment
    // [330, 360) whole and aggregates its rows from 350 s on
    val script = (0 until 21).map { k =>
      (msgs(k * 30L, (k + 1) * 30L), new Timestamp(t0 + (k + 1) * 30000L))
    } :+ ((msgs(630L, 648L), new Timestamp(t0 + 650000L)))
    def run(restartBefore: Set[Int]): (Seq[Seq[(String, String, Long, Double, Double)]], AnomalyPipeline) = {
      val dir = Files.createTempDirectory("graft_exact_eq").toFile.getAbsolutePath
      var p = mk(dir)
      val stats = script.zipWithIndex.map { case ((b, now), k) =>
        if (restartBefore(k + 1)) p = mk(dir)
        p.processBatch(b.toDF("topic", "key", "value", "ts"), now)
        p.statsCache.sorted
      }
      (stats, p)
    }
    val (continuous, _) = run(Set.empty)
    val (restarted, last) = run(Set(8, 15, 22))
    assert(continuous.forall(_.nonEmpty), "a trigger produced no stats")
    val horizon = new Timestamp(t0 + 350000L)
    assert(last.currentStore.filter(col("produced") < horizon).count() > 0L,
      "no live segment straddles the last trigger's horizon")
    continuous.zip(restarted).zipWithIndex.foreach { case ((c, r), k) =>
      assert(r == c, s"trigger ${k + 1}: post-restart stats diverged:\n  continuous=$c\n  restarted =$r")
    }
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
    // 1 message/trigger x 1 configured field = 1 sample
    assert(p1.currentStore.count() == 14L)
    val p2 = new AnomalyPipeline(spark, dsl, cooldownMs = 0L, stateDir = Some(dir))
    assert(p2.currentStore.count() == 14L, "compacted store not restored intact")
  }

  test("cooldown snapshot stays config-bounded and restore drops stale keys") {
    // the driver-held cooldown map is one entry per configured
    // (topic, path, window) — T*F*W, independent of message volume.
    val dir = Files.createTempDirectory("graft_state_cb").toFile.getAbsolutePath
    val wide = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"), "sub.two" -> Seq("5m"))))
    def msgs(fromSec: Long, toSec: Long) = (fromSec until toSec by 5).map { s =>
      val v = if (spikeSecs(s)) 150.5 else 15.5
      ("test-topic", s"k$s", s"""{"sub":{"one":$v,"two":$v}}""", new Timestamp(t0 + s * 1000))
    }.toDF("topic", "key", "value", "ts")
    val p1 = new AnomalyPipeline(spark, wide, cooldownMs = 120000L, stateDir = Some(dir))
    assert(p1.configuredKeys == Set(("test-topic", "sub.one", 300L), ("test-topic", "sub.two", 300L)))
    p1.processBatch(msgs(0, 60), new Timestamp(t0 + 60000))
    p1.processBatch(msgs(60, 120), new Timestamp(t0 + 120000))
    assert(p1.cooldownSnapshot.size == p1.configuredKeys.size,
      "every configured key emitted once -> snapshot size == configured-key count")
    val record = AnomalyPipeline.StateRecord.decode(
      new String(Files.readAllBytes(new java.io.File(s"$dir/store/_MANIFEST").toPath), "UTF-8"))
    assert(record.cooldown == p1.cooldownSnapshot, "the state record commits the cooldown map")

    // a restart under a narrower DSL: the key it no longer configures
    // must not survive the restore
    val narrow = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val p2 = new AnomalyPipeline(spark, narrow, cooldownMs = 120000L, stateDir = Some(dir))
    assert(p2.cooldownSnapshot.keySet == Set(("test-topic", "sub.one", 300L)),
      "restore must filter to configured keys")
  }

  test("restore reads only the state record and the segment dirs it lists") {
    val dir = Files.createTempDirectory("graft_state_only").toFile.getAbsolutePath
    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))
    val p1 = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L, stateDir = Some(dir))
    p1.processBatch(script(0, 60).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 60000))
    val out1 = p1.processBatch(script(60, 120).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 120000))
      .collect()
    assert(out1.map(_.produced_us).toSeq == Seq((t0 + 90000) * 1000L), "expected the 90 s spike emitted")
    val storeRows = p1.storedEventCount

    // everything else in the state dir is gone — the state a crash
    // leaves inside any other write
    val mf = new java.io.File(s"$dir/store/_MANIFEST")
    val listed = AnomalyPipeline.StateRecord.decode(new String(Files.readAllBytes(mf.toPath), "UTF-8"))
      .segments.map(_._1).toSet
    assert(listed.nonEmpty)
    def rmrf(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete() }
    new java.io.File(dir).listFiles().filter(_.getName != "store").foreach(rmrf)
    new java.io.File(s"$dir/store").listFiles()
      .filterNot(f => f.getName == "_MANIFEST" || listed(f.getName)).foreach(rmrf)

    val p2 = new AnomalyPipeline(spark, dsl, cooldownMs = 120000L, stateDir = Some(dir))
    assert(p2.storedEventCount == storeRows, "store not restored from the record")
    // the 150 s spike is 60 s after the pre-restart emission
    val out2 = p2.processBatch(script(120, 180).toDF("topic", "key", "value", "ts"), new Timestamp(t0 + 180000))
      .collect()
    assert(out2.isEmpty, s"cooldown re-armed across restart: ${out2.toSeq}")
  }
}
