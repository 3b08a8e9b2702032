package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpec
import graft.core.Dsl

/** The state record (`store/_MANIFEST`) is the stream's one commit
  * record: restore trusts only the segment dirs it lists and the
  * cooldown map it holds. These specs pin the crash windows it closes —
  * compaction's write-then-delete (uncommitted dirs must not
  * double-restore), a truncate racing a trigger (it waits for the
  * trigger, then commits) — and that a commit or restore which cannot
  * honor the record fails loudly instead of silently restoring a
  * different row set.
  */
class StoreManifestSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))

  private def batch(fromSec: Long, toSec: Long) =
    (fromSec until toSec by 5).map { s =>
      ("test-topic", s"k$s", s"""{"sub":{"one":${15.5 + s % 3}}}""", new Timestamp(t0 + s * 1000))
    }.toDF("topic", "key", "value", "ts")

  // spikes at 30 s (seeds variance), 90 s and 210 s (emitted under the
  // default 2-minute cooldown)
  private def spiky(fromSec: Long, toSec: Long) =
    (fromSec until toSec by 5).map { s =>
      val one = if (Set(30L, 90L, 210L)(s)) 150.5 else 15.5
      ("test-topic", s"k$s", s"""{"sub":{"one":$one}}""", new Timestamp(t0 + s * 1000))
    }.toDF("topic", "key", "value", "ts")

  private def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  private def segDirs(dir: String) =
    new java.io.File(s"$dir/store").listFiles().filter(_.getName.startsWith("seg_")).sortBy(_.getName)

  test("uncommitted segment dir (crash leftover) is not restored and is removed") {
    val dir = Files.createTempDirectory("graft_manifest").toFile.getAbsolutePath
    val p1 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p1.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    val committedRows = p1.storedEventCount

    // simulate a crash mid-compaction: a segment dir exists on disk but
    // the manifest (written only at the commit point) never listed it
    val orphan = s"$dir/store/seg_${(t0 + 999000) * 1000}_orphan1"
    batch(60, 120).select("topic", "value", "ts")
      .toDF("topic", "path", "produced") // schema shape irrelevant; presence is
      .write.parquet(orphan)

    val p2 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    assert(p2.storedEventCount == committedRows,
      s"restore must trust the manifest: got ${p2.storedEventCount}, committed $committedRows")
    assert(!new java.io.File(orphan).exists(), "orphan dir should be deleted on restore")
  }

  test("a truncate during a trigger waits for it, then commits and releases") {
    val dir = Files.createTempDirectory("graft_truncate").toFile.getAbsolutePath
    val p = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    // store rows per batch (one row per present field value) — batches
    // below have the same message count
    val rowsPerBatch = p.storedEventCount
    assert(rowsPerBatch > 0)
    assert(segDirs(dir).length == 1)

    // a trigger in flight: another thread holds the trigger lock
    val held = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val trigger = Future(p.triggerLock.synchronized { held.countDown(); done.await() })
    held.await()
    val truncated = Future(p.truncate())
    Thread.sleep(500)
    assert(!truncated.isCompleted, "truncate must wait for the in-flight trigger")
    assert(p.storedEventCount == rowsPerBatch, "nothing is released under a running trigger")
    assert(segDirs(dir).length == 1, "segment dirs survive while the trigger runs")
    done.countDown()
    Await.result(trigger, 30.seconds)
    Await.result(truncated, 30.seconds)

    assert(p.storedEventCount == 0)
    assert(p.statsCache.isEmpty, "stats snapshot cleared")
    assert(segDirs(dir).isEmpty, "truncate deletes the segment dirs once the trigger is done")
    val p2 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    assert(p2.storedEventCount == 0, "a restart after the truncate restores an empty store")

    // the next trigger's batch becomes the only store content
    p.processBatch(batch(60, 120), new Timestamp(t0 + 120000))
    assert(p.storedEventCount == rowsPerBatch,
      s"post-truncate store must hold only the new batch: ${p.storedEventCount} vs $rowsPerBatch")
  }

  test("idle truncate releases immediately and empties the committed store") {
    val dir = Files.createTempDirectory("graft_truncate_idle").toFile.getAbsolutePath
    val p = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    p.truncate()
    assert(p.storedEventCount == 0)
    assert(!new java.io.File(s"$dir/store").listFiles().exists(_.getName.startsWith("seg_")),
      "idle truncate deletes segment dirs at once")
    val p2 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    assert(p2.storedEventCount == 0)
  }

  test("an unreadable segment the manifest lists fails the restore, naming its dir") {
    val dir = Files.createTempDirectory("graft_manifest_bad").toFile.getAbsolutePath
    val p1 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p1.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    p1.processBatch(batch(60, 120), new Timestamp(t0 + 120000))
    val segs = new java.io.File(s"$dir/store").listFiles().filter(_.getName.startsWith("seg_"))
    assert(segs.length == 2)

    // dropping the segment would silently shrink every trailing window
    val bad = segs.minBy(_.getName)
    bad.listFiles().filter(_.getName.startsWith("part-"))
      .foreach(f => Files.write(f.toPath, "not parquet".getBytes("UTF-8")))
    val e = intercept[IllegalStateException](new AnomalyPipeline(spark, dsl, stateDir = Some(dir)))
    assert(e.getMessage.contains(bad.getName), e.getMessage)
  }

  test("a failed manifest commit fails the trigger; a restart restores every committed row") {
    val dir = Files.createTempDirectory("graft_manifest_commit").toFile.getAbsolutePath
    val p1 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p1.processBatch(spiky(0, 60), new Timestamp(t0 + 60000))
    p1.processBatch(spiky(60, 120), new Timestamp(t0 + 120000))
    val committedRows = p1.storedEventCount
    val cooldown = p1.cooldownSnapshot
    assert(cooldown.nonEmpty, "the 90 s spike arms a cooldown")
    val committedDirs = segDirs(dir).map(_.getName).toSeq
    // the commit's tmp file cannot be created: a non-empty directory
    // stands in its place
    val blocker = new java.io.File(s"$dir/store/_MANIFEST.tmp")
    assert(blocker.mkdirs() && new java.io.File(blocker, "x").createNewFile())
    // the 210 s spike is past the cooldown: the trigger would move it
    intercept[java.io.IOException](p1.processBatch(spiky(180, 240), new Timestamp(t0 + 240000)))
    assert(p1.storedEventCount == committedRows, "an uncommitted segment must not join the store")
    assert(p1.cooldownSnapshot == cooldown, "a failed trigger publishes no cooldown")
    assert(segDirs(dir).map(_.getName).toSeq == committedDirs,
      "a failed trigger removes the segment dir it wrote")
    rmrf(blocker)
    val p2 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    assert(p2.storedEventCount == committedRows,
      s"restart must restore the committed rows: ${p2.storedEventCount} vs $committedRows")
    assert(p2.cooldownSnapshot == cooldown, "restart must restore the committed cooldown")
    assert(segDirs(dir).map(_.getName).toSeq == committedDirs)
    val retried = p2.processBatch(spiky(180, 240), new Timestamp(t0 + 240000)).collect()
    assert(retried.map(_.produced_us).toSeq == Seq((t0 + 210000) * 1000L),
      s"the retried trigger emits the 210 s spike: ${retried.toSeq}")
  }

  test("restore checks each segment's row count against the record") {
    val dir = Files.createTempDirectory("graft_manifest_rows").toFile.getAbsolutePath
    val p1 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p1.processBatch(batch(0, 60).repartition(4), new Timestamp(t0 + 60000))
    val seg = segDirs(dir).head
    val parts = seg.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length >= 2, s"expected a segment of several part files: ${parts.toSeq}")
    // a lost part file leaves a readable dir with fewer rows: restoring
    // it would silently shrink every trailing window
    assert(parts.head.delete())
    val e = intercept[IllegalStateException](new AnomalyPipeline(spark, dsl, stateDir = Some(dir)))
    assert(e.getMessage.contains(seg.getName), e.getMessage)
  }

  test("the state record round-trips any topic or path") {
    val odd = Seq("", "tab\there", "line\nbreak", "sp ace", "100%", "q\"uote", "ünï©ødé ✓", "a+b", "%41")
    val rec = AnomalyPipeline.StateRecord(
      Seq(("seg_1_abcd", 1L, 10L), ("seg_-5_ef01", -5L, 0L)),
      (for (t <- odd; p <- odd) yield (t, p, 60L) -> Long.MinValue).toMap + (("t", "p", 300L) -> 42L))
    val txt = AnomalyPipeline.StateRecord.encode(rec)
    assert(txt.linesIterator.length == 1 + rec.segments.size + rec.cooldown.size,
      "one line per entry after the header: no string may break a line")
    assert(AnomalyPipeline.StateRecord.decode(txt) == rec)
  }

  test("a names-only manifest of an older build fails the restore, naming it") {
    val dir = Files.createTempDirectory("graft_manifest_old").toFile.getAbsolutePath
    val p1 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p1.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    val mf = new java.io.File(s"$dir/store/_MANIFEST")
    Files.write(mf.toPath, segDirs(dir).map(_.getName).mkString("\n").getBytes("UTF-8"))
    new java.io.File(s"$dir/store/._MANIFEST.crc").delete() // a checksum mismatch would mask the format
    val e = intercept[IllegalStateException](new AnomalyPipeline(spark, dsl, stateDir = Some(dir)))
    assert(e.getMessage.contains("_MANIFEST") && e.getMessage.contains("header"), e.getMessage)
    assert(segDirs(dir).length == 1, "a failed restore must not delete committed segments")
  }

  test("an unreadable manifest fails the restore, naming it") {
    val dir = Files.createTempDirectory("graft_manifest_unreadable").toFile.getAbsolutePath
    val p1 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p1.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    val mf = new java.io.File(s"$dir/store/_MANIFEST")
    assert(mf.delete() && mf.mkdir() && new java.io.File(mf, "x").createNewFile())
    val e = intercept[IllegalStateException](new AnomalyPipeline(spark, dsl, stateDir = Some(dir)))
    assert(e.getMessage.contains("_MANIFEST"), e.getMessage)
    assert(segDirs(dir).length == 1, "a failed restore must not delete committed segments")
  }

  test("a segment dir the manifest lists but that is missing fails the restore, naming it") {
    val dir = Files.createTempDirectory("graft_manifest_missing").toFile.getAbsolutePath
    val p1 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p1.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    p1.processBatch(batch(60, 120), new Timestamp(t0 + 120000))
    val gone = segDirs(dir).head
    rmrf(gone)
    val e = intercept[IllegalStateException](new AnomalyPipeline(spark, dsl, stateDir = Some(dir)))
    assert(e.getMessage.contains(gone.getName), e.getMessage)
  }

  test("no manifest means nothing was committed: segment dirs are removed as orphans") {
    val dir = Files.createTempDirectory("graft_manifest_absent").toFile.getAbsolutePath
    val p1 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p1.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    assert(segDirs(dir).nonEmpty)
    new java.io.File(s"$dir/store").listFiles().filter(_.getName.contains("_MANIFEST")).foreach(rmrf)
    val p2 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    assert(p2.storedEventCount == 0L, "an uncommitted store must not restore")
    assert(segDirs(dir).isEmpty, "uncommitted segment dirs are removed")
  }
}
