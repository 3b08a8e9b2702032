package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.core.Dsl

/** The segment manifest (`store/_MANIFEST`) is the store's commit
  * record: restore trusts only manifest-listed dirs. These specs pin
  * the two crash windows it closes — compaction's write-then-delete
  * (uncommitted dirs must not double-restore) — and the deferred
  * truncate (a truncate landing mid-trigger must survive a crash even
  * though its segment release waits for the trigger boundary).
  */
class StoreManifestSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"))))

  private def batch(fromSec: Long, toSec: Long) =
    (fromSec until toSec by 5).map { s =>
      ("test-topic", s"k$s", s"""{"sub":{"one":${15.5 + s % 3}}}""", new Timestamp(t0 + s * 1000))
    }.toDF("topic", "key", "value", "ts")

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

  test("mid-trigger truncate defers segment release to the boundary but commits immediately") {
    val dir = Files.createTempDirectory("graft_truncate").toFile.getAbsolutePath
    val p = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    p.processBatch(batch(0, 60), new Timestamp(t0 + 60000))
    // store rows per batch (each message yields its field row plus the
    // __topic_frequency row) — batches below have the same message count
    val rowsPerBatch = p.storedEventCount
    assert(rowsPerBatch > 0)
    val segDirs = new java.io.File(s"$dir/store").listFiles().count(_.getName.startsWith("seg_"))
    assert(segDirs == 1)

    // simulate a trigger in flight: the release must be deferred (the
    // running jobs still scan these dirs) ...
    p.triggerActive.set(true)
    val epochBefore = p.truncateEpoch.get()
    p.truncate()
    assert(p.truncateEpoch.get() == epochBefore + 1)
    assert(p.pendingTruncate.get(), "mid-trigger truncate must defer the release")
    assert(new java.io.File(s"$dir/store").listFiles().exists(_.getName.startsWith("seg_")),
      "segment dirs must survive until the trigger boundary")
    assert(p.statsCache.isEmpty, "stats snapshot cleared immediately")

    // ... but the empty store is already durable: a restart BEFORE the
    // next trigger (crash after truncate) must not resurrect the data
    val p2 = new AnomalyPipeline(spark, dsl, stateDir = Some(dir))
    assert(p2.storedEventCount == 0, "truncate must be crash-durable via the manifest")

    // next trigger boundary: deferred release runs, then the new batch
    // becomes the only store content
    p.triggerActive.set(false)
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
}
