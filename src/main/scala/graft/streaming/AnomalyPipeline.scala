package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.core.{Dsl, Durations}
import graft.functions.Param
import graft.operators.{Anomaly, Extraction, WindowStats}
import graft.operators.Extraction.FieldCol

/** The streaming shell: the reference's whole hot path
  * (lib/Stream.js + lib/dsl/DSLHandler.js, SURVEY.md §3.1) re-expressed
  * as one Structured Streaming pipeline driven through `foreachBatch`.
  *
  * Semantics preserved from the reference:
  *  - **Snapshot staleness** (lib/dsl/DSLHandler.js:166-189): a batch's
  *    rows are judged against the stats snapshot computed at the END of
  *    the PREVIOUS trigger; the batch's own samples are folded into the
  *    store before the next snapshot but do not dilute the stats they
  *    are judged against.
  *  - **Trailing wall-clock windows** anchored at batch time
  *    (lib/db/model/SigmaModel.js:54): the injected `now` per batch.
  *  - **Retention** = max window (lib/dsl/DSLHandler.js:91): the store
  *    is pruned each trigger.
  *  - **Cooldown** via keyed state ([[CooldownState]]).
  *
  * Scale notes: the event store kept per (topic, path) is the engine's
  * shuffle spine; at cluster scale it would be a partitioned Delta/
  * parquet table with the stats aggregation running partial->final.
  * Here the store is an in-memory accumulated DataFrame with the same
  * plan shape. The stats snapshot is tiny and broadcast into the
  * per-batch join.
  */
class AnomalyPipeline(
    spark: SparkSession,
    dsl: Dsl,
    cooldownMs: Long = Dsl.CooldownMs,
    stateDir: Option[String] = None,
    statsBucketSec: Option[Long] = None,
) extends Serializable {

  statsBucketSec.foreach { b =>
    require(dsl.topics.flatMap(_.fields.flatMap(_.windows)).forall(_ % b == 0),
      s"statsBucketSec=$b requires every DSL window to be a multiple of it")
  }

  // stage ids shift as the segment union widens: id-free class names let triggers share compiled code
  spark.conf.set("spark.sql.codegen.useIdInClassName", "false")

  import spark.implicits._

  /** Accumulated long-format sample store (the sigma relation), kept as
    * SEGMENTS: one cached chunk per trigger, each tagged with its max
    * event time. Retention drops whole expired chunks instead of
    * rewriting the full store every trigger (the previous
    * full-localCheckpoint approach was O(store) per trigger — quadratic
    * over a run). Chunk count is bounded by retention / trigger
    * interval. This mirrors a segment/compaction-based event store; at
    * cluster scale the chunks are partitions of a Delta/parquet table.
    * With `stateDir` set the segments are additionally persisted for
    * restart.
    */
  /** One store segment: its cached chunk, max event time, and (with
    * `stateDir`) the IMMUTABLE parquet directory persisting it. State
    * I/O is per-segment: each trigger appends one O(batch) directory
    * and deletes expired ones — never an O(store) rewrite (the
    * overwrite-whole-store form would dominate every trigger once the
    * retention horizon holds much more than a batch).
    */
  private final case class Segment(maxTsUs: Long, df: DataFrame, rows: Long, path: Option[String] = None) {
    def release(): Unit = { df.unpersist(); path.foreach(AnomalyPipeline.deletePath(spark, _)) }
  }

  /** Serializes store mutations (trigger thread) against the HTTP
    * surface (truncate, counts) — segment release deletes caches and
    * parquet dirs, so a racing reader must never observe a released
    * segment.
    */
  private val storeLock = new Object

  /** Bumped by every truncate. A trigger captures the epoch at its
    * start and re-checks it before publishing results (segments,
    * snapshot, bucket partials) — a truncate that landed mid-trigger
    * must not be overwritten by that trigger's pre-truncate state.
    */
  private[streaming] val truncateEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** True while a micro-batch is between its boundary and its final
    * publish; [[truncate]] consults it to defer segment release.
    */
  private[streaming] val triggerActive = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Set when a truncate arrived mid-trigger: the segment release is
    * deferred to the next trigger boundary (the in-flight jobs still
    * read those caches/dirs; deleting them under the job would fail
    * the batch with FileNotFoundException).
    */
  private[streaming] val pendingTruncate = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Build a segment from a (persisted or checkpointed) chunk, reading
    * its max event time and row count (which materializes the cache;
    * the cached count also makes storedEventCount a driver-side sum
    * instead of a per-scrape Spark job).
    */
  private def mkSegment(df: DataFrame): Segment = {
    val agg = df.agg(max(unix_micros(col("produced"))), count(lit(1))).head()
    Segment(if (agg.isNullAt(0)) Long.MinValue else agg.getLong(0), df, agg.getLong(1))
  }

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[AnomalyPipeline])

  private def hadoopFs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(d: String) = new org.apache.hadoop.fs.Path(s"$d/store/_MANIFEST")

  /** Commit the live segment set: `store/_MANIFEST` lists the dir names
    * that are part of the store. Written (tmp + rename) AFTER new dirs
    * exist and BEFORE superseded ones are deleted — the commit point
    * that makes compaction crash-safe: a crash between the merged-dir
    * write and the input deletion no longer double-restores those rows,
    * because restore trusts only manifest-listed dirs and removes the
    * rest as orphans.
    */
  private def writeManifest(d: String, live: Vector[Segment]): Unit =
    try {
      val mf = manifestPath(d)
      val fs = hadoopFs(mf)
      val tmp = new org.apache.hadoop.fs.Path(s"$d/store/_MANIFEST.tmp")
      val out = fs.create(tmp, true)
      out.write(live.flatMap(_.path)
        .map(p => new org.apache.hadoop.fs.Path(p).getName)
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      fs.delete(mf, false)
      if (!fs.rename(tmp, mf))
        log.warn(s"segment manifest rename failed for $mf; restore will fall back to directory listing")
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"segment manifest write failed: $e; restore will fall back to directory listing")
    }

  /** Names listed in the store manifest, if one exists. */
  private def readManifest(d: String): Option[Set[String]] =
    try {
      val mf = manifestPath(d)
      val fs = hadoopFs(mf)
      if (!fs.exists(mf)) None
      else {
        val in = fs.open(mf)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        Some(txt.split('\n').map(_.trim).filter(_.nonEmpty).toSet)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Restored store: absent (first start) is empty; a committed
    * segment that is present but unreadable throws, naming its dir —
    * dropping it would silently shrink every trailing window.
    */
  private val segments = new AtomicReference[Vector[Segment]]({
    stateDir.flatMap { d =>
      val storePath = new org.apache.hadoop.fs.Path(s"$d/store")
      val fsys = hadoopFs(storePath)
      if (!fsys.exists(storePath)) None
      else {
        // one subdirectory per persisted segment, named
        // seg_<maxTsUs>_<unique>; directories are immutable once
        // written, so reads never race a rewrite and no checkpoint
        // copy is needed. The manifest is the commit record: dirs it
        // does not list are leftovers of a crash mid-commit (e.g.
        // compaction wrote its merged dir but died before deleting
        // the inputs) and must NOT be restored — doing so would
        // double-count their rows.
        val manifest = readManifest(d)
        val dirs = fsys.listStatus(storePath).filter(_.isDirectory).toVector
          .filter(_.getPath.getName.startsWith("seg_"))
        val (live, orphans) = manifest match {
          case Some(names) => dirs.partition(st => names(st.getPath.getName))
          case None =>
            if (dirs.nonEmpty)
              log.warn(s"no segment manifest under $storePath; restoring all " +
                s"${dirs.size} segment dirs (rows may repeat if a crash interrupted compaction)")
            (dirs, Vector.empty)
        }
        orphans.foreach { st =>
          log.warn(s"removing uncommitted segment dir ${st.getPath} (crash leftover)")
          try fsys.delete(st.getPath, true) catch { case _: Throwable => () }
        }
        val segs = live.map { st =>
          val p = st.getPath.toString
          AnomalyPipeline.readingState(p) {
            val ts = st.getPath.getName.split('_')(1).toLong
            val df = spark.read.parquet(p).persist()
            try Segment(ts, df, df.count(), Some(p))
            catch { case e: Throwable => df.unpersist(); throw e }
          }
        }
        if (segs.isEmpty) None else Some(segs.sortBy(_.maxTsUs))
      }
    }.getOrElse(Vector.empty)
  })

  /** Collision-proof persisted-segment directory name: the max
    * event-time alone can repeat across restarts (coarse timestamps) and
    * the trigger counter resets, so a random suffix prevents a new
    * segment from silently overwriting a restored one's directory.
    */
  private def segDirName(maxTsUs: Long): String =
    s"seg_${maxTsUs}_${java.util.UUID.randomUUID().toString.take(8)}"

  private def emptyStore: DataFrame =
    spark.emptyDataset[(String, String, Double, java.sql.Timestamp)]
      .toDF("topic", "path", "value", "produced")

  private def unixMicrosOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** Stats snapshot from the previous trigger (the DSLHandler cache). */
  private val snapshot = new AtomicReference[Option[DataFrame]](None)

  /** Bucketed-stats mode only: the COMPACTED per-(topic, path, bucket)
    * partial-sum store — one localCheckpointed relation of bounded size
    * (keys x buckets in retention), folded with each new batch's
    * partials per trigger. Keeping it compacted (instead of one cached
    * partial relation per segment) bounds the per-trigger merge to ONE
    * small shuffle over bounded rows, not O(segments x partitions)
    * tasks. Initialized lazily from the restored store on restart.
    */
  private val bucketState = new AtomicReference[Option[DataFrame]](None)

  /** Fold fresh partials into the compacted store, pruning buckets past
    * the retention horizon. Fold types are stable — p_sum DECIMAL(28,6),
    * p_sumsq DECIMAL(38,12) — so repeated folding is value-identical to
    * one-shot aggregation (decimal addition at fixed scale is
    * associative; no intermediate rounding).
    */
  private def foldBuckets(fresh: DataFrame, horizonUs: Long, bucketSec: Long): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val horizonBucketUs = horizonUs / (bucketSec * 1000000L) * (bucketSec * 1000000L)
    bucketState.get().map(_.union(fresh)).getOrElse(fresh)
      .filter(col("bucket_us") >= Param.long(horizonBucketUs))
      .groupBy(col("topic"), col("path"), col("bucket_us"))
      .agg(
        sum(col("p_cnt")).as("p_cnt"),
        sum(col("p_sum")).cast(DecimalType(28, 6)).as("p_sum"),
        sum(col("p_sumsq")).cast(DecimalType(38, 12)).as("p_sumsq"),
      )
      .localCheckpoint(eager = true)
  }

  /** Process counters mirroring lib/Sarkac.js:29-36. */
  val counters = new Counters(spark)

  /** Driver-held cooldown restart snapshot: (topic, path, window) ->
    * last emitted event-time micros — the Spark analog of the
    * reference's in-memory TTL cache (lib/dsl/DSLHandler.js:13). The
    * per-batch greedy itself runs DISTRIBUTED (per-key flatMapGroups
    * seeded by a broadcast of this map); the map is refreshed from a
    * per-key max aggregate — one row per configured (topic, path,
    * window), never the anomaly rows themselves — and persisted for
    * restart.
    */
  private val cooldownCache =
    new AtomicReference[Map[(String, String, Long), Long]]({
      stateDir.map(d => new org.apache.hadoop.fs.Path(s"$d/cooldown"))
        .filter(p => hadoopFs(p).exists(p)) // absent: first start
        .map { p =>
          // present but unreadable throws: an empty map would re-arm
          // every cooldown and emit duplicate anomaly records. Restore
          // only keys the CURRENT DSL configures: a snapshot written
          // under an older, wider DSL must not carry stale keys past
          // the configured-cardinality bound below
          AnomalyPipeline.readingState(p.toString) {
            spark.read.parquet(p.toString)
              .collect()
              .map(r => ((r.getString(0), r.getString(1), r.getLong(2)), r.getLong(3)))
              .filter { case (k, _) => configuredKeys(k) }
              .toMap
          }
        }.getOrElse(Map.empty)
    })

  /** The configured stat keys (topic, path, window) — the hard bound on
    * everything the driver holds per key: the cooldown cache, its
    * restart parquet, and the stats snapshot all have AT MOST this many
    * rows. A DSL of T topics x F fields x W windows bounds driver state
    * at T*F*W entries regardless of message volume; a bound violation
    * throws (in [[processBatch]]) instead of growing until the driver
    * OOMs.
    */
  lazy val configuredKeys: Set[(String, String, Long)] =
    dsl.topics.iterator.flatMap(t =>
      t.fields.iterator.flatMap(f => f.windows.iterator.map(w => (t.topic, f.path, w)))).toSet

  def currentStore: DataFrame = {
    val segs = segments.get()
    if (segs.isEmpty) emptyStore else segs.map(_.df).reduce(_ union _)
  }
  def currentSnapshot: Option[DataFrame] = snapshot.get()

  /** Stats over the live store, anchored at `now`: exact trailing form
    * by default; with `statsBucketSec` set, a merge of the cached
    * per-segment bucket partials anchored at the bucket-floored `now` —
    * per-trigger cost O(keys x buckets in retention), independent of
    * store row count (the documented 100x scale form, oracle-gated as
    * `q_window_stats_bucketed`).
    */
  private def computeStats(windows: Seq[Long], now: java.sql.Timestamp, horizonUs: Long): DataFrame =
    statsBucketSec match {
      case Some(b) =>
        val buckets = bucketState.get().getOrElse {
          // restart (or first trigger): rebuild the compacted partials
          // from the restored raw store in one pass. The prune uses the
          // BUCKET-FLOORED horizon (same rule as foldBuckets) so the
          // horizon-straddling bucket keeps its full sums — a plain
          // horizonUs row filter would truncate that bucket and make
          // post-restart stats diverge from a continuous run.
          val horizonBucketUs = horizonUs / (b * 1000000L) * (b * 1000000L)
          val init = WindowStats.bucketPartials(
            currentStore.filter(unix_micros(col("produced")) >= Param.long(horizonBucketUs)), b)
            .localCheckpoint(eager = true)
          bucketState.set(Some(init))
          init
        }
        val nowBUs = unixMicrosOf(now) / (b * 1000000L) * (b * 1000000L)
        WindowStats.rawBucketedStats(buckets, windows, Param.timestampMicros(nowBUs))
      case None =>
        WindowStats.rawTrailingStats(
          currentStore.filter(unix_micros(col("produced")) >= Param.long(horizonUs)),
          windows, Param.timestamp(now))
    }

  /** Stored sample count (reference: Sarkac.getStats db.storedEvents,
    * lib/Sarkac.js:101-109 — a Mongo collection count). A driver-side
    * sum of cached per-segment counts — no Spark job per HTTP scrape.
    */
  def storedEventCount: Long = storeLock.synchronized {
    segments.get().map(_.rows).sum
  }

  /** Stats-cache read-back, one row per (topic, path, window) with the
    * reference's {median, stdDev} value shape (the DSLHandler cache,
    * lib/dsl/DSLHandler.js:264-267). The snapshot is tiny
    * (config-bounded), so the collect is the natural cache dump.
    */
  def statsCache: Seq[(String, String, Long, Double, Double)] =
    snapshot.get().toSeq.flatMap {
      _.select(col("topic"), col("path"), col("window_sec"), col("mean"), col("stddev_pop"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    }

  /** Cooldown (anomaly) cache read-back: last emitted event-time micros
    * per key — the reference's in-memory anomaly TTL cache
    * (lib/dsl/DSLHandler.js:200-210).
    */
  def cooldownSnapshot: Map[(String, String, Long), Long] = cooldownCache.get()

  /** Truncate the event store (reference: DELETE /db/truncate clears
    * the sigma collection, lib/HttpServer.js:87-89): releases all
    * cached segments (which also deletes their persisted directories,
    * so a restart does not resurrect the data) and clears the stats
    * snapshot and bucket partials (both derive from the store and are
    * rebuilt on the next trigger). The cooldown cache is kept, matching
    * the reference (truncate does not reset anomaly suppression).
    */
  def truncate(): Unit = storeLock.synchronized {
    truncateEpoch.incrementAndGet()
    snapshot.set(None)
    bucketState.set(None)
    // commit the empty store immediately (a crash before the deferred
    // release must not resurrect pre-truncate data on restart) ...
    stateDir.foreach(writeManifest(_, Vector.empty))
    if (triggerActive.get()) {
      // ... but defer the cache/dir release itself: the in-flight
      // trigger's jobs still scan these segments, and yanking them
      // mid-job fails the batch. The epoch bump above stops that batch
      // from re-publishing its pre-truncate results.
      pendingTruncate.set(true)
    } else {
      segments.get().foreach(_.release())
      segments.set(Vector.empty)
    }
  }

  /** One micro-batch step: returns the emitted anomalies.
    *
    * `batch` must be normalized messages: (topic, value: json string,
    * ts timestamp). `now` anchors the trailing windows (batch time).
    */
  def processBatch(batch: DataFrame, now: java.sql.Timestamp): Dataset[CooldownState.AnomalyEvent] = {
    // trigger boundary: apply a truncate that arrived mid-previous-
    // trigger (its segment release was deferred — no job is in flight
    // now), then mark this trigger active and capture the truncate
    // epoch; store/snapshot publishes below re-check it so a truncate
    // landing mid-trigger is never overwritten by pre-truncate state.
    val epoch0 = storeLock.synchronized {
      if (pendingTruncate.getAndSet(false)) {
        segments.get().foreach(_.release())
        segments.set(Vector.empty)
      }
      triggerActive.set(true)
      truncateEpoch.get()
    }
    try processBatchInner(batch, now, epoch0)
    finally triggerActive.set(false)
  }

  private def processBatchInner(
      batch: DataFrame, now: java.sql.Timestamp, epoch0: Long,
  ): Dataset[CooldownState.AnomalyEvent] = {
    counters.analysedMessages.add(batch.count())

    // 1. single-pass long-format projection: one plan regardless of
    // topic count (broadcast (topic, path) dim -> get_json_object on the
    // joined path), carrying the raw payload for originalMessage.
    // Persisted for the batch: it feeds the detection join AND the store
    // segment, so json extraction runs once.
    val extracted = Extraction.fromJsonMessagesMulti(
        batch, col("topic"), col("value"), col("ts"),
        dsl.topics.map(tc => tc.topic -> tc.fields.map(_.path)),
        includeFrequency = true,
        carry = Seq("original_message" -> col("value")))
      .persist()

    val maxRet = (dsl.topics.map(_.retentionSeconds) ++ Seq(0L)).max
    val horizonUs = unixMicrosOf(now) - maxRet * 1000000L
    // raw-store segment expiry must use the SAME horizon rule as the
    // bucket-partial prune (bucket-floored in bucketed mode): dropping a
    // segment at the exact horizon while the compacted partials keep the
    // straddling bucket's full sums would leave the raw store unable to
    // rebuild those sums on restart — post-restart stats would diverge
    // from the continuous run (pinned by RestartSpec's equality test).
    val segHorizonUs = statsBucketSec match {
      case Some(b) => horizonUs / (b * 1000000L) * (b * 1000000L)
      case None => horizonUs
    }

    // restart path: no in-memory snapshot but a restored store ->
    // recompute stats from pre-batch data (exactly the "stats as of the
    // previous trigger" staleness semantics)
    if (snapshot.get().isEmpty && segments.get().nonEmpty) {
      val windows0 = dsl.topics.flatMap(_.fields.flatMap(_.windows)).distinct
      // eagerly checkpointed (mirrors step 4): the lazy plan would scan
      // the restored segments only at step 5's count, AFTER step 3 may
      // have released them (horizon expiry or compaction) — a recompute
      // would then read deleted parquet dirs and kill the first
      // post-restart micro-batch
      if (windows0.nonEmpty)
        snapshot.set(Some(computeStats(windows0, now, horizonUs).localCheckpoint(eager = true)))
    }

    // 2. judge against the PREVIOUS snapshot (staleness semantics); the
    // raw message rides through the detect join into the emitted record
    // (reference embeds it per anomaly, lib/dsl/DSLHandler.js:217-227)
    val anomalies: Dataset[CooldownState.AnomalyEvent] = snapshot.get() match {
      case None => spark.emptyDataset[CooldownState.AnomalyEvent]
      case Some(stats) =>
        Anomaly.detect(extracted, stats, Param.timestamp(now))
          .select(
            col("topic"), col("path"), col("window_sec"),
            unix_micros(col("produced")).as("produced_us"),
            col("value"), col("mean"), col("stddev_pop"), col("three_sigma"),
            col("original_message"))
          .as[CooldownState.AnomalyEvent]
    }

    // 3. fold the batch in as a new cached segment (narrow: the raw
    // payload is NOT stored — stats only need (topic, path, value,
    // produced)); drop whole segments that fell entirely outside the
    // retention horizon (their caches are released) — no rewrite of
    // surviving data. In bucketed mode the batch is additionally
    // reduced to bucket partials ONCE and folded into the compacted
    // partial store.
    val seg0 = mkSegment(extracted.select("topic", "path", "value", "produced").persist())
    // persist the new segment as its own immutable parquet dir —
    // O(batch) state I/O per trigger, never an O(store) rewrite
    val seg = stateDir match {
      case Some(d) if seg0.maxTsUs >= segHorizonUs =>
        val p = s"$d/store/${segDirName(seg0.maxTsUs)}"
        seg0.df.write.mode("error").parquet(p)
        seg0.copy(path = Some(p))
      case _ => seg0
    }
    storeLock.synchronized {
      if (truncateEpoch.get() != epoch0) {
        // a truncate landed mid-trigger: this batch's segment is
        // pre-truncate data — drop it instead of publishing it
        seg.release()
      } else {
        val (keep, expired) = (segments.get() :+ seg).partition(_.maxTsUs >= segHorizonUs)
        // LSM-style compaction (exact mode only): when retention
        // outlives many triggers the segment vector (and with it the
        // per-trigger union width and task count of every stats
        // re-scan) grows linearly — merge into ONE checkpointed chunk
        // past a threshold; amortized cost O(store / threshold) per
        // trigger. In bucketed mode the raw store is COLD state (read
        // only on restart; stats come from the compacted partials), so
        // re-materializing it would be pure overhead — at cluster
        // scale it is an appended Delta/parquet table either way.
        val (merged, superseded) =
          if (statsBucketSec.isEmpty && keep.size > AnomalyPipeline.CompactSegments) {
            val all = keep.map(_.df).reduce(_ union _)
              .filter(unix_micros(col("produced")) >= Param.long(horizonUs))
              .localCheckpoint(eager = true)
            val maxTs = keep.map(_.maxTsUs).max
            val nRows = all.count()
            val one = stateDir match {
              case Some(d) =>
                val p = s"$d/store/${segDirName(maxTs)}"
                all.write.mode("error").parquet(p)
                Segment(maxTs, all, nRows, Some(p))
              case None => Segment(maxTs, all, nRows)
            }
            (Vector(one), expired ++ keep)
          } else (keep, expired)
        // commit point: the manifest names the new live set BEFORE any
        // superseded dir is deleted, so a crash anywhere around
        // compaction restores exactly the committed set (dirs written
        // but not listed are removed as orphans on restart — no
        // double-restored rows)
        stateDir.foreach(writeManifest(_, merged))
        superseded.foreach(_.release())
        segments.set(merged)
      }
    } // storeLock
    // (on restart the restart branch above has already rebuilt the
    // compacted partials from the restored store, so the fold below
    // never loses pre-restart history)
    if (truncateEpoch.get() == epoch0) statsBucketSec.foreach { b =>
      val folded = foldBuckets(WindowStats.bucketPartials(seg.df, b), horizonUs, b)
      storeLock.synchronized {
        if (truncateEpoch.get() == epoch0) bucketState.set(Some(folded))
      }
    }
    // 4. recompute the snapshot for the NEXT trigger (bucketed mode:
    // merge of cached per-segment partials, no raw re-scan)
    val windows = dsl.topics.flatMap(_.fields.flatMap(_.windows)).distinct
    if (windows.nonEmpty && truncateEpoch.get() == epoch0) {
      val stats = computeStats(windows, now, horizonUs)
        .localCheckpoint(eager = true)
      storeLock.synchronized {
        if (truncateEpoch.get() == epoch0) snapshot.set(Some(stats))
      }
    }
    counters.scanRuns.add(1)

    // 5. cooldown across triggers: the shared greedy
    // (CooldownState.greedyEmit) runs DISTRIBUTED per (topic, path,
    // window) group, seeded by a broadcast of the driver-held last-emit
    // map — a regime shift that flags most of a batch stays on the
    // executors. localCheckpoint severs the result from the transient
    // foreachBatch source so callers can consume it after this method.
    val detected = anomalies.persist()
    counters.anomaliesDetected.add(detected.count())
    val cacheB = spark.sparkContext.broadcast(cooldownCache.get())
    val cd = cooldownMs
    val emitted = detected
      .groupByKey(e => (e.topic, e.path, e.window_sec))
      .flatMapGroups { (key: (String, String, Long), rows: Iterator[CooldownState.AnomalyEvent]) =>
        CooldownState.greedyEmit(cd, cacheB.value.getOrElse(key, Long.MinValue), rows).iterator
      }
      .localCheckpoint(eager = true)
    detected.unpersist()
    // the greedy has run (emitted is materialized) — release the
    // broadcast instead of leaking one per trigger over a long run
    cacheB.destroy()

    // refresh the restart snapshot from the per-key last-emit aggregate:
    // one row per configured key, config-bounded cardinality
    var cache = cooldownCache.get()
    emitted.groupBy(col("topic"), col("path"), col("window_sec"))
      .agg(max(col("produced_us")).as("last_us"))
      .collect()
      .foreach(r => cache += ((r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)))
    require(cache.size <= configuredKeys.size,
      s"cooldown cache holds ${cache.size} keys but the DSL configures " +
        s"${configuredKeys.size} — driver-held state must stay config-bounded")
    cooldownCache.set(cache)

    // 6. persist the cooldown cache for restart (the store was already
    // persisted segment-wise in step 3; this relation is one row per
    // configured key)
    stateDir.foreach { d =>
      cache.toSeq.map { case ((t, p, w), us) => (t, p, w, us) }
        .toDF("topic", "path", "window_sec", "last_emit_us")
        .write.mode("overwrite").parquet(s"$d/cooldown")
    }
    extracted.unpersist()
    emitted
  }

  /** Shape emitted anomalies like the reference's output record
    * (lib/dsl/DSLHandler.js:217-227): id hash, humanWindow,
    * originalMessage, etc. The humanWindow map is built from the DSL's
    * window set (a handful of literals) — no per-row UDF.
    */
  def toAnomalyRecords(emitted: Dataset[CooldownState.AnomalyEvent]): DataFrame =
    AnomalyPipeline.recordShape(
      emitted.toDF(), dsl.topics.flatMap(_.fields.flatMap(_.windows)).distinct)
}

object AnomalyPipeline {

  /** Segment-count threshold that triggers store compaction. */
  val CompactSegments = 12

  /** Run one restore read of persisted state at `path`; any failure
    * rethrows naming the path (present-but-unreadable state must not
    * restore as empty).
    */
  private[streaming] def readingState[T](path: String)(read: => T): T =
    try read
    catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(s"persisted state at $path is present but unreadable: $e", e)
    }

  /** Recursively delete one persisted-segment directory. */
  private[streaming] def deletePath(spark: SparkSession, p: String): Unit =
    try {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The reference's anomaly record contract (lib/dsl/DSLHandler.js:
    * 217-227) over rows shaped like CooldownState.AnomalyEvent:
    * deterministic md5 id (portable across engines, unlike murmur3),
    * humanWindow via a literal (window_sec -> string) map built from the
    * known window set (the reference calls juration per record;
    * lib/dsl/DSLHandler.js:221), `median`/`stdDev` naming quirks kept,
    * and the raw triggering payload as originalMessage.
    */
  def recordShape(events: DataFrame, windows: Seq[Long]): DataFrame = {
    val humanCol =
      if (windows.isEmpty) lit(null).cast("string")
      else element_at(
        map(windows.flatMap(w => Seq(lit(w), lit(Durations.human(w)))): _*),
        col("window_sec"))
    events
      .withColumn("id",
        md5(concat_ws("|", col("topic"), col("path"), col("window_sec"), col("produced_us"))))
      .withColumn("humanWindow", humanCol)
      .select(
        col("id"), col("topic"), col("path"),
        col("window_sec").as("window"), col("humanWindow"),
        col("value"), col("mean").as("median"), // reference naming quirk
        col("stddev_pop").as("stdDev"), col("three_sigma").as("threeSigma"),
        timestamp_micros(col("produced_us")).as("produced"),
        col("original_message").as("originalMessage"))
  }

  /** Normalized-message schema (FIXTURES.md A1). */
  val MessageSchema: StructType = new StructType()
    .add("topic", "string").add("key", "string").add("value", "string")
    .add("ts", TimestampType)

  /** One normalized message, the unit the per-message hook sees. */
  final case class Message(topic: String, key: String, value: String, ts: java.sql.Timestamp)

  /** The reference's `beforeMessageProcessing` hook contract
    * (lib/Stream.js:43-65) as a PER-MESSAGE stage, beyond the
    * declarative decode filter: the user function may alter the
    * message, return None to drop it, or throw — a throw counts one
    * error (the reference emits "error" and resolves null) and drops
    * the message. Runs distributed via `mapPartitions` on the typed
    * Dataset; the hook must be serializable.
    */
  def withMessageHook(
      batch: DataFrame,
      hook: Message => Option[Message],
      errors: org.apache.spark.util.LongAccumulator,
  ): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("topic"), col("key"), col("value"), col("ts")).as[Message]
      .mapPartitions(_.flatMap { m =>
        try hook(m)
        catch { case scala.util.control.NonFatal(_) => errors.add(1); None }
      })
      .toDF()
  }

  /** Kafka source wiring (S1): subscribe to the DSL topics and decode
    * Buffers to strings — the beforeMessageProcessing hook
    * (lib/Stream.js:43-65) as a declarative stage. Not exercised in
    * tests (no broker in the environment); the decode stage itself is.
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topics: Seq[String]): DataFrame =
    decodeKafka(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topics.mkString(","))
        .load())

  /** Dynamic-subscription source (S2): the Spark-native analog of the
    * reference's runtime `adjustSubscription` (lib/Stream.js:145-152).
    * With `subscribePattern` the Kafka source re-evaluates the topic
    * regex against the cluster metadata as batches are planned, so
    * topics created after start are picked up WITHOUT a restart —
    * exactly the discovery-driven growth the reference implements by
    * mutating its consumer. Pair with [[Discovery.discoverTopics]] for
    * the blacklist: excluded topics are dropped by the decode-stage
    * filter since a regex cannot subtract a set.
    */
  def kafkaSourcePattern(
      spark: SparkSession, bootstrap: String, pattern: String,
      blacklist: Set[String] = Set.empty,
  ): DataFrame = {
    val decoded = decodeKafka(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribePattern", pattern)
        .load())
    if (blacklist.isEmpty) decoded
    else decoded.filter(!col("topic").isin(blacklist.toSeq: _*))
  }

  /** The decode stage, usable on any Kafka-shaped relation (batch or
    * stream): cast key/value to UTF-8 strings, keep topic + timestamp.
    */
  def decodeKafka(raw: DataFrame): DataFrame =
    raw.selectExpr(
      "topic",
      "CAST(key AS STRING) AS key",
      "CAST(value AS STRING) AS value",
      "timestamp AS ts",
    ).filter(col("topic").isNotNull && col("value").isNotNull) // F1

  /** Kafka sink wiring (S4): anomaly records as JSON keyed by id. */
  def kafkaSink(records: DataFrame, bootstrap: String, topic: String): DataStreamWriter[Row] =
    records
      .select(col("id").cast("string").as("key"),
        to_json(struct(records.columns.toIndexedSeq.map(col): _*)).as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .trigger(Trigger.ProcessingTime("15 seconds")) // reference scan cadence

  /** Full streaming query: source -> foreachBatch(processBatch) -> sink
    * callback. The caller supplies the sink (memory table, parquet,
    * Kafka) via `onBatch`.
    */
  def run(
      pipeline: AnomalyPipeline,
      source: DataFrame,
      onBatch: (DataFrame, Long) => Unit,
      clock: Option[DataFrame => java.sql.Timestamp] = None,
      outputHook: DataFrame => DataFrame = identity,
      messageHook: Option[Message => Option[Message]] = None,
  ): org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // beforeMessageProcessing hook (reference: lib/Stream.js:43-65):
        // per-message alter/drop/error stage ahead of everything else
        val df = messageHook
          .map(h => withMessageHook(batch.toDF(), h, pipeline.counters.errors))
          .getOrElse(batch.toDF())
        val now = clock.map(_(df)).getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
        val emitted = pipeline.processBatch(df, now)
        // beforeAnomalyProduction hook (reference: lib/Stream.js:72-107):
        // user output-shaping stage applied before the sink
        onBatch(outputHook(pipeline.toAnomalyRecords(emitted)), batchId)
      }
      .start()
}
