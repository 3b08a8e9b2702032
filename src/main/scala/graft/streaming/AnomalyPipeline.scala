package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
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
  *  - **Cooldown** (lib/dsl/DSLHandler.js:13,200-210): a driver-held
  *    last-emit map per (topic, path, window) seeds, by broadcast, the
  *    distributed per-key greedy ([[CooldownState.greedyEmit]]); the map
  *    is committed with the store in the trigger's state record, so the
  *    next trigger's greedy continues where this one stopped. This map
  *    is the stream's only cooldown state: there is no keyed
  *    (flatMapGroupsWithState) form.
  *
  * A trigger computes, commits once, then publishes. With `stateDir`
  * the store is immutable segment dirs under `store/`, and
  * `store/_MANIFEST` is the one state record: the live segments and the
  * cooldown map, written by tmp + rename once per trigger. A restart
  * reads that record and the dirs it lists, nothing else.
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
) extends Serializable {

  // stage ids shift as the segment union widens: id-free class names let triggers share compiled code
  spark.conf.set("spark.sql.codegen.useIdInClassName", "false")

  import spark.implicits._

  /** One store segment: its cached chunk, max event time, row count,
    * and (with `stateDir`) the IMMUTABLE parquet directory persisting
    * it. State I/O is per-segment: each trigger appends one O(batch)
    * directory and deletes expired ones — never an O(store) rewrite (the
    * overwrite-whole-store form would dominate every trigger once the
    * retention horizon holds much more than a batch). The cached row
    * count makes storedEventCount a driver-side sum instead of a
    * per-scrape Spark job.
    */
  private final case class Segment(maxTsUs: Long, df: DataFrame, rows: Long, path: Option[String] = None) {
    def release(): Unit = { df.unpersist(); path.foreach(AnomalyPipeline.deletePath(spark, _)) }
  }

  /** Serializes triggers against [[truncate]]: a truncate waits for at
    * most one in-flight trigger, so it never releases a segment a
    * running job still scans, and a trigger never publishes over a
    * truncate. Readers take no lock; they read the published references.
    */
  private[streaming] val triggerLock = new Object

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[AnomalyPipeline])

  private def hadoopFs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(d: String) = new org.apache.hadoop.fs.Path(s"$d/store/_MANIFEST")

  /** Commit the state record: the live segments and the cooldown map.
    * Written (tmp + rename) AFTER new dirs exist and BEFORE superseded
    * ones are deleted — the commit point that makes compaction
    * crash-safe: a crash between the merged-dir write and the input
    * deletion does not double-restore those rows, because restore
    * trusts only listed dirs and removes the rest as orphans. A failed
    * commit throws: continuing would delete the dirs the old record
    * still lists while the new segment stays unlisted, so a restart
    * would restore fewer rows than were stored. The rename replaces the
    * old record in one step where the file system allows it (the local
    * one does); elsewhere the old one is deleted first.
    */
  private def writeState(d: String, live: Vector[Segment], cooldown: Map[(String, String, Long), Long]): Unit = {
    val mf = manifestPath(d)
    val fs = hadoopFs(mf)
    val tmp = new org.apache.hadoop.fs.Path(s"$d/store/_MANIFEST.tmp")
    val rec = AnomalyPipeline.StateRecord(
      live.flatMap(s => s.path.map(p => (new org.apache.hadoop.fs.Path(p).getName, s.maxTsUs, s.rows))),
      cooldown)
    val out = fs.create(tmp, true)
    try out.write(AnomalyPipeline.StateRecord.encode(rec).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, mf) && !(fs.delete(mf, false) && fs.rename(tmp, mf)))
      throw new java.io.IOException(s"state record commit failed: cannot rename $tmp to $mf")
  }

  /** The committed state record; None when none exists (first start).
    * A record that is present but unreadable, or that lacks the format
    * header, throws, naming it.
    */
  private def readState(d: String): Option[AnomalyPipeline.StateRecord] = {
    val mf = manifestPath(d)
    val fs = hadoopFs(mf)
    if (!fs.exists(mf)) None
    else Some(AnomalyPipeline.readingState(mf.toString) {
      val in = fs.open(mf)
      AnomalyPipeline.StateRecord.decode(
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
    })
  }

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
  private val segments = new AtomicReference(Vector.empty[Segment])

  /** Stats snapshot from the previous trigger (the DSLHandler cache). */
  private val snapshot = new AtomicReference[Option[DataFrame]](None)

  /** Driver-held cooldown map: (topic, path, window) -> last emitted
    * event-time micros — the Spark analog of the reference's in-memory
    * TTL cache (lib/dsl/DSLHandler.js:13). The per-batch greedy itself
    * runs DISTRIBUTED (per-key flatMapGroups seeded by a broadcast of
    * this map); the map is refreshed from the last emit per key that the
    * greedy's tasks report — one entry per configured (topic, path,
    * window), never the anomaly rows themselves — and committed in the
    * state record.
    */
  private val cooldownCache = new AtomicReference(Map.empty[(String, String, Long), Long])

  /** The configured stat keys (topic, path, window) — the hard bound on
    * everything the driver holds per key: the cooldown cache, its lines
    * in the state record, and the stats snapshot all have AT MOST this
    * many rows. A DSL of T topics x F fields x W windows bounds driver
    * state at T*F*W entries regardless of message volume; a bound
    * violation throws (in [[processBatch]]) instead of growing until the
    * driver OOMs.
    */
  lazy val configuredKeys: Set[(String, String, Long)] =
    dsl.topics.iterator.flatMap(t =>
      t.fields.iterator.flatMap(f => f.windows.iterator.map(w => (t.topic, f.path, w)))).toSet

  private val windows: Seq[Long] = dsl.topics.flatMap(_.fields.flatMap(_.windows)).distinct

  /** No field is configured: the extraction is empty, and the optimizer
    * prunes the batch out of its plan, so no job runs it.
    */
  private val extractsNothing = dsl.topics.forall(_.fields.isEmpty)

  stateDir.foreach(restore)

  /** Restore the store and the cooldown map from the state record.
    * Absent (first start) is empty; the record is the only account of
    * what was committed, so with none, nothing was. A listed segment
    * that is missing, unreadable, or holds a different row count than
    * the record says throws, naming its dir — restoring it short would
    * silently shrink every trailing window. Segment dirs are immutable
    * once written, so reads never race a rewrite. Dirs the record does
    * not list are leftovers of a crash mid-commit (e.g. compaction wrote
    * its merged dir but died before the commit) and are removed, not
    * restored — doing so would double-count their rows. Cooldown keys
    * the current DSL does not configure are dropped: a record written
    * under an older, wider DSL must not carry stale keys past the
    * configured-cardinality bound.
    */
  private def restore(d: String): Unit = {
    val record = readState(d)
    val listed = record.toSeq.flatMap(_.segments).map { case (n, ts, rows) => n -> (ts, rows) }.toMap
    val storePath = new org.apache.hadoop.fs.Path(s"$d/store")
    val fsys = hadoopFs(storePath)
    val dirs =
      if (!fsys.exists(storePath)) Vector.empty
      else fsys.listStatus(storePath).toVector
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg_"))
    val missing = listed.keySet -- dirs.map(_.getPath.getName)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"segment dirs listed in ${manifestPath(d)} are missing: " +
          missing.toSeq.sorted.map(n => s"$storePath/$n").mkString(", "))
    val (live, orphans) = dirs.partition(st => listed.contains(st.getPath.getName))
    orphans.foreach { st =>
      log.warn(s"removing uncommitted segment dir ${st.getPath} (crash leftover)")
      try fsys.delete(st.getPath, true) catch { case _: Throwable => () }
    }
    val segs = live.map { st =>
      val p = st.getPath.toString
      val (ts, rows) = listed(st.getPath.getName)
      val seg = AnomalyPipeline.readingState(p) {
        val df = spark.read.parquet(p).persist()
        try Segment(ts, df, df.count(), Some(p))
        catch { case e: Throwable => df.unpersist(); throw e }
      }
      if (seg.rows != rows) {
        seg.df.unpersist()
        throw new IllegalStateException(
          s"segment dir $p holds ${seg.rows} rows, but ${manifestPath(d)} committed $rows")
      }
      seg
    }
    segments.set(segs.sortBy(_.maxTsUs))
    cooldownCache.set(record.fold(Map.empty[(String, String, Long), Long])(
      _.cooldown.filter { case (k, _) => configuredKeys(k) }))
  }

  /** An observation of `metric`, its name unique: a segment's plan
    * keeps the observations it was built under, and the store's union of
    * segments may not define one name twice.
    */
  private def observation(metric: String): Observation =
    Observation(s"$metric ${java.util.UUID.randomUUID()}")

  /** Make a segment of the cached chunk `df` by its one action, which
    * also fills the cache: with `stateDir`, the write of the segment's
    * own immutable parquet dir (O(batch) state I/O, never an O(store)
    * rewrite); without, a noop write. Its max event time and row count
    * are observed on that write. The segment is in `made` before the
    * write, so a trigger that fails releases its cache and dir. The dir
    * name is random: the max event time is known only once the dir is
    * written, and the record carries it.
    */
  private def materialize(df: DataFrame, made: ListBuffer[Segment]): Segment = {
    val seg = Segment(Long.MinValue, df, 0L,
      stateDir.map(d => s"$d/store/seg_${java.util.UUID.randomUUID()}"))
    made += seg
    val o = observation("segment max event time and row count")
    val w = df.observe(o, max(unix_micros(col("produced"))), count(lit(1))).write
    seg.path.fold(w.format("noop").mode("overwrite").save())(w.mode("error").parquet(_))
    val r = AnomalyPipeline.observed(o)
    seg.copy(maxTsUs = if (r.isNullAt(0)) Long.MinValue else r.getLong(0), rows = r.getLong(1))
  }

  private def unixMicrosOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** Process counters mirroring lib/Sarkac.js:29-36. */
  val counters = new Counters(spark)

  private def storeOf(segs: Vector[Segment]): DataFrame =
    if (segs.isEmpty)
      spark.emptyDataset[(String, String, Double, java.sql.Timestamp)].toDF("topic", "path", "value", "produced")
    else segs.map(_.df).reduce(_ union _)

  def currentStore: DataFrame = storeOf(segments.get())
  def currentSnapshot: Option[DataFrame] = snapshot.get()

  /** Exact trailing stats over the store `live`, anchored at `now`. */
  private def computeStats(live: Vector[Segment], now: java.sql.Timestamp, horizonUs: Long): DataFrame =
    WindowStats.rawTrailingStats(
        storeOf(live).filter(unix_micros(col("produced")) >= Param.long(horizonUs)),
        windows, Param.timestamp(now))
      // every window runs over every field: drop the keys no field
      // configured, so a sample is judged (and reported) only over its
      // own field's windows
      .join(broadcast(configuredKeys.toSeq.toDF("topic", "path", "window_sec")),
        Seq("topic", "path", "window_sec"), "left_semi")

  /** Stored sample count (reference: Sarkac.getStats db.storedEvents,
    * lib/Sarkac.js:101-109 — a Mongo collection count). A driver-side
    * sum of cached per-segment counts — no Spark job per HTTP scrape.
    */
  def storedEventCount: Long = segments.get().map(_.rows).sum

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
    * the sigma collection, lib/HttpServer.js:87-89). Waits for an
    * in-flight trigger, then clears the stats snapshot (it derives from
    * the store and is rebuilt on the next trigger), commits an empty
    * store, and releases every segment (which also deletes its persisted
    * directory). The cooldown map is kept and committed with the empty
    * store, matching the reference (truncate does not reset anomaly
    * suppression).
    */
  def truncate(): Unit = triggerLock.synchronized {
    snapshot.set(None)
    stateDir.foreach(writeState(_, Vector.empty, cooldownCache.get()))
    segments.getAndSet(Vector.empty).foreach(_.release())
  }

  /** One micro-batch step: returns the emitted anomalies.
    *
    * `batch` must be normalized messages: (topic, value: json string,
    * ts timestamp). `now` anchors the trailing windows (batch time).
    *
    * The trigger computes everything first (steps 1-5), commits the
    * state record once (6), then publishes (7) and releases what it
    * superseded (8). A trigger that throws before its commit publishes
    * nothing and releases the segments it wrote, cache and dir alike.
    * No job only counts or collects: each count rides a job the trigger
    * runs anyway — the analysed messages and the segment's max event
    * time and row count ride the segment's write (step 2), the compacted
    * row count the compaction's write (3), and the detected count and
    * the new last emit per key the cooldown greedy (5).
    */
  def processBatch(batch: DataFrame, now: java.sql.Timestamp): Dataset[CooldownState.AnomalyEvent] =
    triggerLock.synchronized {
      // the segments this trigger makes, released if it fails before publishing them
      val made = ListBuffer.empty[Segment]
      try trigger(batch, now, made)
      catch { case e: Throwable => made.foreach(_.release()); throw e }
    }

  private def trigger(
      batch: DataFrame, now: java.sql.Timestamp, made: ListBuffer[Segment],
  ): Dataset[CooldownState.AnomalyEvent] = {
    // single-pass long-format projection: one plan regardless of
    // topic count (broadcast (topic, path) dim -> get_json_object on the
    // joined path), carrying the raw payload for originalMessage.
    // Persisted for the batch: it feeds the detection join AND the store
    // segment, so json extraction runs once. The analysed count is
    // observed on the job that first fills the cache (step 2's write).
    val analysed = observation("analysed messages")
    val extracted = Extraction.fromJsonMessagesMulti(
        if (extractsNothing) batch else batch.observe(analysed, count(lit(1))),
        col("topic"), col("value"), col("ts"),
        dsl.topics.map(tc => tc.topic -> tc.fields.map(_.path)),
        carry = Seq("original_message" -> col("value")))
      .persist()

    val maxRet = (dsl.topics.map(_.retentionSeconds) ++ Seq(0L)).max
    val horizonUs = unixMicrosOf(now) - maxRet * 1000000L
    val live0 = segments.get()

    // 1. judge against the PREVIOUS snapshot (staleness semantics); the
    // raw message rides through the detect join into the emitted record
    // (reference embeds it per anomaly, lib/dsl/DSLHandler.js:217-227).
    // Restart path: no in-memory snapshot but a restored store ->
    // recompute stats from pre-batch data (exactly the "stats as of the
    // previous trigger" staleness semantics), checkpointed like step 4's
    val previous = snapshot.get().orElse(
      if (live0.isEmpty || windows.isEmpty) None
      else Some(computeStats(live0, now, horizonUs).localCheckpoint(eager = true)))

    // 2. fold the batch in as a new cached segment (narrow: the raw
    // payload is NOT stored — stats only need (topic, path, value,
    // produced)). Its write fills both caches; a batch already past the
    // retention horizon expires at once (step 3), so the committed
    // record never lists its dir
    val seg = materialize(extracted.select("topic", "path", "value", "produced").persist(), made)
    counters.analysedMessages.add(
      if (extractsNothing) batch.count() else AnomalyPipeline.observed(analysed).getLong(0))

    // 3. drop whole segments that fell entirely outside the retention
    // horizon — no rewrite of surviving data. LSM-style compaction: when
    // retention outlives many triggers the segment vector (and with it
    // the per-trigger union width and task count of every stats
    // re-scan) grows linearly — merge into ONE checkpointed chunk past a
    // threshold; amortized cost O(store / threshold) per trigger.
    val (keep, expired) = (live0 :+ seg).partition(_.maxTsUs >= horizonUs)
    val (live, superseded) =
      if (keep.size > AnomalyPipeline.CompactSegments) {
        val all = storeOf(keep)
          .filter(unix_micros(col("produced")) >= Param.long(horizonUs))
          .localCheckpoint(eager = true)
        (Vector(materialize(all, made)), expired ++ keep)
      } else (keep, expired)

    // 4. the snapshot for the NEXT trigger, over the new live set
    val stats =
      if (windows.isEmpty) None
      else Some(computeStats(live, now, horizonUs).localCheckpoint(eager = true))
    counters.scanRuns.add(1)

    // 5. detect against step 1's snapshot, then the cooldown across triggers
    val (emitted, cache) = previous match {
      case None => (spark.emptyDataset[CooldownState.AnomalyEvent], cooldownCache.get())
      case Some(prev) =>
        cooldown(
          Anomaly.detect(extracted, prev, Param.timestamp(now))
            .select(
              col("topic"), col("path"), col("window_sec"),
              unix_micros(col("produced")).as("produced_us"),
              col("value"), col("mean"), col("stddev_pop"), col("three_sigma"),
              col("original_message"))
            .as[CooldownState.AnomalyEvent])
    }
    require(cache.size <= configuredKeys.size,
      s"cooldown cache holds ${cache.size} keys but the DSL configures " +
        s"${configuredKeys.size} — driver-held state must stay config-bounded")

    // 6. the one commit: the new live set and the cooldown map
    stateDir.foreach(writeState(_, live, cache))

    // 7. publish
    segments.set(live)
    snapshot.set(stats)
    cooldownCache.set(cache)
    made.clear()

    // 8. release what the commit superseded (expired and compacted
    // segments, caches and dirs)
    superseded.foreach(_.release())
    extracted.unpersist()
    emitted
  }

  /** The cooldown greedy (CooldownState.greedyEmit) runs DISTRIBUTED per
    * (topic, path, window) group, seeded by a broadcast of the
    * driver-held last-emit map — a regime shift that flags most
    * of a batch stays on the executors. localCheckpoint severs the
    * result from the transient foreachBatch source so callers can
    * consume it after the trigger. The greedy's job also carries the
    * detected count (an observation on its input) and each key's new
    * last emit (an accumulator entry per key that emitted; a recomputed
    * group repeats its entry, which the per-key max absorbs). Returns
    * the emitted anomalies and the new last-emit map.
    */
  private def cooldown(
      anomalies: Dataset[CooldownState.AnomalyEvent],
  ): (Dataset[CooldownState.AnomalyEvent], Map[(String, String, Long), Long]) = {
    val last = cooldownCache.get()
    val detected = observation("detected anomalies")
    val lastEmits = spark.sparkContext.collectionAccumulator[((String, String, Long), Long)]
    val lastB = spark.sparkContext.broadcast(last)
    val cd = cooldownMs
    val emitted = anomalies.observe(detected, count(lit(1)))
      .groupByKey(e => (e.topic, e.path, e.window_sec))
      .flatMapGroups { (key: (String, String, Long), rows: Iterator[CooldownState.AnomalyEvent]) =>
        val out = CooldownState.greedyEmit(cd, lastB.value.getOrElse(key, Long.MinValue), rows)
        out.lastOption.foreach(e => lastEmits.add(key -> e.produced_us))
        out.iterator
      }
      .localCheckpoint(eager = true)
    // the greedy has run (emitted is materialized) — release the
    // broadcast instead of leaking one per trigger over a long run
    lastB.destroy()
    counters.anomaliesDetected.add(AnomalyPipeline.observed(detected).getLong(0))
    (emitted, last ++ lastEmits.value.asScala.groupMapReduce(_._1)(_._2)(math.max))
  }

  /** Shape emitted anomalies like the reference's output record
    * (lib/dsl/DSLHandler.js:217-227): id hash, humanWindow,
    * originalMessage, etc. The humanWindow map is built from the DSL's
    * window set (a handful of literals) — no per-row UDF.
    */
  def toAnomalyRecords(emitted: Dataset[CooldownState.AnomalyEvent]): DataFrame =
    AnomalyPipeline.recordShape(emitted.toDF(), windows)
}

object AnomalyPipeline {

  /** Segment-count threshold that triggers store compaction. */
  val CompactSegments = 12

  /** How long [[observed]] waits for an observation's metrics. */
  private[streaming] val ObservationWait: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.FiniteDuration(30, "seconds")

  /** The metrics of `o`, which the listener bus delivers shortly after
    * the action that ran the observed plan. `Observation.get` waits
    * without a bound, so an observation no action ran would hang the
    * trigger; this throws after [[ObservationWait]] instead, naming it.
    */
  private[streaming] def observed(o: Observation): Row =
    try scala.concurrent.Await.result(o.future, ObservationWait)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"observation '${o.name}' was not delivered within $ObservationWait: no action ran its plan")
    }

  /** The stream's one state record, `store/_MANIFEST`: the live
    * segments (dir name, max event-time micros, row count) and the
    * cooldown map ((topic, path, window_sec) -> last emitted event-time
    * micros). Text: a format header, then one tab-separated entry per
    * line. Strings are URL-encoded (UTF-8 percent-encoding, space as
    * `+`), so any topic or path round-trips, tabs and newlines included.
    */
  private[streaming] final case class StateRecord(
      segments: Seq[(String, Long, Long)],
      cooldown: Map[(String, String, Long), Long],
  )

  private[streaming] object StateRecord {
    val Header = "graft-stream-state 1"

    private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
    private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

    def encode(r: StateRecord): String = {
      val segs = r.segments.map { case (n, ts, rows) => s"seg\t${enc(n)}\t$ts\t$rows" }
      val cds = r.cooldown.toSeq.sortBy(_._1).map { case ((t, p, w), us) =>
        s"cooldown\t${enc(t)}\t${enc(p)}\t$w\t$us"
      }
      (Header +: (segs ++ cds)).mkString("", "\n", "\n")
    }

    /** Throws on a missing header: the names-only manifest of older
      * builds has no migration path.
      */
    def decode(txt: String): StateRecord = {
      val lines = txt.split('\n').toSeq
      if (!lines.headOption.contains(Header))
        throw new IllegalStateException(s"not a state record: no '$Header' header")
      val (segs, cds) = lines.tail.filter(_.nonEmpty).map(_.split("\t", -1).toSeq).partitionMap {
        case Seq("seg", n, ts, rows) => Left((dec(n), ts.toLong, rows.toLong))
        case Seq("cooldown", t, p, w, us) => Right((dec(t), dec(p), w.toLong) -> us.toLong)
        case f => throw new IllegalStateException(s"malformed state-record line: ${f.mkString("\t")}")
      }
      StateRecord(segs, cds.toMap)
    }
  }

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
