package bench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.operators.{Anomaly, Extraction, WindowStats}
import graft.sources.MessageSources
import graft.streaming.{AnomalyPipeline, CooldownState}

/** What the bench observed of one micro-batch. Times are epoch ms. */
final class BatchObs(val id: Long) {
  @volatile var clockMs: Long = 0L      // `clock` hook: trigger body starts
  @volatile var sinkStartMs: Long = 0L  // `onBatch` entry
  @volatile var endMs: Long = 0L        // `onBatch` done: records written
  @volatile var endNs: Long = 0L
  @volatile var storeRows: Long = 0L
  @volatile var gcMs: Long = 0L         // JVM totals at `onBatch` done
  @volatile var jitMs: Long = 0L
  @volatile var planMs: Double = 0.0    // triggerExecution - addBatch, from query progress
  @volatile var progressed = false
  /** Messages the program analysed in this batch: the change of its
    * `analysedMessages` counter across the trigger.
    */
  @volatile var analysed: Long = 0L
  /** Rows the bench wrote to the files the source log says this batch read. */
  @volatile var fileRows: Long = 0L
  @volatile var records: Array[(String, String, Long, Long)] = Array.empty
  @volatile var shadow: Map[String, Double] = Map.empty
}

/** Drives `MessageSources.jsonlStream` -> `AnomalyPipeline.run` over an
  * input directory, `filesPerTrigger` files per trigger with durable
  * state in `stateDir`, and records, per micro-batch, the trigger times, the
  * emitted records and the query progress. After each batch id in
  * `shadowAt` (traced runs), it re-runs each layer's public operator on
  * that trigger's input once the trigger is done, to time the layers one
  * by one.
  */
final class StreamDriver(
    spark: SparkSession,
    trace: Trace,
    msgs: Messages,
    inputDir: File,
    stateDir: String,
    filesPerTrigger: Int,
    clock: Long => Timestamp, // batch ordinal -> event-time `now`
    shadowAt: Long => Boolean,
    rowsOf: String => Long, // input file name -> rows written to it
    checkpointRoot: File,   // the session's streaming checkpoint location
) {
  val batches = new ConcurrentHashMap[Long, BatchObs]()
  val pipeline = new AnomalyPipeline(spark, msgs.dsl, stateDir = Some(stateDir))
  private val windows = msgs.windowSecs
  @volatile private var ordinal = 0L
  @volatile private var lastInput: DataFrame = _
  @volatile private var lastNow: Timestamp = _
  @volatile var failure: Option[Throwable] = None

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      if (d.containsKey("addBatch")) {
        val o = batches.computeIfAbsent(p.batchId, new BatchObs(_))
        o.progressed = true
        o.planMs = (d.get("triggerExecution") - d.get("addBatch")).toDouble
      }
    }
  }

  private def obs(id: Long) = batches.computeIfAbsent(id, new BatchObs(_))
  private var currentClockMs = 0L
  private var analysedBefore = 0L

  private def onBatch(records: DataFrame, batchId: Long): Unit = {
    val o = obs(batchId)
    o.clockMs = currentClockMs
    o.sinkStartMs = System.currentTimeMillis()
    o.records = records
      .select(col("topic"), col("path"), col("window"), unix_micros(col("produced")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    o.storeRows = pipeline.storedEventCount
    val analysed = pipeline.counters.analysedMessages.value
    o.analysed = analysed - analysedBefore
    analysedBefore = analysed
    o.endMs = System.currentTimeMillis()
    o.endNs = System.nanoTime()
    o.gcMs = Trace.gcMs()
    o.jitMs = Trace.jitMs()
    trace.span("trigger", o.clockMs, o.endMs, "", s"batch-$batchId")
    trace.span("processBatch", o.clockMs, o.sinkStartMs, "trigger", s"batch-$batchId")
    trace.span("sink", o.sinkStartMs, o.endMs, "trigger", s"batch-$batchId")
    if (shadowAt(batchId)) o.shadow = shadowCalls(batchId)
  }

  /** Times each layer's public entry point on this trigger's input, the
    * live store and the live snapshot. Runs after the trigger has
    * finished, so the trigger's own timings do not include it.
    */
  private def shadowCalls(batchId: Long): Map[String, Double] = {
    val id = s"batch-$batchId"
    // keeps the shadow jobs out of the trigger's own job count
    spark.sparkContext.setLocalProperty(Trace.UnitKey, s"shadow-$batchId")
    try shadowLayers(id) finally spark.sparkContext.setLocalProperty(Trace.UnitKey, null)
  }

  private def shadowLayers(id: String): Map[String, Double] = {
    val now = lastNow
    val (ext, extMs) = trace.timed("operators.extraction", "shadow", id) {
      val e = Extraction.fromJsonMessagesMulti(lastInput, col("topic"), col("value"), col("ts"),
        msgs.dsl.topics.map(tc => tc.topic -> tc.fields.map(_.path)),
        includeFrequency = true, carry = Seq("original_message" -> col("value"))).persist()
      e.count(); e
    }
    val (stats, statsMs) = trace.timed("operators.window_stats", "shadow", id) {
      val s = WindowStats.rawTrailingStats(pipeline.currentStore, windows, lit(now)).persist()
      s.count(); s
    }
    val snap = pipeline.currentSnapshot.getOrElse(stats)
    import spark.implicits._
    val (det, detMs) = trace.timed("operators.detect", "shadow", id) {
      Anomaly.detect(ext, snap, lit(now))
        .select(col("topic"), col("path"), col("window_sec"),
          unix_micros(col("produced")).as("produced_us"),
          col("value"), col("mean"), col("stddev_pop"), col("three_sigma"), col("original_message"))
        .as[CooldownState.AnomalyEvent].collect()
    }
    val (kept, cdMs) = trace.timed("streaming.cooldown", "shadow", id) {
      det.groupBy(e => (e.topic, e.path, e.window_sec)).values
        .flatMap(rows => CooldownState.greedyEmit(120000L, Long.MinValue, rows.iterator)).toSeq
    }
    val (_, shapeMs) = trace.timed("streaming.record_shape", "shadow", id) {
      AnomalyPipeline.recordShape(kept.toDF(), windows).collect()
    }
    ext.unpersist(); stats.unpersist()
    Map("operators.extraction_ms" -> extMs, "operators.window_stats_ms" -> statsMs,
      "operators.detect_ms" -> detMs, "streaming.cooldown_ms" -> cdMs,
      "streaming.record_shape_ms" -> shapeMs)
  }

  def start(): org.apache.spark.sql.streaming.StreamingQuery = {
    spark.streams.addListener(progressListener)
    val source = MessageSources.jsonlStream(spark, inputDir.getAbsolutePath,
      Map("maxFilesPerTrigger" -> filesPerTrigger.toString))
    AnomalyPipeline.run(pipeline, source,
      onBatch = (df, id) => onBatch(df, id),
      clock = Some { (df: DataFrame) =>
        currentClockMs = System.currentTimeMillis()
        val now = clock(ordinal)
        ordinal += 1
        lastInput = df; lastNow = now
        now
      })
  }

  /** Reads which files each batch read from the file source's log in the
    * query checkpoint (entries `{"path":...,"batchId":n}`, one per line,
    * in per-batch and compacted files), and sets each completed batch's
    * `fileRows` from it.
    */
  def readSourceLog(): Unit = {
    val logs = Option(checkpointRoot.listFiles()).toSeq.flatten
      .map(d => new File(d, "sources/0")).filter(_.isDirectory)
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    val byBatch = mutable.Map.empty[Long, mutable.LinkedHashSet[String]]
    for (d <- logs; f <- Option(d.listFiles()).toSeq.flatten if !f.getName.startsWith(".")) {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().foreach {
        case entry(path, id) =>
          byBatch.getOrElseUpdate(id.toLong, mutable.LinkedHashSet.empty) += new File(new java.net.URI(path)).getName
        case _ => ()
      } catch { case scala.util.control.NonFatal(_) => () } // a log file being written
      finally src.close()
    }
    byBatch.foreach { case (id, fs) =>
      Option(batches.get(id)).filter(_.endMs > 0).foreach { o =>
        o.fileRows = fs.toSeq.map(rowsOf).sum
      }
    }
  }

  /** Blocks until completed batches have read files holding `rows` rows
    * (or the query failed, or `timeoutMs` passed); returns those rows.
    */
  def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, rows: Long, timeoutMs: Long): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    // the log is read again only when a batch has completed, so the wait
    // does little work beside the triggers it waits for
    var completed = -1
    def consumed = {
      val done = batches.values.asScala.filter(_.endMs > 0)
      if (done.size != completed) { completed = done.size; readSourceLog() }
      done.map(_.fileRows).sum
    }
    while (consumed < rows && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(50)
    // the progress event of the last batch may trail its onBatch
    val settle = System.currentTimeMillis() + 2000
    while (batches.values.asScala.exists(b => b.endMs > 0 && !b.progressed) &&
      System.currentTimeMillis() < settle) Thread.sleep(10)
    q.exception.foreach(e => failure = Some(e))
    consumed
  }

  def stop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.stop()
    spark.streams.removeListener(progressListener)
  }

  /** Completed batches in id order. */
  def done: Seq[BatchObs] = batches.values.asScala.filter(_.endMs > 0).toSeq.sortBy(_.id)

  def emitted: Seq[(String, String, Long, Long)] = done.flatMap(_.records)
}

object Streams {
  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Failed messages from the output check: a missing expected record or
    * an unexpected one fails the message it belongs to (one per record).
    * Consumption is judged by the program's own count: a batch fails as
    * many messages as the messages it analysed (its `analysedMessages`
    * counter) differ from the rows of the files it read; a message in a
    * file no batch read fails too. Returns (missing, unexpected,
    * unconsumed, failed).
    */
  def check(expected: Set[(String, String, Long, Long)], emitted: Seq[(String, String, Long, Long)],
      offered: Long, batches: Seq[BatchObs]): (Long, Long, Long, Long) = {
    val got = emitted.toSet
    val dup = emitted.size - got.size
    val missing = (expected -- got).size
    val extra = (got -- expected).size + dup
    val unread = (offered - batches.map(_.fileRows).sum).max(0L)
    val miscounted = batches.map(b => math.abs(b.analysed - b.fileRows)).sum
    val unconsumed = unread + miscounted
    (missing, extra, unconsumed, missing + extra + unconsumed)
  }
}
