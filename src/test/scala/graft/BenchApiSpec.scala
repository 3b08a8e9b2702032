package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Dsl, Memo}
import graft.operators.{Anomaly, Extraction, WindowStats}
import graft.sources.MessageSources
import graft.streaming.{AnomalyPipeline, CooldownState}

/** The engine API the end-to-end benchmark (`e2ebench/src/main/scala/
  * bench`) calls, with the same argument names and shapes. The
  * benchmark is its own build over these sources, so without this spec
  * a change that breaks it would surface only when the benchmark runs;
  * with it, it fails this suite's compile.
  */
class BenchApiSpec extends SparkSpec {
  import spark.implicits._

  test("the calls the end-to-end benchmark makes compile and run") {
    val dir = Files.createTempDirectory("graft_bench_api")
    val in = Files.createDirectories(dir.resolve("in"))
    Files.write(in.resolve("part-0.json"), (0 until 60 by 5).map { s =>
      val one = if (s == 30) 150.5 else 15.5
      f"""{"topic":"t00","key":"k$s","value":"{\\"sub\\":{\\"one\\":$one},\\"two\\":16}","ts":"2024-01-01T00:00:$s%02d.000Z"}"""
    }.mkString("\n").getBytes("UTF-8"))
    val dsl = Dsl.parse(Map("t00" -> Map("sub.one" -> Seq("5m", "10m"), "two" -> Seq("5m", "10m"))))
    val windows = Seq(300L, 600L)
    val now = new Timestamp(java.time.Instant.parse("2024-01-01T00:01:00Z").toEpochMilli)

    val pipeline = new AnomalyPipeline(spark, dsl, stateDir = Some(dir.resolve("state").toString))
    var lastInput: DataFrame = null
    var shadowRecords = -1L
    def onBatch(records: DataFrame, batchId: Long): Unit = {
      records.select(col("topic"), col("path"), col("window"), unix_micros(col("produced"))).collect()
      assert(pipeline.storedEventCount > 0 && pipeline.counters.analysedMessages.value == 12L)
      val ext = Extraction.fromJsonMessagesMulti(lastInput, col("topic"), col("value"), col("ts"),
        dsl.topics.map(tc => tc.topic -> tc.fields.map(_.path)),
        includeFrequency = true, carry = Seq("original_message" -> col("value"))).persist()
      val stats = WindowStats.rawTrailingStats(pipeline.currentStore, windows, lit(now))
      val snap = pipeline.currentSnapshot.getOrElse(stats)
      val det = Anomaly.detect(ext, snap, lit(now))
        .select(col("topic"), col("path"), col("window_sec"),
          unix_micros(col("produced")).as("produced_us"),
          col("value"), col("mean"), col("stddev_pop"), col("three_sigma"), col("original_message"))
        .as[CooldownState.AnomalyEvent].collect()
      val kept = det.groupBy(e => (e.topic, e.path, e.window_sec)).values
        .flatMap(rows => CooldownState.greedyEmit(120000L, Long.MinValue, rows.iterator)).toSeq
      shadowRecords = AnomalyPipeline.recordShape(kept.toDF(), windows).collect().length.toLong
      ext.unpersist()
    }
    val source = MessageSources.jsonlStream(spark, in.toString, Map("maxFilesPerTrigger" -> "1"))
    val q = AnomalyPipeline.run(pipeline, source,
      onBatch = (df, id) => onBatch(df, id),
      clock = Some { (df: DataFrame) => lastInput = df; now })
    try q.processAllAvailable() finally q.stop()
    assert(q.exception.isEmpty, q.exception)
    // the shadow layers ran on the first trigger's input: its spike is
    // judged against the fresh stats, so it yields records
    assert(shadowRecords > 0L)

    val registry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
    assert(registry.contains("q_window_stats"))
    val data = new java.io.File("e2ebench/data").getAbsolutePath
    assert(graft.queries.Tables.events(spark, data).groupBy("event_type").count().columns.toSeq ==
      Seq("event_type", "count"))
    Memo.resetLog()
    assert(Memo.buildLog.isEmpty && Memo.storageBytes(spark) >= 0L)
  }
}
