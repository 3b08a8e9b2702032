package graft.queries

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Proof that the manual salt actually kills skew — not just that the
  * salted forms return the same rows as their plain forms (the oracle
  * already pins that). Measures per-task shuffle-read RECORDS via a
  * listener while joining a fixture with one hot key (80% of rows) and
  * asserts the distribution: the unsalted shuffle join funnels the hot
  * key through one reduce task (max-task input far above the task
  * mean), the salted join (fact side salted, dimension replicated per
  * salt — the q_salted_join shape) stays near-uniform.
  *
  * The demonstration uses the JOIN path deliberately: for group-by
  * aggregation, partial (map-side) aggregation already collapses each
  * hot key to one record per map task before the shuffle, so record
  * skew cannot survive — that, not salting, is the aggregation-side
  * scale story (q_salted_agg exists for the bytes-skew / no-partial
  * cases). Joins have no partial reduction: every fact row crosses the
  * wire, which is where the salt earns its keep.
  *
  * AQE and auto-broadcast are disabled for the measurement: AQE's skew
  * splitting would fix the unsalted plan at runtime (that is its job —
  * the manual salt is for the cases AQE cannot see), and a broadcast
  * join would skip the shuffle entirely.
  */
class SkewSpec extends SparkSpec {

  private val Salt = 8

  /** Per-stage shuffle-read record counts, one entry per task. */
  private class TaskRecords extends SparkListener {
    val byStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      val recs = Option(te.taskMetrics).map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
      byStage.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += recs
    }
    def snapshot(): Map[Int, Seq[Long]] = synchronized { byStage.view.mapValues(_.toSeq).toMap }
  }

  /** max-task / mean-task shuffle-read records of the heaviest shuffle
    * stage produced while running `action`.
    */
  private def shuffleSkewRatio(df: DataFrame): Double = {
    // drain still-queued events from earlier jobs BEFORE registering,
    // so the fresh listener cannot receive a predecessor's TaskEnd
    // events and pollute this measurement
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
    val l = new TaskRecords
    spark.sparkContext.addSparkListener(l)
    try {
      df.collect()
      // and drain again so every TaskEnd of THIS job has been delivered
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      val stages = l.snapshot().filter(_._2.sum > 0)
      assert(stages.nonEmpty, "no shuffle-read stage observed")
      val tasks = stages.maxBy(_._2.sum)._2
      val mean = tasks.sum.toDouble / tasks.length
      tasks.max / mean
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("salted join keeps max-task input near the mean; unsalted exceeds it") {
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    val bcast = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 100k fact rows; key 1 holds 80%; the rest spread over 97 keys
      val fact = spark.range(100000L).select(
        when(col("id") % 10 < 8, lit(1L)).otherwise(col("id") % 97 + 2).as("fk"),
        col("id").as("v"))
      val dim = spark.range(200L).select(col("id").as("dk"))

      val plain = fact.join(dim, col("fk") === col("dk"))
        .groupBy(col("dk")).agg(count(lit(1)).as("n"))

      val saltedFact = fact.withColumn("salt", pmod(col("v"), lit(Salt.toLong)))
      val saltedDim = dim.withColumn("salt", explode(sequence(lit(0L), lit(Salt - 1L))))
      val salted = saltedFact
        .join(saltedDim, col("fk") === col("dk") && saltedFact("salt") === saltedDim("salt"))
        .groupBy(col("dk")).agg(count(lit(1)).as("n"))

      // same answer first (the correctness the oracle pins at sf scale)
      assert(plain.collect().sortBy(_.getLong(0)).toSeq ==
        salted.collect().sortBy(_.getLong(0)).toSeq)

      val plainRatio = shuffleSkewRatio(plain)
      val saltedRatio = shuffleSkewRatio(salted)
      info(f"unsalted max/mean task input: $plainRatio%.2f; salted: $saltedRatio%.2f")
      assert(plainRatio > 2.5,
        f"fixture failed to produce skew (max/mean $plainRatio%.2f): hot key not concentrated")
      assert(saltedRatio <= 2.0,
        f"salted join still skewed: max-task input $saltedRatio%.2f x mean")
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }
}
