package graft.functions

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Anomaly, WindowStats}

/** [[Param]] is a drop-in for `lit` on per-trigger scalars: bit-identical
  * results on the trailing-stats and detect paths (generated and
  * interpreted evaluation), and generated source that does not depend on
  * the value, so a re-planned trigger reuses the compiled classes.
  */
class ParamSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-03-01 12:00:00")
  private def at(secAgo: Long) = new Timestamp(t0.getTime - secAgo * 1000)
  private val windows = Seq(60L, 3600L, 43200L, 604800L)

  /** The NestedTrailingSpec sample set: ages on and around every window
    * boundary (age 0, exactly w, w ± 1), beyond the max window, and in
    * the future.
    */
  private lazy val samples: DataFrame = {
    val rnd = new scala.util.Random(42)
    (1 to 400).map { i =>
      val topic = s"t${i % 3}"
      val path = if (i % 2 == 0) "value" else "props.k"
      val age = Seq(0L, 59L, 60L, 61L, 3599L, 3600L, 3601L, 43200L,
        604800L, 604801L, 900000L, -5L)(i % 12) + (i / 12) * 7L
      (topic, path, rnd.nextDouble() * 400 - 100, at(age))
    }.toDF("topic", "path", "value", "produced")
      // checkpointed like the stream's store segments: over a local
      // relation the optimizer would pre-evaluate the filters itself
      .localCheckpoint(eager = true)
  }

  /** Rows with doubles as raw bits: equality is bit-exactness. */
  private def bits(df: DataFrame): Set[Seq[Any]] =
    df.collect().map((r: Row) => r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).toSet

  /** Spikes far outside every window's 3σ band at age 0, exactly w,
    * inside, and in the future (must not be judged).
    */
  private lazy val spikes: DataFrame =
    (for (topic <- Seq("t0", "t1", "t2"); path <- Seq("value", "props.k"); age <- Seq(0L, 60L, 30L, 3600L, -5L))
      yield (topic, path, 10000.0, at(age))).toDF("topic", "path", "value", "produced")
      .localCheckpoint(eager = true)

  private def stats(now: Column) = WindowStats.rawTrailingStats(samples, windows, now)
  private def detect(now: Column) = Anomaly.detect(samples.union(spikes), stats(now), now)

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertParity(): Unit = {
    val viaLit = bits(stats(lit(t0)))
    assert(viaLit.nonEmpty)
    assert(bits(stats(Param.timestamp(t0))) == viaLit)
    val detLit = bits(detect(lit(t0)))
    assert(detLit.nonEmpty, "detect parity is vacuous: nothing flagged")
    assert(bits(detect(Param.timestamp(t0))) == detLit)
  }

  test("param and lit give bit-identical stats and detections (whole-stage codegen)") {
    withConfs("spark.sql.codegen.wholeStage" -> "true")(assertParity())
  }

  test("param and lit give bit-identical stats and detections (interpreted)") {
    withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assertParity())
  }

  test("bigint and timestamp params evaluate to their value") {
    val r = spark.range(1).select(Param.long(-7L), Param.timestampMicros(1500000L), Param.timestamp(t0)).head()
    assert(r.getLong(0) == -7L)
    assert(r.getTimestamp(1) == new Timestamp(1500L))
    assert(r.getTimestamp(2) == t0)
  }

  test("plans differing only in a param value generate identical source") {
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      def sources(df: DataFrame): Seq[String] =
        codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
      val later = new Timestamp(t0.getTime + 45000L)
      for (plan <- Seq[Column => DataFrame](stats, detect)) {
        val a = sources(plan(Param.timestamp(t0)))
        assert(a.nonEmpty)
        val b = sources(plan(Param.timestamp(later)))
        assert(b.size == a.size)
        a.zip(b).foreach { case (x, y) =>
          assert(x == y, x.linesIterator.zip(y.linesIterator).filter(p => p._1 != p._2).take(3).mkString("\n"))
        }
        // the control: an inlined literal changes the source
        assert(sources(plan(lit(later))) != sources(plan(lit(t0))))
      }
    }
  }
}
