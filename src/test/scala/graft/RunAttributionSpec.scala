package graft

import org.apache.spark.sql.functions._

/** Bench's per-run attribution: the driver gap is the run's wall time
  * minus the UNION of its job intervals, and every job of a run —
  * concurrent legs included — carries the run's tag.
  */
class RunAttributionSpec extends SparkSpec {
  import RunAttribution.driverGapMs

  test("driver gap: disjoint jobs leave the space between them") {
    assert(driverGapMs(0, 100, Seq((10L, 20L), (40L, 70L))) == 60)
    assert(driverGapMs(0, 100, Nil) == 100)
  }

  test("driver gap: a nested job adds no coverage") {
    assert(driverGapMs(0, 100, Seq((10L, 90L), (20L, 30L))) == 20)
  }

  test("driver gap: overlapping jobs count their union once") {
    assert(driverGapMs(0, 100, Seq((30L, 60L), (10L, 40L), (55L, 80L))) == 30)
  }

  test("driver gap: a job still open at the end runs to the end; jobs are clipped to the run") {
    assert(driverGapMs(0, 100, Seq((70L, -1L))) == 70)
    assert(driverGapMs(50, 100, Seq((10L, 60L), (90L, 200L))) == 30)
  }

  test("an unattributed run writes the same six fields, each null") {
    val keys = "\"(\\w+)\":".r
    def names(json: String) = keys.findAllMatchIn(json).map(_.group(1)).toSeq
    assert(names(RunAttribution.nullFields) == names(RunAttribution(1, 2, 3L, 4.0, 5.0, 6L).jsonFields))
    assert(RunAttribution.nullFields.split(",").forall(_.endsWith(":null")), RunAttribution.nullFields)
  }

  test("a Jobs.concurrently pair under the bench tag: two jobs, gap within the wall") {
    val sc = spark.sparkContext
    val listener = new RunAttribution.Listener
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(RunAttribution.RunKey, "pair#0")
      val startMs = System.currentTimeMillis()
      graft.core.Jobs.concurrently(spark,
        spark.range(0, 200000, 1, 4).filter(col("id") % 7 === 0).collect(),
        spark.range(0, 200000, 1, 4).filter(col("id") % 5 === 0).collect())
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(RunAttribution.RunKey, null)
      spark.range(10).count() // untagged: not attributed
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
      val a = listener.take("pair#0", startMs, endMs)
      assert(a.jobs == 2, a)
      assert(a.stages == 2, a)
      assert(a.driverGapMs >= 0 && a.driverGapMs <= endMs - startMs, a)
      assert(a.jsonFields.contains("\"jobs\":2,"), a.jsonFields)
      assert(listener.take("pair#0", startMs, endMs).jobs == 0, "take forgets the runs it has read")
    } finally {
      sc.setLocalProperty(RunAttribution.RunKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
