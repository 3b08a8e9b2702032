package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, expr}

import graft.SparkSpec
import graft.core.Memo

/** `Memo.releaseAll` is the library caller's "done with these
  * datasets" path: after it, a dataset rewritten in place must be
  * derived from its new contents — no scalar anchor, fit or table name
  * may survive the release.
  */
class ReleaseAllSpec extends SparkSpec {

  test("releaseAll leaves no stale state: a dataset rewritten in place reads like a fresh one") {
    val src = Paths.get("/root/testdata/sf0.001/events.parquet")
    val a = Files.createTempDirectory("releaseall_a")
    val b = Files.createTempDirectory("releaseall_b")
    Files.copy(src, a.resolve("events.parquet"))
    def windowStats(dir: java.nio.file.Path) =
      graft.SparkEntry.queries("q_window_stats")(spark, dir.toString).collect()
        .map(_.toSeq).toSet
    val before = windowStats(a)
    assert(before.nonEmpty)

    // the same events a month later: every trailing window re-anchors
    val later = Files.createTempDirectory("releaseall_later").resolve("events.parquet")
    Tables.events(spark, a.toString)
      .withColumn("ts", col("ts") + expr("INTERVAL 30 DAYS"))
      .write.parquet(later.toString)
    Files.delete(a.resolve("events.parquet"))
    for (dir <- Seq(a, b)) {
      val dst = dir.resolve("events.parquet")
      Files.createDirectory(dst)
      later.toFile.listFiles().foreach(f => Files.copy(f.toPath, dst.resolve(f.getName)))
    }
    Memo.releaseAll()
    val rewritten = windowStats(a)
    val fresh = windowStats(b)
    assert(rewritten == fresh,
      s"stale state survived releaseAll: ${(rewritten -- fresh).take(3)} vs ${(fresh -- rewritten).take(3)}")
    Memo.releaseAll()
  }
}
