package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The memo contract: bounded (LRU past maxEntries, with the evicted
  * checkpoint's storage released), timed (build seconds land in the
  * shared log the bench `artifacts` map reads), releasable (one public
  * clear path that drops scalars and fits too), and never caching a
  * transparently built plan — for values of any type.
  */
class MemoSpec extends SparkSpec {

  private def ckpt(n: Long): DataFrame =
    spark.range(n).toDF("id").localCheckpoint(eager = true)

  private def checkpointRdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  test("builds once per key and logs the build") {
    val m = Memo[DataFrame]("memospec_once")
    var builds = 0
    def get(k: String) = m(spark, k) { builds += 1; ckpt(10) }
    val a = get("k1")
    assert(get("k1") eq a, "second lookup must return the memoized relation")
    assert(builds == 1)
    get("k2")
    assert(builds == 2)
    val log = Memo.buildLog
    assert(log.contains("memospec_once") && log("memospec_once") >= 0.0,
      s"build seconds must land in the shared log: $log")
    m.clear()
  }

  test("LRU-evicts past maxEntries and releases the evicted checkpoint") {
    val m = Memo[DataFrame]("memospec_lru", maxEntries = 2)
    val first = m(spark, "a")(ckpt(5))
    val firstRdds = checkpointRdds(first)
    assert(firstRdds.nonEmpty && firstRdds.forall(_.getStorageLevel != StorageLevel.NONE),
      "an eager localCheckpoint must hold materialized storage")
    m(spark, "b")(ckpt(5))
    // touch "a" so "b" is the LRU entry, then overflow with "c"
    m(spark, "a")(fail("'a' must still be memoized"))
    m(spark, "c")(ckpt(5))
    m(spark, "a")(fail("the recently-touched entry must survive eviction"))
    var rebuilt = false
    m(spark, "b") { rebuilt = true; ckpt(5) }
    assert(rebuilt, "the LRU entry must have been evicted")
    m.clear()
  }

  test("clear releases the checkpointed storage (the public release path)") {
    val m = Memo[DataFrame]("memospec_release")
    val df = m(spark, "k")(ckpt(7))
    val rdds = checkpointRdds(df)
    assert(rdds.nonEmpty)
    m.clear()
    assert(rdds.forall(_.getStorageLevel == StorageLevel.NONE),
      "clear() must unpersist the checkpointed RDD blocks")
    var rebuilt = false
    m(spark, "k") { rebuilt = true; ckpt(7) }
    assert(rebuilt)
    m.clear()
  }

  test("a variant is its own entry of the same dataset") {
    val m = Memo[Int]("memospec_variant")
    assert(m(spark, "ds", "r=1")(1) == 1)
    assert(m(spark, "ds", "r=2")(2) == 2)
    assert(m(spark, "ds", "r=1")(fail("variant r=1 must still be memoized")) == 1)
    m.clear()
  }

  test("a scalar and a fit are each built once and dropped by releaseAll") {
    val anchor = Memo[Long]("memospec_scalar")
    val fit = Memo.fits[IndexedSeq[Double]]("memospec_fit_once")
    var scalarBuilds = 0
    var fitBuilds = 0
    def both() = (
      anchor(spark, "ds") { scalarBuilds += 1; 42L },
      fit(spark, "ds") { fitBuilds += 1; IndexedSeq(1.0, 2.0) })
    val buildsBefore = Memo.buildCount
    assert(both() == ((42L, IndexedSeq(1.0, 2.0))))
    both()
    assert(scalarBuilds == 1 && fitBuilds == 1)
    assert(Memo.buildCount == buildsBefore + 2, "scalar and fit builds are logged")
    assert(fit.snapshot.keySet == Set("ds"), "a fit is keyed by its dataset alone")
    Memo.releaseAll()
    assert(fit.snapshot.isEmpty)
    both()
    assert(scalarBuilds == 2 && fitBuilds == 2, "releaseAll must drop scalars and fits")
    Memo.releaseAll()
  }

  test("a tuple holding a checkpoint is counted by storageBytes and unpersisted on clear") {
    Memo.releaseAll()
    val m = Memo[(Long, DataFrame)]("memospec_tuple")
    val (n, df) = m(spark, "k")((3L, ckpt(20000)))
    assert(n == 3L && df.count() == 20000L)
    val rdds = checkpointRdds(df)
    assert(rdds.nonEmpty && rdds.forall(_.getStorageLevel != StorageLevel.NONE))
    assert(Memo.storageBytes(spark) > 0L, "the tuple's checkpoint must count as memo storage")
    m.clear()
    assert(rdds.forall(_.getStorageLevel == StorageLevel.NONE),
      "clear() must unpersist a checkpoint held inside a tuple")
    assert(Memo.storageBytes(spark) == 0L)
  }

  test("a build inside Mat.withTransparent is returned but not cached") {
    val m = Memo[DataFrame]("memospec_transparent")
    var builds = 0
    def get() = m(spark, "k") { builds += 1; Mat(spark.range(5).toDF("id")) }
    val seen = Mat.withTransparent()(get())
    assert(!seen.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "the transparent build must carry its full plan")
    Mat.withTransparent()(get())
    assert(builds == 2 && m.snapshot.isEmpty, "a transparent build must never be cached")
    val stored = get()
    assert(builds == 3 && stored.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(get() eq stored)
    m.clear()
  }

  test("a plain build is stored as a checkpoint leaf, in a tuple too") {
    val m = Memo[DataFrame]("memospec_plain")
    val stored = m(spark, "k")(spark.range(0, 50, 1, 1).toDF("id").filter(col("id") % 2 === 0))
    assert(stored.queryExecution.analyzed.isInstanceOf[LogicalRDD], "the memo must checkpoint the build")
    assert(checkpointRdds(stored).forall(_.getStorageLevel != StorageLevel.NONE))
    assert(stored.count() == 25L)
    val pairs = Memo[(Long, DataFrame)]("memospec_plain_pair")
    val (_, inPair) = pairs(spark, "k")((1L, spark.range(0, 8, 1, 1).toDF("id")))
    assert(inPair.queryExecution.analyzed.isInstanceOf[LogicalRDD], "a tuple's frame is checkpointed too")
    m.clear()
    pairs.clear()
  }

  test("an already-checkpointed build is not checkpointed again") {
    val m = Memo[DataFrame]("memospec_ckpt_once")
    val built = spark.range(0, 10, 1, 1).toDF("id").localCheckpoint(eager = true)
    val stored = m(spark, "k")(built)
    val ids = checkpointRdds(stored).map(_.id)
    assert(ids.size == 1, s"one checkpoint leaf expected, got $ids")
    assert(ids == checkpointRdds(built).map(_.id), "the memo must keep the build's own checkpoint")
    m.clear()
  }

  test("a transparent build is neither cached nor checkpointed") {
    val m = Memo[DataFrame]("memospec_transparent_plain")
    var builds = 0
    def get() = m(spark, "k") { builds += 1; spark.range(5).toDF("id").filter(col("id") > 1) }
    val seen = Mat.withTransparent()(get())
    assert(checkpointRdds(seen).isEmpty, "the transparent build must carry its full plan")
    assert(builds == 1 && m.snapshot.isEmpty, "a transparent build must never be cached")
    assert(checkpointRdds(get()).nonEmpty && builds == 2)
    m.clear()
  }

  test("a persisted entry is read from its store after releaseAll, under the DatasetStore name") {
    val ds = java.nio.file.Files.createTempDirectory("memo_store").toString
    spark.range(10).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.parquet(s"$ds/base.parquet")
    val m = Memo.persisted("memospec_stored", version = "v1")
    var builds = 0
    def get() = m(spark, ds, "cap8") {
      builds += 1
      spark.read.parquet(s"$ds/base.parquet").filter(col("id") < 5)
    }
    // the name a DatasetStore.persisted(spark, ds, "memospec_stored_cap8", ...)
    // call published under: existing stores stay readable
    val dir = DatasetStore.warehousePath(spark)
      .resolve(s"graft_memospec_stored_cap8_${ds.replaceAll("[^A-Za-z0-9]+", "_")}")
    try {
      val rows = get().collect().toSet
      assert(builds == 1 && rows.size == 5)
      assert(java.nio.file.Files.isRegularFile(dir.resolve("_graft_sig")), s"no store at $dir")
      Memo.releaseAll()
      val again = get()
      assert(builds == 1, "the store must serve the entry after releaseAll, with no build")
      assert(again.queryExecution.analyzed.isInstanceOf[LogicalRDD] && again.collect().toSet == rows)
    } finally {
      m.clear()
      graft.sources.TableUtil.deletePath(dir.toString)
      graft.sources.TableUtil.deletePath(ds)
    }
  }

  test("a second memo under a taken name throws") {
    Memo[Long]("memospec_dup")
    val e = intercept[IllegalArgumentException](Memo[String]("memospec_dup"))
    assert(e.getMessage.contains("memospec_dup"))
  }

  test("FrozenFit.single throws after fits on two datasets") {
    val fit = Memo.fits[Int]("memospec_frozen")
    assert(graft.pipeline.FrozenFit.single(fit, "spec fit").isEmpty)
    fit(spark, "ds_a")(1)
    assert(graft.pipeline.FrozenFit.single(fit, "spec fit").contains(1))
    fit(spark, "ds_b")(2)
    val e = intercept[IllegalArgumentException](graft.pipeline.FrozenFit.single(fit, "spec fit"))
    assert(e.getMessage.contains("ds_a") && e.getMessage.contains("ds_b"))
    Memo.releaseAll()
    assert(graft.pipeline.FrozenFit.single(fit, "spec fit").isEmpty)
  }

  test("every per-dataset cache is a Memo: no TrieMap or reset seam elsewhere in src/main") {
    // a hand-rolled cache comes with its own reset seam and stays
    // invisible to releaseAll and storageBytes
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala"))
    assert(files.length > 50, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    val resetDef = raw"\bdef (reset\w*)\s*\(\s*\)".r
    val offenders = files.toSeq.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val isMemo = f.endsWith(java.nio.file.Paths.get("graft", "core", "Memo.scala"))
      val trie = if (!isMemo && text.contains("TrieMap")) Seq(s"$f: TrieMap") else Nil
      val seams = resetDef.findAllMatchIn(text).map(_.group(1))
        .filterNot(n => isMemo && n == "resetLog").map(n => s"$f: def $n()")
      trie ++ seams
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
