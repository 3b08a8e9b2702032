package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the round-17 memo storage-layout policy: a small checkpointed
  * artifact built wide is re-laid to a size-derived partition count
  * with IDENTICAL content, and anything that is not a pure checkpoint
  * leaf passes through untouched (Mat.rightSizeStored via
  * Memo.apply).
  */
class RightSizeSpec extends SparkSpec {
  import spark.implicits._

  test("a small wide checkpoint re-lays to fewer partitions, same rows") {
    val wide = spark.range(0, 1000).toDF("id")
      .repartition(32)
      .withColumn("v", col("id") * 2)
      .localCheckpoint(true)
    assert(wide.rdd.getNumPartitions == 32)
    val sized = Mat.rightSizeStored(wide)
    assert(sized.rdd.getNumPartitions < 32)
    assert(sized.select(sum(col("id")), sum(col("v")), count(lit(1))).head() ==
      wide.select(sum(col("id")), sum(col("v")), count(lit(1))).head())
    assert(sized.as[(Long, Long)].collect().toSet ==
      (0L until 1000L).map(i => (i, i * 2)).toSet)
  }

  test("a non-checkpoint plan passes through unchanged") {
    val df = spark.range(0, 10).toDF("id").repartition(8)
    val out = Mat.rightSizeStored(df)
    assert(out eq df)
  }

  test("the memo applies the policy to checkpointed entries") {
    val memo = Memo[DataFrame]("right_size_spec")
    val stored = memo(spark, "k") {
      spark.range(0, 500).toDF("id").repartition(32).localCheckpoint(true)
    }
    assert(stored.rdd.getNumPartitions < 32)
    assert(stored.count() == 500)
    memo.clear()
  }
}
