package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Curated-corpus parquet sink — the write side of the pipeline: after
  * dedup/filter/mix, the corpus ships as partitioned parquet that the
  * NEXT consumer (tokenizer, trainer, another Spark job) can scan with
  * partition pruning and per-file parallelism.
  *
  * Write discipline for 100 TB:
  *  - `partitionBy` a LOW-cardinality column (source/domain/date) so
  *    directory listing stays sane and consumers prune scans;
  *  - one shuffle to co-locate each partition value before the write —
  *    without it every task writes a file into every partition dir
  *    (tasks × partitions small files, the classic fragmentation bug);
  *  - rows clustered by `doc_id` inside files (stable ordering →
  *    reproducible files, better column compression);
  *  - `maxRecordsPerFile` bounds file size so a hot partition splits
  *    into parallel-scannable files instead of one giant one.
  */
object CorpusSink {

  def write(df: DataFrame, path: String, partitionCol: String = "source",
      maxRecordsPerFile: Long = 1000000L, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(col(partitionCol))
      .sortWithinPartitions(col(partitionCol), col("doc_id"))
      .write
      .mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Bucketed-table sink — the CO-LOCATED JOIN path: two tables
    * bucketed on the same key with the same bucket count join WITHOUT
    * any exchange (each task reads matching bucket files from both
    * sides). At 100 TB this is the difference between shuffling the
    * corpus for every doc-keyed join (scores, dedup verdicts, token
    * counts — the joins every curation pass repeats) and shuffling it
    * ONCE at write time. `sortBy` within buckets additionally removes
    * the join's sort. BucketedJoinSpec proves the property from the
    * physical plan: zero ShuffleExchange under the join.
    *
    * Parquet `path`-based writes cannot carry bucket metadata — Spark
    * buckets only via the catalog — so this is `saveAsTable` (the
    * table lives in the session warehouse; production points
    * `spark.sql.warehouse.dir` at shared storage).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCol: String = "doc_id", mode: SaveMode = SaveMode.Overwrite): Unit =
    // co-locate each bucket's rows in one task before the write — the
    // same fragmentation rule as [[write]]: without it every input
    // task emits a file into every bucket (tasks × buckets files), and
    // multi-file buckets force Spark to re-sort at read time, losing
    // the sortBy sort-elimination this sink exists for
    EstateIndex.saveBucketed(df.repartition(buckets, col(bucketCol)), table, Seq(bucketCol),
      buckets, mode)
}
