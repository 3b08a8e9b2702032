package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.pipeline.Bpe

/** The frozen-merge BPE count is a narrow replace-chain projection, so
  * the SAME transform must produce identical counts on a streaming
  * DataFrame — live ingest metering the token budget with the exact
  * tokenizer the batch pipeline froze (no second implementation).
  */
class StreamingBpeSpec extends SparkSpec {
  import spark.implicits._

  test("streamed BPE counts equal batch counts under the same frozen merges") {
    graft.core.Memo.releaseAll()
    try {
      val docs: Seq[(Long, String)] = Seq(
        1L -> "aaab aaab ab", 2L -> "aab xq", 3L -> "aaa", 4L -> "a  b")
      val dir = java.nio.file.Files.createTempDirectory("sbpe").toString
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val merges = Bpe.mergesFor(spark, dir)
      val batch = Bpe.tokenCountsOf(docs.toDF("doc_id", "text"), merges)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = Bpe.tokenCountsOf(mem.toDF().toDF("doc_id", "text"), merges)
        .writeStream.format("memory").queryName("bpe_counts")
        .outputMode("append").start()
      try {
        docs.grouped(2).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        val streamed = spark.table("bpe_counts").collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(streamed == batch, "stream and batch BPE counts diverged")
        // sanity from the hand-derived BpeSpec fixture: full merges
        assert(batch(1L) == ((3L, 3L)) && batch(3L) == ((1L, 1L)))
      } finally q.stop()
    } finally graft.core.Memo.releaseAll()
  }
}
