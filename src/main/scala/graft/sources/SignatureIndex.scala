package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup
import graft.queries.Tables

/** Persisted MinHash signature INDEX — the cross-JOB form of the
  * per-session signature memo (`Dedup.corpusSignatures`): the banded
  * signature rows of a corpus snapshot written as a BUCKETED table
  * keyed by the band key, so any later job joins against the index
  * with ZERO shuffle of the index side. This is the artifact layout a
  * 100 TB dedup estate maintains: each crawl/snapshot pays its
  * signature pass and ONE co-locating shuffle at write time, and every
  * subsequent operation — cross-snapshot near-dup sweeps, ingest
  * checks, index-health reports — reads bucket files directly.
  *
  * Cross-snapshot dedup is the marquee consumer: two snapshots' band
  * tables bucketed identically on (band, bh) sort-merge join with no
  * exchange on either side (SignatureIndexSpec proves it from the
  * physical plan, the BucketedJoinSpec contract), then verify by
  * signature agreement exactly like `q_minhash_incremental` — so
  * re-deduplicating crawl N against crawls 1..N-1 never re-shuffles
  * the historical corpus.
  */
object SignatureIndex extends EstateIndex("sig", "signature_snapshots",
    keys = Seq("band", "bh"), cols = Seq("doc_id", "sig", "band", "bh")) {

  /** Number of signature-agreement positions (of 16) for est ≥ 0.5. */
  private val MinAgree = 8

  /** Write a corpus snapshot's banded signature index. One shuffle
    * (the bucket co-location) per snapshot, ever. Compaction
    * ([[merge]]) is a pure union: signature band rows are per-document
    * facts (a doc's banded signature never depends on any other doc),
    * so crawls 1..N compact into one index a sweep band-joins in one
    * pass instead of N, with no signature recomputed and no raw
    * document read.
    */
  def write(docs: DataFrame, table: String): Unit =
    save(colocate(Dedup.bandedSignatures(docs)), table)

  protected def lanes(spark: SparkSession, sfDir: String): (Int, String) => Unit = {
    val docs = Tables.documents(spark, sfDir)
    (parity, table) => write(docs.filter(col("doc_id") % 2 === parity), table)
  }

  /** RETENTION: delete one snapshot's documents from a compacted
    * estate index without recompaction. The estate was built by pure
    * union, so the removed snapshot's index rows are exactly the rows
    * to delete — the exchange-free anti join on (band, bh, doc_id) of
    * [[subtract]].
    */
  def removeSnapshot(spark: SparkSession, estate: String, removed: String, out: String): Unit =
    subtract(spark, estate, removed, out, "doc_id")

  protected def expire(spark: SparkSession, estate: String, removed: String,
      survivors: Seq[String], out: String): Unit = removeSnapshot(spark, estate, removed, out)

  /** Pair-level cross-snapshot matches — every (B doc, A doc) band
    * candidate whose signature agreement estimates Jaccard ≥ 0.5, one
    * row per pair. The seam [[crossSnapshotMatches]] aggregates and
    * the sweep's recall eval ([[graft.pipeline.Dedup
    * .crossSnapshotRecall]]) joins against, so the eval can never
    * measure a different verdict than the sweep emits.
    *
    * Bucket-capped like the session LSH path ([[graft.pipeline.Dedup
    * .MinhashBucketCap]], the PhashIndex sweep's contract): a (band,
    * bh) bucket is a full 4-hash agreement — its members are almost
    * certainly one near-dup mega-cluster — but C(n, 2) is quadratic
    * whether or not the pairs are genuine, so a bucket exceeding the
    * cap on either side drops before the join ([[cappedPairs]];
    * mirrored in both oracles; non-binding on every gate corpus).
    */
  def crossSnapshotPairs(spark: SparkSession, indexA: String, indexB: String): DataFrame =
    crossSnapshotPairsCapped(spark, indexA, indexB, Dedup.MinhashBucketCap)

  /** [[crossSnapshotPairs]] with an explicit cap — the spec seam. */
  private[graft] def crossSnapshotPairsCapped(spark: SparkSession, indexA: String,
      indexB: String, cap: Long): DataFrame =
    cappedPairs(spark, indexA, indexB, cap,
      a = Seq(col("doc_id").as("corpus_doc"), col("sig").as("sig_c")),
      b = Seq(col("doc_id"), col("sig")))(_
      .select(col("doc_id"), col("corpus_doc"),
        round(size(filter(zip_with(col("sig"), col("sig_c"), (x, y) => x === y), p => p))
          .cast("double") / lit(16.0), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= MinAgree / 16.0))

  /** Cross-snapshot near-dup verdicts: every doc of snapshot B with a
    * signature-verified match (est ≥ 0.5) in snapshot A, with the best
    * match (highest estimate, lowest doc tie-break) — the
    * `q_minhash_incremental` verdict computed index-against-index.
    * With both tables written by [[write]], the band join plans NO
    * exchange on either side.
    */
  def crossSnapshotMatches(spark: SparkSession, indexA: String, indexB: String): DataFrame =
    EstateIndex.verdicts(crossSnapshotPairs(spark, indexA, indexB), "doc_id", "corpus_doc",
      col("est_jaccard").desc, "est_jaccard" -> "best_est")

  // ---- q_cross_snapshot_dedup ------------------------------------------

  /** q_cross_snapshot_dedup: the registered form of the marquee
    * cross-JOB capability — re-deduplicating one corpus snapshot
    * against another entirely index-against-index. The dataset splits
    * into snapshot A (even doc ids — the historical corpus) and
    * snapshot B (odd — the new crawl); each side's banded signature
    * index is a BUCKETED table written once by [[write]], and the
    * verdicts are [[crossSnapshotMatches]] — every B doc with a
    * signature-verified match (est ≥ 0.5) in A, with match count and
    * best match.
    *
    * Scale: this is the 100 TB dedup-estate access pattern made a
    * first-class query — each snapshot pays its signature pass and ONE
    * co-locating shuffle at write time, ever; the band join between
    * the two indexes plans ZERO exchanges on either side
    * (SignatureIndexSpec asserts it from the physical plan), so
    * checking crawl N against crawls 1..N−1 never re-shuffles a byte
    * of historical corpus. Only the per-B-doc verdict
    * aggregation/window shuffles, keyed on the (match-bounded) B doc
    * ids.
    */
  def crossSnapshotDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, tb) = snapshotTables(spark, sfDir)
    crossSnapshotMatches(spark, ta, tb)
  }

  /** DuckDB mirror: the [[Dedup.minhashIncrementalSql]] verdict shape
    * on the even/odd snapshot split, WITHOUT the is_new completion —
    * the cross-snapshot sweep reports matches, not the full B roster.
    */
  val crossSnapshotDedupSql: String =
    s"""
    WITH shdoc AS (${Dedup.shingleHashesSql()}),
    sigs AS (SELECT doc_id, ${Dedup.sigSqlExpr} AS sig FROM shdoc),
    bands AS (
      SELECT doc_id, sig, b.band,
             md5(array_to_string(sig[4 * b.band + 1 : 4 * b.band + 4], ',')) AS bh
      FROM sigs CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    keepbh AS (
      SELECT band, bh FROM bands WHERE doc_id % 2 = 0 GROUP BY 1, 2 HAVING count(*) <= ${Dedup.MinhashBucketCap}
      INTERSECT
      SELECT band, bh FROM bands WHERE doc_id % 2 = 1 GROUP BY 1, 2 HAVING count(*) <= ${Dedup.MinhashBucketCap}
    ),
    matches AS (
      SELECT DISTINCT n.doc_id, c.doc_id AS corpus_doc,
             round(CAST(len([i for i in generate_series(1, 16) if n.sig[i] = c.sig[i]]) AS DOUBLE) / 16.0, 6) AS est_jaccard
      FROM bands n JOIN bands c ON n.band = c.band AND n.bh = c.bh
      JOIN keepbh k ON n.band = k.band AND n.bh = k.bh
      WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
        AND round(CAST(len([i for i in generate_series(1, 16) if n.sig[i] = c.sig[i]]) AS DOUBLE) / 16.0, 6) >= ${MinAgree / 16.0}
    ),
    ranked AS (
      SELECT doc_id, corpus_doc, est_jaccard,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY est_jaccard DESC, corpus_doc ASC) AS rk
      FROM matches
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
           min(CASE WHEN rk = 1 THEN corpus_doc END) AS dup_of,
           min(CASE WHEN rk = 1 THEN est_jaccard END) AS best_est
    FROM ranked GROUP BY 1"""

  // ---- q_sig_index_stats ---------------------------------------------------

  /** q_sig_index_stats: the [[graft.pipeline.Dedup.bandStats]] health
    * readout computed over the COMPACTED PERSISTED estate index instead
    * of the session signature memo. The oracle is `bandStatsSql`
    * itself — the whole-corpus truth — so the query simultaneously
    * gates (a) the merge (a lost or duplicated band row anywhere would
    * shift a posting count) and (b) the claim that the persisted
    * layout carries exactly the session artifact's information.
    *
    * Scale: grouping by a prefix of the bucket key reads the bucket
    * files without an index-side exchange; output is 4 rows.
    */
  def sigIndexStats(spark: SparkSession, sfDir: String): DataFrame =
    bandStatsOf(spark.table(estateTable(spark, sfDir)))

  /** The q_band_stats aggregation over any persisted band index —
    * shared by the estate and post-retention readouts. Grouping by a
    * prefix of the bucket key reads the bucket files exchange-free.
    */
  private def bandStatsOf(idx: DataFrame): DataFrame = {
    val buckets = idx.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("n"))
    buckets.groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_postings"),
        max(col("n")).as("max_bucket"),
        sum(expr("n * (n - 1) div 2")).as("candidate_pairs"))
  }

  /** DuckDB oracle: the session band-stats truth, verbatim. */
  val sigIndexStatsSql: String = Dedup.bandStatsSql

  // ---- q_sig_retention -------------------------------------------------

  /** q_sig_retention: the estate lifecycle's DELETE leg, gated — crawl
    * B expires from the compacted estate via the exchange-free anti
    * join ([[removeSnapshot]]) and the survivor index's band stats must
    * equal the whole-corpus truth restricted to snapshot A's documents
    * (the oracle recomputes that restriction from raw text). A single
    * under- or over-deleted band row anywhere shifts a posting count
    * and hash-mismatches, so add → compact → expire is now verified
    * end to end on the same artifact chain.
    */
  def sigRetention(spark: SparkSession, sfDir: String): DataFrame =
    bandStatsOf(spark.table(retainedTable(spark, sfDir)))

  /** DuckDB mirror: [[Dedup.bandStatsSql]]'s pipeline over the
    * surviving (even-id) documents only.
    */
  val sigRetentionSql: String =
    s"""
    WITH shdoc0 AS (${Dedup.shingleHashesSql()}),
    shdoc AS (SELECT * FROM shdoc0 WHERE doc_id % 2 = 0),
    sigs AS (SELECT doc_id, ${Dedup.sigSqlExpr} AS sig FROM shdoc),
    bands AS (
      SELECT doc_id, b.band,
             md5(array_to_string(sig[4 * b.band + 1 : 4 * b.band + 4], ',')) AS bh
      FROM sigs CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    buckets AS (SELECT band, bh, CAST(count(*) AS BIGINT) AS n FROM bands GROUP BY 1, 2)
    SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_postings,
           CAST(max(n) AS BIGINT) AS max_bucket,
           CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY 1"""
}
