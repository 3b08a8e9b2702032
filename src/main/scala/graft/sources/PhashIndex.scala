package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Multimodal

/** Persisted perceptual-hash INDEX — the [[SignatureIndex]] layout for
  * the IMAGE side: a snapshot's phash band rows written as a BUCKETED
  * table keyed by (band, bv), so any later job joins against the index
  * with zero shuffle of the index side. Rows are identical-code
  * REPRESENTATIVES (the round-10 collapse — [[Multimodal
  * .phashMembership]]'s discipline), each carrying its group
  * multiplicity: a million byte-identical thumbnails are ONE index row
  * with `n_members = 1e6`, so a cross-snapshot sweep's band join can
  * never be quadratic in identical assets and the verdicts still
  * report the true copy impact.
  *
  * Consumers: [[crossSnapshotMatches]] (snapshot-against-snapshot image
  * dedup, sort-merge joining two identically-bucketed tables with no
  * exchange on either side — PhashIndexSpec asserts it from the
  * physical plan) and [[ingestStream]] (the stream-static gate: a live
  * asset stream's banded codes join the bucketed table directly, the
  * batch-join shape of [[graft.streaming.PhashState]] pointed at the
  * historical estate).
  */
object PhashIndex extends EstateIndex("phash", "phash_snapshots",
    keys = Seq("band", "bv"), cols = Seq("phash", "rep", "band", "bv", "n_members")) {

  /** Write a snapshot's phash band index. One shuffle (the bucket
    * co-location) per snapshot, ever. One row per (representative,
    * band); identical codes are already collapsed.
    */
  def write(docs: DataFrame, table: String): Unit =
    writeCodes(Multimodal.phashCodesOf(docs), table)

  /** [[write]] from an already-computed `(asset_id, phash)` relation —
    * the seam that lets a caller holding the memoized corpus codes
    * write a snapshot lane WITHOUT re-running the payload decode (the
    * decode is the dominant cost of an index build; see
    * [[lanes]]).
    */
  def writeCodes(codes: DataFrame, table: String): Unit = {
    // .mat: groups feeds BOTH the band explode and the multiplicity
    // join — without the boundary CollapseProject inlines the quadratic
    // pixel fold into both join sides (the documented phashMembership
    // trap; measured 13 s vs ~4 s per snapshot at sf0.1)
    val groups = graft.core.Mat(codes.groupBy(col("phash"))
      .agg(min(col("asset_id")).as("rep"), count(lit(1)).as("n_members")))
    save(colocate(
      Multimodal.phashBandRows(groups.select(col("rep").as("asset_id"), col("phash")))
        .select(col("asset_id").as("rep"), col("phash"), col("band"), col("bv"))
        .join(groups.select(col("phash"), col("n_members")), Seq("phash"))), table)
  }

  protected def lanes(spark: SparkSession, sfDir: String): (Int, String) => Unit = {
    // lanes derive from the memoized corpus membership (one payload
    // decode per dataset EVER, shared with every other phash consumer)
    // — each write then only regroups its lane's codes and pays the
    // bucket co-location shuffle. Before this seam the two lane writes
    // re-decoded the corpus from raw docs: 28.2 s → ~4 s measured at
    // sf0.1.
    val codes = Multimodal.phashMembership(spark, sfDir)
      .select(col("asset_id"), col("phash"))
    (parity, table) => writeCodes(codes.filter(col("asset_id") % 2 === parity), table)
  }

  /** The COMPACTION collapse. Unlike the signature index, phash rows
    * are NOT per-asset facts — they are representative + multiplicity
    * per code GROUP, and the same code can have a representative in
    * several snapshots — so [[merge]] RE-COLLAPSES: group by (phash,
    * band, bv), keep the global minimum representative, sum the
    * multiplicities. The result is bit-identical to [[writeCodes]] over
    * the union of the snapshots' codes (IndexMergeSpec pins it), with
    * no payload decode and no band re-derivation: band rows are a
    * function of the code, so the stored rows already carry them. The
    * re-collapse rides the one co-locating shuffle; a million-asset
    * identical-code group enters and leaves as one row per band.
    */
  override protected def collapse(rows: DataFrame): DataFrame =
    rows.groupBy(col("phash"), col("band"), col("bv"))
      .agg(min(col("rep")).as("rep"), sum(col("n_members")).as("n_members"))
      .select(col("phash"), col("rep"), col("band"), col("bv"), col("n_members"))

  /** The phash index has NO subtractive form on purpose: its rows are
    * code-group AGGREGATES — summed multiplicities subtract, but the
    * min-representative does not — so image-side retention is a
    * [[merge]] over the surviving snapshot tables.
    */
  protected def expire(spark: SparkSession, estate: String, removed: String,
      survivors: Seq[String], out: String): Unit = merge(spark, survivors, out)

  private def hamming(a: String, b: String) =
    bit_count(col(a).bitwiseXOR(col(b))).cast("int").as("hamming")

  /** Pair-level cross-snapshot matches — every (B rep, A rep) band
    * candidate within Hamming [[Multimodal.PhashRadius]], one row per
    * pair. The seam [[crossSnapshotMatches]] aggregates and the
    * sweep's recall eval ([[phashSweepRecall]]) joins against.
    *
    * Bucket-capped like every other phash pair source: identical codes
    * are already one representative, but a SATURATED band pattern (the
    * aHash stop-shingle — e.g. an all-dark band shared by thousands of
    * DISTINCT codes) would still make the bucket join |A|·|B| there,
    * so a (band, bv) bucket whose representative count exceeds
    * [[Multimodal.PhashBucketCap]] on EITHER side is dropped before
    * the join — the [[graft.streaming.PhashState]] /
    * [[Multimodal.repPairsOfReps]] declared-cap semantics, mirrored in
    * the oracle (non-binding on every gate corpus).
    */
  def crossSnapshotPairs(spark: SparkSession, indexA: String, indexB: String): DataFrame =
    crossSnapshotPairsCapped(spark, indexA, indexB, Multimodal.PhashBucketCap)

  /** [[crossSnapshotPairs]] with an explicit cap — the spec seam
    * ([[Multimodal.repPairsOfReps]]' contract), so tests can plant hot
    * buckets small enough to bind.
    */
  private[graft] def crossSnapshotPairsCapped(spark: SparkSession, indexA: String,
      indexB: String, cap: Long): DataFrame =
    cappedPairs(spark, indexA, indexB, cap,
      a = Seq(col("rep").as("corpus_rep"), col("phash").as("phash_c")),
      b = Seq(col("rep"), col("phash"), col("n_members")))(_
      .select(col("rep"), col("n_members"), col("corpus_rep"), hamming("phash", "phash_c"))
      .filter(col("hamming") <= Multimodal.PhashRadius))

  /** Cross-snapshot image near-dup verdicts: every representative of
    * snapshot B within Hamming [[Multimodal.PhashRadius]] of some
    * representative in snapshot A, with the match count, the best
    * match (lowest Hamming, lowest rep tie-break) and B's group
    * multiplicity (how many actual assets the verdict covers). With
    * both tables written by [[write]], the band join plans NO exchange
    * on either side.
    */
  def crossSnapshotMatches(spark: SparkSession, indexA: String, indexB: String): DataFrame =
    EstateIndex.verdicts(crossSnapshotPairs(spark, indexA, indexB), "rep", "corpus_rep",
      col("hamming").asc, "hamming" -> "best_hamming", min(col("n_members")).as("n_copies"))

  /** Stream-static ingest gate against the persisted image index: each
    * in-flight asset's banded code rows join the bucketed table and
    * verify by exact Hamming — STATELESS (no streaming state, no
    * watermark); at estate scale the join reads only the matching
    * bucket files per trigger. An asset matching in several bands
    * emits once per band; consumers take DISTINCT, as with the batch
    * verdicts.
    */
  def ingestStream(docs: DataFrame, indexTable: String,
      bucketCap: Long = Multimodal.PhashBucketCap): DataFrame =
    ingestStreamCoded(Multimodal.phashCodesOf(docs), indexTable, bucketCap)

  /** [[ingestStream]] body over an already-coded (asset_id, phash)
    * relation — the seam that lets a BATCH consumer whose arrivals are
    * a deterministic snapshot half ride the memoized membership codes
    * ([[Multimodal.phashMembership]] — one payload decode per dataset
    * EVER) instead of re-deriving the 32-sample pixel fold per call.
    * The streaming twin keeps computing codes in-flight via
    * [[ingestStream]]; the join/verify structure is char-identical.
    */
  private[graft] def ingestStreamCoded(codes: DataFrame, indexTable: String,
      bucketCap: Long = Multimodal.PhashBucketCap): DataFrame =
    // buckets whose REPRESENTATIVE count exceeds the cap are dropped
    // whole ([[gateSide]]). Oracle mirror: imghot in phashIngestCtesSql.
    Multimodal.phashBandRows(codes)
      .join(gateSide(codes.sparkSession, indexTable, bucketCap,
        col("rep").as("corpus_rep"), col("phash").as("phash_c")), Seq("band", "bv"))
      .select(col("asset_id"), col("corpus_rep"), hamming("phash", "phash_c"))
      .filter(col("hamming") <= Multimodal.PhashRadius)

  // ---- q_cross_snapshot_phash --------------------------------------------

  /** q_cross_snapshot_phash: the registered cross-snapshot IMAGE sweep —
    * snapshot A = even asset ids (the historical estate), snapshot B =
    * odd (the new crawl), each side's representative phash index a
    * bucketed table written once, verdicts via [[crossSnapshotMatches]].
    * The image twin of `q_cross_snapshot_dedup`, same artifact
    * economics: each snapshot pays one co-locating shuffle at write
    * time, and every later sweep is an exchange-free bucket join.
    */
  def crossSnapshotPhash(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, tb) = snapshotTables(spark, sfDir)
    crossSnapshotMatches(spark, ta, tb)
  }

  /** DuckDB mirror: codes are closed-form, so the whole pipeline —
    * group to representatives per side, band-join, Hamming-verify,
    * rank — is static SQL over the documents table.
    */
  val crossSnapshotPhashSql: String =
    s"""
    WITH ${Multimodal.phashCodeCtesSql},
    ga AS (SELECT phash, min(asset_id) AS rep FROM code WHERE asset_id % 2 = 0 GROUP BY 1),
    gb AS (SELECT phash, min(asset_id) AS rep, CAST(count(*) AS BIGINT) AS n_members
           FROM code WHERE asset_id % 2 = 1 GROUP BY 1),
    ba AS (
      SELECT rep, phash, b.band, ${Multimodal.phashBandCaseSql("phash")} AS bv
      FROM ga CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    bb AS (
      SELECT rep, phash, n_members, b.band, ${Multimodal.phashBandCaseSql("phash")} AS bv
      FROM gb CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    keepbk AS (
      SELECT band, bv FROM ba GROUP BY 1, 2 HAVING count(*) <= ${Multimodal.PhashBucketCap}
      INTERSECT
      SELECT band, bv FROM bb GROUP BY 1, 2 HAVING count(*) <= ${Multimodal.PhashBucketCap}
    ),
    m AS (
      SELECT DISTINCT bb.rep, bb.n_members, ba.rep AS corpus_rep,
             CAST(bit_count(xor(bb.phash, ba.phash)) AS INT) AS hamming
      FROM bb JOIN ba ON bb.band = ba.band AND bb.bv = ba.bv
      JOIN keepbk k ON bb.band = k.band AND bb.bv = k.bv
      WHERE bit_count(xor(bb.phash, ba.phash)) <= ${Multimodal.PhashRadius}
    ),
    ranked AS (
      SELECT rep, n_members, corpus_rep, hamming,
             row_number() OVER (PARTITION BY rep
               ORDER BY hamming ASC, corpus_rep ASC) AS rk
      FROM m
    )
    SELECT rep, CAST(count(*) AS BIGINT) AS n_matches,
           min(CASE WHEN rk = 1 THEN corpus_rep END) AS dup_of,
           min(CASE WHEN rk = 1 THEN hamming END) AS best_hamming,
           min(n_members) AS n_copies
    FROM ranked GROUP BY 1"""

  // ---- q_phash_estate_merge ------------------------------------------------

  /** q_phash_estate_merge: the compacted estate index's code-group
    * table — one row per distinct code with its GLOBAL representative
    * and summed multiplicity, read straight off the merged table's
    * band-0 lane (every code has exactly one band-0 row, so the lane
    * IS the group table; no aggregation at read time). The oracle
    * regroups the whole corpus from raw payloads, so the query gates
    * the re-collapse end to end: a representative that failed to take
    * the cross-snapshot minimum, or a multiplicity that double-counted
    * a lane, hash-mismatches.
    *
    * Scale: reading one band of the bucketed table is a pruned scan of
    * ⅓ of the index files; nothing joins, nothing shuffles beyond the
    * driver-side collect the gate itself does.
    */
  def phashEstateMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val t = estateTable(spark, sfDir)
    spark.table(t)
      .filter(col("band") === 0)
      .select(col("rep"), col("phash"), col("n_members"))
  }

  /** DuckDB mirror: group the whole corpus's codes directly. */
  val phashEstateMergeSql: String =
    s"""
    WITH ${Multimodal.phashCodeCtesSql}
    SELECT min(asset_id) AS rep, phash, CAST(count(*) AS BIGINT) AS n_members
    FROM code GROUP BY phash"""

  // ---- q_phash_sweep_recall --------------------------------------------

  /** Sampled B representatives (every 10th odd rep id below the fixed
    * ceiling — ≤ 100 probes at any estate size), the q_ann_recall /
    * q_phash_recall declared-cap contract for the truth leg's
    * broadcast nested-loop join.
    */
  private val SweepProbeMod = 10
  private val SweepProbeMax = 1000L

  /** q_phash_sweep_recall: the IMAGE sweep's recall eval, completing
    * the every-sweep-ships-its-eval rule across all three modalities
    * (text `q_cross_snapshot_recall`, vector `q_embed_sweep_recall`).
    * For each sampled B representative, the truth leg is the
    * brute-force set of A representatives within Hamming
    * [[Multimodal.PhashRadius]] (broadcast NLJ over the bounded
    * probe set), and the approx leg is the sweep's own banded pair
    * verdicts. The 11+11+10 pigeonhole makes the band join COMPLETE
    * within radius 2, so recall < 1 here isolates exactly one cause —
    * a band-bucket effect — which is what an estate operator needs to
    * see before widening bands or raising the cap.
    */
  def phashSweepRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, tb) = snapshotTables(spark, sfDir)
    val probes = spark.table(tb).filter(col("band") === 0)
      .filter(col("rep") % SweepProbeMod === 1 && col("rep") < SweepProbeMax)
      .select(col("rep").as("q_rep"), col("phash").as("q_code"))
    val aReps = spark.table(ta).filter(col("band") === 0)
      .select(col("rep").as("a_rep"), col("phash").as("a_code"))
    val truth = broadcast(probes).join(aReps)
      .select(col("q_rep"), col("a_rep"), hamming("q_code", "a_code"))
      .filter(col("hamming") <= Multimodal.PhashRadius)
    val hits = crossSnapshotPairs(spark, ta, tb)
      .filter(col("rep") % SweepProbeMod === 1 && col("rep") < SweepProbeMax)
      .select(col("rep").as("q_rep"), col("corpus_rep").as("a_rep"))
    EstateIndex.recall(truth, hits, "q_rep", "a_rep")
  }

  /** DuckDB mirror: per-parity representative groups, brute-force
    * Hamming truth over the sampled probes, banded sweep hits.
    */
  val phashSweepRecallSql: String =
    s"""
    WITH ${Multimodal.phashCodeCtesSql},
    ga AS (SELECT phash, min(asset_id) AS rep FROM code WHERE asset_id % 2 = 0 GROUP BY 1),
    gb AS (SELECT phash, min(asset_id) AS rep FROM code WHERE asset_id % 2 = 1 GROUP BY 1),
    probes AS (
      SELECT rep AS q_rep, phash AS q_code FROM gb
      WHERE rep % $SweepProbeMod = 1 AND rep < $SweepProbeMax
    ),
    truth AS (
      SELECT p.q_rep, a.rep AS a_rep,
             CAST(bit_count(xor(p.q_code, a.phash)) AS INT) AS hamming
      FROM probes p CROSS JOIN ga a
      WHERE bit_count(xor(p.q_code, a.phash)) <= ${Multimodal.PhashRadius}
    ),
    ba AS (
      SELECT rep, phash, b.band, ${Multimodal.phashBandCaseSql("phash")} AS bv
      FROM ga CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    bb AS (
      SELECT rep, phash, b.band, ${Multimodal.phashBandCaseSql("phash")} AS bv
      FROM gb CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    keepbk AS (
      SELECT band, bv FROM ba GROUP BY 1, 2 HAVING count(*) <= ${Multimodal.PhashBucketCap}
      INTERSECT
      SELECT band, bv FROM bb GROUP BY 1, 2 HAVING count(*) <= ${Multimodal.PhashBucketCap}
    ),
    hits AS (
      SELECT DISTINCT bb.rep AS q_rep, ba.rep AS a_rep
      FROM bb JOIN ba ON bb.band = ba.band AND bb.bv = ba.bv
      JOIN keepbk k ON bb.band = k.band AND bb.bv = k.bv
      WHERE bit_count(xor(bb.phash, ba.phash)) <= ${Multimodal.PhashRadius}
        AND bb.rep % $SweepProbeMod = 1 AND bb.rep < $SweepProbeMax
    )
    SELECT t.q_rep, CAST(count(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN h.a_rep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(SUM(CASE WHEN h.a_rep IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS recall
    FROM truth t LEFT JOIN hits h ON t.q_rep = h.q_rep AND t.a_rep = h.a_rep
    GROUP BY 1"""

  // ---- q_phash_ingest_gate -----------------------------------------------

  /** q_phash_ingest_gate: the IMAGE ingest gate as a GATED query — the
    * `q_ingest_gate` pattern ([[graft.streaming.IngestGate
    * .ingestGateQuery]]) applied to [[ingestStream]]: the odd-id half
    * of the asset corpus "arrives" against the even-id snapshot's
    * persisted band index (the SAME table `q_cross_snapshot_phash`
    * maintains — one artifact, two consumers) and each in-flight asset
    * reports every estate representative within Hamming
    * [[Multimodal.PhashRadius]]. Batch execution of the identical
    * stream plan (PhashIndexSpec separately pins stream == batch), so
    * the image gate is hash-gated, not spec-only. DISTINCT is the
    * documented consumer contract (an asset matching in several bands
    * emits once per band).
    */
  def phashIngestGate(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, _) = snapshotTables(spark, sfDir)
    // the arriving half's codes come from the memoized membership
    // relation (one corpus decode per dataset, shared with every other
    // phash consumer) — identical rows to phashCodesOf(odd docs), and
    // the measured 0.5 s/call single-task pixel-fold stage disappears
    // (guide §1.2: don't recompute what an earlier pass already holds)
    val arriving = Multimodal.phashMembership(spark, sfDir)
      .filter(col("asset_id") % 2 === 1)
      .select(col("asset_id"), col("phash"))
    ingestStreamCoded(arriving, ta).distinct()
  }

  /** The gate oracle's CTE body (ending at the match relation `pim`)
    * — shared verbatim by [[phashIngestGateSql]] and the composed
    * estate-admission oracle, so the two can never drift on the image
    * rules: per-asset band rows of the odd half (the stream side bands
    * each asset individually — no representative collapse at ingest)
    * against the even side's representative band index.
    */
  private[graft] val phashIngestCtesSql: String =
    s"""${Multimodal.phashCodeCtesSql},
    ga AS (SELECT phash, min(asset_id) AS rep FROM code WHERE asset_id % 2 = 0 GROUP BY 1),
    ba AS (
      SELECT rep, phash, b.band, ${Multimodal.phashBandCaseSql("phash")} AS bv
      FROM ga CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    nb AS (
      SELECT asset_id, phash, b.band, ${Multimodal.phashBandCaseSql("phash")} AS bv
      FROM code CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
      WHERE asset_id % 2 = 1
    ),
    imghot AS (
      -- the gate's index-side hot-bucket stop-loss (ingestStream)
      SELECT band, bv FROM ba
      GROUP BY 1, 2 HAVING count(*) > ${Multimodal.PhashBucketCap}
    ),
    pim AS (
      SELECT DISTINCT nb.asset_id, ba.rep AS corpus_rep,
             CAST(bit_count(xor(nb.phash, ba.phash)) AS INT) AS hamming
      FROM nb JOIN ba ON nb.band = ba.band AND nb.bv = ba.bv
      WHERE bit_count(xor(nb.phash, ba.phash)) <= ${Multimodal.PhashRadius}
        AND NOT EXISTS (SELECT 1 FROM imghot h
                        WHERE h.band = ba.band AND h.bv = ba.bv)
    )"""

  /** DuckDB mirror of [[phashIngestGate]]. */
  val phashIngestGateSql: String =
    s"""
    WITH $phashIngestCtesSql
    SELECT asset_id, corpus_rep, hamming FROM pim"""
}
