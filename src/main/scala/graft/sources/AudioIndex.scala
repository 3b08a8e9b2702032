package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Audio
import graft.queries.Tables

/** Persisted audio LANDMARK index — the constellation family's
  * cross-JOB posting table, completing the live-gate symmetry: like
  * [[SignatureIndex]] (text bands) and [[PhashIndex]] (image bands),
  * a corpus snapshot's (slot, landmark) posting rows are written ONCE
  * as a table BUCKETED by the posting key, so the ingest gate's
  * stream-static join reads only matching bucket files — the arriving
  * track's 7 postings probe 7 buckets, the corpus never re-shuffles.
  *
  * Identical fingerprints collapse to their representative at write
  * time (the estate discipline — an identical-dup cluster is ONE
  * posting per slot however many members it has), and the packed
  * fingerprint rides in the posting row so the gate verifies
  * strict-majority agreement map-side with bit arithmetic — the same
  * zero-extra-join property the batch pair query has.
  *
  * Carries the full estate lifecycle the other three modalities have:
  * [[merge]] (compaction with cross-snapshot re-collapse — rows are
  * fp-group facts like the phash index, so the global representative
  * is re-taken at merge time), [[removeSnapshot]] (snapshot expiry as
  * an anti join PLUS a repair leg — see its scaladoc for why the
  * naive anti join is lossy here and how the repair stays
  * O(shared fingerprints), never a survivor re-read), and
  * [[crossSnapshotMatches]] (index-against-index sweeps, exchange-free
  * on both sides). `EstateLifecycleSpec` drives all four modalities
  * through add → sweep → compact → expire → sweep == from-scratch.
  */
object AudioIndex extends EstateIndex("audio", "audio_snapshots",
    keys = Seq("slot", "lmv"), cols = Seq("rep", "fp", "slot", "lmv")) {

  /** Write a snapshot's landmark posting index. One co-locating
    * shuffle per snapshot, ever.
    */
  def write(docs: DataFrame, table: String): Unit =
    writeFps(Audio.packedFps(docs), table)

  /** [[write]] from an already-computed `(asset_id, fp)` relation —
    * the seam that lets the snapshot writer reuse the memoized corpus
    * fingerprints instead of re-running the sampling chain per lane
    * (the [[PhashIndex.writeCodes]] discipline).
    */
  def writeFps(fps: DataFrame, table: String): Unit =
    save(colocate(fps.groupBy(col("fp")).agg(min(col("asset_id")).as("rep"))
      .select(col("rep"), col("fp"), explode(sequence(lit(0), lit(6))).as("slot"))
      .withColumn("lmv", expr("shiftright(fp, 9 * slot) % 512"))), table)

  protected def lanes(spark: SparkSession, sfDir: String): (Int, String) => Unit = {
    // lanes derive from the memoized corpus fingerprints — one
    // sampling pass per dataset ever, shared with the pair and
    // recall queries
    val fps = Audio.corpusFps(spark, sfDir)
    (parity, table) => writeFps(fps.filter(col("asset_id") % 2 === parity), table)
  }

  /** The COMPACTION collapse. Like the phash index (and unlike the
    * signature index), audio posting rows are fp-GROUP facts — one
    * representative per distinct fingerprint per snapshot — and the
    * same fingerprint can hold a representative in several snapshots (a
    * re-crawled identical track), so [[merge]] RE-COLLAPSES: group by
    * (fp, slot, lmv), keep the global minimum representative. The
    * result is bit-identical to [[writeFps]] over the union of the
    * snapshots' fingerprints (IndexMergeSpec pins it) with no
    * re-sampling: landmark rows are a function of the fingerprint, so
    * the stored rows already carry them. The re-collapse (group keys a
    * superset of the partition keys) rides the ONE co-locating shuffle.
    */
  override protected def collapse(rows: DataFrame): DataFrame =
    rows.groupBy(col("fp"), col("slot"), col("lmv"))
      .agg(min(col("rep")).as("rep"))
      .select(col("rep"), col("fp"), col("slot"), col("lmv"))

  /** RETENTION: expire one snapshot from a compacted estate. The naive
    * anti join (the signature index's retention) is LOSSY here because
    * estate rows are re-collapsed fp-group facts: a fingerprint shared
    * by the expiring snapshot and a survivor carries the GLOBAL
    * minimum representative — delete it and the survivor's copy of the
    * track vanishes from the index; keep it and a deleted asset id
    * keeps representing live postings. So expiry is subtract AND
    * repair, one co-located pass:
    *
    *   - estate LEFT JOIN tombstone on (slot, lmv, fp) marks every row
    *     whose fingerprint the expiring snapshot holds;
    *   - a repair relation — the SURVIVOR indexes semi-joined against
    *     the tombstone, re-collapsed to the surviving minimum
    *     representative — supplies the replacement rep for shared
    *     fingerprints;
    *   - unmarked rows pass through, marked rows with a repair rep are
    *     rewritten to it, marked rows without one (fingerprints only
    *     the expiring snapshot held) drop.
    *
    * Cost at estate scale: the tombstone and repair legs touch only
    * the expiring snapshot's rows plus the SHARED fingerprints — never
    * a survivor re-read (the phash index's documented retention is a
    * full survivor re-merge; this is the cheaper form the collapse
    * structure of audio postings allows, because the repair key is the
    * posting key itself). With a single survivor index every join and
    * the bucketed write ride the stored (slot, lmv) bucketing — zero
    * exchanges (IndexMergeSpec asserts it); with several survivors
    * only the repair re-collapse (shared fingerprints, tiny) shuffles.
    * Result is bit-identical to [[writeFps]] over the survivors'
    * fingerprints (EstateLifecycleSpec pins the composition).
    */
  def removeSnapshot(spark: SparkSession, estate: String, removed: String,
      survivors: Seq[String], out: String): Unit =
    // join keys (slot, lmv, fp) are a superset of the bucket keys
    EstateIndex.coPartitioned(spark) {
      val keys = Seq("slot", "lmv", "fp")
      val tomb = spark.table(removed)
        .select(col("slot"), col("lmv"), col("fp"), lit(true).as("tomb"))
      // no survivors = retiring the estate's last snapshot: nothing to
      // repair, the plain anti join (an empty index when the estate
      // held only the removed snapshot) is exact
      val retained =
        if (survivors.isEmpty)
          spark.table(estate)
            .join(tomb.select(col("slot"), col("lmv"), col("fp")), keys, "left_anti")
            .select(col("rep"), col("fp"), col("slot"), col("lmv"))
        else {
          val shared = survivors.map(s => spark.table(s)
              .select(col("slot"), col("lmv"), col("fp"), col("rep"))
              .join(spark.table(removed).select(col("slot"), col("lmv"), col("fp")),
                keys, "left_semi"))
            .reduce(_.unionByName(_))
          val repair =
            if (survivors.sizeIs == 1) shared.withColumnRenamed("rep", "srep")
            else shared.groupBy(col("slot"), col("lmv"), col("fp"))
              .agg(min(col("rep")).as("srep"))
          spark.table(estate)
            .join(tomb, keys, "left")
            .join(repair, keys, "left")
            .filter(col("tomb").isNull || col("srep").isNotNull)
            .select(when(col("tomb").isNull, col("rep")).otherwise(col("srep")).as("rep"),
              col("fp"), col("slot"), col("lmv"))
        }
      save(retained, out)
    }

  protected def expire(spark: SparkSession, estate: String, removed: String,
      survivors: Seq[String], out: String): Unit =
    removeSnapshot(spark, estate, removed, survivors, out)

  private def agreement(a: String, b: String) = expr(Audio.agreeSql(a, b)).as("n_agree")

  /** Pair-level cross-snapshot matches — every (B rep, A rep) landmark
    * candidate at ≥ [[Audio.MinLandmarkAgree]]/7 aligned agreement, one
    * row per pair. Bucket-capped like the batch pipeline: a (slot,
    * lmv) bucket exceeding [[Audio.AudioBucketCap]] representatives on
    * EITHER side is a saturated stop-landmark and drops before the
    * join ([[cappedPairs]]; mirrored in the oracle; non-binding on the
    * gate corpus); agreement verifies MAP-SIDE from the two packed
    * fingerprints in the join's own projection.
    */
  def crossSnapshotPairs(spark: SparkSession, indexA: String, indexB: String): DataFrame =
    crossSnapshotPairsCapped(spark, indexA, indexB, Audio.AudioBucketCap)

  /** [[crossSnapshotPairs]] with an explicit cap — the spec seam. */
  private[graft] def crossSnapshotPairsCapped(spark: SparkSession, indexA: String,
      indexB: String, cap: Long): DataFrame =
    cappedPairs(spark, indexA, indexB, cap,
      a = Seq(col("rep").as("corpus_rep"), col("fp").as("fp_c")),
      b = Seq(col("rep"), col("fp")))(_
      .select(col("rep"), col("corpus_rep"), agreement("fp", "fp_c"))
      .filter(col("n_agree") >= Audio.MinLandmarkAgree))

  /** Cross-snapshot audio near-dup verdicts: every representative of
    * snapshot B with a majority-agreement match in snapshot A, with
    * the match count and the best match (highest agreement, lowest rep
    * tie-break) — the [[SignatureIndex.crossSnapshotMatches]] verdict
    * shape for the audio modality.
    */
  def crossSnapshotMatches(spark: SparkSession, indexA: String, indexB: String): DataFrame =
    EstateIndex.verdicts(crossSnapshotPairs(spark, indexA, indexB), "rep", "corpus_rep",
      col("n_agree").desc, "n_agree" -> "best_agree")

  /** The live audio gate: each arriving track's 7 posting rows probe
    * the bucketed index; strict-majority agreement verifies map-side
    * from the two packed fingerprints in the same projection. Works
    * on a static or streaming `docs` unchanged (stateless
    * stream-static join). Emits one row per matching bucket; batch
    * consumers take DISTINCT, the streaming collapse keys by doc.
    */
  def ingestStream(docs: DataFrame, indexTable: String,
      bucketCap: Long = Audio.AudioBucketCap): DataFrame =
    ingestStreamFromPostings(Audio.postingRows(docs), indexTable, bucketCap)

  /** [[ingestStream]] body over already-derived posting rows — the
    * seam that lets a BATCH consumer whose arrivals are a deterministic
    * snapshot half ride the persisted corpus fingerprints
    * ([[Audio.postingRowsFromFps]]) instead of re-running the
    * 64-substr sampling chain per call. The streaming twin keeps
    * fingerprinting in-flight via [[ingestStream]]; the join/verify
    * structure is identical.
    */
  private[graft] def ingestStreamFromPostings(postings: DataFrame, indexTable: String,
      bucketCap: Long = Audio.AudioBucketCap): DataFrame =
    // posting buckets over the cap are dropped whole ([[gateSide]]).
    // Oracle mirror: auhot in audioIngestCtesSql.
    postings
      .join(gateSide(postings.sparkSession, indexTable, bucketCap,
        col("rep").as("corpus_rep"), col("fp").as("fp_c")), Seq("slot", "lmv"))
      .select(col("asset_id"), col("corpus_rep"), agreement("fp", "fp_c"))
      .filter(col("n_agree") >= Audio.MinLandmarkAgree)

  /** q_audio_ingest_gate: the gate's batch execution — odd-id tracks
    * arrive against the even-id corpus's persisted landmark index.
    * The arriving half's fingerprints come from the persisted corpus
    * relation (one sampling pass per dataset ever, [[Audio.corpusFps]])
    * — identical rows to fingerprinting the odd docs in-flight, and
    * the measured 0.6 s/call single-task sampling stage disappears.
    */
  def audioIngestGate(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, _) = snapshotTables(spark, sfDir)
    val arriving = Audio.postingRowsFromFps(
      Audio.corpusFps(spark, sfDir).filter(col("asset_id") % 2 === 1))
    ingestStreamFromPostings(arriving, ta).distinct()
  }

  /** The gate oracle's CTE body (ending at the match relation `pau`)
    * — au-prefixed names so it composes beside the text/image/vector
    * gate CTEs in the estate-admission oracle without collision.
    */
  private[graft] val audioIngestCtesSql: String =
    s"""ausmp AS (
      SELECT doc_id AS asset_id,
             [${graft.pipeline.Dedup.sampleCodepointDuckSql("1 + ((j * (length(text) - 1)) // 64)")}
              for j in generate_series(0, 63)] AS smp
      FROM documents WHERE length(text) > 0
    ),
    aupk AS (
      SELECT asset_id,
             [list_position(smp[w * 8 + 1 : w * 8 + 8],
                            list_max(smp[w * 8 + 1 : w * 8 + 8])) - 1
              for w in generate_series(0, 7)] AS pk
      FROM ausmp
    ),
    aufp AS (
      SELECT asset_id,
             CAST(list_sum([(CAST(w * 64 + pk[w + 1] * 8 + pk[w + 2] AS BIGINT)) << (9 * w)
                            for w in generate_series(0, 6)]) AS BIGINT) AS fp
      FROM aupk
    ),
    auga AS (SELECT fp, min(asset_id) AS rep FROM aufp WHERE asset_id % 2 = 0 GROUP BY 1),
    auba AS (
      SELECT rep, fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM auga CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    aunb AS (
      SELECT asset_id, fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM aufp CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
      WHERE asset_id % 2 = 1
    ),
    auhot AS (
      -- the gate's index-side hot-bucket stop-loss (ingestStream)
      SELECT slot, lmv FROM auba
      GROUP BY 1, 2 HAVING count(*) > ${Audio.AudioBucketCap}
    ),
    pau AS (
      SELECT DISTINCT n.asset_id, a.rep AS corpus_rep,
             CAST(list_sum([CASE WHEN (n.fp >> (9 * w)) % 512 = (a.fp >> (9 * w)) % 512
                                 THEN 1 ELSE 0 END
                            for w in generate_series(0, 6)]) AS BIGINT) AS n_agree
      FROM aunb n JOIN auba a ON n.slot = a.slot AND n.lmv = a.lmv
      WHERE CAST(list_sum([CASE WHEN (n.fp >> (9 * w)) % 512 = (a.fp >> (9 * w)) % 512
                                THEN 1 ELSE 0 END
                           for w in generate_series(0, 6)]) AS BIGINT) >= ${Audio.MinLandmarkAgree}
        AND NOT EXISTS (SELECT 1 FROM auhot h
                        WHERE h.slot = a.slot AND h.lmv = a.lmv)
    )"""

  /** DuckDB mirror of [[audioIngestGate]]. */
  val audioIngestGateSql: String =
    s"""
    WITH $audioIngestCtesSql
    SELECT asset_id, corpus_rep, n_agree FROM pau"""

  /** The packed-fingerprint CTE every lifecycle oracle shares (rides
    * [[Audio.landmarkCtesSql]]'s `lm`).
    */
  private val fptCteSql: String =
    """fpt AS (
      SELECT asset_id,
             CAST(list_sum([lms[w + 1] << (9 * w) for w in generate_series(0, 6)]) AS BIGINT) AS fp
      FROM lm
    )"""

  // ---- q_cross_snapshot_audio --------------------------------------------

  /** q_cross_snapshot_audio: the registered cross-snapshot AUDIO sweep —
    * snapshot A = even asset ids (the historical estate), snapshot B =
    * odd (the new crawl), each side's landmark index a bucketed table
    * written once, verdicts via [[crossSnapshotMatches]]. The audio
    * twin of `q_cross_snapshot_dedup` / `q_cross_snapshot_phash`, same
    * artifact economics: each snapshot pays one co-locating shuffle at
    * write time, ever; every later sweep is an exchange-free bucket
    * join whose verification is bit arithmetic in the join projection.
    */
  def crossSnapshotAudio(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, tb) = snapshotTables(spark, sfDir)
    crossSnapshotMatches(spark, ta, tb)
  }

  /** DuckDB mirror: per-parity representative collapse, capped bucket
    * join, aligned-agreement verify, rank.
    */
  val crossSnapshotAudioSql: String =
    s"""
    WITH ${Audio.landmarkCtesSql},
    $fptCteSql,
    ga AS (SELECT fp, min(asset_id) AS rep FROM fpt WHERE asset_id % 2 = 0 GROUP BY 1),
    gb AS (SELECT fp, min(asset_id) AS rep FROM fpt WHERE asset_id % 2 = 1 GROUP BY 1),
    ba AS (
      SELECT rep, fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM ga CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    bb AS (
      SELECT rep, fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM gb CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    keepb AS (
      SELECT slot, lmv FROM ba GROUP BY 1, 2 HAVING count(*) <= ${Audio.AudioBucketCap}
      INTERSECT
      SELECT slot, lmv FROM bb GROUP BY 1, 2 HAVING count(*) <= ${Audio.AudioBucketCap}
    ),
    m AS (
      SELECT DISTINCT bb.rep, ba.rep AS corpus_rep,
             CAST(list_sum([CASE WHEN (bb.fp >> (9 * w)) % 512 = (ba.fp >> (9 * w)) % 512
                                 THEN 1 ELSE 0 END
                            for w in generate_series(0, 6)]) AS BIGINT) AS n_agree
      FROM bb JOIN ba ON bb.slot = ba.slot AND bb.lmv = ba.lmv
      JOIN keepb k ON bb.slot = k.slot AND bb.lmv = k.lmv
      WHERE CAST(list_sum([CASE WHEN (bb.fp >> (9 * w)) % 512 = (ba.fp >> (9 * w)) % 512
                                THEN 1 ELSE 0 END
                           for w in generate_series(0, 6)]) AS BIGINT) >= ${Audio.MinLandmarkAgree}
    ),
    ranked AS (
      SELECT rep, corpus_rep, n_agree,
             row_number() OVER (PARTITION BY rep
               ORDER BY n_agree DESC, corpus_rep ASC) AS rk
      FROM m
    )
    SELECT rep, CAST(count(*) AS BIGINT) AS n_matches,
           min(CASE WHEN rk = 1 THEN corpus_rep END) AS dup_of,
           min(CASE WHEN rk = 1 THEN n_agree END) AS best_agree
    FROM ranked GROUP BY 1"""

  // ---- q_audio_sweep_recall ------------------------------------------------

  /** Sampled B representatives for the sweep recall's truth leg (the
    * [[PhashIndex]] declared-cap contract: ≤ ~100 probes at any estate
    * size, so the brute-force leg stays a bounded-probe broadcast
    * NLJ).
    */
  private val SweepProbeMod = 10
  private val SweepProbeMax = 1000L

  /** q_audio_sweep_recall: the AUDIO sweep's recall eval, completing
    * the every-sweep-ships-its-eval rule across all FOUR modalities
    * (text `q_cross_snapshot_recall`, image `q_phash_sweep_recall`,
    * vector `q_embed_sweep_recall`). For each sampled B
    * representative, the truth leg brute-forces aligned-landmark
    * agreement against every A representative (broadcast NLJ over the
    * bounded probe set — the whitelisted truth-leg pattern), and the
    * approx leg is the sweep's own capped posting-join verdicts. Any
    * pair at ≥ [[Audio.MinLandmarkAgree]]/7 agreement shares at least
    * one landmark bucket (4 of 7 slots agree), so the posting join is
    * COMPLETE at the verdict threshold — recall < 1 here isolates
    * exactly a bucket-cap effect, the number an operator reads before
    * raising [[Audio.AudioBucketCap]].
    */
  def audioSweepRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, tb) = snapshotTables(spark, sfDir)
    val probes = spark.table(tb).filter(col("slot") === 0)
      .filter(col("rep") % SweepProbeMod === 1 && col("rep") < SweepProbeMax)
      .select(col("rep").as("q_rep"), col("fp").as("q_fp"))
    val aReps = spark.table(ta).filter(col("slot") === 0)
      .select(col("rep").as("a_rep"), col("fp").as("a_fp"))
    val truth = broadcast(probes).join(aReps)
      .select(col("q_rep"), col("a_rep"), agreement("q_fp", "a_fp"))
      .filter(col("n_agree") >= Audio.MinLandmarkAgree)
    val hits = crossSnapshotPairs(spark, ta, tb)
      .filter(col("rep") % SweepProbeMod === 1 && col("rep") < SweepProbeMax)
      .select(col("rep").as("q_rep"), col("corpus_rep").as("a_rep"))
    EstateIndex.recall(truth, hits, "q_rep", "a_rep")
  }

  /** DuckDB mirror: per-parity representative collapse, brute-force
    * agreement truth over the sampled probes, capped sweep hits.
    */
  val audioSweepRecallSql: String =
    s"""
    WITH ${Audio.landmarkCtesSql},
    $fptCteSql,
    ga AS (SELECT fp, min(asset_id) AS rep FROM fpt WHERE asset_id % 2 = 0 GROUP BY 1),
    gb AS (SELECT fp, min(asset_id) AS rep FROM fpt WHERE asset_id % 2 = 1 GROUP BY 1),
    probes AS (
      SELECT rep AS q_rep, fp AS q_fp FROM gb
      WHERE rep % $SweepProbeMod = 1 AND rep < $SweepProbeMax
    ),
    truth AS (
      SELECT p.q_rep, a.rep AS a_rep,
             CAST(list_sum([CASE WHEN (p.q_fp >> (9 * w)) % 512 = (a.fp >> (9 * w)) % 512
                                 THEN 1 ELSE 0 END
                            for w in generate_series(0, 6)]) AS BIGINT) AS n_agree
      FROM probes p CROSS JOIN ga a
      WHERE CAST(list_sum([CASE WHEN (p.q_fp >> (9 * w)) % 512 = (a.fp >> (9 * w)) % 512
                                THEN 1 ELSE 0 END
                           for w in generate_series(0, 6)]) AS BIGINT) >= ${Audio.MinLandmarkAgree}
    ),
    ba AS (
      SELECT rep, fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM ga CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    bb AS (
      SELECT rep, fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM gb CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    keepb AS (
      SELECT slot, lmv FROM ba GROUP BY 1, 2 HAVING count(*) <= ${Audio.AudioBucketCap}
      INTERSECT
      SELECT slot, lmv FROM bb GROUP BY 1, 2 HAVING count(*) <= ${Audio.AudioBucketCap}
    ),
    hits AS (
      SELECT DISTINCT bb.rep AS q_rep, ba.rep AS a_rep
      FROM bb JOIN ba ON bb.slot = ba.slot AND bb.lmv = ba.lmv
      JOIN keepb k ON bb.slot = k.slot AND bb.lmv = k.lmv
      WHERE CAST(list_sum([CASE WHEN (bb.fp >> (9 * w)) % 512 = (ba.fp >> (9 * w)) % 512
                                THEN 1 ELSE 0 END
                           for w in generate_series(0, 6)]) AS BIGINT) >= ${Audio.MinLandmarkAgree}
        AND bb.rep % $SweepProbeMod = 1 AND bb.rep < $SweepProbeMax
    )
    SELECT t.q_rep, CAST(count(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN h.a_rep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(SUM(CASE WHEN h.a_rep IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS recall
    FROM truth t LEFT JOIN hits h ON t.q_rep = h.q_rep AND t.a_rep = h.a_rep
    GROUP BY 1"""

  // ---- q_audio_estate_merge ------------------------------------------------

  /** q_audio_estate_merge: the compacted estate's fingerprint-group
    * table — one row per distinct fingerprint with its GLOBAL
    * representative, read straight off the merged table's slot-0 lane
    * (every fingerprint has exactly one slot-0 row, so the lane IS the
    * group table; no aggregation at read time — the
    * `q_phash_estate_merge` shape). The oracle regroups the whole
    * corpus from raw text, so the query gates the re-collapse end to
    * end: a representative that failed to take the cross-snapshot
    * minimum, or a lost/duplicated posting row, hash-mismatches.
    *
    * Scale: reading one slot of the bucketed table is a pruned scan of
    * ⅐ of the index files; nothing joins, nothing shuffles.
    */
  def audioEstateMerge(spark: SparkSession, sfDir: String): DataFrame =
    spark.table(estateTable(spark, sfDir))
      .filter(col("slot") === 0)
      .select(col("rep"), col("fp"))

  /** DuckDB mirror: group the whole corpus's fingerprints directly. */
  val audioEstateMergeSql: String =
    s"""
    WITH ${Audio.landmarkCtesSql},
    $fptCteSql
    SELECT min(asset_id) AS rep, fp FROM fpt GROUP BY fp"""

  // ---- q_audio_retention ---------------------------------------------------

  /** q_audio_retention: the audio estate's DELETE leg, gated — crawl B
    * expires from the compacted estate via the subtract-and-repair
    * pass ([[removeSnapshot]]) and the survivor index's landmark band
    * stats must equal the whole-corpus truth restricted to snapshot
    * A's tracks (the oracle recomputes that restriction from raw
    * text). A single under-deleted, over-deleted, or mis-repaired
    * posting row anywhere shifts a bucket count and hash-mismatches,
    * so add → compact → expire is verified end to end on the same
    * artifact chain — including the repair case, because shared
    * fingerprints whose global representative was B's must come back
    * with A's.
    */
  def audioRetention(spark: SparkSession, sfDir: String): DataFrame =
    bandStatsOf(spark.table(retainedTable(spark, sfDir)))

  /** The `q_audio_band_stats` readout over any persisted landmark
    * index — rows are already rep-collapsed postings, so the stats
    * read the bucket files exchange-free (grouping by the bucket key).
    */
  private def bandStatsOf(idx: DataFrame): DataFrame =
    idx.groupBy(col("slot"), col("lmv")).agg(count(lit(1)).as("n"))
      .groupBy(col("slot")).agg(
        count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_postings"),
        max(col("n")).as("max_bucket"),
        sum(expr("n * (n - 1) div 2")).as("candidate_pairs"),
        sum(when(col("n") > Audio.AudioBucketCap, 1L).otherwise(0L)).as("capped_buckets"))

  /** DuckDB mirror: [[Audio.audioBandStatsSql]]'s pipeline over the
    * surviving (even-id) tracks only.
    */
  val audioRetentionSql: String =
    s"""
    WITH ${Audio.landmarkCtesSql},
    $fptCteSql,
    g AS (SELECT fp FROM fpt WHERE asset_id % 2 = 0 GROUP BY 1),
    b AS (
      SELECT fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM g CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    buckets AS (SELECT slot, lmv, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2)
    SELECT slot, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_postings,
           CAST(max(n) AS BIGINT) AS max_bucket,
           CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(sum(CASE WHEN n > ${Audio.AudioBucketCap} THEN 1 ELSE 0 END) AS BIGINT) AS capped_buckets
    FROM buckets GROUP BY 1"""
}
