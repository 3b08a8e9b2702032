package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables
import graft.core.Mat.MatOps

/** Multimodal column plumbing: media (image/audio/video) rides through
  * the pipeline as an opaque `BINARY` column plus typed metadata; decode
  * / feature-extraction run as partition-iterator transforms (the Scala
  * analog of `mapInPandas`: one batch per partition, vectorizable,
  * nothing row-at-a-time on the driver).
  *
  * The actual codec is NOT available in this environment, so
  * [[FakeCodec]] is a clearly-marked deterministic stand-in: it derives
  * "decoded" properties purely from the bytes (length, first/last
  * bytes, rolling checksum). The Spark-side plumbing — schema,
  * partitioning, batch iteration, feature schema — is real and is what
  * a production codec would plug into.
  *
  * Scale notes: media blobs are large; the media relation is carried
  * (id, meta, bytes) with features projected into a narrow relation as
  * early as possible so downstream shuffles never move the blobs.
  * Partitioning by id keeps decode embarrassingly parallel.
  */
object Multimodal {

  /** A media asset: opaque payload + typed metadata. */
  final case class MediaAsset(
      asset_id: Long,
      media_type: String, // "image" | "audio" | "video"
      payload: Array[Byte],
      width: Int,
      height: Int,
      duration_ms: Long,
  )

  /** Extracted features (what a real decoder would emit). */
  final case class MediaFeatures(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      checksum: Long,
      head_byte: Int,
      frame_count: Int,
      mean_luma: Double,
  )

  /** Deterministic stand-in for the media codec (no image/audio libs in
    * this container). A real implementation would replace ONLY this
    * object; everything else is production plumbing.
    */
  object FakeCodec {
    /** "Decode" = derive stable pseudo-features from raw bytes. */
    def decode(a: MediaAsset): MediaFeatures = {
      val bytes = a.payload
      var checksum = 0L
      var lumaSum = 0L
      var i = 0
      while (i < bytes.length) {
        checksum = (checksum * 131 + (bytes(i) & 0xff)) % 1000000007L
        lumaSum += (bytes(i) & 0xff)
        i += 1
      }
      val frames =
        if (a.media_type == "video") math.max(1, (a.duration_ms / 40L).toInt) // ~25fps
        else 1
      MediaFeatures(
        asset_id = a.asset_id,
        media_type = a.media_type,
        n_bytes = bytes.length.toLong,
        checksum = checksum,
        head_byte = if (bytes.nonEmpty) bytes(0) & 0xff else -1,
        frame_count = frames,
        mean_luma = if (bytes.isEmpty) 0.0 else lumaSum.toDouble / bytes.length,
      )
    }

    /** Frame sampling: pick every `stride`-th frame index. */
    def sampleFrames(frameCount: Int, stride: Int): Seq[Int] =
      0 until frameCount by stride

    /** Resize metadata: fit (w, h) inside (maxW, maxH) preserving
      * aspect ratio with integer math (floor), never upscaling. A real
      * codec would resize the payload; the metadata contract is what
      * the pipeline schema carries.
      */
    def resizeDims(w: Int, h: Int, maxW: Int, maxH: Int): (Int, Int) = {
      if (w <= 0 || h <= 0) (0, 0)
      else if (w <= maxW && h <= maxH) (w, h)
      else {
        // scale = min(maxW/w, maxH/h) in exact rational math
        val byW = (w.toLong * maxH, h.toLong * maxW) // compare w/h vs maxW/maxH
        if (byW._1 <= byW._2) (((w.toLong * maxH) / h).toInt, maxH)
        else (maxW, ((h.toLong * maxW) / w).toInt)
      }
    }
  }

  /** Decode stage: partition-iterator transform over the media relation
    * (mapPartitions — the batch shape a vectorized codec needs).
    */
  def extractFeatures(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map(FakeCodec.decode))
  }

  /** Build a synthetic media relation from the documents table (text
    * bytes as the opaque payload) — exercises the exact schema and
    * partition flow real media would use.
    */
  def syntheticAssets(spark: SparkSession, sfDir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id").as("asset_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        (col("n_chars") * 25L).as("duration_ms"),
      )
      .as[MediaAsset]
  }

  /** q_multimodal: full plumbing end-to-end — synthesize assets, decode
    * via the partition-iterator stage, return the narrow feature
    * relation. Oracle recomputes the same checksum/luma from the text
    * bytes in SQL.
    */
  def multimodalFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = extractFeatures(syntheticAssets(spark, sfDir))
    feats.toDF().select(
      col("asset_id"), col("media_type"), col("n_bytes"), col("checksum"),
      col("head_byte"), col("frame_count"), round(col("mean_luma"), 6).as("mean_luma"))
  }

  /** q_multimodal_frames: frame-sampling stage — every video asset
    * exploded into its sampled frame indices (stride 10) plus the
    * resize-metadata transform (fit into 320x240). Pure integer math,
    * mirrored in SQL.
    */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val assets = syntheticAssets(spark, sfDir).toDF()
      .filter(col("media_type") === "video")
      .withColumn("frame_count",
        greatest(lit(1L), expr("duration_ms DIV 40")).cast("int"))
    assets
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("frame_count") - 1, lit(10))))
      .withColumn("resized_w",
        when(col("width") <= 320 && col("height") <= 240, col("width"))
          .when(col("width").cast("long") * 240 <= col("height").cast("long") * 320,
            (col("width").cast("long") * 240 / col("height")).cast("int"))
          .otherwise(lit(320)))
      .withColumn("resized_h",
        when(col("width") <= 320 && col("height") <= 240, col("height"))
          .when(col("width").cast("long") * 240 <= col("height").cast("long") * 320, lit(240))
          .otherwise((col("height").cast("long") * 320 / col("width")).cast("int")))
      .select(col("asset_id"), col("frame_idx"), col("frame_count"),
        col("width"), col("height"), col("resized_w"), col("resized_h"))
  }

  val frameSampleSql: String =
    """
    WITH v AS (
      SELECT doc_id AS asset_id,
             CAST(n_chars % 640 AS INT) AS width,
             CAST(n_chars % 480 AS INT) AS height,
             CAST(greatest(1, (n_chars * 25) // 40) AS INT) AS frame_count
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT asset_id, unnest(generate_series(0, frame_count - 1, 10)) AS frame_idx,
           frame_count, width, height,
           CASE WHEN width <= 320 AND height <= 240 THEN width
                WHEN width * 240 <= height * 320 THEN CAST((width * 240) // height AS INT)
                ELSE 320 END AS resized_w,
           CASE WHEN width <= 320 AND height <= 240 THEN height
                WHEN width * 240 <= height * 320 THEN 240
                ELSE CAST((height * 320) // width AS INT) END AS resized_h
    FROM v"""

  // ---- q_phash_pairs -------------------------------------------------

  /** Max Hamming distance for perceptual near-duplicates. */
  val PhashRadius = 2

  /** Hard ceiling on DISTINCT CODES per (band, bv) bucket in the
    * representative pair join — the image-side [[graft.pipeline.Dedup
    * .PairGuardFreqCap]]: a band bucket hotter than this is dropped
    * before pair generation (its members are held together by a
    * saturated band pattern, the aHash analog of a stop-shingle), so no
    * bucket can ever make the candidate join quadratic. Identical
    * codes never count against the cap — they collapse to ONE
    * representative before banding (see [[phashMembership]]) — so the
    * cap binds only on genuinely distinct near-miss codes. 1024 is
    * non-binding on every gate corpus (sf0.1 maxes at 251 distinct
    * codes per bucket) and the oracle carries the same cap, so a
    * binding cap is a semantics change both sides agree on, exactly
    * like the MinHash family's [[graft.pipeline.Dedup.MinhashBucketCap]].
    */
  val PhashBucketCap = 1024

  /** 32-bit perceptual hash (aHash) per asset: sample 32 evenly spaced
    * "pixels" from the payload (deterministic stand-in for a decoded
    * thumbnail — a real codec swaps ONLY the pixel extraction; the
    * sample value is the CODEPOINT at the position
    * ([[Dedup.sampleCodepointExprSql]] — codepoint-stable across
    * engines and locality-preserving, unlike the byte-valued `ascii()`
    * it replaced, which diverged from the oracle on multibyte text),
    * set bit j when pixel j is above the mean (`pix·32 > sum` keeps it
    * in integer math). Identical structure to production image aHash:
    * downsample → threshold against mean → bit string. Code width is a
    * scale lever: a narrower code saturates with corpus growth (pair
    * volume grows quadratically in the per-code collision rate);
    * production systems use 64-bit pHash — same plan, wider bands.
    */
  def phashCodes(spark: SparkSession, sfDir: String): DataFrame =
    phashCodesOf(Tables.documents(spark, sfDir))

  /** The code computation over any (doc_id, text) relation — narrow
    * ops only, so it applies to a STREAMING DataFrame unchanged
    * ([[graft.streaming.PhashState]] consumes it at ingest).
    */
  def phashCodesOf(docs: DataFrame): DataFrame = {
    // graft_codepoint lives in the expr string below — put it on this
    // session's registry (idempotent) so the parse resolves under ANY
    // session, including a caller-supplied one
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .filter(length(col("text")) > 0)
      // ONE nested higher-order expression binding `pix` and `psum` as
      // LAMBDA VARIABLES (each a 1-element array fold), not projection
      // columns: CollapseProject used to inline the psum aggregate
      // INSIDE the per-bit lambda (32 re-evaluations per row, each
      // rebuilding the 32-sample transform whose substr is O(position)
      // on long texts) whenever a consumer collapsed the withColumn
      // chain — the trap every batch call site needed a `.mat` barrier
      // for, and a STREAMING plan (which cannot checkpoint) had no
      // defense against at all. A lambda-bound value is evaluated once
      // per row by construction, wherever the expression lands.
      .withColumn("phash",
        expr(s"""aggregate(
                 array(transform(sequence(0, 31),
                   j -> ${Dedup.sampleCodepointExprSql("1 + (j * (length(text) - 1)) div 32")})),
                 CAST(0 AS BIGINT),
                 (z, pix) -> aggregate(
                   array(aggregate(pix, CAST(0 AS BIGINT), (a, x) -> a + x)),
                   z,
                   (z2, psum) -> aggregate(sequence(0, 31), CAST(0 AS BIGINT),
                     (acc, j) -> acc + CASE WHEN element_at(pix, j + 1) * 32 > psum
                                            THEN shiftleft(CAST(1 AS BIGINT), j)
                                            ELSE CAST(0 AS BIGINT) END)))"""))
      .select(col("doc_id").as("asset_id"), col("phash"))
  }

  /** The pigeonhole band explode of a code relation (11+11+10 bits) —
    * narrow, shared by the batch pair join and the streaming twin.
    */
  def phashBandRows(codes: DataFrame): DataFrame =
    codes.select(
      col("asset_id"), col("phash"),
      explode(array(
        struct(lit(0).as("band"), (col("phash") % 2048).as("bv")),
        struct(lit(1).as("band"), (shiftright(col("phash"), 11) % 2048).as("bv")),
        struct(lit(2).as("band"), (shiftright(col("phash"), 22) % 1024).as("bv")),
      )).as("bd"))
      .select(col("asset_id"), col("phash"), col("bd.band").as("band"), col("bd.bv").as("bv"))

  /** Code-group MEMBERSHIP `(asset_id, phash, rep, n_members)` —
    * identical payloads share one phash and collapse to a single
    * REPRESENTATIVE (smallest asset_id), materialized once per
    * (application, dataset). This is [[graft.pipeline.Dedup.exact]]'s
    * discipline applied to the image side: a web-scale image estate
    * carries millions of byte-identical assets (blank thumbnails,
    * tracking pixels, default avatars) that all land in one code
    * group — they must be ONE node of the candidate join, never n.
    * The `.mat` boundary on codes keeps CollapseProject from inlining
    * the quadratic pixel-fold expression into every consumer (measured
    * 60 s vs 2 s at sf0.1).
    */
  private[graft] def phashMembership(spark: SparkSession, sfDir: String): DataFrame =
    membershipMemo(spark, sfDir) {
      val codes = phashCodes(spark, sfDir).mat
      val groups = codes.groupBy(col("phash"))
        .agg(min(col("asset_id")).as("rep"), count(lit(1)).as("n_members"))
      codes.join(groups, Seq("phash"))
        .select(col("asset_id"), col("phash"), col("rep"), col("n_members"))
    }

  /** REPRESENTATIVE near-dup pairs `(code_a, code_b, rep_a, rep_b,
    * hamming)` — one row per DISTINCT-CODE pair within Hamming
    * [[PhashRadius]], materialized once per (application, dataset).
    *
    * Scale (the round-10 rebuild — previously the band self-join ran
    * over per-ASSET band rows with no bound, the engine's last
    * unbounded pair join):
    *  1. identical codes are already one representative
    *     ([[phashMembership]]), so a million identical thumbnails
    *     contribute ONE banded row, not a C(n,2) bucket;
    *  2. per (band, bv) bucket, one KMV aggregation keeps the
    *     [[PhashBucketCap]]+1 smallest distinct codes — O(cap) state
    *     per key, a saturated band pattern can never materialize an
    *     unbounded posting list — and a full sketch drops the bucket
    *     (the [[graft.pipeline.Dedup.PairGuardFreqCap]] rule);
    *  3. surviving posting lists explode their ordered code pairs
    *     MAP-SIDE with the Hamming refinement applied in the same
    *     projection, so candidate volume never shuffles at all — only
    *     verified near-miss code pairs (output-driven by construction)
    *     reach the dedup and the two narrow rep joins.
    * Two codes within Hamming 2 agree exactly on ≥ 1 of the 3 bands
    * (pigeonhole over 11+11+10 bits), so the capped band buckets are a
    * complete candidate source up to the declared cap semantics.
    */
  private[pipeline] def phashRepPairs(spark: SparkSession, sfDir: String): DataFrame =
    repPairsMemo(spark, sfDir)(computeRepPairs(spark, sfDir))

  /** The un-memoized rep-pair plan ([[phashRepPairs]] sans checkpoint) —
    * the seam PlanSpec inspects: the KMV posting-list aggregate must be
    * the pair source and no join may key on the band value.
    */
  private[graft] def computeRepPairs(spark: SparkSession, sfDir: String): DataFrame =
    repPairsOfReps(
      phashMembership(spark, sfDir)
        .filter(col("asset_id") === col("rep"))
        .select(col("asset_id"), col("phash")),
      PhashBucketCap)

  /** The bounded pair generation over an explicit representative-code
    * relation `(asset_id = rep, phash)` and an explicit cap, so specs
    * can plant hot band buckets small enough to bind (the
    * `dupPassagesOn` contract).
    */
  private[graft] def repPairsOfReps(reps: DataFrame, cap: Int): DataFrame = {
    val lists = phashBandRows(reps)
      .groupBy(col("band"), col("bv"))
      .agg(graft.functions.KmvAggregates.kmvSketch(col("phash"), cap + 1).as("cs"))
      .filter(size(col("cs")) <= cap)
    // map-side ordered pair explode + Hamming refinement in one
    // projection: nothing wider than a verified code pair ever shuffles
    val codePairs = lists
      .select(explode(flatten(transform(col("cs"), (x, i) =>
        transform(slice(col("cs"), i + lit(2), size(col("cs"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("code_a"), col("p.b").as("code_b"),
        bit_count(col("p.a").bitwiseXOR(col("p.b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= PhashRadius)
      .distinct() // a code pair agreeing in several bands emits once
    val repOf = reps.select(col("phash"), col("asset_id").as("rep"))
    codePairs
      .join(repOf.select(col("phash").as("code_a"), col("rep").as("rep_a")), Seq("code_a"))
      .join(repOf.select(col("phash").as("code_b"), col("rep").as("rep_b")), Seq("code_b"))
      .select(col("code_a"), col("code_b"), col("rep_a"), col("rep_b"), col("hamming"))
  }

  private val membershipMemo = graft.core.Memo[DataFrame]("phash_membership")
  private val repPairsMemo = graft.core.Memo[DataFrame]("phash_rep_pairs")

  /** q_phash_band_stats: index-health report for the phash band index —
    * per band, the bucket count, posting count (representatives, i.e.
    * DISTINCT codes — identical copies are already one posting), the
    * hottest bucket, the exact candidate volume Σ C(n,2) an uncapped
    * band join would pay, and how many buckets the [[PhashBucketCap]]
    * would drop. The [[graft.pipeline.Dedup.bandStats]] readout for the
    * image side: the number a curation team reads BEFORE paying the
    * pair shuffle, and the observable that tells them whether the cap
    * is binding on a given estate (capped_buckets > 0 means some
    * saturated band pattern is being declared a stop-pattern).
    *
    * Scale: one hash aggregation to the (band, bv) bucket relation over
    * representative rows, then a 3-row per-band aggregate — no join,
    * no pair generation.
    */
  def phashBandStats(spark: SparkSession, sfDir: String): DataFrame = {
    val reps = phashMembership(spark, sfDir)
      .filter(col("asset_id") === col("rep"))
      .select(col("asset_id"), col("phash"))
    val buckets = phashBandRows(reps)
      .groupBy(col("band"), col("bv")).agg(count(lit(1)).as("n"))
    buckets.groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_postings"),
        max(col("n")).as("max_bucket"),
        sum(expr("n * (n - 1) div 2")).as("candidate_pairs"),
        sum(when(col("n") > PhashBucketCap, 1L).otherwise(0L)).as("capped_buckets"))
  }

  // lazy: phashCodeCtesSql is defined later in the object (shared by
  // every phash oracle) — a strict val here would capture null
  lazy val phashBandStatsSql: String =
    s"""
    WITH $phashCodeCtesSql,
    g AS (SELECT phash, min(asset_id) AS rep FROM code GROUP BY 1),
    br AS (
      SELECT rep, phash, b.band, ${phashBandCaseSql("phash")} AS bv
      FROM g CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    buckets AS (SELECT band, bv, CAST(count(*) AS BIGINT) AS n FROM br GROUP BY 1, 2)
    SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_postings,
           CAST(max(n) AS BIGINT) AS max_bucket,
           CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(sum(CASE WHEN n > $PhashBucketCap THEN 1 ELSE 0 END) AS BIGINT) AS capped_buckets
    FROM buckets GROUP BY 1"""

  /** q_phash_pairs: perceptual-hash near-duplicate pairs at Hamming
    * radius ≤ 2 — image dedup without decoding twice. Expanded from the
    * representative graph: intra-group pairs (identical codes, Hamming
    * 0) plus cross-group pairs via two narrow membership joins on the
    * verified [[phashRepPairs]] edges. The PAIR relation is inherently
    * quadratic in identical-group size — that quadratic term is now the
    * verified OUTPUT itself (the join conditions admit no non-output
    * row), never pre-filter candidate volume; [[phashClusters]] is the
    * linear-edge scale readout.
    */
  def phashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val m = phashMembership(spark, sfDir)
    val ids = m.select(col("asset_id"), col("phash"))
    val intra = ids.as("a")
      .join(ids.as("b"),
        col("a.phash") === col("b.phash") && col("a.asset_id") < col("b.asset_id"))
      .select(col("a.asset_id").as("asset_a"), col("b.asset_id").as("asset_b"),
        lit(0).cast("int").as("hamming"))
    val rp = phashRepPairs(spark, sfDir)
    val cross = rp
      .join(ids.select(col("phash").as("code_a"), col("asset_id").as("ma")), Seq("code_a"))
      .join(ids.select(col("phash").as("code_b"), col("asset_id").as("mb")), Seq("code_b"))
      .select(least(col("ma"), col("mb")).as("asset_a"),
        greatest(col("ma"), col("mb")).as("asset_b"), col("hamming"))
    intra.unionAll(cross)
  }

  /** Shared oracle CTEs — `px` (sampled pixels) + `code` (the 32-bit
    * aHash per asset): ONE definition consumed by every phash oracle
    * (pairs, clusters, recall, the cross-snapshot image sweep), so the
    * SQL mirrors can never drift from each other on the code
    * computation.
    */
  private[graft] val phashCodeCtesSql: String =
    s"""px AS (
      SELECT doc_id AS asset_id,
             [${Dedup.sampleCodepointDuckSql("1 + ((j * (length(text) - 1)) // 32)")}
              for j in generate_series(0, 31)] AS pix
      FROM documents WHERE length(text) > 0
    ),
    code AS (
      SELECT asset_id,
             CAST(list_sum([CASE WHEN pix[j + 1] * 32 > list_sum(pix) THEN 1::BIGINT << j ELSE 0 END
                            for j in generate_series(0, 31)]) AS BIGINT) AS phash
      FROM px
    )"""

  /** The 11+11+10 band split of a code column as an oracle CASE —
    * mirrors [[phashBandRows]]; one definition for every phash oracle.
    */
  private[graft] def phashBandCaseSql(code: String): String =
    s"""CASE b.band WHEN 0 THEN $code % 2048
                    WHEN 1 THEN ($code >> 11) % 2048
                    ELSE ($code >> 22) % 1024 END"""

  val phashPairsSql: String =
    s"""
    WITH $phashCodeCtesSql,
    grp AS (SELECT phash FROM code GROUP BY 1),
    bands AS (
      SELECT phash, b.band, ${phashBandCaseSql("phash")} AS bv
      FROM grp CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    keepb AS (SELECT band, bv FROM (SELECT band, bv, count(*) AS c FROM bands GROUP BY 1, 2)
              WHERE c <= $PhashBucketCap),
    cb AS (SELECT bands.phash, bands.band, bands.bv FROM bands JOIN keepb USING (band, bv)),
    cp AS (
      SELECT DISTINCT a.phash AS code_a, b.phash AS code_b,
             CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      FROM cb a JOIN cb b ON a.band = b.band AND a.bv = b.bv AND a.phash < b.phash
      WHERE bit_count(xor(a.phash, b.phash)) <= $PhashRadius
    )
    SELECT a.asset_id AS asset_a, b.asset_id AS asset_b, CAST(0 AS INT) AS hamming
    FROM code a JOIN code b ON a.phash = b.phash AND a.asset_id < b.asset_id
    UNION ALL
    SELECT least(ma.asset_id, mb.asset_id) AS asset_a,
           greatest(ma.asset_id, mb.asset_id) AS asset_b, cp.hamming
    FROM cp JOIN code ma ON ma.phash = cp.code_a JOIN code mb ON mb.phash = cp.code_b"""

  // ---- q_phash_clusters ------------------------------------------------

  /** q_phash_clusters: near-duplicate IMAGE clusters — connected
    * components over the [[phashPairs]] Hamming-radius graph, labeling
    * each asset with its canonical keeper (smallest asset_id in the
    * component) and the cluster size. The same completion step the
    * text side runs after pair generation (`q_dedup_components`),
    * reusing [[graft.pipeline.Dedup.componentsOfPairs]] verbatim: the
    * resolver is modality-agnostic — any bounded pair relation
    * (shingle Jaccard, MinHash bands, SimHash, perceptual hashes)
    * clusters with the identical min-label propagation, so a pipeline
    * dedups text and images with ONE resolver implementation.
    *
    * Scale: the resolver consumes the LINEAR representative graph, not
    * the quadratic pair expansion — STAR edges (representative →
    * member, one edge per asset of a multi-member code group) plus the
    * bounded [[phashRepPairs]] edges. Connectivity is identical to the
    * full Hamming graph (every full-graph edge is witnessed by its two
    * endpoints' reps being band-connected), so the components, roots
    * (each rep IS its group's minimum id) and sizes are unchanged —
    * but a million-copy identical-asset group feeds the resolver 10⁶
    * star edges instead of ~10¹² pair edges.
    */
  def phashClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersMemo(spark, sfDir) {
      // the image-side `components` discipline: the labels relation
      // is the artifact every downstream readout joins — the
      // iterative resolution must not re-run per report
      val m = phashMembership(spark, sfDir)
      val stars = m.filter(col("asset_id") =!= col("rep"))
        .select(col("rep").as("doc_a"), col("asset_id").as("doc_b"))
      val repEdges = phashRepPairs(spark, sfDir)
        .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"))
      graft.pipeline.Dedup.componentsOfPairs(stars.unionAll(repEdges))
        .select(col("doc_id").as("asset_id"), col("cluster_root"), col("cluster_size"))
    }

  private val clustersMemo = graft.core.Memo[DataFrame]("phash_components")

  val phashClustersSql: String =
    s"""
    WITH RECURSIVE pp AS (SELECT asset_a, asset_b FROM ($phashPairsSql)),
    edges AS (
      SELECT asset_a AS a, asset_b AS b FROM pp
      UNION SELECT asset_b, asset_a FROM pp
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

  // ---- q_phash_recall ----------------------------------------------------

  /** Probe-set bound for the recall eval (declared cap: every 10th
    * representative id below this — ≤ [[PhashProbeCap]]/10 probes at
    * any corpus size).
    */
  val PhashProbeCap = 1000L

  /** Neighbors per probe in the recall eval. */
  val PhashTopK = 5

  /** q_phash_recall: the recall instrument for the phash band index —
    * the round-9 rule ("every index ships its recall eval as a
    * first-class relation") applied to the one index family that
    * lacked one. Per probe (every 10th representative id under
    * [[PhashProbeCap]]): approximate top-[[PhashTopK]] nearest
    * representatives by Hamming via the banded candidates, measured
    * against the brute-force Hamming truth (the DECLARED CAPPED
    * brute-force baseline — ≤ 100 probes × corpus, the `q_ann_topk`
    * contract). Recall < 1 is informative, not a bug: the 3-band
    * pigeonhole only guarantees candidates within Hamming 2, so
    * truth neighbors beyond the radius measure exactly how much the
    * index under-reaches at this code width.
    *
    * Scale: probes are a broadcast of ≤ 100 narrow band rows into the
    * representative band relation; the truth leg is the declared
    * capped NLJ; both top-k windows partition by probe.
    */
  def phashRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round-16 probe record: a 32-way spread of the membership-derived
    // reps was tried and REVERTED — wall flat, total CPU 4× (per-task
    // fixed costs dwarf the 0.06 MB of data). The capped truth NLJ's
    // serial ~0.5 s is this eval's sf0.1 floor.
    val reps = phashMembership(spark, sfDir)
      .filter(col("asset_id") === col("rep"))
      .select(col("asset_id"), col("phash"))
    val probes = reps
      .filter(col("asset_id") % 10 === 0 && col("asset_id") < PhashProbeCap)
      .select(col("asset_id").as("q_id"), col("phash").as("q_code"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming").asc, col("asset_id").asc)
    def topk(cand: DataFrame): DataFrame = cand
      .filter(col("asset_id") =!= col("q_id"))
      .withColumn("hamming",
        bit_count(col("q_code").bitwiseXOR(col("phash"))).cast("int"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PhashTopK)
      .select(col("q_id"), col("asset_id"))
    // truth: the declared capped brute force (<= 100 probes x reps)
    val truth = topk(broadcast(probes).crossJoin(reps))
    // approx: banded candidates only — the index's actual reach
    val probeBands = phashBandRows(
      probes.select(col("q_id").as("asset_id"), col("q_code").as("phash")))
      .select(col("asset_id").as("q_id"), col("phash").as("q_code"),
        col("band"), col("bv"))
    val cand = broadcast(probeBands)
      .join(phashBandRows(reps), Seq("band", "bv"))
      .select(col("q_id"), col("q_code"), col("asset_id"), col("phash"))
      .distinct()
    val approx = topk(cand).withColumn("hit", lit(1L))
    truth
      .join(approx, Seq("q_id", "asset_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("n_truth"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_truth"), 6).as("recall"))
  }

  val phashRecallSql: String =
    s"""
    WITH $phashCodeCtesSql,
    reps AS (SELECT min(asset_id) AS asset_id, phash FROM code GROUP BY phash),
    probes AS (
      SELECT asset_id AS q_id, phash AS q_code FROM reps
      WHERE asset_id % 10 = 0 AND asset_id < $PhashProbeCap
    ),
    truth AS (
      SELECT q_id, asset_id FROM (
        SELECT p.q_id, r.asset_id,
               row_number() OVER (PARTITION BY p.q_id
                 ORDER BY bit_count(xor(p.q_code, r.phash)) ASC, r.asset_id ASC) AS rk
        FROM probes p CROSS JOIN reps r WHERE r.asset_id <> p.q_id
      ) WHERE rk <= $PhashTopK
    ),
    pb AS (
      SELECT q_id, q_code, b.band, ${phashBandCaseSql("q_code")} AS bv
      FROM probes CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    rb AS (
      SELECT asset_id, phash, b.band, ${phashBandCaseSql("phash")} AS bv
      FROM reps CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT pb.q_id, pb.q_code, rb.asset_id, rb.phash
      FROM pb JOIN rb ON pb.band = rb.band AND pb.bv = rb.bv
      WHERE rb.asset_id <> pb.q_id
    ),
    approx AS (
      SELECT q_id, asset_id FROM (
        SELECT q_id, asset_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY bit_count(xor(q_code, phash)) ASC, asset_id ASC) AS rk
        FROM cand
      ) WHERE rk <= $PhashTopK
    )
    SELECT t.q_id,
           CAST(sum(CASE WHEN a.asset_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN a.asset_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS recall
    FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.asset_id = a.asset_id
    GROUP BY 1"""

  // ---- q_phash_incremental -----------------------------------------------

  /** q_phash_incremental: INCREMENTAL image-cluster maintenance — the
    * [[graft.pipeline.Dedup.componentsIncremental]] operation on the
    * image side, through the SAME [[graft.pipeline.Dedup
    * .quotientMerge]] helper (one merge implementation serves both
    * modalities, as one resolver already does). Snapshot A (even
    * asset ids) has materialized cluster labels; snapshot B (odd)
    * arrives with its internal representative graph (star edges +
    * capped rep pairs read from its persisted [[graft.sources
    * .PhashIndex]] band table) and its bridges into A (the
    * exchange-free index-to-index band join, Hamming-verified); the
    * resolver runs over the quotient only. The DuckDB oracle
    * recomputes everything from scratch over the same five edge
    * relations.
    */
  def phashIncremental(spark: SparkSession, sfDir: String): DataFrame =
    // the merged labels ARE the image estate's post-merge state — the
    // Dedup.componentsIncremental contract: persisted per dataset
    // (deterministic, oracle-hash-gated every Verify), memoized per
    // application on top (cold cost in the bench `artifacts` map)
    mergedStateMemo(spark, sfDir)(computePhashIncremental(spark, sfDir))

  // cpsamp3 = the round-14 native CodepointAt sampler (see
  // Audio.DerivationVersion for the truncated-tail rationale)
  private val mergedStateMemo = graft.core.Memo.persisted("phash_merged_state",
    version = s"cpsamp3:$PhashRadius:$PhashBucketCap")

  private def computePhashIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, tb) = graft.sources.PhashIndex.snapshotTables(spark, sfDir)
    val bandsA = spark.table(ta).select(col("rep"), col("phash"), col("band"), col("bv"))
    val bandsB = spark.table(tb).select(col("rep"), col("phash"), col("band"), col("bv"))
    val m = phashMembership(spark, sfDir)
    // star edges of one parity lane: side representative -> member
    // (side groups derive from the memoized full membership — the
    // code computation never re-runs)
    def stars(parity: Int): DataFrame = {
      val side = m.filter(col("asset_id") % 2 === parity)
        .select(col("asset_id"), col("phash"))
      val g = side.groupBy(col("phash")).agg(min(col("asset_id")).as("srep"))
      side.join(g, Seq("phash")).filter(col("asset_id") =!= col("srep"))
        .select(col("srep").as("doc_a"), col("asset_id").as("doc_b"))
    }
    // capped rep pairs over a persisted band table (the
    // lshPairsOfBandRows shape for the image index: every step rides
    // the table's own (band, bv) bucketing)
    def repPairs(bands: DataFrame): DataFrame = {
      val keep = bands.groupBy(col("band"), col("bv"))
        .agg(count(lit(1)).as("c")).filter(col("c") <= PhashBucketCap)
        .select(col("band"), col("bv"))
      val b = bands.join(keep, Seq("band", "bv"), "left_semi")
      b.as("a")
        .join(b.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.phash") < col("b.phash"))
        .filter(bit_count(col("a.phash").bitwiseXOR(col("b.phash"))) <= PhashRadius)
        .select(col("a.rep").as("doc_a"), col("b.rep").as("doc_b"))
        .distinct()
    }
    val bridges = bandsB.as("n")
      .join(bandsA.select(col("band"), col("bv"), col("rep").as("a_rep"),
        col("phash").as("phash_c")).as("c"), Seq("band", "bv"))
      .filter(bit_count(col("phash").bitwiseXOR(col("phash_c"))) <= PhashRadius)
      .select(col("n.rep").as("b_doc"), col("a_rep").as("a_doc"))
      .distinct()
      .mat
    val aLabels = estateMemo(spark, sfDir)(
      graft.pipeline.Dedup.componentsOfPairs(stars(0).unionAll(repPairs(bandsA)))
        .select(col("doc_id"), col("cluster_root")))
    graft.pipeline.Dedup
      .quotientMerge(aLabels, stars(1).unionAll(repPairs(bandsB)), bridges)
      .select(col("doc_id").as("asset_id"), col("cluster_root"), col("cluster_size"))
  }

  private val estateMemo = graft.core.Memo[DataFrame]("phash_estate_components")

  val phashIncrementalSql: String = {
    def lane(parity: Int, grp: String, bands0: String, bandsC: String,
        rp: String, st: String, cSide: String): String =
      s"""$cSide AS (SELECT asset_id, phash FROM code WHERE asset_id % 2 = $parity),
    $grp AS (SELECT phash, min(asset_id) AS rep FROM $cSide GROUP BY 1),
    $st AS (SELECT g.rep AS doc_a, c.asset_id AS doc_b
            FROM $cSide c JOIN $grp g USING (phash) WHERE c.asset_id <> g.rep),
    $bands0 AS (
      SELECT rep, phash, b.band, ${phashBandCaseSql("phash")} AS bv
      FROM $grp CROSS JOIN (VALUES (0), (1), (2)) AS b(band)
    ),
    $bandsC AS (SELECT b0.* FROM $bands0 b0 JOIN (
        SELECT band, bv FROM (SELECT band, bv, count(*) AS c FROM $bands0 GROUP BY 1, 2)
        WHERE c <= $PhashBucketCap) k USING (band, bv)),
    $rp AS (
      SELECT DISTINCT a.rep AS doc_a, b.rep AS doc_b
      FROM $bandsC a JOIN $bandsC b
        ON a.band = b.band AND a.bv = b.bv AND a.phash < b.phash
      WHERE bit_count(xor(a.phash, b.phash)) <= $PhashRadius
    )"""
    s"""
    WITH RECURSIVE $phashCodeCtesSql,
    ${lane(0, "gA", "bA0", "bAc", "rpA", "stA", "cA")},
    ${lane(1, "gB", "bB0", "bBc", "rpB", "stB", "cB")},
    br AS (
      SELECT DISTINCT bb.rep AS doc_a, ba.rep AS doc_b
      FROM bB0 bb JOIN bA0 ba ON bb.band = ba.band AND bb.bv = ba.bv
      WHERE bit_count(xor(bb.phash, ba.phash)) <= $PhashRadius
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

  /** DuckDB mirror: the payload is `encode(text, 'UTF-8')`, so the
    * oracle folds the same UTF-8 BYTE sequence the engine's codec
    * sees — each codepoint expanded to its 1-4 UTF-8 bytes in SQL
    * (the exact inverse of the engine-side decode in
    * [[graft.pipeline.Dedup.sampleCodepointExprSql]]'s lane). The
    * earlier codepoint fold agreed with the engine only on ASCII
    * text; on a multilingual corpus every multibyte character
    * diverged in checksum, n_bytes, head_byte, and mean_luma.
    * `MultimodalSpec` pins 1/2/3/4-byte characters against
    * hand-computed byte folds.
    */
  val multimodalFeaturesSql: String =
    """
    WITH t AS (
      SELECT doc_id AS asset_id,
             ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
             text, n_chars,
             flatten([
               CASE WHEN c < 128 THEN [c]
                    WHEN c < 2048 THEN [192 + c // 64, 128 + c % 64]
                    WHEN c < 65536 THEN [224 + c // 4096, 128 + (c // 64) % 64, 128 + c % 64]
                    ELSE [240 + c // 262144, 128 + (c // 4096) % 64, 128 + (c // 64) % 64, 128 + c % 64]
               END
               for c in [unicode(substr(text, i, 1)) for i in generate_series(1, length(text))]
             ]) AS bytes
      FROM documents
    ),
    f AS (
      SELECT asset_id, media_type,
             CAST(length(bytes) AS BIGINT) AS n_bytes,
             CAST(list_reduce(list_prepend(0::BIGINT, [CAST(b AS BIGINT) for b in bytes]),
                  (acc, x) -> (acc * 131 + x) % 1000000007) AS BIGINT) AS checksum,
             CASE WHEN length(bytes) > 0 THEN CAST(bytes[1] AS INT) ELSE -1 END AS head_byte,
             CASE WHEN asset_id % 3 = 2 THEN greatest(1, CAST((n_chars * 25) // 40 AS INT)) ELSE 1 END AS frame_count,
             CASE WHEN length(bytes) = 0 THEN 0.0
                  ELSE CAST(list_sum([CAST(b AS BIGINT) for b in bytes]) AS DOUBLE) / length(bytes)
             END AS mean_luma
      FROM t
    )
    SELECT asset_id, media_type, n_bytes, checksum, head_byte, frame_count,
           round(mean_luma, 6) AS mean_luma
    FROM f"""
}
