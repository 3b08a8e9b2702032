package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.pipeline.{Dedup, TextAnalysis}

/** Streaming KEEP-LIST ingest gate — the live form of `q_keep_list`'s
  * decision record: documents stream in and each one gets its curation
  * verdict AT INGEST, before it ever lands in the corpus. The rules
  * are the ingest-evaluable prefix of [[graft.pipeline.Curate]]'s
  * first-failure ordering:
  *
  *   too_short → too_repetitive → blocklisted   (map-only quality
  *     rules, the same expressions as the batch funnel)
  *   → exact_dup    (md5 against the CORPUS keeper map — a broadcast
  *     of the materialized exact-dedup verdict, `Dedup.exact`'s shape)
  *   → near_dup     (banded MinHash signatures against the PERSISTED
  *     [[graft.sources.SignatureIndex]] table — the stream-static
  *     bucketed join, signature-verified at est ≥ 0.5, best match
  *     reported)
  *   → keep
  *
  * The corpus-batch-only gates (eval_holdout / contaminated /
  * low_importance and near-dup CLUSTER resolution) are deliberately
  * absent: they require corpus-wide state that does not exist at
  * ingest — the nightly batch keep list remains the authority; this
  * gate is the admission filter in front of it.
  *
  * Shape: everything below the final collapse is stateless — narrow
  * codegen rule projections, one broadcast hash join (keeper map), and
  * the band join against the bucketed index (at estate scale the join
  * reads only matching bucket files per trigger). The per-document
  * collapse (4 band rows → one verdict) is a flatMapGroupsWithState
  * that KEEPS NO STATE: every band row of a document is derived from
  * one input row, so the group is complete within its trigger and the
  * operator is a per-trigger reduce — state size zero, no watermark,
  * no growth. The same code path executes as a plain batch groupBy on
  * a static DataFrame, which is exactly what IngestGateSpec pins
  * stream == batch against (the DriftState parity contract).
  */
object IngestGate {

  /** Signature-agreement threshold (est ≥ 8/16), the index's rule. */
  val NearDupMinEst: Double = 0.5

  /** One scored band row entering the collapse. */
  final case class GateRow(
      doc_id: Long, pre_verdict: String, keeper: java.lang.Long,
      corpus_doc: java.lang.Long, est: java.lang.Double)

  /** The emitted verdict record (one row per document). */
  final case class Verdict(
      doc_id: Long, verdict: String, dup_of: java.lang.Long, est_jaccard: java.lang.Double)

  /** Collapse a document's band rows into its single verdict. Pure —
    * shared by the streaming operator and the batch twin; keeps no
    * state.
    */
  def collapse(docId: Long, rows: Iterator[GateRow]): Verdict = {
    var pre: String = null
    var keeper: java.lang.Long = null
    var bestEst: Double = -1.0
    var bestDoc: Long = Long.MaxValue
    rows.foreach { r =>
      if (r.pre_verdict != null) pre = r.pre_verdict
      if (r.keeper != null) keeper = r.keeper
      if (r.est != null && r.est >= NearDupMinEst) {
        val e: Double = r.est
        val d: Long = r.corpus_doc
        if (e > bestEst || (e == bestEst && d < bestDoc)) { bestEst = e; bestDoc = d }
      }
    }
    if (pre != null) Verdict(docId, pre, null, null)
    else if (keeper != null) Verdict(docId, "exact_dup", keeper, 1.0)
    else if (bestEst >= NearDupMinEst)
      Verdict(docId, "near_dup", bestDoc, math.round(bestEst * 1e6) / 1e6)
    else Verdict(docId, "keep", null, null)
  }

  private def update(
      docId: Long, rows: Iterator[GateRow], state: GroupState[Int]): Iterator[Verdict] =
    Iterator.single(collapse(docId, rows))

  /** The gate over a (doc_id, text) relation — STREAMING or batch
    * (same plan both ways; the parity spec runs both). `corpus` is the
    * static already-ingested corpus (doc_id, text, ...) whose keeper
    * map gates exact duplicates; `indexTable` is its persisted
    * [[graft.sources.SignatureIndex]] band table.
    */
  def verdicts(docs: DataFrame, corpus: DataFrame, indexTable: String,
      bucketCap: Long = graft.pipeline.Dedup.MinhashBucketCap): Dataset[Verdict] =
    collapseVerdicts(scoredRows(docs, corpus, indexTable, bucketCap))

  /** The per-doc collapse over any scored band relation — shared by the
    * streaming/batch [[verdicts]] and the persisted-band batch seam
    * ([[ingestGateQuery]]).
    */
  private[streaming] def collapseVerdicts(scored: DataFrame): Dataset[Verdict] = {
    implicit val gateEnc = Encoders.product[GateRow]
    implicit val verdictEnc = Encoders.product[Verdict]
    implicit val stateEnc = Encoders.scalaInt
    implicit val keyEnc = Encoders.scalaLong
    scored.as[GateRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(update _)
  }

  /** [[collapse]] as a NATIVE aggregation over the scored band rows —
    * the batch seam's collapse (codegen partial aggregation instead of
    * the stateful object-path operator, which the STREAM keeps). Rule
    * mirror, pinned by the oracle and by GateCollapseParitySpec
    * (agg form == collapse() on adversarial band-row sets): a doc's band rows
    * all carry the same pre_verdict/keeper (carried through the band
    * explode), so max() selects them; the best near-dup is the max
    * (est, −corpus_doc) struct over rows at est ≥ [[NearDupMinEst]]
    * (highest estimate, lowest doc tie-break), and est values are
    * k/16 so the 6-decimal round is exact in both forms.
    */
  private[streaming] def collapseVerdictsAgg(scored: DataFrame): DataFrame =
    scored.groupBy(col("doc_id"))
      .agg(
        max(col("pre_verdict")).as("pre"),
        max(col("keeper")).as("keeper"),
        max(when(col("est") >= NearDupMinEst,
          struct(col("est"), (-col("corpus_doc")).as("neg")))).as("m"))
      .select(
        col("doc_id"),
        when(col("pre").isNotNull, col("pre"))
          .when(col("keeper").isNotNull, lit("exact_dup"))
          .when(col("m").isNotNull, lit("near_dup"))
          .otherwise(lit("keep")).as("verdict"),
        when(col("pre").isNotNull, lit(null).cast("bigint"))
          .when(col("keeper").isNotNull, col("keeper"))
          .when(col("m").isNotNull, -col("m.neg")).as("dup_of"),
        when(col("pre").isNotNull, lit(null).cast("double"))
          .when(col("keeper").isNotNull, lit(1.0))
          .when(col("m").isNotNull, round(col("m.est"), 6)).as("est_jaccard"))

  /** The corpus keeper map (content md5 → lowest doc_id), memoized per
    * (application, index table version) and checkpointed — the
    * `TableUtil.hotBuckets` precedent applied to the gate's other
    * static leg: the map is a deterministic derivation of the static
    * corpus snapshot (1:1 with its signature index table), and building
    * it inside the per-call/per-trigger plan re-aggregated the corpus
    * every time. At estate scale this relation is the content-hash
    * index every ingest pipeline already maintains; cold cost lands in
    * the bench `artifacts` map.
    */
  private val keeperMemo = graft.core.Memo[DataFrame]("gate_keeper_map", maxEntries = 8)

  private def keeperMap(corpus: DataFrame, indexTable: String): DataFrame =
    keeperMemo(corpus.sparkSession,
        graft.sources.TableUtil.tableVersion(corpus.sparkSession, indexTable))(
      corpus.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("keeper")))

  /** The text gate's scored band rows BEFORE the per-doc collapse —
    * the shared leg [[verdicts]] consumes alone and [[admissionStream]]
    * unions with the image/audio/vector legs.
    */
  private def scoredRows(docs: DataFrame, corpus: DataFrame, indexTable: String,
      bucketCap: Long = graft.pipeline.Dedup.MinhashBucketCap): DataFrame = {
    val spark = docs.sparkSession
    // the materialized exact-dedup verdict of the corpus (Dedup.exact's
    // keeper rule), memoized per snapshot and broadcast — at estate
    // scale this is the content-hash index every ingest pipeline
    // already maintains
    val keepers = broadcast(keeperMap(corpus, indexTable))
    // hot-bucket stop-loss on the gate's index side — the
    // crossSnapshotPairsCapped convention extended to the ADMISSION
    // path (the batch sweeps have carried it since round 12, but the
    // gate joined the raw index: at estate scale one boilerplate
    // (band, bh) key with 10^6 resident rows would multiply every
    // matching arriving doc by 10^6 and stall the trigger). Buckets
    // over the cap are dropped WHOLE, the sweep semantics; the hot set
    // is bounded by rows/cap, so the anti-join build side stays small
    // by construction. Oracle mirror: sighot in ingestGateCtesSql.
    val idx = graft.sources.SignatureIndex.gateSide(spark, indexTable, bucketCap,
      col("doc_id").as("corpus_doc"), col("sig").as("sig_c"))
    // band rows carry the quality/keeper columns THROUGH the signature
    // pipeline (bandedSignaturesKeep) — joining back to the document
    // stream would be a stream-stream self-join; the left outer band
    // join keeps no-match rows so the collapse can emit `keep`
    scoreBands(
      Dedup.bandedSignaturesKeep(
        flaggedOf(docs, keepers)
          .select(col("doc_id"), col("text"), col("pre_verdict"), col("keeper")),
        keep = Seq("pre_verdict", "keeper")),
      idx)
  }

  /** The map-only text-rule verdict prefix + keeper attach over a
    * (doc_id, text) relation — the first-failure quality rules shared
    * by the in-flight gate ([[scoredRows]]) and the persisted-band
    * batch seam ([[ingestGateQuery]]).
    */
  private def flaggedOf(docs: DataFrame, keepers: DataFrame): DataFrame = {
    import TextAnalysis.{Blocklist, BlocklistThreshold, FunnelMinDistinctRatio, FunnelMinTokens}
    val toks = TextAnalysis.tokens(col("text"))
    val lex = array(Blocklist.map(lit(_)): _*)
    docs.select(
      col("doc_id"), col("text"),
      md5(col("text")).as("h"),
      size(toks).as("nt"),
      size(array_distinct(toks)).as("ndt"),
      size(filter(toks, w => array_contains(lex, w))).as("n_blk"))
      .withColumn("pre_verdict",
        when(col("nt") < FunnelMinTokens, lit("too_short"))
          .when(col("ndt").cast("double") / col("nt").cast("double") < FunnelMinDistinctRatio,
            lit("too_repetitive"))
          .when(col("n_blk").cast("double") / col("nt").cast("double") >= BlocklistThreshold,
            lit("blocklisted"))
          .otherwise(lit(null: String)))
      .join(keepers, Seq("h"), "left")
  }

  /** Left band join + agreement score over any banded arriving relation
    * `(doc_id, sig, band, bh, pre_verdict, keeper)` — shared tail of
    * [[scoredRows]] and the persisted-band seam.
    */
  private def scoreBands(bands: DataFrame, idx: DataFrame): DataFrame =
    bands
      .join(idx, Seq("band", "bh"), "left")
      .withColumn("est",
        when(col("sig_c").isNotNull,
          size(filter(zip_with(col("sig"), col("sig_c"), (x, y) => x === y), p => p))
            .cast("double") / lit(16.0)))
      .select(col("doc_id"), col("pre_verdict"), col("keeper"), col("corpus_doc"), col("est"))

  // ---- q_ingest_gate -----------------------------------------------------

  /** q_ingest_gate: the gate as a GATED query — the odd-id half of the
    * dataset "arrives" against the even-id corpus and its persisted
    * signature index (the SAME snapshot-A table `q_cross_snapshot_dedup`
    * maintains — one artifact, two consumers), and every incoming doc
    * gets its ingest verdict. The verdict rules, the collapse, and the
    * oracle are the stream gate's own (IngestGateSpec separately pins
    * stream == batch across trigger splits, and the composed in-flight
    * stream plan remains hash-gated end to end by
    * q_estate_admission_stream); since round 16 the batch execution
    * feeds the arriving side from the persisted snapshot index instead
    * of re-fingerprinting in-flight — identical band rows by
    * construction, see the body comment.
    */
  def ingestGateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.queries.Tables.documents(spark, sfDir)
    val (corpusIdx, arriveIdx) = graft.sources.SignatureIndex.snapshotTables(spark, sfDir)
    // round 16: the arriving half's banded signatures ride its OWN
    // persisted snapshot index (identical rows by construction — the
    // same Dedup.bandedSignatures over the same odd docs wrote it), so
    // the per-call shingle → 16-permutation chain over arriving text
    // disappears; the map-only text rules still run in-flight. Both
    // index tables are bucketed by (band, bh), so the candidate join
    // plans no exchange. The f740368 phash/audio gate convention
    // applied to the text gate: the STREAMING twin keeps fingerprinting
    // in-flight through the unchanged verdicts()/scoredRows entry
    // (IngestGateSpec pins stream == batch there), the composed
    // in-flight stream plan stays hash-gated by
    // q_estate_admission_stream, and this query's oracle hash-gates the
    // seam's output.
    val arriving = docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val flagged = flaggedOf(arriving, broadcast(keeperMap(corpus, corpusIdx)))
      .select(col("doc_id"), col("pre_verdict"), col("keeper"))
    val idx = graft.sources.SignatureIndex.gateSide(spark, corpusIdx,
      graft.pipeline.Dedup.MinhashBucketCap, col("doc_id").as("corpus_doc"), col("sig").as("sig_c"))
    val bands = spark.table(arriveIdx).join(broadcast(flagged), Seq("doc_id"))
    collapseVerdictsAgg(scoreBands(bands, idx))
  }

  /** The gate oracle's CTE body (ending at the per-doc verdict
    * relation `v`) — shared verbatim by [[ingestGateSql]] and the
    * composed estate-admission oracle
    * ([[estateAdmissionOracleSql]]), so the two can never drift on
    * the text rules.
    */
  private[graft] val ingestGateCtesSql: String = {
    import TextAnalysis.{Blocklist, BlocklistThreshold, FunnelMinDistinctRatio, FunnelMinTokens}
    s"""shdoc AS (${Dedup.shingleHashesSql()}),
    sigs AS (SELECT doc_id, ${Dedup.sigSqlExpr} AS sig FROM shdoc),
    bands AS (
      SELECT doc_id, sig, b.band,
             md5(array_to_string(sig[4 * b.band + 1 : 4 * b.band + 4], ',')) AS bh
      FROM sigs CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    sighot AS (
      -- the gate's index-side hot-bucket stop-loss (scoredRows):
      -- corpus buckets over the cap are dropped whole
      SELECT band, bh FROM bands WHERE doc_id % 2 = 0
      GROUP BY 1, 2 HAVING count(*) > ${graft.pipeline.Dedup.MinhashBucketCap}
    ),
    matches AS (
      SELECT DISTINCT n.doc_id, c.doc_id AS corpus_doc,
             round(CAST(len([i for i in generate_series(1, 16) if n.sig[i] = c.sig[i]]) AS DOUBLE) / 16.0, 6) AS est
      FROM bands n JOIN bands c ON n.band = c.band AND n.bh = c.bh
      WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
        AND NOT EXISTS (SELECT 1 FROM sighot h
                        WHERE h.band = c.band AND h.bh = c.bh)
        AND round(CAST(len([i for i in generate_series(1, 16) if n.sig[i] = c.sig[i]]) AS DOUBLE) / 16.0, 6) >= $NearDupMinEst
    ),
    best AS (
      SELECT doc_id, corpus_doc, est FROM (
        SELECT doc_id, corpus_doc, est,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY est DESC, corpus_doc ASC) AS rk
        FROM matches
      ) WHERE rk = 1
    ),
    keepers AS (
      SELECT md5(text) AS h, min(doc_id) AS keeper FROM documents
      WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    flags AS (
      SELECT doc_id, md5(text) AS h,
             len(string_split(text, ' ')) AS nt,
             len(list_distinct(string_split(text, ' '))) AS ndt,
             len([w for w in string_split(text, ' ')
                  if list_contains([${Blocklist.map(t => s"'$t'").mkString(", ")}], w)]) AS n_blk
      FROM documents WHERE doc_id % 2 = 1
    ),
    v AS (
      SELECT f.doc_id,
             CASE
               WHEN f.nt < $FunnelMinTokens THEN 'too_short'
               WHEN CAST(f.ndt AS DOUBLE) / CAST(f.nt AS DOUBLE) < $FunnelMinDistinctRatio
                 THEN 'too_repetitive'
               WHEN CAST(f.n_blk AS DOUBLE) / CAST(f.nt AS DOUBLE) >= $BlocklistThreshold
                 THEN 'blocklisted'
               WHEN k.keeper IS NOT NULL THEN 'exact_dup'
               WHEN b.corpus_doc IS NOT NULL THEN 'near_dup'
               ELSE 'keep'
             END AS verdict,
             k.keeper, b.corpus_doc, b.est
      FROM flags f
      LEFT JOIN keepers k ON f.h = k.h
      LEFT JOIN best b ON f.doc_id = b.doc_id
    )"""
  }

  /** DuckDB mirror: the curate rule expressions + the corpus keeper
    * map + the cross-snapshot signature match, collapsed with the
    * gate's first-failure precedence.
    */
  val ingestGateSql: String =
    s"""
    WITH $ingestGateCtesSql
    SELECT doc_id, verdict,
           CASE WHEN verdict = 'exact_dup' THEN keeper
                WHEN verdict = 'near_dup' THEN corpus_doc END AS dup_of,
           CASE WHEN verdict = 'exact_dup' THEN 1.0
                WHEN verdict = 'near_dup' THEN est END AS est_jaccard
    FROM v"""

  // ---- streaming admission (the composed gates as ONE stream) -----------

  /** One row of the unioned admission stream: exactly one leg's
    * columns are populated (text band row / image band match / vector
    * cell match), the others null.
    */
  final case class AdmRow(
      doc_id: Long, pre_verdict: String, keeper: java.lang.Long,
      corpus_doc: java.lang.Long, est: java.lang.Double,
      img_rep: java.lang.Long, hamming: java.lang.Integer,
      aud_rep: java.lang.Long, agree: java.lang.Long,
      emb_vec: java.lang.Long, cos: java.lang.Double)

  /** The emitted admission record — the `q_estate_admission` contract. */
  final case class Admission(
      doc_id: Long, verdict: String, text_dup_of: java.lang.Long,
      image_dup_of: java.lang.Long, best_hamming: java.lang.Integer,
      audio_dup_of: java.lang.Long, best_agree: java.lang.Long,
      embed_dup_of: java.lang.Long, best_cos: java.lang.Double)

  /** Collapse a document's unioned leg rows into its admission
    * verdict — pure; text → image → semantic precedence, best-match
    * tie-breaks identical to the batch composition (`estateAdmission`).
    */
  def collapseAdmission(docId: Long, rows: Iterator[AdmRow]): Admission = {
    var pre: String = null
    var keeper: java.lang.Long = null
    var bestEst = -1.0; var bestEstDoc = Long.MaxValue
    var bestHam = Int.MaxValue; var bestRep = Long.MaxValue
    var bestAgr = -1L; var bestAud = Long.MaxValue
    var bestCos = -1.0; var bestVec = Long.MaxValue
    rows.foreach { r =>
      if (r.pre_verdict != null) pre = r.pre_verdict
      if (r.keeper != null) keeper = r.keeper
      if (r.est != null && r.est >= NearDupMinEst) {
        val e: Double = r.est; val d: Long = r.corpus_doc
        if (e > bestEst || (e == bestEst && d < bestEstDoc)) { bestEst = e; bestEstDoc = d }
      }
      if (r.hamming != null) {
        val h: Int = r.hamming; val p: Long = r.img_rep
        if (h < bestHam || (h == bestHam && p < bestRep)) { bestHam = h; bestRep = p }
      }
      if (r.agree != null) {
        val g: Long = r.agree; val p: Long = r.aud_rep
        if (g > bestAgr || (g == bestAgr && p < bestAud)) { bestAgr = g; bestAud = p }
      }
      if (r.cos != null) {
        val c: Double = r.cos; val v: Long = r.emb_vec
        if (c > bestCos || (c == bestCos && v < bestVec)) { bestCos = c; bestVec = v }
      }
    }
    val imageDup: java.lang.Long = if (bestHam != Int.MaxValue) bestRep else null
    val hamOut: java.lang.Integer = if (bestHam != Int.MaxValue) bestHam else null
    val audioDup: java.lang.Long = if (bestAgr >= 0) bestAud else null
    val agrOut: java.lang.Long = if (bestAgr >= 0) bestAgr else null
    val embedDup: java.lang.Long = if (bestCos >= 0) bestVec else null
    val cosOut: java.lang.Double = if (bestCos >= 0) bestCos else null
    val textDup: java.lang.Long =
      if (pre != null) null
      else if (keeper != null) keeper
      else if (bestEst >= NearDupMinEst) bestEstDoc
      else null
    val verdict =
      if (pre != null) s"text_$pre"
      else if (keeper != null) "text_exact_dup"
      else if (bestEst >= NearDupMinEst) "text_near_dup"
      else if (imageDup != null) "image_dup"
      else if (audioDup != null) "audio_dup"
      else if (embedDup != null) "semantic_dup"
      else "admit"
    Admission(docId, verdict, textDup, imageDup, hamOut, audioDup, agrOut, embedDup, cosOut)
  }

  private def updateAdm(
      docId: Long, rows: Iterator[AdmRow], state: GroupState[Int]): Iterator[Admission] =
    Iterator.single(collapseAdmission(docId, rows))

  /** The composed admission gate as ONE streaming plan — the live form
    * of [[estateAdmission]]: `docs` is the arriving (doc_id, text,
    * embedding) stream; each document's text band rows, image band
    * matches, audio landmark matches, and vector cell matches (all
    * stateless stream-static joins against the four persisted
    * indexes) UNION into one keyed stream, and a zero-state per-doc collapse emits the verdict. As
    * with [[verdicts]], every unioned row derives from one input row,
    * so the group is complete within its trigger — no watermark, no
    * state growth — and the identical plan runs on a static DataFrame
    * (the batch execution `q_estate_admission_stream` hash-gates, and
    * AdmissionStreamSpec pins stream == batch across trigger splits).
    */
  def admissionStream(docs: DataFrame, corpus: DataFrame, sigIdx: String,
      phashIdx: String, audioIdx: String, embedIdx: String,
      centers: IndexedSeq[Array[Double]]): Dataset[Admission] = {
    def nl(t: String, n: String) = lit(null).cast(t).as(n)
    val text = scoredRows(docs.select(col("doc_id"), col("text")), corpus, sigIdx)
      .select(col("doc_id"), col("pre_verdict"), col("keeper"),
        col("corpus_doc"), col("est"),
        nl("bigint", "img_rep"), nl("int", "hamming"),
        nl("bigint", "aud_rep"), nl("bigint", "agree"),
        nl("bigint", "emb_vec"), nl("double", "cos"))
    val img = graft.sources.PhashIndex
      .ingestStream(docs.select(col("doc_id"), col("text")), phashIdx)
      .select(col("asset_id").as("doc_id"), nl("string", "pre_verdict"),
        nl("bigint", "keeper"), nl("bigint", "corpus_doc"), nl("double", "est"),
        col("corpus_rep").as("img_rep"), col("hamming"),
        nl("bigint", "aud_rep"), nl("bigint", "agree"),
        nl("bigint", "emb_vec"), nl("double", "cos"))
    val aud = graft.sources.AudioIndex
      .ingestStream(docs.select(col("doc_id"), col("text")), audioIdx)
      .select(col("asset_id").as("doc_id"), nl("string", "pre_verdict"),
        nl("bigint", "keeper"), nl("bigint", "corpus_doc"), nl("double", "est"),
        nl("bigint", "img_rep"), nl("int", "hamming"),
        col("corpus_rep").as("aud_rep"), col("n_agree").as("agree"),
        nl("bigint", "emb_vec"), nl("double", "cos"))
    val emb = graft.sources.EmbedIndex
      .ingestStream(
        docs.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("vec_id"), col("embedding")),
        embedIdx, centers)
      .select(col("vec_id").as("doc_id"), nl("string", "pre_verdict"),
        nl("bigint", "keeper"), nl("bigint", "corpus_doc"), nl("double", "est"),
        nl("bigint", "img_rep"), nl("int", "hamming"),
        nl("bigint", "aud_rep"), nl("bigint", "agree"),
        col("corpus_vec").as("emb_vec"), col("cos"))
    implicit val admRowEnc = Encoders.product[AdmRow]
    implicit val admEnc = Encoders.product[Admission]
    implicit val stateEnc = Encoders.scalaInt
    implicit val keyEnc = Encoders.scalaLong
    text.unionByName(img).unionByName(aud).unionByName(emb)
      .as[AdmRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(updateAdm _)
  }

  /** q_estate_admission_stream: the STREAM plan's batch execution,
    * hash-gated against the same oracle as the join-form composition
    * (`q_estate_admission`) — the two compute the same contract by two
    * different plans (three left joins vs union + keyed collapse), and
    * both must match DuckDB, so the streaming form is oracle-gated,
    * not just parity-pinned.
    */
  def estateAdmissionStream(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.queries.Tables.documents(spark, sfDir)
    val emb = graft.queries.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val (sigIdx, _) = graft.sources.SignatureIndex.snapshotTables(spark, sfDir)
    val (phashIdx, _) = graft.sources.PhashIndex.snapshotTables(spark, sfDir)
    val (audioIdx, _) = graft.sources.AudioIndex.snapshotTables(spark, sfDir)
    val (embedIdx, _) = graft.sources.EmbedIndex.snapshotTables(spark, sfDir)
    val centers = graft.pipeline.Similarity.estateCenters(spark, sfDir)
    admissionStream(
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .join(emb, Seq("doc_id"), "left"),
      docs.filter(col("doc_id") % 2 === 0),
      sigIdx, phashIdx, audioIdx, embedIdx, centers).toDF()
  }

  // ---- q_estate_admission ------------------------------------------------

  /** q_estate_admission: the composed ADMISSION verdict — one row per
    * arriving document joining all four live gates against their
    * persisted estate indexes: the text gate's first-failure verdict
    * ([[verdicts]]), the best image near-dup ([[graft.sources
    * .PhashIndex.ingestStream]] — lowest Hamming, lowest rep), the best
    * audio near-dup ([[graft.sources.AudioIndex.ingestStream]] —
    * highest landmark agreement, lowest rep), and the best semantic
    * near-dup ([[graft.sources.EmbedIndex.ingestStream]] — highest
    * cosine, lowest vec). Precedence: a text failure names itself
    * (`text_<rule>`), then `image_dup`, then `audio_dup`, then
    * `semantic_dup`, else `admit` — the one record an estate operator reads to answer
    * "why was this document rejected at ingest, and of what is it a
    * copy?".
    *
    * Scale: each leg is the gate's own stream-static plan (broadcast
    * keeper map + four bucketed index joins, all candidate-bounded);
    * the per-doc best aggregations and the three left joins shuffle only
    * trigger-sized, match-bounded relations — the corpus never moves.
    */
  /** The three per-doc best-match gate legs — ONE implementation of
    * each tie-break rule (image: lowest Hamming, lowest rep; audio:
    * highest agreement, lowest rep; vector: highest cosine, lowest
    * vec), shared by the composed admission AND the batch estate keep
    * list ([[graft.pipeline.Curate.keepListEstate]]), so the live and
    * nightly verdicts can never drift on a rule.
    */
  private[graft] def bestImageLeg(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.PhashIndex.phashIngestGate(spark, sfDir)
      .groupBy(col("asset_id"))
      .agg(min(struct(col("hamming"), col("corpus_rep"))).as("m"))
      .select(col("asset_id").as("doc_id"),
        col("m.corpus_rep").as("image_dup_of"), col("m.hamming").as("best_hamming"))

  private[graft] def bestAudioLeg(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.AudioIndex.audioIngestGate(spark, sfDir)
      .groupBy(col("asset_id"))
      .agg(max(struct(col("n_agree"), (-col("corpus_rep")).as("neg"))).as("m"))
      .select(col("asset_id").as("doc_id"),
        (-col("m.neg")).as("audio_dup_of"), col("m.n_agree").as("best_agree"))

  private[graft] def bestEmbedLeg(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.EmbedIndex.embedIngestGate(spark, sfDir)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("corpus_vec")).as("neg"))).as("m"))
      .select(col("vec_id").as("doc_id"),
        (-col("m.neg")).as("embed_dup_of"), col("m.cos").as("best_cos"))

  /** The composed admission relation materializes ONCE per
    * (application, dataset) — three registered queries consume it
    * (the admission itself, the crawl-level fold, and the composed
    * crawl gate), and recomputing the four gate legs per consumer is
    * exactly the repeated-corpus-pass the keep-list memo discipline
    * exists to prevent. Deterministic, so memoization is
    * observationally pure; cold cost lands in the bench `artifacts`
    * map.
    */
  def estateAdmission(spark: SparkSession, sfDir: String): DataFrame =
    admissionMemo(spark, sfDir)(computeEstateAdmission(spark, sfDir))

  private val admissionMemo = graft.core.Memo[DataFrame]("estate_admission")

  private[graft] def computeEstateAdmission(spark: SparkSession, sfDir: String): DataFrame = {
    val text = ingestGateQuery(spark, sfDir)
      .select(col("doc_id"), col("verdict").as("text_verdict"),
        col("dup_of").as("text_dup_of"))
    text
      .join(bestImageLeg(spark, sfDir), Seq("doc_id"), "left")
      .join(bestAudioLeg(spark, sfDir), Seq("doc_id"), "left")
      .join(bestEmbedLeg(spark, sfDir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("text_verdict") =!= "keep", concat(lit("text_"), col("text_verdict")))
          .when(col("image_dup_of").isNotNull, lit("image_dup"))
          .when(col("audio_dup_of").isNotNull, lit("audio_dup"))
          .when(col("embed_dup_of").isNotNull, lit("semantic_dup"))
          .otherwise(lit("admit")).as("verdict"),
        col("text_dup_of"), col("image_dup_of"), col("best_hamming"),
        col("audio_dup_of"), col("best_agree"),
        col("embed_dup_of"), col("best_cos"))
  }

  // ---- q_crawl_admission ---------------------------------------------

  /** Crawl-level thresholds: a crawl is admitted when at most this
    * share of its documents are copies of the estate...
    */
  val CrawlDupRateMax = 0.25

  /** ...and at most this share fail the map-only text-quality rules
    * (a higher garbage share means the crawl's extractor, not its
    * content, is the problem).
    */
  val CrawlGarbageRateMax = 0.20

  /** q_crawl_admission: the CRAWL-level go/no-go — one row folding the
    * composed per-document admission verdicts ([[estateAdmission]])
    * into the decision an estate operator actually takes per arriving
    * crawl: admit counts, duplication against the estate (text exact/
    * near + image + semantic), extractor-garbage share, and the admit
    * verdict under the declared thresholds. This is the document-side
    * sibling of the events-side `q_profile_drift` gate: both answer
    * "does crawl B enter the estate?" from already-computed relations.
    *
    * Scale: one aggregation over the admission relation (itself
    * candidate-bounded everywhere) collapsing to a single row —
    * map-side partials, O(1) output at any crawl size.
    */
  def crawlAdmission(spark: SparkSession, sfDir: String): DataFrame =
    crawlAdmissionOf(estateAdmission(spark, sfDir))

  /** The fold over any per-doc verdict relation (the spec seam). */
  private[streaming] def crawlAdmissionOf(adm: DataFrame): DataFrame = {
    val dup = col("verdict").isin(
      "text_exact_dup", "text_near_dup", "image_dup", "audio_dup", "semantic_dup")
    val garbage = col("verdict").startsWith("text_") && !dup
    def rate(n: org.apache.spark.sql.Column) =
      round(n.cast("double") / col("n_arriving").cast("double"), 6)
    adm.agg(
        count(lit(1)).as("n_arriving"),
        sum(when(col("verdict") === "admit", 1L).otherwise(0L)).as("n_admit"),
        sum(when(dup, 1L).otherwise(0L)).as("n_dup"),
        sum(when(garbage, 1L).otherwise(0L)).as("n_garbage"),
        sum(when(col("verdict") === "image_dup", 1L).otherwise(0L)).as("n_image_dup"),
        sum(when(col("verdict") === "audio_dup", 1L).otherwise(0L)).as("n_audio_dup"),
        sum(when(col("verdict") === "semantic_dup", 1L).otherwise(0L)).as("n_semantic_dup"))
      .select(col("n_arriving"), col("n_admit"), col("n_dup"), col("n_garbage"),
        col("n_image_dup"), col("n_audio_dup"), col("n_semantic_dup"),
        rate(col("n_dup")).as("dup_rate"),
        rate(col("n_garbage")).as("garbage_rate"),
        (rate(col("n_dup")) <= CrawlDupRateMax &&
          rate(col("n_garbage")) <= CrawlGarbageRateMax).as("admit_crawl"))
  }

  /** DuckDB oracle: the admission oracle folded by the same rates and
    * thresholds (the composed SQL nests as a subquery).
    */
  def crawlAdmissionOracleSql: Option[String] =
    estateAdmissionOracleSql.map { adm =>
      s"""
    WITH counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n_arriving,
             CAST(SUM(CASE WHEN verdict = 'admit' THEN 1 ELSE 0 END) AS BIGINT) AS n_admit,
             CAST(SUM(CASE WHEN verdict IN ('text_exact_dup', 'text_near_dup', 'image_dup', 'audio_dup', 'semantic_dup')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             CAST(SUM(CASE WHEN verdict LIKE 'text_%'
                        AND verdict NOT IN ('text_exact_dup', 'text_near_dup')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_garbage,
             CAST(SUM(CASE WHEN verdict = 'image_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_image_dup,
             CAST(SUM(CASE WHEN verdict = 'audio_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_audio_dup,
             CAST(SUM(CASE WHEN verdict = 'semantic_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_semantic_dup
      FROM ($adm)
    )
    SELECT n_arriving, n_admit, n_dup, n_garbage, n_image_dup, n_audio_dup, n_semantic_dup,
           round(CAST(n_dup AS DOUBLE) / CAST(n_arriving AS DOUBLE), 6) AS dup_rate,
           round(CAST(n_garbage AS DOUBLE) / CAST(n_arriving AS DOUBLE), 6) AS garbage_rate,
           (round(CAST(n_dup AS DOUBLE) / CAST(n_arriving AS DOUBLE), 6) <= $CrawlDupRateMax
            AND round(CAST(n_garbage AS DOUBLE) / CAST(n_arriving AS DOUBLE), 6) <= $CrawlGarbageRateMax)
             AS admit_crawl
    FROM counts"""
    }

  // ---- q_crawl_gate ------------------------------------------------------

  /** q_crawl_gate: THE one page an operator reads per arriving crawl —
    * the document-side go/no-go ([[crawlAdmission]]: duplication
    * against the 4-modality estate, extractor-garbage share) and the
    * events-side profile regression gate
    * ([[graft.queries.IncrementalProfile.profileDrift]]: null-rate /
    * cardinality / range drift across the crawl's telemetry columns)
    * joined into a single row with the composed verdict: `go` =
    * `admit_crawl AND zero drifted columns`. Both legs are themselves
    * oracle-gated queries; this record makes their conjunction a
    * first-class, gated artifact.
    *
    * Scale: ZERO new scans — the document leg folds the admission
    * relation (candidate-bounded everywhere) and the events leg reads
    * two persisted 6-row profile states; the join is a cross of two
    * one-row relations.
    */
  def crawlGate(spark: SparkSession, sfDir: String): DataFrame = {
    val adm = crawlAdmission(spark, sfDir)
    val drift = graft.queries.IncrementalProfile.profileDrift(spark, sfDir)
      .agg(count(lit(1)).as("n_cols"),
        sum(when(col("drifted"), 1L).otherwise(0L)).as("n_drifted"))
    adm.crossJoin(broadcast(drift))
      .withColumn("profile_ok", col("n_drifted") === 0)
      .withColumn("go", col("admit_crawl") && col("n_drifted") === 0)
  }

  /** DuckDB oracle (post-fit via the admission leg): both legs' oracle
    * SQL composed verbatim, same fold, same conjunction.
    */
  def crawlGateOracleSql: Option[String] =
    crawlAdmissionOracleSql.map { admSql =>
      s"""
    WITH adm AS (SELECT * FROM ($admSql)),
    dr AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cols,
             CAST(SUM(CASE WHEN drifted THEN 1 ELSE 0 END) AS BIGINT) AS n_drifted
      FROM (${graft.queries.IncrementalProfile.profileDriftSql})
    )
    SELECT adm.*, dr.n_cols, dr.n_drifted,
           dr.n_drifted = 0 AS profile_ok,
           (adm.admit_crawl AND dr.n_drifted = 0) AS go
    FROM adm CROSS JOIN dr"""
    }

  /** DuckDB oracle (post-fit — the embed leg needs the frozen estate
    * codebook): the three gate oracles' shared CTE bodies composed
    * verbatim (`v` / `pim` / `pairs`), best-match ranked per doc, and
    * collapsed with the same precedence.
    */
  def estateAdmissionOracleSql: Option[String] =
    graft.pipeline.Similarity.estateFrozen.map { centers =>
      s"""
    WITH $ingestGateCtesSql,
    ${graft.sources.PhashIndex.phashIngestCtesSql},
    ${graft.sources.AudioIndex.audioIngestCtesSql},
    ${graft.sources.EmbedIndex.estateAssignCtesSql(centers)},
    imgb AS (
      SELECT asset_id, corpus_rep, hamming,
             row_number() OVER (PARTITION BY asset_id
               ORDER BY hamming ASC, corpus_rep ASC) AS irk
      FROM pim
    ),
    audb AS (
      SELECT asset_id, corpus_rep, n_agree,
             row_number() OVER (PARTITION BY asset_id
               ORDER BY n_agree DESC, corpus_rep ASC) AS ark
      FROM pau
    ),
    embb AS (
      SELECT vec_id, corpus_vec, cos,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY cos DESC, corpus_vec ASC) AS erk
      FROM pairs
    )
    SELECT v.doc_id,
           CASE WHEN v.verdict <> 'keep' THEN 'text_' || v.verdict
                WHEN i.corpus_rep IS NOT NULL THEN 'image_dup'
                WHEN au.corpus_rep IS NOT NULL THEN 'audio_dup'
                WHEN eb.corpus_vec IS NOT NULL THEN 'semantic_dup'
                ELSE 'admit' END AS verdict,
           CASE WHEN v.verdict = 'exact_dup' THEN v.keeper
                WHEN v.verdict = 'near_dup' THEN v.corpus_doc END AS text_dup_of,
           i.corpus_rep AS image_dup_of, i.hamming AS best_hamming,
           au.corpus_rep AS audio_dup_of, au.n_agree AS best_agree,
           eb.corpus_vec AS embed_dup_of, eb.cos AS best_cos
    FROM v
    LEFT JOIN (SELECT * FROM imgb WHERE irk = 1) i ON v.doc_id = i.asset_id
    LEFT JOIN (SELECT * FROM audb WHERE ark = 1) au ON v.doc_id = au.asset_id
    LEFT JOIN (SELECT * FROM embb WHERE erk = 1) eb ON v.doc_id = eb.vec_id"""
    }
}
