package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity
import graft.queries.Tables

/** Persisted EMBEDDING index — the [[SignatureIndex]] /
  * [[PhashIndex]] layout for the vector side, completing the estate
  * triple (text MinHash, image phash, embedding IVF): a snapshot's
  * vectors written as a BUCKETED table keyed by their IVF cell under
  * the ESTATE's frozen coarse quantizer, with the cell posting list
  * PRE-RANKED by prototypicality (distance to centroid, vec_id
  * tie-break — the order an IVF inverted list is stored in anyway).
  *
  * Two disciplines carried from the session indexes:
  *  - ONE codebook. Every snapshot is assigned with the estate's
  *    centers ([[Similarity.estateCenters]], fitted on the historical
  *    half once) — never a per-crawl re-fit, which would silently move
  *    every historical cell boundary and make verdicts incomparable.
  *  - The stored rank IS the cap. Consumers bound a skewed cell by
  *    `rk <= KnnCellCap` with a FILTER on the stored column — no
  *    window re-computation, no re-shuffle; a million-member junk cell
  *    costs |new|·cap comparisons, never |new|·|cell|.
  *
  * Consumers: [[crossSnapshotMatches]] (snapshot-against-snapshot
  * semantic near-dup sweep — both tables bucketed by cell, the join
  * plans no exchange on either side; EmbedIndexSpec asserts it),
  * [[sweepRecall]] (the index's recall eval, the round-9 rule that
  * every index ships one), and [[ingestStream]] (the stream-static
  * admission gate: live vectors assign against the frozen codebook
  * and probe only their cell's bucket files).
  */
object EmbedIndex extends EstateIndex("embed", "embed_snapshots",
    keys = Seq("cell"), cols = Seq("vec_id", "cell", "d2", "embedding", "nsq")) {

  /** Cosine bar for a semantic duplicate — [[Similarity
    * .SemDedupThreshold]], so cross-snapshot verdicts are comparable
    * with `q_semantic_dedup` / `q_dedup_embed`.
    */
  val Tau: Double = Similarity.SemDedupThreshold

  /** Write a snapshot's cell-keyed vector index under the given frozen
    * centers. One shuffle (the cell co-location, which the rank window
    * shares) per snapshot, ever. The stored `d2` (distance to the cell
    * centroid) is what an IVF inverted list keeps anyway — and it is
    * what lets [[merge]] re-rank a compacted estate table EXACTLY,
    * with no re-assignment pass over the historical vectors.
    */
  def write(emb: DataFrame, table: String, centers: IndexedSeq[Array[Double]]): Unit =
    save(collapse(colocate(emb
      .select(col("vec_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("nsq"))
      .withColumn("best",
        graft.functions.VectorFunctions
          .nearestCenter(col("embedding"), 0, centers.head.length, centers))
      .select(col("vec_id"), col("best.code").as("cell"),
        col("best.d2").as("d2"), col("embedding"), col("nsq")))), table)

  /** Both lanes are assigned under the A-side fit — ONE codebook. */
  protected def lanes(spark: SparkSession, sfDir: String): (Int, String) => Unit = {
    val emb = Tables.embeddings(spark, sfDir)
    val centers = Similarity.estateCenters(spark, sfDir)
    (parity, table) => write(emb.filter(col("vec_id") % 2 === parity), table, centers)
  }

  /** The per-cell prototypicality rank of an assigned `(vec_id, cell,
    * d2, embedding, nsq)` relation — the step [[write]], [[merge]] and
    * [[removeSnapshot]] all end with. [[merge]] needs no re-assignment
    * and no distance recomputation: every input row already carries
    * its cell and stored `d2`, and rank order (d2 asc, vec_id asc) is a
    * global property of the frozen assignment, so interleaving
    * snapshots cannot perturb it — the result is bit-identical to
    * [[write]] over the union of the snapshots' vectors (IndexMergeSpec
    * pins it).
    */
  override protected def collapse(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cell")).orderBy(col("d2").asc, col("vec_id").asc)
    // the window rides the co-location shuffle of [[write]] / [[merge]]
    // (co-locating BEFORE the window is load-bearing for merge: Spark
    // 4.1 would otherwise run a clustering-requiring operator straight
    // over a Union of bucketed scans with no exchange — same-cell rows
    // from different snapshots never meet; IndexMergeSpec pins it), and
    // the preserved cell partitioning of [[removeSnapshot]]'s anti join
    rows
      .withColumn("rk", row_number().over(w))
      .select(col("vec_id"), col("cell"), col("rk"), col("d2"),
        col("embedding"), col("nsq"))
  }

  /** RETENTION: delete one snapshot's vectors from a compacted estate
    * index without re-assignment — [[subtract]]'s exchange-free anti
    * join on (cell, vec_id), then the per-cell re-rank (ranks must
    * close the gaps the deletions open, or `rk <= KnnCellCap` would
    * silently shrink the prototypical core), which rides the anti
    * join's PRESERVED cell partitioning: single-table-derived
    * partitioning through a two-table bucketed join, the genuine case —
    * not the union lie [[TableUtil.rawTable]] exists for. Net: expiring
    * a crawl re-shuffles nothing.
    */
  def removeSnapshot(spark: SparkSession, estate: String, removed: String, out: String): Unit =
    subtract(spark, estate, removed, out, "vec_id")

  protected def expire(spark: SparkSession, estate: String, removed: String,
      survivors: Seq[String], out: String): Unit = removeSnapshot(spark, estate, removed, out)

  private def cosCol(nsqA: Column, nsqB: Column, embA: Column, embB: Column): Column =
    round(Similarity.dot(embA, embB) / sqrt(nsqA * nsqB), 6)

  /** Pair-level cross-snapshot matches: every (B vec, A vec) in the
    * SAME estate cell with cosine ≥ [[Tau]], the A side capped at the
    * cell's prototypical core (stored `rk` ≤ [[Similarity
    * .KnnCellCap]]). Cell-scoped candidates are the [[Similarity
    * .semanticDedup]] discipline: near-dups concentrate in one cell,
    * and [[sweepRecall]] measures exactly what the scoping costs.
    */
  def crossSnapshotPairs(spark: SparkSession, indexA: String, indexB: String): DataFrame = {
    val a = spark.table(indexA)
      .filter(col("rk") <= Similarity.KnnCellCap)
      .select(col("cell"), col("vec_id").as("corpus_vec"),
        col("embedding").as("emb_c"), col("nsq").as("nsq_c"))
    val b = spark.table(indexB)
      .select(col("cell"), col("vec_id"), col("embedding"), col("nsq"))
    b.join(a, Seq("cell"))
      .select(col("vec_id"), col("corpus_vec"),
        cosCol(col("nsq"), col("nsq_c"), col("embedding"), col("emb_c")).as("cos"))
      .filter(col("cos") >= Tau)
  }

  /** Cross-snapshot verdicts: per B vector with ≥ 1 match, the match
    * count and the best match (highest cosine, lowest vec_id
    * tie-break) — the [[SignatureIndex.crossSnapshotMatches]] verdict
    * shape on the vector side. With both tables written by [[write]]
    * at the same bucket count, the cell join plans NO exchange on
    * either side; only the per-B-vec verdict window shuffles, keyed on
    * the match-bounded B ids.
    */
  def crossSnapshotMatches(spark: SparkSession, indexA: String, indexB: String): DataFrame =
    EstateIndex.verdicts(crossSnapshotPairs(spark, indexA, indexB), "vec_id", "corpus_vec",
      col("cos").desc, "cos" -> "best_cos")

  /** Stream-static ingest gate against the persisted index: each
    * in-flight vector assigns to its estate cell (literal-codebook
    * codegen argmin — no fit, no model lookup) and joins only that
    * cell's bucket files, verifying by exact cosine against the
    * rk-capped prototypical core. STATELESS — no streaming state, no
    * watermark.
    */
  def ingestStream(emb: DataFrame, indexTable: String,
      centers: IndexedSeq[Array[Double]]): DataFrame = {
    val spark = emb.sparkSession
    val idx = spark.table(indexTable)
      .filter(col("rk") <= Similarity.KnnCellCap)
      .select(col("cell"), col("vec_id").as("corpus_vec"),
        col("embedding").as("emb_c"), col("nsq").as("nsq_c"))
    emb
      .select(col("vec_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("nsq"))
      .withColumn("cell",
        graft.functions.VectorFunctions
          .nearestCenter(col("embedding"), 0, centers.head.length, centers)("code"))
      .join(idx, Seq("cell"))
      .select(col("vec_id"), col("corpus_vec"),
        cosCol(col("nsq"), col("nsq_c"), col("embedding"), col("emb_c")).as("cos"))
      .filter(col("cos") >= Tau)
  }

  // ---- q_cross_snapshot_embed --------------------------------------------

  /** q_cross_snapshot_embed: the registered cross-snapshot SEMANTIC
    * sweep — the third modality's estate query beside
    * `q_cross_snapshot_dedup` (text) and `q_cross_snapshot_phash`
    * (image). Snapshot A (even vec ids) is the historical estate and
    * owns the codebook; snapshot B (odd) arrives, assigns against
    * that frozen codebook, and every B vector semantically equivalent
    * (cosine ≥ [[Tau]]) to an estate vector in its cell is reported
    * with its best match.
    *
    * Scale: each snapshot pays one cell-co-locating shuffle at write
    * time, ever; the sweep's cell join is exchange-free on both sides
    * (EmbedIndexSpec asserts it from the physical plan), the A side is
    * rk-capped per cell, and only the per-B-vec verdict aggregation
    * shuffles.
    */
  def crossSnapshotEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, tb) = snapshotTables(spark, sfDir)
    crossSnapshotMatches(spark, ta, tb)
  }

  /** Oracle CTE prefix shared by every estate oracle: assignment of
    * every vector to its nearest frozen ESTATE centroid — the DuckDB
    * mirror of [[write]]'s stored (cell, d2) columns.
    */
  private def assignCtesSql(centers: IndexedSeq[Array[Double]]): String =
    s"""cents(cell, cc, cv) AS (VALUES
      ${Similarity.centroidValuesSql(centers)}),
    e AS (
      SELECT vec_id, embedding, ${Similarity.dotSql("embedding", "embedding")} AS nsq
      FROM embeddings
    ),
    celled AS (
      SELECT vec_id, embedding, nsq, cell, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS crk
      FROM (
        SELECT e.vec_id, e.embedding, e.nsq, c.cell,
               greatest((e.nsq - CAST(2 AS DOUBLE) * ${Similarity.dotCvSql("e.embedding", "c.cv")}) + c.cc,
                        CAST(0 AS DOUBLE)) AS d2
        FROM e CROSS JOIN cents c
      )
    ),
    asg AS (SELECT vec_id, embedding, nsq, cell, d2 FROM celled WHERE crk = 1)"""

  /** [[assignCtesSql]] plus the A-side per-cell prototypicality rank
    * and the cross-snapshot candidate pairs — the shared body of the
    * sweep oracles.
    */
  private[graft] def estateAssignCtesSql(centers: IndexedSeq[Array[Double]]): String =
    s"""${assignCtesSql(centers)},
    arank AS (
      SELECT vec_id, embedding, nsq, cell,
             row_number() OVER (PARTITION BY cell ORDER BY d2 ASC, vec_id ASC) AS rk
      FROM asg WHERE vec_id % 2 = 0
    ),
    bside AS (SELECT vec_id, embedding, nsq, cell FROM asg WHERE vec_id % 2 = 1),
    pairs AS (
      SELECT b.vec_id, a.vec_id AS corpus_vec,
             round(${Similarity.dotSql("b.embedding", "a.embedding")}
                   / sqrt(b.nsq * a.nsq), 6) AS cos
      FROM bside b JOIN arank a ON b.cell = a.cell
      WHERE a.rk <= ${Similarity.KnnCellCap}
        AND round(${Similarity.dotSql("b.embedding", "a.embedding")}
                  / sqrt(b.nsq * a.nsq), 6) >= $Tau
    )"""

  /** DuckDB oracle for q_cross_snapshot_embed (post-fit — present once
    * the estate fit has run in this JVM; None → rows-only check).
    */
  def crossSnapshotEmbedOracleSql: Option[String] =
    Similarity.estateFrozen.map { centers =>
      s"""
    WITH ${estateAssignCtesSql(centers)},
    ranked AS (
      SELECT vec_id, corpus_vec, cos,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY cos DESC, corpus_vec ASC) AS rk
      FROM pairs
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matches,
           min(CASE WHEN rk = 1 THEN corpus_vec END) AS dup_of,
           min(CASE WHEN rk = 1 THEN cos END) AS best_cos
    FROM ranked GROUP BY 1"""
    }

  // ---- q_embed_sweep_recall ----------------------------------------------

  /** Every 20th id below [[RecallSampleMax]] — all odd, so the sample
    * is a subset of snapshot B, and a FIXED ≤ 100 probes at any corpus
    * scale (the q_ann_recall / q_phash_recall declared-cap contract:
    * a mod alone would grow the brute-force truth leg linearly with
    * the corpus).
    */
  private val RecallSampleMod = 20
  private val RecallSampleMax = 2000L

  /** q_embed_sweep_recall: the persisted index's RECALL EVAL — the
    * round-9 rule ("every index ships its recall eval") applied to the
    * estate sweep. For each sampled B vector, the truth leg is the
    * brute-force set of A vectors at cosine ≥ [[Tau]] (broadcast
    * nested-loop on the bounded sample — the declared capped baseline,
    * exactly `q_ann_recall`'s contract), and the approx leg is the
    * sweep's own cell-scoped, rk-capped match set. Per query: truth
    * count, hit count, recall — the number a curation team reads
    * before trusting cell-scoped semantic dedup at estate scale.
    */
  def sweepRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, tb) = snapshotTables(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("nsq"))
    val sample = emb.filter(col("vec_id") % RecallSampleMod === 1 &&
        col("vec_id") < RecallSampleMax)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nsq").as("q_nsq"))
    val truth = broadcast(sample)
      .join(emb.filter(col("vec_id") % 2 === 0))
      .select(col("q_id"), col("vec_id"),
        cosCol(col("q_nsq"), col("nsq"), col("q_emb"), col("embedding")).as("cos"))
      .filter(col("cos") >= Tau)
    val approx = crossSnapshotPairs(spark, ta, tb)
      .filter(col("vec_id") % RecallSampleMod === 1 &&
        col("vec_id") < RecallSampleMax)
      .select(col("vec_id").as("q_id"), col("corpus_vec").as("vec_id"))
    EstateIndex.recall(truth, approx, "q_id", "vec_id")
  }

  /** DuckDB oracle for q_embed_sweep_recall (post-fit). */
  def sweepRecallOracleSql: Option[String] =
    Similarity.estateFrozen.map { centers =>
      s"""
    WITH ${estateAssignCtesSql(centers)},
    q AS (
      SELECT vec_id AS q_id, embedding AS q_emb, nsq AS q_nsq
      FROM e WHERE vec_id % $RecallSampleMod = 1 AND vec_id < $RecallSampleMax
    ),
    truth AS (
      SELECT q.q_id, e.vec_id,
             round(${Similarity.dotSql("q.q_emb", "e.embedding")}
                   / sqrt(q.q_nsq * e.nsq), 6) AS cos
      FROM q JOIN e ON e.vec_id % 2 = 0
      WHERE round(${Similarity.dotSql("q.q_emb", "e.embedding")}
                  / sqrt(q.q_nsq * e.nsq), 6) >= $Tau
    ),
    ap AS (
      SELECT vec_id AS q_id, corpus_vec AS vec_id FROM pairs
      WHERE vec_id % $RecallSampleMod = 1 AND vec_id < $RecallSampleMax
    )
    SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS recall
    FROM truth t LEFT JOIN ap ON t.q_id = ap.q_id AND t.vec_id = ap.vec_id
    GROUP BY 1"""
    }

  // ---- q_embed_index_stats -------------------------------------------------

  /** q_embed_index_stats: health readout of the COMPACTED estate index
    * — per cell, the posting-list size, the rk-capped prototypical
    * core a consumer actually joins ([[Similarity.KnnCellCap]]), and
    * the most prototypical vector. Because the relation under report
    * is the [[merge]]d table, the oracle (which ranks the WHOLE corpus
    * per cell from scratch) gates compaction correctness at the same
    * time: a merge that mis-ranked a single interleaved row would
    * shift `n_core` or `proto_vec` and hash-mismatch.
    *
    * Scale: the stats read the bucket files directly — grouping by the
    * bucket key plans no exchange on the index side; the output is one
    * row per cell (≤ IvfCellsMax), never corpus-sized.
    */
  def embedIndexStats(spark: SparkSession, sfDir: String): DataFrame =
    cellStatsOf(spark.table(estateTable(spark, sfDir)))

  /** The per-cell posting readout over any persisted cell index —
    * shared by the estate and post-retention gates. Grouping by the
    * bucket key reads the bucket files exchange-free.
    */
  private def cellStatsOf(idx: DataFrame): DataFrame =
    idx.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("rk") <= Similarity.KnnCellCap, 1L).otherwise(0L)).as("n_core"),
        min(when(col("rk") === 1, col("vec_id"))).as("proto_vec"))

  /** DuckDB oracle for q_embed_index_stats (post-fit): re-rank the
    * whole corpus per estate cell from scratch.
    */
  def embedIndexStatsOracleSql: Option[String] =
    Similarity.estateFrozen.map { centers =>
      s"""
    WITH ${assignCtesSql(centers)},
    rnk AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell ORDER BY d2 ASC, vec_id ASC) AS rk
      FROM asg
    )
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN rk <= ${Similarity.KnnCellCap} THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
           min(CASE WHEN rk = 1 THEN vec_id END) AS proto_vec
    FROM rnk GROUP BY 1"""
    }

  // ---- q_embed_retention ---------------------------------------------------

  /** q_embed_retention: the vector side of the estate's DELETE leg,
    * gated — snapshot B expires via the zero-exchange anti join + gap-
    * closing re-rank, and the survivor index's per-cell stats must
    * equal the from-scratch re-rank of snapshot A's vectors alone. A
    * rank gap left open anywhere shifts `n_core` or `proto_vec` and
    * hash-mismatches.
    */
  def embedRetention(spark: SparkSession, sfDir: String): DataFrame =
    cellStatsOf(spark.table(retainedTable(spark, sfDir)))

  /** DuckDB oracle (post-fit): per-cell re-rank of the survivors. */
  def embedRetentionOracleSql: Option[String] =
    Similarity.estateFrozen.map { centers =>
      s"""
    WITH ${assignCtesSql(centers)},
    rnk AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell ORDER BY d2 ASC, vec_id ASC) AS rk
      FROM asg WHERE vec_id % 2 = 0
    )
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN rk <= ${Similarity.KnnCellCap} THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
           min(CASE WHEN rk = 1 THEN vec_id END) AS proto_vec
    FROM rnk GROUP BY 1"""
    }

  // ---- q_embed_ingest_gate -------------------------------------------------

  /** q_embed_ingest_gate: the VECTOR ingest gate as a GATED query —
    * the `q_ingest_gate` pattern applied to [[ingestStream]]: the
    * odd-id half of the embedding corpus "arrives" against the even-id
    * snapshot's persisted cell index (the SAME table
    * `q_cross_snapshot_embed` maintains), each in-flight vector
    * assigning to its estate cell inline (the literal-codebook codegen
    * argmin — exactly what the stream runs per trigger) and verifying
    * by exact cosine against the rk-capped prototypical core. Batch
    * execution of the identical stream plan (EmbedIndexSpec separately
    * pins stream == batch), so the vector gate is hash-gated, not
    * spec-only.
    */
  def embedIngestGate(spark: SparkSession, sfDir: String): DataFrame = {
    val (ta, _) = snapshotTables(spark, sfDir)
    val centers = Similarity.estateCenters(spark, sfDir)
    val arriving = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    ingestStream(arriving, ta, centers)
  }

  /** DuckDB oracle for q_embed_ingest_gate (post-fit): the shared
    * estate-assignment CTEs' `pairs` relation IS the gate's contract —
    * odd vectors against the even side's rk-capped core, cosine ≥
    * [[Tau]].
    */
  def embedIngestGateOracleSql: Option[String] =
    Similarity.estateFrozen.map { centers =>
      s"""
    WITH ${estateAssignCtesSql(centers)}
    SELECT vec_id, corpus_vec, cos FROM pairs"""
    }
}
