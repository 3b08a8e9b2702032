package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables

/** DSIR-style data selection via hashed-n-gram importance weights (Xie
  * et al. 2023, arXiv 2302.03169): score every document by how much
  * more likely its tokens are under a TARGET (curated) unigram model
  * than under the RAW-corpus model, then keep the top quantile. This is
  * the importance-resampling step of a pretraining curation pipeline —
  * the quality classifier's distribution-matching sibling (classifier:
  * discriminative margin; DSIR: generative likelihood ratio).
  *
  * Engine-exact discipline: both models are add-1-smoothed hashed
  * unigram bucket counts ([[Buckets]] wide, the dedup family's
  * md5-derived 32-bit hash). The per-document score is the MEAN
  * per-token likelihood ratio, accumulated by an ORDERED fold over the
  * token array (`aggregate` / `list_reduce` — the [[TextAnalysis]]
  * LM-scoring discipline): no unordered float summation exists, so the
  * result is bit-identical cross-engine without logs (the log-ratio
  * formulation would need `ln`, which is not bit-stable; the mean ratio
  * carries the same ordering signal for selection).
  *
  * Scale: two global bucket-count aggregations (map-side partials to
  * ≤ [[Buckets]] rows each) reshaped to ONE dense-array row apiece and
  * broadcast; scoring is then a map-only fold per document (zero
  * joins, zero shuffles over the corpus); the keep boundary is one
  * scalar percentile row broadcast back (the q_quality_deciles shape).
  * At 100 TB: two scans + one boundary pass, nothing corpus-sized ever
  * shuffles.
  */
object Importance {

  /** Hashed unigram buckets (matches the classifier's width). */
  val Buckets = 64

  /** Target = the curated-source stand-in the classifier also uses. */
  val TargetSourceRegex: String = QualityClassifier.PosSourceRegex

  /** Documents at or above this weight quantile are kept. */
  val KeepQuantile = 0.75

  /** ONE dense-array row of smoothed bucket counts: explode tokens,
    * hash to buckets, count, reshape the ≤ [[Buckets]] count rows into
    * a length-[[Buckets]] array (missing buckets → 0) via a map lookup
    * — the root stays a global aggregate, so the downstream crossJoin
    * is the exempt single-row scalar attach.
    */
  private def denseCounts(docs: DataFrame, name: String): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy((Dedup.h32(col("t")) % Buckets).cast("int").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt")))).as("m"))
      .select(transform(sequence(lit(0), lit(Buckets - 1)),
        b => coalesce(element_at(col("m"), b), lit(0L))).as(name))

  /** The one-row smoothed likelihood-ratio model from the two dense
    * count rows — ONE definition shared by [[scoredWeights]] and the
    * incremental curation pass ([[IncrementalCurate]]), so the two can
    * never drift on the model arithmetic (same operands, same order →
    * identical IEEE doubles).
    */
  private[pipeline] def ratioModel(tArr: DataFrame, rArr: DataFrame): DataFrame =
    tArr
      .crossJoin(rArr)
      .withColumn("nt", expr("aggregate(tcnt, CAST(0 AS BIGINT), (x, y) -> x + y)"))
      .withColumn("nr", expr("aggregate(rcnt, CAST(0 AS BIGINT), (x, y) -> x + y)"))
      .select(expr(s"""
        transform(sequence(0, ${Buckets - 1}), b ->
          (CAST(element_at(tcnt, b + 1) + 1 AS DOUBLE) / CAST(nt + $Buckets AS DOUBLE))
          / (CAST(element_at(rcnt, b + 1) + 1 AS DOUBLE) / CAST(nr + $Buckets AS DOUBLE)))""")
        .as("ratio"))

  /** [[denseCounts]] over STORED bucket streams instead of text — the
    * incremental pass's model input: `bks` is a one-column relation of
    * `array<int>` bucket ids ([[graft.functions.HashedBuckets]]), and
    * exploding it counts exactly what exploding the tokens and hashing
    * them would (the stream IS h32(t) mod buckets, precomputed).
    */
  private[pipeline] def denseCountsOfBuckets(bks: DataFrame, name: String): DataFrame =
    bks
      .select(explode(bks.columns.map(col).head).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt")))).as("m"))
      .select(transform(sequence(lit(0), lit(Buckets - 1)),
        b => coalesce(element_at(col("m"), b), lit(0L))).as(name))

  /** The MATERIALIZED scored relation, memoized per (application,
    * dataset) — the keep-list discipline applied to the DSIR scoring
    * pass: q_curate, q_dataset_card, q_importance_weight and
    * q_importance_resample all read these weights, and each used to
    * pay its own eager checkpoint of the full scoring subplan per
    * CALL (round-16 measurement: ~0.5-1.1 s of every consumer's build
    * phase was re-scoring + re-checkpointing this relation). One
    * corpus snapshot scores once; every report reads the layout. Cold
    * cost lands in the bench `artifacts` map like every memo build.
    */
  def scoredWeightsMat(spark: SparkSession, sfDir: String): DataFrame =
    scoredMemo(spark, sfDir)(scoredWeights(spark, sfDir))

  private val scoredMemo = graft.core.Memo[DataFrame]("dsir_scored")

  /** The boundary-free scored relation (doc_id, source, tk,
    * dsir_weight) — exposed so composers (q_curate) that need only the
    * weights don't drag the keep-boundary percentile pass along.
    */
  def scoredWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tArr = denseCounts(docs.filter(col("source").rlike(TargetSourceRegex)), "tcnt")
    val rArr = denseCounts(docs, "rcnt")
    // The per-bucket smoothed likelihood ratio is computed ENTIRELY on
    // the single-row model side, BELOW the broadcast crossJoin. If the
    // ratio/nt/nr projections sat above the join (with the corpus rows),
    // CollapseProject would inline the two 64-element `aggregate` folds
    // and the 64-element `transform` into the per-token scoring lambda —
    // ~64×128 expression evaluations per TOKEN instead of one
    // element_at, the round-6 q_curate 96 s pathology. A projection
    // cannot be collapsed across a Join, so `ratio` reaches the scoring
    // lambda as a bound attribute and is evaluated exactly once.
    // Same operands in the same order as before → identical IEEE
    // doubles → the DuckDB oracle hash is unchanged.
    val model = ratioModel(tArr, rArr)
    // the per-token fold runs in the HashedBucketSum codegen expression
    // (the HOF `aggregate` form evaluated the md5 chain interpreted per
    // token); `ratio` stays a bound attribute child, so the round-6
    // CollapseProject inlining pathology remains impossible and the
    // PlanSpec guard still holds
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("tk"))
      .crossJoin(broadcast(model))
      .withColumn("dsir_weight", round(
        graft.functions.TextScoreFunctions
          .hashedBucketSum(col("tk"), col("ratio"), Buckets) /
          size(col("tk")), 6))
      .select(col("doc_id"), col("source"), col("tk"), col("dsir_weight"))
  }

  def importanceWeight(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = scoredWeightsMat(spark, sfDir)
    val bnd = scored.agg(
      round(expr(s"percentile(dsir_weight, $KeepQuantile)"), 6).as("keep_bnd"))
    scored
      .crossJoin(broadcast(bnd))
      .select(col("doc_id"), col("source"), size(col("tk")).cast("long").as("n_tokens"),
        col("dsir_weight"), col("keep_bnd"),
        (col("dsir_weight") >= col("keep_bnd")).as("kept"))
  }

  /** Shared oracle CTE chain ending in the scored relation `sc`
    * (mirrors [[scoredWeights]]); [[importanceWeightSql]] and
    * [[importanceResampleSql]] both build on it so the scoring
    * arithmetic can never drift between the two gates.
    */
  private val scoredCtesSql: String = {
    val h = Dedup.h32Sql.format("t")
    def ratio(t: String): String =
      s"""(CAST(tcnt[(($h % $Buckets) + 1)] + 1 AS DOUBLE) / CAST(nt + $Buckets AS DOUBLE))
          / (CAST(rcnt[(($h % $Buckets) + 1)] + 1 AS DOUBLE) / CAST(nr + $Buckets AS DOUBLE))"""
    s"""d AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
    ttok AS (SELECT ((${Dedup.h32Sql.format("t")}) % $Buckets) AS bucket
             FROM (SELECT unnest(tk) AS t FROM d
                   WHERE regexp_matches(source, '$TargetSourceRegex'))),
    tc AS (SELECT bucket, count(*) AS cnt FROM ttok GROUP BY 1),
    tarr AS (SELECT list(coalesce(c.cnt, 0) ORDER BY g.b) AS tcnt
             FROM generate_series(0, ${Buckets - 1}) AS g(b)
             LEFT JOIN tc c ON c.bucket = g.b),
    rtok AS (SELECT ((${Dedup.h32Sql.format("t")}) % $Buckets) AS bucket
             FROM (SELECT unnest(tk) AS t FROM d)),
    rc AS (SELECT bucket, count(*) AS cnt FROM rtok GROUP BY 1),
    rarr AS (SELECT list(coalesce(c.cnt, 0) ORDER BY g.b) AS rcnt
             FROM generate_series(0, ${Buckets - 1}) AS g(b)
             LEFT JOIN rc c ON c.bucket = g.b),
    sc AS (
      SELECT d.doc_id, d.source, len(tk) AS n_tokens,
             round(list_reduce([${ratio("t")} for t in tk], (x, y) -> x + y)
                   / len(tk), 6) AS dsir_weight
      FROM d
      CROSS JOIN (SELECT tcnt, CAST(list_reduce(tcnt, (x, y) -> x + y) AS BIGINT) AS nt FROM tarr) ta
      CROSS JOIN (SELECT rcnt, CAST(list_reduce(rcnt, (x, y) -> x + y) AS BIGINT) AS nr FROM rarr) ra
    )"""
  }

  val importanceWeightSql: String =
    s"""
    WITH $scoredCtesSql,
    b AS (SELECT round(quantile_cont(dsir_weight, $KeepQuantile), 6) AS keep_bnd FROM sc)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           dsir_weight, keep_bnd, dsir_weight >= keep_bnd AS kept
    FROM sc CROSS JOIN b"""

  // ---- q_importance_resample -----------------------------------------

  /** q_importance_resample: the RESAMPLING half of DSIR —
    * [[importanceWeight]] ranks documents; this draws the corpus:
    * every document is kept with probability proportional to its
    * importance weight, via a DETERMINISTIC acceptance test —
    * `u(doc) * w_max < w(doc)` where `u(doc)` is an md5-derived
    * uniform in [0, 1). Determinism is the point: the same corpus
    * resamples to the same subset on any engine, any cluster size, any
    * run — reproducible data recipes, no RNG state to coordinate
    * across 1000 executors (Spark's `rand()` is per-partition-seeded
    * and repartition-sensitive; a content/id hash is neither).
    *
    * Engine-exact: `u = h32 / 2^32` is an exact double (integer
    * < 2^53 divided by a power of two), `w_max` is one broadcast
    * scalar, and the accept comparison is a single IEEE multiply both
    * engines evaluate identically.
    *
    * Scale: scoring is [[scoredWeights]]'s map-only pass; the max is
    * one tree-aggregated scalar broadcast back; acceptance is a
    * stateless per-row predicate. Nothing corpus-sized shuffles.
    */
  def importanceResample(spark: SparkSession, sfDir: String): DataFrame = {
    // reads the per-dataset memoized scored layout (scoredWeightsMat):
    // referenced twice (the max aggregate and the output), scored once
    // per corpus snapshot instead of once per call.
    val scored = scoredWeightsMat(spark, sfDir)
      .select(col("doc_id"), col("source"), col("dsir_weight"))
    val m = scored.agg(max(col("dsir_weight")).as("w_max"))
    scored.crossJoin(broadcast(m))
      .withColumn("u",
        Dedup.h32(concat(lit("rs|"), col("doc_id").cast("string"))).cast("double") /
          lit(4294967296.0))
      .select(col("doc_id"), col("source"), col("dsir_weight"), col("u"),
        (col("u") * col("w_max") < col("dsir_weight")).as("kept"))
  }

  val importanceResampleSql: String =
    s"""
    WITH $scoredCtesSql,
    m AS (SELECT max(dsir_weight) AS w_max FROM sc),
    u AS (
      SELECT doc_id, source, dsir_weight,
             CAST(${Dedup.h32Sql.format("'rs|' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
               / 4294967296.0 AS u
      FROM sc
    )
    SELECT doc_id, source, dsir_weight, u, u * w_max < dsir_weight AS kept
    FROM u CROSS JOIN m"""
}
