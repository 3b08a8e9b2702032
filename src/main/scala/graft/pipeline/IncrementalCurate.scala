package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Mat.MatOps
import graft.functions.TextScoreFunctions
import graft.queries.Tables

/** INCREMENTAL curation — the nightly keep-list pass that never
  * re-parses history. The batch keep list ([[Curate.keepList]]) is a
  * whole-corpus computation; at estate scale the text-derived work
  * (tokenization, hashing, shingling, DSIR feature extraction) is the
  * dominant cost and is per-document STABLE — what changes when crawl
  * B arrives is only the corpus-level assembly: the exact-dup keeper
  * map (a new doc can steal keeper-ship), the DSIR model and its
  * keep boundary (corpus distributions shift), the eval-gram set
  * (new eval docs can newly contaminate OLD documents), and the
  * near-dup clusters (bridges merge history clusters).
  *
  * So the incremental pass splits the computation at exactly that
  * line:
  *
  *  - '''Per-snapshot state''' ([[snapshotState]], built once per
  *    snapshot EVER): doc_id, source, n_chars, the exact-dup hash
  *    `h`, the normalized hash `g`, the three funnel counters
  *    (nt/ndt/n_blk), the eval bit, the DSIR target bit, the hashed
  *    BUCKET STREAM `bks` ([[graft.functions.HashedBuckets]] — 1
  *    small int per token, replayable bit-identically through
  *    [[graft.functions.BucketLookupSum]]), and the decontamination
  *    shingle hashes `hs`. This is the feature layer a production
  *    incremental pipeline persists beside the corpus.
  *  - '''Narrow assembly''' ([[keepListIncremental]]): keeper map,
  *    DSIR model + re-weighting, contamination DELTA (history docs
  *    are only re-checked against the NEW eval grams ΔE; their old
  *    verdicts are a memoized artifact), the verdict CASE, and the
  *    cluster resolution via the QUOTIENT merge
  *    ([[Dedup.componentsIncremental]] — history never re-enters the
  *    propagation loop). No step reads text; the registered query's
  *    physical plan contains NO scan of the documents table
  *    (IncrementalCurateSpec asserts it).
  *
  * The DuckDB oracle recomputes the whole thing from raw text
  * ([[Curate.keepListAssemblySql]] over the incremental cluster
  * relation), so the hash gate proves state-replay == from-scratch —
  * including the bit-exact DSIR re-weighting of history under the
  * shifted corpus model, which only works because the stored bucket
  * stream replays [[graft.functions.HashedBucketSum]]'s exact fold.
  */
object IncrementalCurate {

  /** The per-document curation state of one relation — everything the
    * assembly needs, none of it textual. One text scan, ever.
    */
  private def stateOf(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val lex = array(TextAnalysis.Blocklist.map(lit(_)): _*)
    val g = Dedup.normTextMd5(col("text"))
    val withCols = docs.select(
      col("doc_id"), col("source"), col("n_chars"), col("text"),
      md5(col("text")).as("h"),
      g.as("g"),
      size(toks).as("nt"),
      size(array_distinct(toks)).as("ndt"),
      size(filter(toks, w => array_contains(lex, w))).as("n_blk"),
      (Dedup.h32(concat(lit("eval|"), g)) % 25 === 0).as("is_eval"),
      col("source").rlike(Importance.TargetSourceRegex).as("is_target"),
      TextScoreFunctions.hashedBuckets(toks, Importance.Buckets).as("bks"),
      // whitespace-token count — the dataset card's n_tokens unit
      // (distinct from nt, the curation tokenizer's count)
      size(split(col("text"), " ")).cast("long").as("n_ws"))
    Dedup.shingleHashes(withCols, n = Sampling.DecontamN,
      keep = Seq("source", "n_chars", "h", "g", "nt", "ndt", "n_blk",
        "is_eval", "is_target", "bks", "n_ws"))
  }

  private val stateMemoA = graft.core.Memo[DataFrame]("curate_state_a")
  private val stateMemoB = graft.core.Memo[DataFrame]("curate_state_b")
  private val evalGramsMemo = graft.core.Memo[DataFrame]("eval_grams_history")
  private val contamMemo = graft.core.Memo[DataFrame]("contam_history")
  private val keepListMemo = graft.core.Memo[DataFrame]("keep_list_incremental")

  /** Snapshot A's state (even doc ids — the historical estate). */
  private[pipeline] def stateA(spark: SparkSession, sfDir: String): DataFrame =
    stateMemoA(spark, sfDir)(
      stateOf(Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0)))

  /** Snapshot B's state (odd doc ids — the arriving crawl). */
  private[pipeline] def stateB(spark: SparkSession, sfDir: String): DataFrame =
    stateMemoB(spark, sfDir)(
      stateOf(Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1)))

  /** History's eval-gram set — part of A's persisted curation
    * artifact (with it, B's arrival re-checks history only against
    * the DELTA grams).
    */
  private def evalGramsA(spark: SparkSession, sfDir: String): DataFrame =
    evalGramsMemo(spark, sfDir)(
      stateA(spark, sfDir).filter(col("is_eval"))
        .select(explode(col("hs")).as("sh")).distinct())

  /** History's contaminated doc ids vs history's OWN eval grams — the
    * verdict bits A's last full run already paid for.
    */
  private def historyContam(spark: SparkSession, sfDir: String): DataFrame =
    contamMemo(spark, sfDir) {
      val sA = stateA(spark, sfDir)
      sA.filter(!col("is_eval"))
        .select(col("doc_id"), explode(col("hs")).as("sh"))
        .join(broadcast(evalGramsA(spark, sfDir)), Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
    }

  /** q_keep_list_incremental: the keep list over A∪B assembled from
    * the two snapshot states — same columns and same verdict rules as
    * `q_keep_list`, with the cluster relation being the incremental
    * lane+bridge graph (the `q_components_incremental` declared
    * semantics). Memoized like [[Curate.keepList]]; the cold build
    * cost of each state lands in the bench `artifacts` map.
    */
  def keepListIncremental(spark: SparkSession, sfDir: String): DataFrame =
    keepListMemo(spark, sfDir)(assemble(spark, sfDir))

  /** The narrow nightly pass (the spec seam — not memoized). */
  private[pipeline] def assemble(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateA(spark, sfDir).unionByName(stateB(spark, sfDir))
    // clusters via the quotient merge — history never re-resolves —
    // and the shared near-dup keeper rule
    val comp = Dedup.componentsIncremental(spark, sfDir)
      .select(col("doc_id"), col("cluster_root"))
    Curate.resolveNearDups(curateIncremental(spark, sfDir), comp,
      s.select(col("doc_id"), col("n_chars")))
  }

  /** The state-assembled per-document verdict BEFORE cluster
    * resolution — the incremental equivalent of [[Curate.curate]]
    * (the relation the dataset card's decision counts aggregate).
    */
  /** Memoized like the batch [[Curate.curate]] (the state re-assembly
    * — keeper map, replayed DSIR weights, keep boundary — is
    * deterministic per snapshot pair and was rebuilt per consumer
    * call; round-16 measurement: ~2 s of q_dataset_card_incremental's
    * build per invocation).
    */
  private[pipeline] def curateIncremental(spark: SparkSession, sfDir: String): DataFrame =
    curateIncMemo(spark, sfDir)(computeCurateIncremental(spark, sfDir))

  private val curateIncMemo = graft.core.Memo[DataFrame]("curate_incremental")

  private def computeCurateIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import Curate.LowImportanceQuantile
    import TextAnalysis.{BlocklistThreshold, FunnelMinDistinctRatio, FunnelMinTokens}
    val sA = stateA(spark, sfDir)
    val sB = stateB(spark, sfDir)
    val s = sA.unionByName(sB)

    // corpus-level re-assembly, all narrow: keeper map, DSIR model +
    // replayed weights, keep boundary
    val keepers = s.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val tArr = Importance.denseCountsOfBuckets(
      s.filter(col("is_target")).select(col("bks")), "tcnt")
    val rArr = Importance.denseCountsOfBuckets(s.select(col("bks")), "rcnt")
    val model = Importance.ratioModel(tArr, rArr)
    val scored = s.select(col("doc_id"), col("bks"))
      .crossJoin(broadcast(model))
      .withColumn("dsir_weight", round(
        TextScoreFunctions.bucketLookupSum(col("bks"), col("ratio")) /
          size(col("bks")), 6))
      .select(col("doc_id"), col("dsir_weight"))
      .mat // referenced twice (boundary + per-doc join), the curate discipline
    val lowBnd = scored.agg(
      round(expr(s"percentile(dsir_weight, $LowImportanceQuantile)"), 6).as("low_bnd"))

    // contamination DELTA: history is only re-checked against the NEW
    // eval grams; the arriving snapshot checks against the full set
    val deltaE = sB.filter(col("is_eval"))
      .select(explode(col("hs")).as("sh")).distinct().mat
    val flips = sA.filter(!col("is_eval"))
      .select(col("doc_id"), explode(col("hs")).as("sh"))
      .join(broadcast(deltaE), Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
    val evalAll = evalGramsA(spark, sfDir).unionByName(deltaE).distinct()
    val contamB = sB.filter(!col("is_eval"))
      .select(col("doc_id"), explode(col("hs")).as("sh"))
      .join(broadcast(evalAll), Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
    val contam = historyContam(spark, sfDir)
      .unionByName(flips).unionByName(contamB).distinct()
      .withColumn("contaminated", lit(1))

    // the verdict CASE, verbatim curate's first-failure order
    val reason = when(col("nt") < FunnelMinTokens, lit("too_short"))
      .when(col("ndt").cast("double") / col("nt").cast("double") < FunnelMinDistinctRatio,
        lit("too_repetitive"))
      .when(col("n_blk").cast("double") / col("nt").cast("double") >= BlocklistThreshold,
        lit("blocklisted"))
      .when(col("doc_id") =!= col("keeper"), lit("exact_dup"))
      .when(col("is_eval"), lit("eval_holdout"))
      .when(coalesce(col("contaminated"), lit(0)) === 1, lit("contaminated"))
      .when(col("dsir_weight") < col("low_bnd"), lit("low_importance"))
      .otherwise(lit("keep"))
    s.join(keepers, "h")
      .join(contam, Seq("doc_id"), "left")
      .join(scored, Seq("doc_id"))
      .crossJoin(broadcast(lowBnd))
      .withColumn("reason", reason)
      .select(col("doc_id"),
        (col("reason") === "keep").as("keep"),
        col("reason"),
        when(col("reason") === "keep",
          Sampling.splitOfBucket(Dedup.h32(concat(lit("gsplit|"), col("g"))) % 100))
          .otherwise(lit(null: String)).as("split"))
      .mat
  }

  /** DuckDB oracle: the keep-list assembly over the incremental
    * cluster relation, everything recomputed from raw text — hash
    * equality proves the state-replay path equals from-scratch.
    */
  lazy val keepListIncrementalSql: String =
    Curate.keepListAssemblySql(Dedup.componentsIncrementalSql)

  /** q_dataset_card_incremental: the one-row dataset card assembled
    * entirely from per-snapshot state — the capstone of the "nightly
    * reads no text" lane. Totals fold the states' stored
    * whitespace-token counts (`n_ws`, persisted at snapshot build);
    * decision counts aggregate the state-assembled verdict relation
    * ([[curateIncremental]]); the shared [[DatasetCard.decisionsOf]]
    * keeps the two cards' aggregation literally one body. Gated by
    * the batch card's own full-recompute oracle, so the headline
    * numbers a corpus ships with provably cannot drift between the
    * from-scratch and incremental reporting stacks.
    */
  def datasetCardIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateA(spark, sfDir).unionByName(stateB(spark, sfDir))
    val totals = s.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_ws")).as("n_tokens"))
    totals.crossJoin(broadcast(DatasetCard.decisionsOf(curateIncremental(spark, sfDir))))
  }

  /** The from-raw oracle is the batch card's own — state assembly
    * must reproduce it exactly.
    */
  lazy val datasetCardIncrementalSql: String = DatasetCard.datasetCardSql
}
