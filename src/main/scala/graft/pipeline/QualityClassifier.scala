package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables

/** q_quality_classifier: fasttext-style linear quality classifier with
  * frozen weights — the "curated corpus vs everything else" filter from
  * the GPT-3/LLaMA data pipelines (positive class = a small set of
  * trusted sources, negative = the rest; the trained scorer then ranks
  * the whole corpus).
  *
  * Features are hashed bag-of-{unigram,bigram} buckets ([[Buckets]]
  * wide, md5-derived 32-bit hash — the same Spark/DuckDB-identical
  * hash as the dedup family), normalized by the feature count. The FIT
  * is a driver-side full-batch logistic regression on a deterministic
  * 1-in-[[FitModulus]] document sample whose per-doc bucket counts are
  * computed IN Spark (explode → groupBy(doc, bucket) → count; the
  * collect is bounded by sample_docs × [[Buckets]] rows). The fit is
  * frozen per dataset and the SCORING — one codegen'd fold per
  * document, zero joins, zero shuffles — is oracle-gated in DuckDB
  * with the weights inlined as exact literals (the same frozen-fit
  * mechanism as the KMeans/PCA/BPE oracles).
  *
  * Scale: scoring is embarrassingly parallel (map-only over the corpus
  * — at 100 TB it pipelines into the scan with no exchange at all);
  * the fit sample is the only collect and its size is controlled by
  * the modulus (grow it with the corpus; the GPT-3-style classifier is
  * always fit on a tiny labeled slice). The driver test corpus is
  * uniform word salad by construction, so the learned weights sit near
  * the base rate there — the planted-signal fixture in
  * QualityClassifierSpec is what demonstrates separation; the driver
  * oracle gates determinism and the scoring arithmetic.
  *
  * Output prob is left as the raw margin (rounded), not a sigmoid:
  * `exp` is not bit-identical across libms, while the margin is a pure
  * fold of products — bit-identical cross-engine. The sigmoid is
  * monotone, so the margin carries the same ranking/decision.
  */
object QualityClassifier {

  /** Hashed feature buckets. 64 keeps the oracle's inline weight list
    * readable while far exceeding the synthetic corpus vocabulary; at
    * 100 TB this grows to 1-4M buckets (fasttext's default 2M) with the
    * identical plan — the weight array rides along as a literal/
    * broadcast either way.
    */
  val Buckets = 64

  /** Positive-class sources: the "curated corpus" stand-in. */
  val PosSourceRegex = "^src[0-4]$"

  /** 1-in-N deterministic fit sample (mirrors the IVF quantizer fit). */
  val FitModulus = 3

  val Iters = 300
  val LearnRate = 2.0

  /** Frozen fitted model per dataset dir. */
  final case class Fitted(bias: Double, weights: IndexedSeq[Double])

  private val fits = graft.core.Memo.fits[Fitted]("quality_classifier_fit")

  /** Test seam: the fitted model for one dataset. */
  private[pipeline] def fittedFor(sfDir: String): Option[Fitted] = fits.snapshot.get(sfDir)

  /** Unigrams ++ bigrams of the whitespace tokenization — the fasttext
    * feature set (word + word-bigram hashes).
    */
  private def featureList(toks: Column): Column = {
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    concat(toks, bigrams)
  }

  /** DuckDB mirror of [[featureList]] over a token-list expression. */
  private def featureListSql(tk: String): String =
    s"""list_concat($tk, CASE WHEN len($tk) >= 2
        THEN [($tk)[i] || ' ' || ($tk)[i+1] for i in generate_series(1, len($tk) - 1)]
        ELSE CAST([] AS VARCHAR[]) END)"""

  def weightsFor(spark: SparkSession, sfDir: String): Fitted =
    fits(spark, sfDir)(learn(spark, sfDir))

  /** Driver-side deterministic full-batch logistic regression: the
    * per-doc (bucket, count) matrix comes back from one Spark
    * aggregation; gradient descent runs [[Iters]] fixed iterations in a
    * fixed doc order, so two fits on the same data produce
    * bit-identical weights.
    */
  private def learn(spark: SparkSession, sfDir: String): Fitted = {
    val rows = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % FitModulus === 0)
      .select(col("doc_id"),
        when(col("source").rlike(PosSourceRegex), 1.0).otherwise(0.0).as("y"),
        explode(featureList(split(col("text"), " "))).as("f"))
      .groupBy(col("doc_id"), col("y"),
        (Dedup.h32(col("f")) % Buckets).cast("int").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .collect()

    val xs = rows.groupBy(_.getAs[Long]("doc_id")).toSeq.sortBy(_._1).map { case (_, rs) =>
      val n = rs.map(_.getAs[Long]("cnt")).sum.toDouble
      val v = new Array[Double](Buckets)
      rs.foreach(r => v(r.getAs[Int]("bucket")) += r.getAs[Long]("cnt") / n)
      (v, rs.head.getAs[Double]("y"))
    }

    var b = 0.0
    val w = new Array[Double](Buckets)
    // empty fit sample (corpus smaller than the modulus): all-zero
    // weights — every doc scores the 0 margin — rather than NaN from
    // the 0-denominator gradient step
    if (xs.isEmpty) return Fitted(b, w.toIndexedSeq)
    var it = 0
    while (it < Iters) {
      var gb = 0.0
      val gw = new Array[Double](Buckets)
      xs.foreach { case (x, y) =>
        var s = b
        var j = 0
        while (j < Buckets) { s += w(j) * x(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-math.max(-30.0, math.min(30.0, s))))
        val d = p - y
        gb += d
        j = 0
        while (j < Buckets) { gw(j) += d * x(j); j += 1 }
      }
      val m = xs.size.toDouble
      b -= LearnRate * gb / m
      var j = 0
      while (j < Buckets) { w(j) -= LearnRate * gw(j) / m; j += 1 }
      it += 1
    }
    Fitted(b, w.toIndexedSeq)
  }

  /** q_quality_classifier: per-document margin + decision under the
    * frozen weights. Map-only: one fold over the feature list per row.
    */
  def classify(spark: SparkSession, sfDir: String): DataFrame =
    classifyDocs(Tables.documents(spark, sfDir), weightsFor(spark, sfDir))

  /** The scoring transform over any (doc_id, source, text) relation
    * under an explicit frozen model — narrow ops only, so it applies
    * to a STREAMING DataFrame unchanged (StreamingFilterSpec pins
    * stream == batch): the live ingest path scores documents with the
    * exact weights the batch curation pass fitted, the second of the
    * two ingest-time gates beside [[Filters.gopherVerdicts]].
    */
  def classifyDocs(docs: DataFrame, m: Fitted): DataFrame = {
    // codegen'd fold (graft.functions.HashedFeatureScore, token form)
    // — the HOF formulation ran the md5 chain interpreted per token
    // plus an interpreted transform+concat_ws building every bigram
    // string, and was the suite's slowest residual
    // (q_quality_calibration ~3 s at sf0.1); ClassifierScoreSpec pins
    // the codegen and HOF forms bit-identical
    val raw = graft.functions.TextScoreFunctions
      .hashedTokenScore(col("tk"), Buckets, m.weights, m.bias)
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("source"), raw.as("raw"))
      .select(col("doc_id"), col("source"),
        round(col("raw"), 6).as("score"),
        (col("raw") >= 0).cast("int").as("pred"))
  }

  /** DuckDB oracle, available once the fit has run in this JVM (None →
    * rows-only check). Weights render as exact round-trip literals; the
    * scoring fold mirrors Spark's `aggregate` element order, so the
    * margin is bit-identical before the final round.
    */
  def classifyOracleSql: Option[String] =
    FrozenFit.single(fits, "quality-classifier weights").map { m =>
      val wlist = m.weights.map(Similarity.dlit).mkString("[", ", ", "]")
      val bucket = s"(${Dedup.h32Sql.format("f")} % $Buckets) + 1"
      s"""
    WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
    f AS (SELECT doc_id, source, ${featureListSql("tk")} AS fs FROM d),
    s AS (
      SELECT doc_id, source,
             ${Similarity.dlit(m.bias)} +
             (list_reduce(list_prepend(CAST(0 AS DOUBLE), [($wlist)[$bucket] for f in fs]),
                          (x, y) -> x + y) / len(fs)) AS raw
      FROM f)
    SELECT doc_id, source, round(raw, 6) AS score, CAST(raw >= 0 AS INT) AS pred
    FROM s"""
    }

  // ---- q_quality_calibration -----------------------------------------

  /** Margin-bin width of the calibration table. */
  val CalBinWidth = 0.05

  /** q_quality_calibration: does the classifier's margin actually rank
    * curated sources above the rest? The eval a pipeline runs before
    * wiring the score into a keep decision (cf. `q_ann_recall` /
    * `q_lsh_recall` — the same trust-but-measure step for the third
    * fitted index). Per FIXED margin bin: how many documents land
    * there, what fraction is truly positive (label = the same
    * [[PosSourceRegex]] the fit trained on), and the cumulative capture
    * rate — the fraction of all positives recovered by keeping
    * everything from the top bin down, i.e. the lift curve.
    *
    * Fixed [[CalBinWidth]] bins instead of score deciles ON PURPOSE:
    * ntile needs a global sort (single-partition window — the one shape
    * this engine bans), while fixed bins are a map-side groupBy at any
    * corpus size; the cumulative window then runs over the ~dozens-row
    * bin relation, which is free.
    */
  def qualityCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = classify(spark, sfDir)
      .select(col("score"),
        when(col("source").rlike(PosSourceRegex), 1L).otherwise(0L).as("is_pos"))
    // score is pre-rounded to 6 places; the re-round before floor keeps
    // the bin edge exact (the q_lsh_recall bucket discipline)
    val bins = scored
      .select(floor(round(col("score") / CalBinWidth, 6)).cast("long").as("bin"),
        col("is_pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_pos")).as("n_pos"))
    val w = Window.orderBy(col("bin").desc)
    bins
      .withColumn("cum_pos",
        sum(col("n_pos")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total_pos",
        sum(col("n_pos")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("bin"),
        round(col("bin").cast("double") * CalBinWidth, 6).as("margin_lo"),
        col("n_docs"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_docs").cast("double"), 6).as("pos_rate"),
        col("cum_pos"),
        when(col("total_pos") > 0,
          round(col("cum_pos").cast("double") / col("total_pos").cast("double"), 6))
          .otherwise(lit(0.0)).as("capture"))
  }

  /** DuckDB oracle (post-fit, rides on [[classifyOracleSql]]'s frozen
    * weights; None → rows-only check).
    */
  def qualityCalibrationOracleSql: Option[String] =
    classifyOracleSql.map { inner =>
      s"""
    WITH lab AS (
      SELECT score,
             CASE WHEN regexp_matches(source, '$PosSourceRegex') THEN 1 ELSE 0 END AS is_pos
      FROM ($inner)
    ),
    bins AS (
      SELECT CAST(floor(round(score / $CalBinWidth, 6)) AS BIGINT) AS bin,
             count(*) AS n_docs, CAST(sum(is_pos) AS BIGINT) AS n_pos
      FROM lab GROUP BY 1
    ),
    c AS (
      SELECT *,
             CAST(sum(n_pos) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
             CAST(sum(n_pos) OVER () AS BIGINT) AS total_pos
      FROM bins
    )
    SELECT bin, round(CAST(bin AS DOUBLE) * $CalBinWidth, 6) AS margin_lo,
           n_docs, n_pos,
           round(CAST(n_pos AS DOUBLE) / n_docs, 6) AS pos_rate, cum_pos,
           CASE WHEN total_pos > 0 THEN round(CAST(cum_pos AS DOUBLE) / total_pos, 6)
                ELSE 0.0 END AS capture
    FROM c"""
    }
}
