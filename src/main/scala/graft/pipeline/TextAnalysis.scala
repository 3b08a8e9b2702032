package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables
import graft.core.Mat.MatOps

/** Text-analysis operators for a large-scale training-data pipeline:
  * language ID, quality scoring, token counting, document
  * fingerprinting. All are narrow per-row projections (no shuffle, full
  * whole-stage codegen via `functions._` higher-order functions — no
  * UDFs), so they scale linearly with input and parallelize trivially at
  * 100 TB.
  *
  * Every operator has a DuckDB oracle with the same expression shape;
  * all arithmetic is integer or single-division double, so results are
  * bit-stable across engines.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Exact-sum decimal type (see graft.functions.Exact). */
  private val D = org.apache.spark.sql.types.DecimalType(18, 6)

  // Stopword marker lists for the n-gram/stopword language heuristic.
  val EnStop = Seq("the", "a", "of", "and", "to", "in", "is")
  val EsStop = Seq("el", "la", "de", "que", "y", "los", "se")
  val DeStop = Seq("der", "die", "das", "und", "ist", "von", "nicht")
  val FrStop = Seq("le", "les", "et", "des", "une", "est", "dans")

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isin(words: _*)))

  private def sqlHits(words: Seq[String]): String =
    s"len(list_filter(toks, x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"

  // ---- q_lang_id -----------------------------------------------------

  /** Stopword-marker language ID: count marker hits per language, pick
    * the max with a fixed tie-break order (en > es > de > fr > unknown).
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val t = tokens(col("text"))
    docs
      .select(
        col("doc_id"),
        col("lang").as("lang_label"),
        hits(t, EnStop).as("n_en"),
        hits(t, EsStop).as("n_es"),
        hits(t, DeStop).as("n_de"),
        hits(t, FrStop).as("n_fr"),
      )
      .withColumn(
        "pred_lang",
        when(col("n_en") + col("n_es") + col("n_de") + col("n_fr") === 0, lit("unknown"))
          .when(col("n_en") >= col("n_es") && col("n_en") >= col("n_de") && col("n_en") >= col("n_fr"), lit("en"))
          .when(col("n_es") >= col("n_de") && col("n_es") >= col("n_fr"), lit("es"))
          .when(col("n_de") >= col("n_fr"), lit("de"))
          .otherwise(lit("fr")),
      )
  }

  val langIdSql: String =
    s"""
    WITH t AS (SELECT doc_id, lang AS lang_label, string_split(text, ' ') AS toks FROM documents),
    c AS (
      SELECT doc_id, lang_label,
             ${sqlHits(EnStop)} AS n_en,
             ${sqlHits(EsStop)} AS n_es,
             ${sqlHits(DeStop)} AS n_de,
             ${sqlHits(FrStop)} AS n_fr
      FROM t
    )
    SELECT doc_id, lang_label, n_en, n_es, n_de, n_fr,
      CASE WHEN n_en + n_es + n_de + n_fr = 0 THEN 'unknown'
           WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr THEN 'en'
           WHEN n_es >= n_de AND n_es >= n_fr THEN 'es'
           WHEN n_de >= n_fr THEN 'de'
           ELSE 'fr' END AS pred_lang
    FROM c"""

  // ---- q_token_count -------------------------------------------------

  /** Token counting: whitespace tokens, distinct tokens, regex word
    * tokens (BPE-ish pre-tokenization: lowercase alpha runs), chars.
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val t = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_uniq_tokens"),
      regexp_count(col("text"), lit("[a-z]+")).as("n_word_tokens"),
      length(col("text")).as("n_chars_measured"),
      col("n_chars"),
    )
  }

  val tokenCountSql: String =
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
           length(text) AS n_chars_measured,
           n_chars
    FROM documents"""

  // ---- q_quality -----------------------------------------------------

  /** Quality scoring: length/stopword/uniqueness ratios combined into a
    * single [0, ~1] score. All ratios are single divisions of integer
    * counts -> bit-identical doubles; the blended score is rounded to 6.
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val t = tokens(col("text"))
    val nTok = size(t)
    val allStop = EnStop ++ EsStop ++ DeStop ++ FrStop
    val nStop = hits(t, allStop)
    val nUniq = size(array_distinct(t))
    val charLen = length(col("text"))
    val stopRatio = nStop.cast("double") / nTok
    val uniqRatio = nUniq.cast("double") / nTok
    val avgTokLen = (charLen - (nTok - lit(1))).cast("double") / nTok
    val lenScore = least(nTok.cast("double") / lit(200.0), lit(1.0))
    docs
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        round(stopRatio, 6).as("stopword_ratio"),
        round(uniqRatio, 6).as("uniq_ratio"),
        round(avgTokLen, 6).as("avg_token_len"),
        round(
          lenScore * lit(0.4) + stopRatio * lit(0.3) + uniqRatio * lit(0.3),
          6,
        ).as("quality_score"),
      )
  }

  val qualitySql: String = {
    val allStop = (EnStop ++ EsStop ++ DeStop ++ FrStop).map(w => s"'$w'").mkString(",")
    s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS char_len FROM documents
    ),
    c AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> x IN ($allStop))) AS n_stop,
             len(list_distinct(toks)) AS n_uniq,
             char_len
      FROM t
    )
    SELECT doc_id, n_tokens,
           round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
           round(CAST(n_uniq AS DOUBLE) / n_tokens, 6) AS uniq_ratio,
           round(CAST(char_len - (n_tokens - 1) AS DOUBLE) / n_tokens, 6) AS avg_token_len,
           round(least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.4
                 + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
                 + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.3, 6) AS quality_score
    FROM c"""
  }

  // ---- q_fingerprint -------------------------------------------------

  /** Document fingerprinting: position-weighted rolling hash over token
    * hashes (md5-derived 32-bit values), mod-reduced so the sum stays in
    * int64. Identical integer arithmetic in both engines.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val t = tokens(col("text"))
    // h(tok) = first 8 hex digits of md5 as uint32
    val tokHashes = transform(t, x => conv(substring(md5(x), 1, 8), 16, 10).cast("long"))
    // weighted = (h % 1000003) * ((i % 64) + 1), i 0-based
    val weighted = transform(tokHashes, (h, i) => (h % lit(1000003L)) * ((i % lit(64L)) + lit(1L)))
    docs.select(
      col("doc_id"),
      aggregate(weighted, lit(0L), (acc, x) => acc + x).as("fingerprint"),
      size(t).as("n_tokens"),
    )
  }

  val fingerprintSql: String =
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(list_sum(
             list_transform(toks, (x, i) ->
               (CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 1000003)
               * (((i - 1) % 64) + 1))
           ) AS BIGINT) AS fingerprint,
           len(toks) AS n_tokens
    FROM t"""

  // ---- q_repetition --------------------------------------------------

  /** Gopher-style repetition filtering: per-document max-term-frequency
    * ratio and duplicate-bigram fraction, with a keep flag under fixed
    * thresholds (Rae et al. 2021 "Scaling Language Models" §A1.1 uses
    * exactly these two families of repetition rules to drop
    * boilerplate/spam before LLM training).
    *
    * Scale: term stats are explode -> two hash aggregations keyed by
    * doc (map-side partials); bigram stats are a narrow per-row
    * projection. Thresholds compare the ROUNDED ratios so the flag is
    * bit-stable across engines.
    */
  /** [[repetition]]'s rule battery as a PURE narrow (doc_id, text) →
    * verdicts transform — the streaming-ingest twin of the registered
    * grouped-aggregation form. The max-term-frequency that the batch
    * form computes with an explode + two keyed aggregations is here a
    * per-row fold: sort the token array, then one pass tracking the
    * current equal-run length and its max — O(n log n) per document,
    * no shuffle, applies to a streaming DataFrame unchanged
    * (StreamingFilterSpec pins narrow == grouped == streamed), so live
    * ingest can enforce BOTH Gopher rule halves (this + the
    * [[graft.pipeline.Filters]] battery) with the batch semantics.
    */
  def repetitionVerdicts(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val sorted = array_sort(t)
    val maxTf = aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(acc.getField("prev").isNotNull && x === acc.getField("prev"),
          acc.getField("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val bg = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
      .otherwise(array().cast("array<string>"))
    docs.select(
      col("doc_id"),
      size(t).cast("long").as("n_toks"),
      round(maxTf.cast("double") / size(t), 6).as("top_tf_ratio"),
      round(when(size(bg) > 0,
        lit(1.0) - size(array_distinct(bg)).cast("double") / size(bg)).otherwise(0.0), 6)
        .as("dup_bigram_ratio"))
      .withColumn("keep",
        when(col("top_tf_ratio") <= 0.1 && col("dup_bigram_ratio") <= 0.03, 1).otherwise(0))
  }

  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val termStats = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_tf"), sum(col("c")).as("n_toks"))
    val bigramStats = toks.select(
      col("doc_id"),
      when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>")).as("bg"))
      .select(col("doc_id"), size(col("bg")).as("n_bg"), size(array_distinct(col("bg"))).as("n_bg_d"))
    termStats.join(bigramStats, "doc_id")
      .withColumn("top_tf_ratio", round(col("max_tf").cast("double") / col("n_toks"), 6))
      .withColumn("dup_bigram_ratio",
        round(when(col("n_bg") > 0,
          lit(1.0) - col("n_bg_d").cast("double") / col("n_bg")).otherwise(0.0), 6))
      .withColumn("keep",
        when(col("top_tf_ratio") <= 0.1 && col("dup_bigram_ratio") <= 0.03, 1).otherwise(0))
      .select(col("doc_id"), col("n_toks"), col("top_tf_ratio"),
        col("dup_bigram_ratio"), col("keep"))
  }

  val repetitionSql: String =
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tc AS (
      SELECT doc_id, count(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term
    ),
    m AS (SELECT doc_id, max(c) AS max_tf, CAST(sum(c) AS BIGINT) AS n_toks FROM tc GROUP BY 1),
    bg AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 2
               THEN [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)]
               ELSE [] END AS bg
      FROM t
    ),
    b AS (SELECT doc_id, len(bg) AS n_bg, len(list_distinct(bg)) AS n_bg_d FROM bg),
    r AS (
      SELECT m.doc_id, n_toks,
             round(CAST(max_tf AS DOUBLE) / n_toks, 6) AS top_tf_ratio,
             round(CASE WHEN n_bg > 0
               THEN 1.0 - CAST(n_bg_d AS DOUBLE) / n_bg ELSE 0.0 END, 6) AS dup_bigram_ratio
      FROM m JOIN b ON m.doc_id = b.doc_id
    )
    SELECT doc_id, n_toks, top_tf_ratio, dup_bigram_ratio,
           CASE WHEN top_tf_ratio <= 0.1 AND dup_bigram_ratio <= 0.03 THEN 1 ELSE 0 END AS keep
    FROM r"""

  // ---- q_tfidf -------------------------------------------------------

  /** TF-IDF top terms per document — the standard corpus-weighting step
    * behind keyword extraction and quality-weighted sampling. The score
    * is deliberately LOG-FREE: (tf / n_toks) * (N / df) — transcendental
    * log is not correctly rounded per IEEE-754 and differs across libm
    * implementations, while the two divisions and the product here are,
    * so the score is bit-identical in any engine. The ranking (and with
    * it the emitted top-3 set) is therefore deterministic.
    *
    * Scale: tf is one hash aggregation on (doc, term); df reuses that
    * relation with a second aggregation on term; the tf-df join is a
    * plain shuffle equi join on the term key (vocabulary-sized — far
    * too big to broadcast at 100 TB, and never needs to be); the top-3
    * window is partitioned BY DOCUMENT, so no single-partition sort
    * exists anywhere.
    */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round-16 probe record: both a 32-way spread of the explode leg
    // and a window-sum n_toks (replacing the aggregation + join) were
    // tried and REVERTED — wall was flat while total CPU inflated 8×
    // (per-task fixed costs on a 0.85 MB shuffle; the unordered-frame
    // window buffers every row). The serial sub-second chain is this
    // query's floor at sf0.1; at real input sizes the scan splits
    // provide the parallelism.
    val docs = Tables.documents(spark, sfDir)
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val nToks = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_toks"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(nToks, "doc_id")
      .join(df, "term")
      .crossJoin(broadcast(nDocs)) // single-row corpus count
      .withColumn("tfidf",
        round((col("tf").cast("double") / col("n_toks"))
          * (col("n_docs").cast("double") / col("df")), 6))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  val tfidfSql: String =
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    nt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks FROM tf GROUP BY 1),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round((CAST(tf.tf AS DOUBLE) / nt.n_toks)
                   * (CAST(nd.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN nt ON tf.doc_id = nt.doc_id JOIN df ON tf.term = df.term, nd
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
      FROM scored
    )
    SELECT doc_id, rk, term, tf, df, tfidf FROM rk WHERE rk <= 3"""

  // ---- q_bm25 --------------------------------------------------------

  /** Fixed retrieval query for the BM25 scorer — corpus inspection and
    * hard-example mining both reduce to "rank the corpus against a
    * query", and a literal term list keeps the whole ranking
    * SQL-expressible.
    */
  val Bm25Query: Seq[String] = Seq("spark", "join", "window")

  /** Standard Okapi constants; written as literals (never computed) so
    * the Spark `lit` and the oracle's VARCHAR→DOUBLE cast parse the
    * identical IEEE-754 value.
    */
  val Bm25K1 = 1.2
  val Bm25K1Plus1 = 2.2
  val Bm25B = 0.75
  val Bm25OneMinusB = 0.25
  val Bm25TopN = 50

  /** q_bm25: Okapi BM25 ranking of the corpus against [[Bm25Query]] —
    * the retrieval scorer a curation pipeline uses to inspect a corpus
    * or mine hard examples. Log-free variant (the same discipline as
    * [[tfidf]]): idf = (N − df + 0.5)/(df + 0.5) without the ln — the
    * ranking keeps BM25's saturation and length normalization while
    * every operation stays bit-identical cross-engine (ln is not).
    *
    * Scale: one scan computes per-doc term frequencies (no explode —
    * the query has |q| terms, so tf is |q| codegen'd list filters); the
    * corpus statistics (N, Σlen, df per term) are ONE global aggregate
    * attached back as a broadcast single-row; ranking is a global
    * top-N (TakeOrdered — no full sort). No shuffle touches the corpus
    * beyond the one aggregate.
    */
  def bm25(spark: SparkSession, sfDir: String): DataFrame =
    // computed per call (round-17: a registered query must execute its
    // plan per invocation — r16 memoized this query's own 50-row result
    // and the bench's median timed a checkpoint readout). The one
    // tokenize scan is materialized per CALL (Mat) so the stats
    // aggregate and the scoring pass share it; nothing survives the
    // invocation.
    bm25Build(spark, sfDir)

  /** The ranked top-N as a per-(application, dataset) artifact — the
    * INPUT side of q_rrf_fusion's lexical leg (a fusion query composes
    * two already-built rankings; the ranking itself is q_bm25's job
    * and is NOT memoized there). Cold cost lands in the bench
    * artifacts map.
    */
  private[graft] def bm25Topn(spark: SparkSession, sfDir: String): DataFrame =
    bm25Memo(spark, sfDir)(bm25Build(spark, sfDir))

  private val bm25Memo = graft.core.Memo[DataFrame]("bm25_topn")

  private def bm25Build(spark: SparkSession, sfDir: String): DataFrame = {
    // the narrow per-doc term-frequency relation is read twice (the
    // corpus-stats aggregate, then the scoring pass) — materialize it
    // per CALL so the tokenize scan runs once per invocation, not twice
    val base = graft.core.Mat(Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id") +: size(col("tk")).as("len") +:
        Bm25Query.zipWithIndex.map { case (t, i) =>
          size(filter(col("tk"), x => x === lit(t))).as(s"tf$i")
        }: _*))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      graft.functions.Exact.exactSum(col("len")).as("sumlen") +:
        Bm25Query.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
      .withColumn("avglen", col("sumlen") / col("n_docs"))
    def term(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val idf = ((col("n_docs") - col(s"df$i")).cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      val norm = lit(Bm25K1) *
        (lit(Bm25OneMinusB) + lit(Bm25B) * (col("len").cast("double") / col("avglen")))
      idf * ((tf * lit(Bm25K1Plus1)) / (tf + norm))
    }
    base
      .filter(Bm25Query.indices.map(i => col(s"tf$i")).reduce(_ + _) > 0)
      .crossJoin(broadcast(stats)) // single-row corpus statistics
      .withColumn("score", round(Bm25Query.indices.map(term).reduceLeft(_ + _), 6))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopN)
      .select(col("doc_id"), col("score"))
  }

  val bm25Sql: String = {
    def d(v: Double) = s"CAST('$v' AS DOUBLE)"
    val tfCols = Bm25Query.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i"
    }.mkString(",\n                ")
    val dfCols = Bm25Query.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n                ")
    def termSql(i: Int) =
      s"""((CAST(s.n_docs - s.df$i AS DOUBLE) + ${d(0.5)}) / (CAST(s.df$i AS DOUBLE) + ${d(0.5)}))
           * ((CAST(b.tf$i AS DOUBLE) * ${d(Bm25K1Plus1)})
              / (CAST(b.tf$i AS DOUBLE) + ${d(Bm25K1)} * (${d(Bm25OneMinusB)} + ${d(Bm25B)} * (CAST(b.len AS DOUBLE) / s.avglen))))"""
    val scoreSum = Bm25Query.indices.map(termSql).reduceLeft((a, b) => s"($a + $b)")
    s"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    base AS (SELECT doc_id, len(tk) AS len,
                $tfCols
             FROM d),
    stats AS (SELECT count(*) AS n_docs,
                CAST(CAST(SUM(CAST(len AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sumlen,
                $dfCols
              FROM base),
    s AS (SELECT *, sumlen / n_docs AS avglen FROM stats)
    SELECT doc_id, score FROM (
      SELECT b.doc_id, round($scoreSum, 6) AS score
      FROM base b CROSS JOIN s
      WHERE ${Bm25Query.indices.map(i => s"b.tf$i").mkString(" + ")} > 0
    )
    ORDER BY score DESC, doc_id ASC LIMIT $Bm25TopN"""
  }

  // ---- q_chunk -------------------------------------------------------

  /** Chunk size (tokens) and stride for [[chunk]]. Stride < size gives
    * the 8-token overlap RAG/embedding pipelines use so no boundary
    * context is lost between consecutive chunks.
    */
  val ChunkSize = 32
  val ChunkStride = 24

  /** Overlapping token-window chunking — the document→passage step of
    * every embedding/RAG ingestion pipeline: windows of [[ChunkSize]]
    * tokens every [[ChunkStride]], each identified by an md5 of its
    * joined tokens (so downstream chunk-level dedup is an exact
    * hash-groupBy). A document shorter than one window yields exactly
    * one (possibly short) chunk.
    *
    * Scale: pure per-row explode of a computed start sequence — narrow,
    * no shuffle, output size n_tokens/stride per doc; chunk rows carry
    * only (ids, count, hash), never the text twice.
    */
  def chunk(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")), lit(ChunkStride))).as("start"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / lit(ChunkStride)).cast("long").as("chunk_idx"),
        slice(col("toks"), col("start"), lit(ChunkSize)).as("ck"))
      .select(
        col("doc_id"), col("chunk_idx"),
        size(col("ck")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("ck"))).as("chunk_md5"))
  }

  val chunkSql: String =
    s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    st AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $ChunkStride)) AS start FROM t),
    ck AS (
      SELECT doc_id, CAST((start - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
             toks[start : start + ${ChunkSize - 1}] AS ck
      FROM st
    )
    SELECT doc_id, chunk_idx, len(ck) AS n_chunk_tokens,
           md5(array_to_string(ck, ' ')) AS chunk_md5
    FROM ck"""

  // ---- q_diversity ---------------------------------------------------

  /** Lexical-diversity scoring — the entropy-style quality signal, made
    * engine-exact: Shannon entropy needs a transcendental log whose
    * last bit differs across libm builds, so the score here is GINI
    * IMPURITY (1 − Σ pᵢ²), which needs only integer tf sums and one
    * IEEE division — bit-identical everywhere. Low gini + low
    * type-token ratio = degenerate/repetitive text (the same documents
    * entropy would flag).
    *
    * Scale: one (doc, term) hash aggregation then one per-doc
    * aggregation — map-side partials both times, output one row per
    * document, nothing broadcast, no windows.
    */
  def diversity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("doc_id")).agg(
        sum(col("tf")).as("n_toks"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * col("tf")).as("sum_sq"))
      .select(
        col("doc_id"), col("n_toks"), col("n_distinct"),
        (lit(1.0) - col("sum_sq").cast("double") / (col("n_toks") * col("n_toks")))
          .as("gini"),
        (col("n_distinct").cast("double") / col("n_toks")).as("ttr"))
  }

  val diversitySql: String =
    """
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_toks,
           count(*) AS n_distinct,
           1.0 - CAST(sum(tf * tf) AS DOUBLE)
                 / (CAST(sum(tf) AS BIGINT) * CAST(sum(tf) AS BIGINT)) AS gini,
           CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS BIGINT) AS ttr
    FROM tf GROUP BY 1"""

  // ---- q_vocab_stats -------------------------------------------------

  /** q_vocab_stats: per-SOURCE vocabulary profile — total token count,
    * distinct type count, hapax-legomenon count (types occurring exactly
    * once in the source), hapax mass (tokens belonging to hapax types),
    * and type-token ratio. The corpus-level Zipf/Heaps diagnostic that
    * [[diversity]]'s per-document TTR can't see: a source whose hapax
    * share collapses round-over-round is exhausting its vocabulary
    * (template expansion, synthetic text); one whose TTR is anomalously
    * high may be noise/gibberish. Run per ingest batch to decide
    * re-crawl vs down-weight.
    *
    * Scale: one (source, term) hash agg with map-side partials, then
    * one |sources|-row rollup — the same two-level shape as
    * [[diversity]], keyed by source instead of doc. Output is
    * |sources| rows; nothing broadcast, no windows, no skew exposure
    * beyond one source dominating the corpus (which AQE rebalances).
    */
  def vocabStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tf = docs.select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("source")).agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1, lit(1L)).otherwise(lit(0L))).as("n_hapax"))
      .select(
        col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double")).as("hapax_share"))
  }

  val vocabStatsSql: String =
    """
    WITH tf AS (
      SELECT source, term, count(*) AS tf
      FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS BIGINT) AS ttr,
           CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS hapax_share
    FROM tf GROUP BY 1"""

  // ---- q_bigram_lm ---------------------------------------------------

  /** Minimum bigram count to keep (prunes the hapax tail). */
  val BigramMinCount = 3L

  /** Corpus bigram statistics — the n-gram language-model table behind
    * classic quality filters and contamination checks: for every bigram
    * seen ≥ [[BigramMinCount]] times, its count and the exact
    * conditional probability P(w2 | w1) = count(w1 w2) / count(w1 ·)
    * (one integer-count division — engine-exact, no log smoothing).
    *
    * Scale: consecutive-pair explode is narrow; bigram and unigram-
    * context counts are two hash aggregations; the final join is equi
    * on w1 (vocabulary-sized, never broadcast). The min-count prune
    * happens BEFORE the join, so the joined relation is the kept head,
    * not the hapax tail.
    */
  /** (doc_id, w1, w2) adjacent-pair relation over a tokenized
    * (doc_id, t) input — ONE definition of the pair explode and its
    * sequence(1, 0)-DESCENDS guard (Spark's sequence descends instead
    * of being empty, so single-token docs must drop first; DuckDB's
    * generate_series(1, 0) is empty — same result), shared by
    * [[bigramLm]], [[lmScore]], and [[collocations]] so the guard can
    * never drift between them.
    */
  private def bigramPairsOf(toked: DataFrame): DataFrame =
    toked
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  def bigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val bigrams = bigramPairsOf(docs.select(col("doc_id"), tokens(col("text")).as("t")))
      .select(col("w1"), col("w2"))
    // the context count is the per-w1 SUM of the (w1, w2) counts, so
    // one window over the already-aggregated relation replaces the old
    // second aggregation + join over a checkpointed explode (round-16:
    // the explode now runs once inside ONE lazy plan — no per-call
    // checkpoint, 2 aggregation passes + join → 1 aggregation + a
    // window over the much smaller counted relation; values identical)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_bigram"))
      .withColumn("n_context", sum(col("n_bigram")).over(w))
      .filter(col("n_bigram") >= BigramMinCount)
      .select(col("w1"), col("w2"), col("n_bigram"), col("n_context"),
        (col("n_bigram").cast("double") / col("n_context")).as("p_cond"))
  }

  val bigramLmSql: String =
    s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM t)
    ),
    bc AS (
      SELECT w1, w2, count(*) AS n_bigram FROM bg GROUP BY 1, 2
      HAVING count(*) >= $BigramMinCount
    ),
    cx AS (SELECT w1, count(*) AS n_context FROM bg GROUP BY 1)
    SELECT bc.w1, bc.w2, n_bigram, n_context,
           CAST(n_bigram AS DOUBLE) / n_context AS p_cond
    FROM bc JOIN cx ON bc.w1 = cx.w1"""

  // ---- q_collocations ------------------------------------------------

  /** Minimum adjacent-pair count for a collocation candidate. */
  val CollocMinPair = 5L

  /** Collocations emitted. */
  val CollocTop = 30

  /** q_collocations: corpus-level collocation mining — adjacent word
    * pairs that co-occur far beyond chance, ranked by LIFT
    * P(ab)/(P(a)·P(b)) rather than PMI: log is monotone, so the ranking
    * is identical while the statistic stays a pure ratio of integer
    * counts in one fixed-order IEEE expression — bit-identical
    * cross-engine (the q_tfidf log-free discipline). This is the miner
    * behind multi-word-entity vocabulary decisions (top collocations
    * seed tokenizer merges / phrase tables) and template detection.
    *
    * Scale: unigram and bigram counts are two hash aggregations with
    * map-side partials; the count-attach joins shuffle on the word key
    * (vocabulary-sized — too big to broadcast, never needs to be); the
    * two scalar totals broadcast; top-K via TakeOrdered, no global
    * window. The [[CollocMinPair]] floor prunes the pair relation
    * before the joins.
    */
  def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    // round-16: the two eager .mat checkpoints here cost ~0.65 s of
    // driver-synchronous build per call — more than the tokenize +
    // explode they saved (the subplans are cheap narrow projections,
    // and the uni/bg branches need DIFFERENT exchanges anyway). Lazy
    // relations let the whole report compile into one plan; the
    // duplicated tokenize is pennies next to the removed barriers.
    val toked = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    val uni = toked.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).as("n_tokens"))
    val bg = bigramPairsOf(toked).select(col("w1"), col("w2"))
    val nb = bg.agg(count(lit(1)).as("n_bigrams"))
    bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CollocMinPair)
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(nb))
      .withColumn("lift", round(
        (col("c_ab").cast("double") * col("n_tokens").cast("double") *
          col("n_tokens").cast("double")) /
          (col("n_bigrams").cast("double") * col("c_a").cast("double") *
            col("c_b").cast("double")), 6))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(CollocTop)
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"), col("lift"))
  }

  val collocationsSql: String =
    s"""
    WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest(t) AS w FROM t) GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
    bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM t)
    ),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bigrams FROM bg),
    pairs AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2
      HAVING count(*) >= $CollocMinPair
    )
    SELECT w1, w2, c_ab, c_a, c_b, lift FROM (
      SELECT p.w1, p.w2, p.c_ab, a.c AS c_a, b.c AS c_b,
             round((CAST(p.c_ab AS DOUBLE) * CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
                   / (CAST(n_bigrams AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)), 6)
               AS lift
      FROM pairs p
      JOIN uni a ON p.w1 = a.w
      JOIN uni b ON p.w2 = b.w
      CROSS JOIN tot CROSS JOIN nb
    ) ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT $CollocTop"""

  // ---- q_quality_deciles ---------------------------------------------

  /** Quality-decile assignment — the curation-threshold operator
    * ("keep the top 30%"): nine interpolated decile boundaries of the
    * quality score, then each document bucketed by value comparison.
    *
    * Scale: deliberately NOT `ntile` — a global ntile is an
    * unpartitioned window (whole corpus through one task). Boundaries
    * come from ONE scalar aggregation (percentile with an array of
    * fractions), broadcast as a single row, and assignment is a
    * codegen projection — value-based buckets (equal scores share a
    * decile), which is what a reproducible curation threshold wants
    * anyway. Boundaries are rounded to 6 before comparison so the
    * engines' interpolation ulp drift cannot flip an assignment.
    */
  def qualityDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    // consumed twice (boundary agg + assignment): persist the narrow
    // (id, score) relation so the corpus tokenizes once (released by
    // the self-releasing Mat boundary)
    val q = quality(spark, sfDir).select(col("doc_id"), col("quality_score")).mat
    val bounds = q.agg(
      percentile(col("quality_score"),
        typedlit((1 to 9).map(_ / 10.0))).as("bs"))
      .select(transform(col("bs"), b => round(b, 6)).as("bs"))
    q.crossJoin(broadcast(bounds))
      .select(
        col("doc_id"),
        col("quality_score"),
        (lit(1) + size(filter(col("bs"), b => col("quality_score") > b))).as("decile"),
      )
  }

  val qualityDecilesSql: String = {
    val fracs = (1 to 9).map(i => s"0.${i}").mkString(", ")
    s"""
    WITH q AS (SELECT doc_id, quality_score FROM (${qualitySql}) qq),
    b AS (
      SELECT [round(x, 6) for x in quantile_cont(quality_score, [$fracs])] AS bs FROM q
    )
    SELECT doc_id, quality_score,
           1 + len(list_filter(bs, x -> quality_score > x)) AS decile
    FROM q CROSS JOIN b"""
  }

  // ---- q_lm_score ----------------------------------------------------

  /** LM-based document fluency score — the classic n-gram quality
    * filter: every consecutive bigram of a document is looked up in
    * the corpus LM ([[bigramLm]]); the score is the mean conditional
    * probability over the document's bigrams (unseen bigrams — pruned
    * hapax or out-of-model — contribute 0), and `coverage` is the
    * fraction of bigrams the model knows. Low score + low coverage =
    * boilerplate/garbled text; no log-space smoothing, so the whole
    * computation stays engine-exact (probabilities round through
    * DECIMAL(18,6) before the sum — double→decimal(·,6) ties are
    * impossible, halves at scale 6 are never binary-representable).
    *
    * Scale: the pruned LM is vocabulary-shaped — an equi join on
    * (w1, w2), left for unseen; the per-doc aggregation is one hash
    * agg. The LM is NOT force-broadcast: at corpus scale it outgrows
    * a broadcast and the shuffle join on the short (w1, w2) key is
    * the right default (AQE upgrades it when the model is small).
    */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // ONE tokenize + pair explode feeds both the LM aggregations and
    // the per-doc scoring side (the oracle's single bg CTE) — calling
    // bigramLm here would re-derive the pair relation without doc_id
    // and tokenize the corpus twice
    val docBigrams = bigramPairsOf(
      docs.select(col("doc_id"), tokens(col("text")).as("t")))
    // round 16, the q_bigram_lm window form (75de339) applied here too:
    // the context total is the per-w1 sum of the (w1, w2) counts, so a
    // window over the counted relation replaces the second aggregation
    // pass over the pair explode AND the (w1) join; the min-count
    // filter applies AFTER the window so pruned pairs still count
    // toward their context (unchanged semantics). With the ctx pass
    // gone, the pair explode has two consumers both keyed (w1, w2) —
    // exchange reuse dedups it, so the per-call eager checkpoint (a
    // driver-synchronous barrier) is dropped.
    val lm = docBigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_bigram"))
      .withColumn("n_context",
        sum(col("n_bigram")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
      .filter(col("n_bigram") >= BigramMinCount)
      .select(col("w1"), col("w2"),
        (col("n_bigram").cast("double") / col("n_context")).as("p_cond"))
    docBigrams
      .join(lm, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(col("p_cond")).as("n_known"),
        sum(coalesce(col("p_cond"), lit(0.0)).cast(D)).cast(D).cast("double").as("psum"),
      )
      // NO round() on the quotients: psum is an exact 6-decimal value,
      // so psum/n can land exactly on a decimal half (e.g. 0.378378/12
      // = 0.0315315) where the engines' tie-rounding disagrees — the
      // unrounded quotient of bit-identical inputs is itself
      // bit-identical
      .select(
        col("doc_id"), col("n_bigrams"), col("n_known"),
        (col("psum") / col("n_bigrams")).as("lm_score"),
        (col("n_known").cast("double") / col("n_bigrams")).as("coverage"),
      )
  }

  val lmScoreSql: String =
    s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM t)
    ),
    bc AS (
      SELECT w1, w2, count(*) AS n_bigram FROM (SELECT w1, w2 FROM bg) GROUP BY 1, 2
      HAVING count(*) >= $BigramMinCount
    ),
    cx AS (SELECT w1, count(*) AS n_context FROM (SELECT w1, w2 FROM bg) GROUP BY 1),
    lm AS (
      SELECT bc.w1, bc.w2, CAST(n_bigram AS DOUBLE) / n_context AS p_cond
      FROM bc JOIN cx ON bc.w1 = cx.w1
    ),
    j AS (
      SELECT bg.doc_id, lm.p_cond
      FROM bg LEFT JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           count(p_cond) AS n_known,
           CAST(CAST(sum(CAST(COALESCE(p_cond, 0.0) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE)
               / count(*) AS lm_score,
           CAST(count(p_cond) AS DOUBLE) / count(*) AS coverage
    FROM j GROUP BY 1"""

  // ---- q_winnow ------------------------------------------------------

  /** Winnowing k-gram size and window width (Schleimer et al., MOSS):
    * guarantees any shared run of ≥ WinnowK + WinnowW − 1 tokens leaves
    * at least one common selected fingerprint, at ~2/(W+1) selection
    * density.
    */
  val WinnowK = 3
  val WinnowW = 4

  /** Winnowing fingerprints — local-minimum selection over positional
    * k-gram rolling hashes: each width-[[WinnowW]] window of
    * consecutive gram hashes contributes its minimum, and the distinct
    * selected set is the document's robust fingerprint (≈ 1/W the size
    * of the full shingle set, with a positional match guarantee plain
    * sampling lacks). Emitted per document as count + an md5 digest of
    * the sorted selected hashes, so the oracle hash-checks every
    * selected value without exploding rows.
    *
    * Scale: per-row array math inside whole-stage codegen (the gram
    * hashes come from the native NGramPolyHash expression) — no
    * shuffle, no window functions; at 100 TB this is the cheap map
    * stage that feeds a (fp, doc) equi join 4× smaller than full
    * shingling.
    */
  /** Positional k-gram rolling hashes of a text column (NOT distinct —
    * winnowing needs order).
    */
  def winnowGrams(text: Column): Column =
    graft.functions.SketchFunctions.ngramPolyHash(
      transform(tokens(text), t => Dedup.h32(t) % lit(Dedup.P)),
      WinnowK, Dedup.PolyB, Dedup.P)

  /** The distinct selected fingerprint set of a gram-hash array:
    * min of each width-[[WinnowW]] window.
    */
  def winnowSelect(hs: Column): Column =
    array_distinct(
      when(size(hs) >= WinnowW,
        transform(sequence(lit(1), size(hs) - lit(WinnowW - 1)),
          i => array_min(slice(hs, i, lit(WinnowW)))))
        .otherwise(array(array_min(hs))))

  /** Selected winnowing fingerprints straight from text (spec surface). */
  def winnowFps(text: Column): Column = winnowSelect(winnowGrams(text))

  def winnow(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs.select(col("doc_id"), winnowGrams(col("text")).as("hs"))
      .withColumn("n_grams", size(col("hs")))
      .withColumn("fps", winnowSelect(col("hs")))
      .select(
        col("doc_id"), col("n_grams"),
        size(col("fps")).as("n_fps"),
        md5(concat_ws(",", transform(array_sort(col("fps")), _.cast("string"))))
          .as("winnow_md5"))
  }

  val winnowSql: String = {
    val toks = "string_split(text, ' ')"
    val th = s"[${Dedup.h32Sql.format("t")} % ${Dedup.P} for t in $toks]"
    def fold(sliceExpr: String) =
      s"list_reduce(list_prepend(0::BIGINT, $sliceExpr), (acc, x) -> (acc * ${Dedup.PolyB} + x) % ${Dedup.P})"
    s"""
    WITH t AS (SELECT doc_id, $th AS th FROM documents),
    g AS (
      SELECT doc_id, CASE WHEN len(th) >= $WinnowK
        THEN [${fold(s"th[i:i+${WinnowK - 1}]")} for i in generate_series(1, len(th) - ${WinnowK - 1})]
        ELSE [${fold("th")}] END AS hs
      FROM t
    ),
    w AS (
      SELECT doc_id, len(hs) AS n_grams,
             list_distinct(CASE WHEN len(hs) >= $WinnowW
               THEN [list_min(hs[i:i+${WinnowW - 1}]) for i in generate_series(1, len(hs) - ${WinnowW - 1})]
               ELSE [list_min(hs)] END) AS fps
      FROM g
    )
    SELECT doc_id, n_grams, len(fps) AS n_fps,
           md5(array_to_string(list_sort(fps), ',')) AS winnow_md5
    FROM w"""
  }

  // ---- q_blocklist ---------------------------------------------------

  /** Blocklisted terms (the toxicity-lexicon stand-in — in production
    * this is a broadcast dictionary of thousands of terms).
    */
  val Blocklist: Seq[String] = Seq("slow", "error", "dup", "drop")

  /** Per-document blocklist hit ratio above which a doc is flagged. */
  val BlocklistThreshold = 0.08

  /** Lexicon-based content filter: flag documents whose blocklisted-
    * token ratio crosses the threshold — the word-list toxicity /
    * boilerplate filter every corpus curation pipeline runs. Emits the
    * flagged docs with counts so reviewers can audit the cut.
    *
    * Scale: one narrow projection — tokenize once, count hits with a
    * higher-order `filter` against the (tiny, broadcast-literal)
    * lexicon, no shuffle at all; the flagged subset is a pushed-down
    * predicate on the computed ratio. With a realistic 10k-term
    * lexicon the literal array becomes a broadcast join on exploded
    * tokens (the `q_decontaminate` shape).
    */
  def blocklist(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val lex = array(Blocklist.map(lit(_)): _*)
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), col("source"),
        size(toks).as("n_tokens"),
        size(filter(toks, w => array_contains(lex, w))).as("n_hits"))
      .withColumn("hit_ratio", col("n_hits").cast("double") / col("n_tokens").cast("double"))
      .filter(col("hit_ratio") >= BlocklistThreshold)
  }

  val blocklistSql: String = {
    val lex = Blocklist.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             len([w for w in string_split(text, ' ') if list_contains($lex, w)]) AS n_hits
      FROM documents
    )
    SELECT doc_id, source, n_tokens, n_hits,
           CAST(n_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS hit_ratio
    FROM t
    WHERE CAST(n_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= $BlocklistThreshold"""
  }

  // ---- q_filter_funnel -------------------------------------------------

  /** Cascade thresholds: minimum tokens, minimum distinct-token ratio. */
  val FunnelMinTokens = 10
  val FunnelMinDistinctRatio = 0.3

  /** q_filter_funnel: the curation cascade report — every document is
    * attributed to the FIRST rule that drops it (too_short →
    * too_repetitive → blocklisted → exact_dup), and the report shows
    * per-rule drop counts plus the surviving count after each stage.
    * This is the dashboard a pipeline owner reads before changing a
    * threshold: rule order matters (a dup that is also short counts as
    * short), and the funnel makes the interaction visible.
    *
    * Scale: ONE scan computes every per-doc flag (token counts,
    * distinct ratio, lexicon hits, text hash); the exact-dup keeper is
    * a hash agg on md5(text) joined back on the 16-byte key; the
    * stage histogram is a 5-group aggregate and the cumulative
    * survivors column is a driver-side reshape of that single tiny
    * result (same discipline as q_profile — never a second scan, no
    * unpartitioned window).
    */
  def filterFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val toks = tokens(col("text"))
    val lex = array(Blocklist.map(lit(_)): _*)
    // persisted: both the keeper aggregate and the scoring join read
    // this relation — without the pin Spark would re-scan documents and
    // re-tokenize every flag twice (the one-scan claim above)
    val flagged = docs.select(
      col("doc_id"),
      md5(col("text")).as("h"),
      size(toks).as("nt"),
      size(array_distinct(toks)).as("ndt"),
      size(filter(toks, w => array_contains(lex, w))).as("n_hits"))
      .persist()
    val keepers = flagged.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val stage = when(col("nt") < FunnelMinTokens, lit(1))
      .when(col("ndt").cast("double") / col("nt").cast("double") < FunnelMinDistinctRatio, lit(2))
      .when(col("n_hits").cast("double") / col("nt").cast("double") >= BlocklistThreshold, lit(3))
      .when(col("doc_id") =!= col("keeper"), lit(4))
      .otherwise(lit(0))
    val counts =
      try flagged.join(keepers, "h")
        .select(stage.as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      finally flagged.unpersist()
    val total = counts.values.sum
    val rules = Seq(1 -> "too_short", 2 -> "too_repetitive", 3 -> "blocklisted", 4 -> "exact_dup")
    val rows = rules.scanLeft((0L, 0L, "", total)) { case ((_, _, _, remaining), (s, rule)) =>
      val dropped = counts.getOrElse(s, 0L)
      (s.toLong, dropped, rule, remaining - dropped)
    }.drop(1).map { case (s, dropped, rule, remaining) => (s, rule, dropped, remaining) }
    rows.toDF("stage", "rule", "n_dropped", "n_remaining")
  }

  val filterFunnelSql: String =
    s"""
    WITH d AS (
      SELECT doc_id, md5(text) AS h,
             len(string_split(text, ' ')) AS nt,
             len(list_distinct(string_split(text, ' '))) AS ndt,
             len([w for w in string_split(text, ' ')
                  if list_contains([${Blocklist.map(t => s"'$t'").mkString(", ")}], w)]) AS n_hits
      FROM documents
    ),
    k AS (SELECT h, min(doc_id) AS keeper FROM d GROUP BY 1),
    staged AS (
      SELECT CASE
               WHEN nt < $FunnelMinTokens THEN 1
               WHEN CAST(ndt AS DOUBLE) / CAST(nt AS DOUBLE) < $FunnelMinDistinctRatio THEN 2
               WHEN CAST(n_hits AS DOUBLE) / CAST(nt AS DOUBLE) >= $BlocklistThreshold THEN 3
               WHEN d.doc_id <> k.keeper THEN 4
               ELSE 0 END AS stage
      FROM d JOIN k USING (h)
    ),
    c AS (SELECT stage, count(*) AS n FROM staged GROUP BY 1),
    tot AS (SELECT count(*) AS t FROM staged),
    rules(stage, rule) AS (VALUES (1, 'too_short'), (2, 'too_repetitive'),
                                  (3, 'blocklisted'), (4, 'exact_dup'))
    SELECT CAST(r.stage AS BIGINT) AS stage, r.rule,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_dropped,
           CAST((SELECT t FROM tot)
             - sum(coalesce(c.n, 0)) OVER (ORDER BY r.stage) AS BIGINT) AS n_remaining
    FROM rules r LEFT JOIN c ON c.stage = r.stage"""
}
