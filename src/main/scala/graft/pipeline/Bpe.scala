package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables

/** Subword (BPE-style) token counting — the token-budget measure the
  * whitespace/regex count in `q_token_count` approximates. Curation
  * heuristics tolerate word counts; packing to a model's context budget
  * does not, because real tokenizers split rare words into several
  * subwords.
  *
  * Two stages, the frozen-fit pattern (cf. `Similarity`/`MlAnomaly`):
  *
  *  1. FIT (driver-side, once per dataset): classic BPE merge learning
  *     — count adjacent symbol pairs over the word-frequency table
  *     (weighted by word count), repeatedly merge the most frequent
  *     pair; [[NumMerges]] rounds, deterministic tie-break (highest
  *     count, then lexicographically smallest pair). The word-frequency
  *     table is capped at [[MaxVocabWords]] rows — vocabulary-sized, so
  *     the driver collect is bounded at any corpus scale (the same
  *     bound real tokenizer training uses).
  *  2. APPLY (distributed, pure codegen): each word is rendered as
  *     individually wrapped symbols `⟨h⟩⟨e⟩⟨l⟩⟨l⟩⟨o⟩` (with the
  *     [[WrapL]]/[[WrapR]] control-char sentinels as the brackets) and
  *     each merge rank becomes one literal `replace("⟨a⟩⟨b⟩" -> "⟨ab⟩")`.
  *     String replace is leftmost non-overlapping, and the wrapping
  *     makes a match start only at a symbol boundary, so applying the
  *     ranks in learned order reproduces BPE merge-all encoding without
  *     a UDF or any per-row loop — the whole chain is a single
  *     whole-stage-codegen projection, and merges can never cross the
  *     word boundary because the space separator is never inside a
  *     wrapped symbol. The token count is then just the number of
  *     opening sentinels left.
  *
  * The merge table is frozen per dataset; [[tokenCountBpeOracleSql]]
  * renders the SAME replace chain as DuckDB SQL with the learned ranks
  * as literals, so the driver hash-gates the full apply stage (the
  * centroid-oracle pattern). Application order is strict rank order
  * (one full pass per rank) — the O(ranks) encoding variant; the spec
  * pins hand-computed segmentations.
  *
  * Scale: fit cost is one word-frequency aggregation (shuffle on the
  * word) + a driver loop over ≤ [[MaxVocabWords]] short words; apply is
  * embarrassingly parallel projection — no joins, no shuffle, no state.
  */
object Bpe {

  /** Number of merge ranks to learn. */
  val NumMerges = 24

  /** Driver-side word-frequency cap for the fit (vocabulary-sized). */
  val MaxVocabWords = 1024

  /** Symbol wrap sentinels for the replace-chain representation —
    * control characters no real text contains (a word that DID contain
    * one would only perturb its own count, identically on both
    * engines, since learning excludes such words). Printable parens
    * were the obvious choice but would miscount words that legitimately
    * contain parens.
    */
  val WrapL = "\u0001"
  val WrapR = "\u0002"

  /** Learned merge tables, keyed by dataset dir — a fit for one dataset
    * must never gate another's parquet (see also the single-dataset
    * assertion in [[tokenCountBpeOracleSql]]).
    */
  private val fitted = graft.core.Memo.fits[Seq[(String, String)]]("bpe_merges")

  def mergesFor(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    fitted(spark, sfDir)(learn(spark, sfDir))

  /** Code-point string order for the fit tie-break. Java's natural
    * String order compares UTF-16 code units, which ranks
    * supplementary-plane characters BELOW [U+E000, U+FFFF] — the
    * opposite of the UTF-8 binary order Spark's `orderBy` and DuckDB's
    * `ORDER BY` use. The driver-side fit must break count ties exactly
    * like the distributed fit and the oracle, so it compares code
    * points (== UTF-8 byte order).
    */
  private[pipeline] val CodePointOrder: Ordering[String] = (x: String, y: String) => {
    val xi = x.codePoints().iterator(); val yi = y.codePoints().iterator()
    var r = 0
    while (r == 0 && xi.hasNext && yi.hasNext) r = Integer.compare(xi.next(), yi.next())
    if (r != 0) r else java.lang.Boolean.compare(xi.hasNext, yi.hasNext)
  }

  /** Leftmost non-overlapping merge of adjacent pair `p` in `s` —
    * reference implementation for the fit loop (and the semantics the
    * wrapped string replace reproduces distributed).
    */
  private[pipeline] def mergePair(s: Vector[String], p: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == p._1 && s(i + 1) == p._2) {
        out += (p._1 + p._2); i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  private def learn(spark: SparkSession, sfDir: String): Seq[(String, String)] = {
    // word-frequency table: deterministic top-N by (count desc, word
    // asc) over the SAME [[wordFreq]] relation the distributed trainer
    // counts — one definition of the sentinel-exclusion invariant, so
    // the two fits can never count different words. (Sentinel-bearing
    // words are excluded from LEARNING so no merge rule can collide
    // with the wrapped representation; they still count at apply time,
    // one token per character.)
    val wf = wordFreq(spark, sfDir)
      .orderBy(col("c").desc, col("w").asc)
      .limit(MaxVocabWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    var words: Seq[(Vector[String], Long)] =
      wf.map { case (w, c) => (w.split("").filter(_.nonEmpty).toVector, c) }
    val out = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < NumMerges && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (s, c) =>
        var i = 0
        while (i + 1 < s.length) { val p = (s(i), s(i + 1)); pc(p) = pc.getOrElse(p, 0L) + c; i += 1 }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val best = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long, CodePointOrder, CodePointOrder))._1
        out += best
        words = words.map { case (s, c) => (mergePair(s, best), c) }
        round += 1
      }
    }
    out.result()
  }

  /** Wrapped-symbol representation of one word: `⟨h⟩⟨e⟩⟨l⟩⟨l⟩⟨o⟩`
    * (with the control-char sentinels as the brackets).
    */
  private def wrapChars(w: Column): Column =
    concat_ws("", transform(filter(split(w, ""), c => c =!= lit("")),
      c => concat(lit(WrapL), c, lit(WrapR))))

  /** BPE token count of one word under the learned ranks — the literal
    * replace chain, then count the opening sentinels that remain.
    */
  private def wordTokens(w: Column, merges: Seq[(String, String)]): Column = {
    val merged = merges.foldLeft(wrapChars(w)) { case (s, (a, b)) =>
      replace(s, lit(s"$WrapL$a$WrapR$WrapL$b$WrapR"), lit(s"$WrapL${a + b}$WrapR"))
    }
    (length(merged) - length(replace(merged, lit(WrapL), lit("")))).cast("long")
  }

  /** Per-document BPE token count expression over whitespace words. */
  private def docTokens(text: Column, merges: Seq[(String, String)]): Column =
    aggregate(transform(split(text, " "), w => wordTokens(w, merges)),
      lit(0L), (acc, x) => acc + x)

  // ---- q_token_count_bpe ---------------------------------------------

  /** The per-document count projection under a fixed merge table — a
    * pure (doc_id, text) transform of narrow ops only, so it applies to
    * a STREAMING DataFrame unchanged (StreamingFilterSpec's sibling
    * property, pinned by StreamingBpeSpec): live ingest can meter the
    * token budget with the exact tokenizer the batch pipeline froze.
    */
  def tokenCountsOf(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens_ws"),
      docTokens(col("text"), merges).as("n_tokens_bpe"),
    )

  def tokenCountBpe(spark: SparkSession, sfDir: String): DataFrame =
    tokenCountsOf(Tables.documents(spark, sfDir), mergesFor(spark, sfDir))

  private def sqlLit(s: String): String = s.replace("'", "''")

  /** DuckDB mirror of [[wordTokens]]/[[docTokens]] with the learned
    * ranks as literals; `w` names the lambda variable in scope.
    */
  private def docTokensSql(merges: Seq[(String, String)]): String = {
    // list_filter mirrors the Spark side's empty-char filter: DuckDB's
    // string_split('', '') returns [''] (one empty element), which
    // unfiltered would wrap into a phantom 1-token word for every
    // empty whitespace token (consecutive/leading/trailing spaces) —
    // a cross-engine divergence on any corpus with such whitespace
    // coalesce: DuckDB's array_to_string([]) is NULL, not '' — without
    // it an empty word would poison the whole doc's list_sum to NULL
    val wrapped = s"coalesce(array_to_string(list_transform(" +
      s"list_filter(string_split(w, ''), c -> c <> ''), " +
      s"c -> '$WrapL' || c || '$WrapR'), ''), '')"
    val chain = merges.foldLeft(wrapped) { case (s, (a, b)) =>
      s"replace($s, '${sqlLit(s"$WrapL$a$WrapR$WrapL$b$WrapR")}', '${sqlLit(s"$WrapL${a + b}$WrapR")}')"
    }
    s"""CAST(list_sum(list_transform(string_split(text, ' '),
        w -> length($chain) - length(replace($chain, '$WrapL', '')))) AS BIGINT)"""
  }

  /** Present once the fit has run in this JVM (Verify runs queries
    * before dumping oracle_sql.json). Refuses to render if more than
    * one dataset was fitted — the dumped SQL carries one merge table
    * and must not gate another dataset's parquet.
    */
  def tokenCountBpeOracleSql: Option[String] = singleFit.map { ms =>
    s"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
           ${docTokensSql(ms)} AS n_tokens_bpe
    FROM documents"""
  }

  private def singleFit: Option[Seq[(String, String)]] =
    FrozenFit.single(fitted, "BPE merges")

  // ---- q_token_pack_bpe ----------------------------------------------

  /** [[Sampling.tokenPack]] with the BPE count as the packing weight —
    * greedy sequential fill to [[Sampling.PackBudget]] per (source,
    * shard). Same partitioned-window shape; only the weight changes,
    * which is the point: budget packing against the count a real
    * tokenizer would produce, not the whitespace proxy.
    */
  def tokenPackBpe(spark: SparkSession, sfDir: String): DataFrame = {
    val ms = mergesFor(spark, sfDir)
    Sampling.packByWeight(Tables.documents(spark, sfDir), docTokens(col("text"), ms))
  }

  // ---- q_token_fertility ---------------------------------------------

  /** q_token_fertility: per-source subword fertility — BPE tokens per
    * whitespace word, the standard tokenizer-quality diagnostic: a
    * source whose fertility is far above the corpus norm is poorly
    * covered by the learned vocabulary (code, another language,
    * noise) and will silently cost more context budget per word than
    * its mixture weight suggests. One projection + one hash
    * aggregation on `source`; the ratio of exact BIGINT sums stays
    * unrounded (bit-identical cross-engine).
    */
  def tokenFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val ms = mergesFor(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        docTokens(col("text"), ms).as("bpe"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_words"),
        sum(col("bpe")).as("n_tokens_bpe"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens_bpe"),
        (col("n_tokens_bpe").cast("double") / col("n_words").cast("double")).as("fertility"))
  }

  def tokenFertilityOracleSql: Option[String] = singleFit.map { ms =>
    s"""
    WITH t AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
             ${docTokensSql(ms)} AS bpe
      FROM documents
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS n_words,
           CAST(sum(bpe) AS BIGINT) AS n_tokens_bpe,
           CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS fertility
    FROM t GROUP BY 1"""
  }

  def tokenPackBpeOracleSql: Option[String] =
    singleFit.map(ms => Sampling.packByWeightSql(docTokensSql(ms)))

  // ---- q_context_fit -------------------------------------------------

  /** Candidate model context windows the fit report evaluates. */
  val ContextSizes: Seq[Int] = Seq(2048, 4096, 8192)

  /** q_context_fit: context-window planning report — for each candidate
    * context size, how many documents fit whole, and how many BPE
    * tokens a truncate-at-context policy would destroy. This is the
    * number a pretraining run needs BEFORE choosing sequence length
    * and packing policy: a corpus whose tail holds 30% of its tokens
    * in docs longer than the context either needs chunking
    * (`q_chunk`), packing (`q_token_pack_bpe`), or a longer context —
    * and this relation says which regime the corpus is in, using the
    * count a real tokenizer would produce (the frozen BPE fit), not
    * the whitespace proxy.
    *
    * All counts are exact integers; the two fractions are single
    * rounded divisions. One projection (the BPE replace chain, pure
    * codegen) exploded over |contexts| literals, then one hash
    * aggregation on the |contexts|-row key space — map-side partials,
    * nothing corpus-sized shuffles at any scale.
    */
  def contextFit(spark: SparkSession, sfDir: String): DataFrame = {
    val ms = mergesFor(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(docTokens(col("text"), ms).as("bpe"))
      .select(explode(array(ContextSizes.map(c => lit(c)): _*)).as("context"), col("bpe"))
      .groupBy(col("context"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("bpe") <= col("context"), 1L).otherwise(0L)).as("n_docs_fit"),
        sum(col("bpe")).as("tokens_total"),
        sum(when(col("bpe") > col("context"), col("bpe") - col("context"))
          .otherwise(0L)).as("tokens_truncated"))
      .select(col("context"), col("n_docs"), col("n_docs_fit"),
        round(col("n_docs_fit").cast("double") / col("n_docs").cast("double"), 6)
          .as("frac_fit"),
        col("tokens_total"), col("tokens_truncated"),
        round(col("tokens_truncated").cast("double") / col("tokens_total").cast("double"), 6)
          .as("trunc_frac"))
  }

  def contextFitOracleSql: Option[String] = singleFit.map { ms =>
    val ctxs = ContextSizes.map(c => s"($c)").mkString(", ")
    s"""
    WITH t AS (SELECT ${docTokensSql(ms)} AS bpe FROM documents),
    x AS (SELECT c.context, bpe FROM t CROSS JOIN (VALUES $ctxs) AS c(context)),
    a AS (
      SELECT context, count(*) AS n_docs,
             CAST(sum(CASE WHEN bpe <= context THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_fit,
             CAST(sum(bpe) AS BIGINT) AS tokens_total,
             CAST(sum(CASE WHEN bpe > context THEN bpe - context ELSE 0 END) AS BIGINT)
               AS tokens_truncated
      FROM x GROUP BY 1
    )
    SELECT context, n_docs, n_docs_fit,
           round(CAST(n_docs_fit AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS frac_fit,
           tokens_total, tokens_truncated,
           round(CAST(tokens_truncated AS DOUBLE) / CAST(tokens_total AS DOUBLE), 6)
             AS trunc_frac
    FROM a"""
  }

  // ---- q_bpe_train ---------------------------------------------------

  /** Merge rounds the distributed trainer learns. Bounded separately
    * from [[NumMerges]]: each trajectory round adds one replace to the
    * oracle's per-round chain, so the dumped SQL grows O(rounds²).
    */
  val TrainMerges = 12

  /** Distributed training trajectories (lhs, rhs, weighted pair count)
    * per dataset dir.
    */
  private val trained = graft.core.Memo.fits[Seq[(String, String, Long)]]("bpe_trajectory")

  // Shared trainer/vocab building blocks — the wrapping, the merge
  // chain, and the symbol extraction each exist ONCE per engine so the
  // train oracle, the vocab oracle, and the Spark fits cannot drift.

  /** Word-frequency relation (w, c) over the corpus, sentinel-safe. */
  private def wordFreq(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains(WrapL) && !col("w").contains(WrapR))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Replace chain of `merges` over the wrapped word column `w`. */
  private def wordChain(merges: Seq[(String, String)]): Column =
    merges.foldLeft(wrapChars(col("w"))) { case (s, (a, b)) =>
      replace(s, lit(s"$WrapL$a$WrapR$WrapL$b$WrapR"), lit(s"$WrapL${a + b}$WrapR"))
    }

  /** Symbol list of a wrapped/merged word string: split on the closing
    * sentinel, drop the trailing empty, strip each opening sentinel.
    */
  private def symbolsOf(chain: Column): Column =
    transform(filter(split(chain, WrapR), e => e =!= lit("")),
      e => substring(e, 2, Int.MaxValue))

  /** DuckDB mirrors of the three, over the `wf` CTE below. */
  private val wrappedWfSql: String =
    s"coalesce(array_to_string(list_transform(" +
      s"list_filter(string_split(w, ''), ch -> ch <> ''), " +
      s"ch -> '$WrapL' || ch || '$WrapR'), ''), '')"

  private def chainOverWfSql(merges: Seq[(String, String)]): String =
    merges.foldLeft(wrappedWfSql) { case (s, (a, b)) =>
      s"replace($s, '${sqlLit(s"$WrapL$a$WrapR$WrapL$b$WrapR")}', '${sqlLit(s"$WrapL${a + b}$WrapR")}')"
    }

  private def symbolsSql(chain: String): String =
    s"list_transform(list_filter(string_split($chain, '$WrapR'), x -> x <> ''), x -> substr(x, 2))"

  private val wfCteSql: String =
    s"""wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' AND NOT contains(w, '$WrapL') AND NOT contains(w, '$WrapR')
      GROUP BY 1
    )"""

  def trainedFor(spark: SparkSession, sfDir: String): Seq[(String, String, Long)] =
    trained(spark, sfDir)(trainDistributed(spark, sfDir))

  /** The DISTRIBUTED BPE fit — same algorithm as [[learn]] (weighted
    * adjacent-pair counts over the word-frequency table, argmax per
    * round with the (count desc, pair asc) tie-break, leftmost
    * non-overlapping merge-all between rounds) but with no
    * [[MaxVocabWords]] cap: the word-frequency table stays a persisted
    * DataFrame, each round is one distributed explode + hash-aggregate
    * job, and the driver collects exactly ONE row per round (the
    * argmax). That is the 100 TB shape — a web-scale corpus has
    * billions of word types, far past any driver-side cap, while the
    * per-round reduction output is one pair regardless of corpus size.
    *
    * The merge state is re-derived per round as the literal replace
    * chain of the merges learned so far ([[wordTokens]]' representation)
    * — a pure whole-stage-codegen projection, so no corpus-sized or
    * vocabulary-sized state ever lives on the driver.
    */
  private def trainDistributed(spark: SparkSession, sfDir: String): Seq[(String, String, Long)] = {
    val wf = wordFreq(spark, sfDir).persist()
    try {
      val out = Seq.newBuilder[(String, String, Long)]
      var prior = Seq.empty[(String, String)]
      var round = 0
      var exhausted = false
      while (round < TrainMerges && !exhausted) {
        val top = wf
          .select(col("c"), symbolsOf(wordChain(prior)).as("els"))
          .filter(size(col("els")) >= 2)
          .select(col("c"), explode(transform(
            sequence(lit(1), size(col("els")) - 1),
            i => struct(element_at(col("els"), i).as("lhs"),
              element_at(col("els"), i + 1).as("rhs")))).as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("c")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
          .limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val r = top.head
          out += ((r.getString(0), r.getString(1), r.getLong(2)))
          prior = prior :+ ((r.getString(0), r.getString(1)))
          round += 1
        }
      }
      out.result()
    } finally { wf.unpersist(); () }
  }

  /** q_bpe_train: the tokenizer-TRAINING operator — the learned merge
    * trajectory itself, one row per rank with the weighted adjacent-pair
    * count that made it the argmax. The frozen-fit queries above apply
    * a merge table; this one produces it, distributed.
    *
    * The oracle is stronger than the frozen-literal pattern: it REPLAYS
    * the training in DuckDB — for each rank r it applies the first r−1
    * learned merges as a replace chain over the word-frequency table,
    * recounts the adjacent pairs, and takes the (count desc, pair asc)
    * argmax from DATA. A wrong count, a wrong tie-break, or a wrong
    * merge application on either engine breaks the hash, so the whole
    * trajectory is verified, not just transcribed.
    */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val tr = trainedFor(spark, sfDir)
    import spark.implicits._
    tr.zipWithIndex
      .map { case ((l, r, c), i) => (i + 1, l, r, c) }
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  // ---- q_bpe_vocab ---------------------------------------------------

  /** Vocabulary rows the export emits. */
  val VocabTop = 40

  /** q_bpe_vocab: the artifact a tokenizer training run actually ships
    * — the symbol vocabulary after the learned merges, with corpus
    * frequencies: top [[VocabTop]] symbols by (weighted frequency desc,
    * symbol asc) plus their length and whether they are merge products.
    * `q_bpe_train` verifies the trajectory; this exports its result in
    * the form downstream encoding (and vocab-size / coverage decisions)
    * consume.
    *
    * Scale: one projection (the replace chain — pure codegen) + one
    * explode + one hash aggregation on the symbol key; top-N via
    * TakeOrdered, never a global window.
    */
  def bpeVocab(spark: SparkSession, sfDir: String): DataFrame = {
    val tr = trainedFor(spark, sfDir)
    val els = symbolsOf(wordChain(tr.map(m => (m._1, m._2))))
    wordFreq(spark, sfDir)
      .select(col("c"), explode(els).as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("c")).as("freq"))
      .orderBy(col("freq").desc, col("symbol").asc)
      .limit(VocabTop)
      .select(col("symbol"), col("freq"),
        length(col("symbol")).cast("long").as("n_chars"),
        (length(col("symbol")) > 1).as("is_merged"))
  }

  /** DuckDB oracle (post-fit; None → rows-only): replays the full
    * learned chain over the word-frequency table and recounts symbols.
    */
  def bpeVocabOracleSql: Option[String] =
    FrozenFit.single(trained, "BPE training trajectory").map { tr =>
      val chain = chainOverWfSql(tr.map(m => (m._1, m._2)))
      s"""
    WITH $wfCteSql,
    s AS (
      SELECT unnest(${symbolsSql(chain)}) AS symbol, c
      FROM wf
    ),
    v AS (SELECT symbol, CAST(sum(c) AS BIGINT) AS freq FROM s GROUP BY 1)
    SELECT symbol, freq, CAST(length(symbol) AS BIGINT) AS n_chars,
           length(symbol) > 1 AS is_merged
    FROM v ORDER BY freq DESC, symbol ASC LIMIT $VocabTop"""
    }

  def bpeTrainOracleSql: Option[String] =
    FrozenFit.single(trained, "BPE training trajectory").filter(_.nonEmpty).map { tr =>
      val rounds = tr.indices.map { i =>
        val chain = chainOverWfSql(tr.take(i).map(m => (m._1, m._2)))
        s"""(SELECT ${i + 1} AS merge_rank, lhs, rhs, pair_count FROM (
        SELECT els[i] AS lhs, els[i + 1] AS rhs, CAST(sum(c) AS BIGINT) AS pair_count
        FROM (
          SELECT c, els, unnest(generate_series(1, len(els) - 1)) AS i
          FROM (SELECT c, ${symbolsSql(chain)} AS els FROM wf)
          WHERE len(els) >= 2
        ) GROUP BY 1, 2
        ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1))"""
      }
      s"""
    WITH $wfCteSql
    ${rounds.mkString("\n    UNION ALL\n    ")}"""
    }
}
