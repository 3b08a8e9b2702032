package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Tables

/** Product quantization (PQ) for the embedding column — the memory-side
  * companion to the IVF index (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): split each 64-dim vector into
  * [[M]] subvectors, vector-quantize each subspace against its own
  * [[K]]-entry codebook, and represent the vector by [[M]] small codes
  * (4 bits each at gate scale — 32 bits per vector instead of 256
  * bytes of floats). At 100 TB this is what makes an ANN index hold in
  * memory, and bulk candidate scoring reads codes, not vectors.
  *
  * Two registered queries:
  *  - q_pq_encode: per-vector codes + quantization error — the encode
  *    pass a pipeline runs once and stores next to the corpus.
  *  - q_ann_ivfpq: IVF coarse search (shared frozen quantizer from
  *    [[Similarity.ivfCenters]]) with ADC scoring and exact refine —
  *    candidates come from the probed cells' inverted lists exactly
  *    like q_ann_ivf, are ranked by asymmetric distance computed from
  *    their CODES against the query's exact subvectors (M codebook
  *    lookups per candidate, no vector reads), and only the bounded
  *    ADC shortlist is re-ranked by exact distance (FAISS's refine).
  *
  * The subspace quantizer fits freeze their codebooks per dataset (the
  * same frozen-fit mechanism as IVF/PCA/BPE), so encode and ADC scoring
  * are fully oracle-gated in DuckDB with the codebooks inlined as exact
  * literals. All distance arithmetic is sequential-left-fold dots —
  * bit-identical cross-engine — rounded to 6 only at the output edge.
  */
object Pq {

  /** Subspaces × sub-dimension (M*Sub = 64) and per-subspace codebook
    * size. 8×16 (4 bits × 8 codes = 32 bits/vector) keeps the oracle
    * VALUES readable at gate scale; the production shape is 8×256 (one
    * byte per code) with the identical plan — codebooks stay literal/
    * broadcast size either way. A subspace whose fit sample has fewer
    * than [[K]] distinct subvectors gets a correspondingly smaller
    * codebook (the points themselves).
    */
  val M = 8
  val Sub = 8
  val K = 16

  /** Probed coarse cells per query, matching q_ann_ivf: a constant
    * fraction of the auto-sized cell count up to the absolute
    * [[Similarity.IvfProbeMax]] ceiling that keeps probed volume
    * sublinear (see [[Similarity.ivfProbeOf]]).
    */
  def probeOf(k: Int): Int = Similarity.ivfProbeOf(k)
  val TopK = Similarity.IvfTopK

  /** ADC shortlist size before the exact re-rank (the FAISS-style
    * refine step): codes prune each query's candidates to this many,
    * and only the shortlist's full vectors are read for exact
    * distances. Bounds the exact-distance work per query at any corpus
    * size while the bulk scoring stays codes-only.
    */
  val Refine = 50

  private val pqFits = graft.core.Memo.fits[IndexedSeq[IndexedSeq[Array[Double]]]]("pq_codebooks")

  /** Test seam: the fitted codebooks for one dataset. */
  private[pipeline] def codebooksFor(sfDir: String): Option[IndexedSeq[IndexedSeq[Array[Double]]]] =
    pqFits.snapshot.get(sfDir)

  /** Per-subspace codebooks, fit on the same deterministic 1/3 sample
    * discipline as the IVF quantizer: the heavy part (distinct + count
    * per subspace) runs in Spark as one aggregation per subspace over
    * the cached sample, the collect is capped at
    * [[KmeansFit.DistinctCap]] rows of [[Sub]] doubles, and the
    * cluster step is [[KmeansFit]]'s deterministic weighted Lloyd.
    * (MLlib's block KMeans is unsafe here: low-cardinality subspaces —
    * duplicate-heavy corpora — make its random init draw duplicate
    * centers and crash the aggregator; weighted Lloyd over distincts
    * is both total and exactly the right quantizer objective.)
    */
  def codebooks(spark: SparkSession, sfDir: String): IndexedSeq[IndexedSeq[Array[Double]]] =
    pqFits(spark, sfDir) {
      val x = col("embedding").cast("array<double>")
      val sliced = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % 3 === 0)
        .select((0 until M).map(m => slice(x, m * Sub + 1, Sub).as(s"a$m")): _*)
        .persist()
      try {
        (0 until M).map(m =>
          KmeansFit.fitFromDistinctSample(sliced.select(col(s"a$m")), col(s"a$m"), K))
      } finally sliced.unpersist()
    }

  /** Nearest codebook entry for subspace m: struct(d2, code) via the
    * [[graft.functions.NearestCenter]] codegen argmin (one generated
    * loop, model as a reference object — generated code does not grow
    * with K). d2 clamped at 0 BEFORE the argmin and ties to the
    * smallest code, exactly like the IVF cell assignment (and the
    * oracle's ranking), so tie order is identical cross-engine.
    */
  private def subCode(cb: IndexedSeq[Array[Double]], m: Int): Column =
    graft.functions.VectorFunctions.nearestCenter(col("embedding"), m * Sub, Sub, cb)

  // ---- q_pq_encode ---------------------------------------------------

  /** q_pq_encode: the corpus encode pass — per vector, the M codes and
    * the total quantization error (sum of per-subspace residual d2,
    * fixed left-assoc addition order, rounded 6). Map-only: no joins,
    * no shuffles; at 100 TB this pipelines into the scan.
    */
  def pqEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = codebooks(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    // empty fit sample (corpus smaller than the modulus): an empty
    // codebook cannot form the argmin expression — the encode of an
    // effectively-empty corpus is the empty relation, same schema
    if (cb.exists(_.isEmpty))
      return emb.filter(lit(false)).select(col("vec_id") +:
        (0 until M).map(m => lit(0).as(s"c$m")) :+ lit(0.0).as("err"): _*)
    val picks = (0 until M).map(m => subCode(cb(m), m).as(s"p$m"))
    emb
      .select(col("vec_id") +: picks: _*)
      .select(col("vec_id") +:
        (0 until M).map(m => col(s"p$m.code").as(s"c$m")) :+
        round((0 until M).map(m => col(s"p$m.d2")).reduceLeft(_ + _), 6).as("err"): _*)
  }

  // ---- q_ann_ivfpq ---------------------------------------------------

  /** q_ann_ivfpq: IVF coarse probe + PQ-code (ADC) candidate scoring +
    * exact refine. Queries are the every-100th vectors; each probes its
    * [[probeOf]] nearest coarse cells; that cells' members are ranked by
    * asymmetric distance — the query's exact subvectors against each
    * candidate's codebook entries (M literal-array lookups per
    * candidate, no vector reads) — and only the [[Refine]]-deep ADC
    * shortlist is re-ranked by exact distance. Shuffles: the cell equi
    * join, the per-query windows, and one narrow vec_id join to gather
    * shortlist vectors.
    */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val coarse = Similarity.ivfCenters(spark, sfDir)
    val cb = codebooks(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("nsq"))
    // empty fits (corpus smaller than the sampling modulus): no cells /
    // codebooks to form the argmin expressions — the search over an
    // effectively-empty corpus is the empty relation, same schema
    if (coarse.isEmpty || cb.exists(_.isEmpty))
      return emb.filter(lit(false)).select(col("vec_id").as("q_id"),
        lit(0).as("rk"), col("vec_id"), lit(0.0).as("d2"))
    // Cell assignment + sub-codes both go through the NearestCenter
    // codegen argmin (model as a reference object): the earlier
    // unrolled literal form emitted ~150 inline dot-product blocks
    // here, pushed the fused stage's generated method past janino's
    // 64 KB limit, and silently degraded the whole encode+join stage
    // to interpreted execution.
    val assigned = emb
      .withColumn("cell",
        graft.functions.VectorFunctions
          .nearestCenter(col("embedding"), 0, Dim, coarse).getField("code"))
      .select(col("vec_id") +: col("cell") +:
        (0 until M).map(m => subCode(cb(m), m).getField("code").as(s"c$m")): _*)
    // Per-query ADC lookup tables (the PQ paper's precomputed-table
    // step): for each subspace m, the K distances d(sub_m, c_j)² are
    // computed ONCE per query row — BEFORE the cell explode and the
    // candidate join — so per-candidate scoring is M array lookups,
    // not M slice+cast+dot chains. The earlier per-candidate form
    // re-evaluated ~16 subvector slices and dots on every candidate
    // row; at 10× scale (≈1 M candidate rows) that was the dominant
    // cost of the whole query. The table entries are the IDENTICAL
    // expressions per (m, j) — same float ops in the same order — so
    // the summed ADC value is bit-identical to the oracle's.
    // one generated loop per subspace instead of K literal subtrees —
    // construction/analysis cost no longer grows with K, arithmetic
    // bit-identical (CenterDistancesParitySpec)
    def adcTable(m: Int): Column =
      graft.functions.VectorFunctions.centerDistances(col("embedding"), m * Sub, Sub, cb(m))
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id") +: col("embedding") +: col("nsq") +:
        (0 until M).map(m => adcTable(m).as(s"t$m")): _*)
      .withColumn("probe", explode(graft.functions.VectorFunctions.nearestCenters(
        col("embedding"), 0, Dim, coarse, probeOf(coarse.length))))
      .select(Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nsq").as("q_nsq"), col("probe.cell").as("cell")) ++
        (0 until M).map(m => col(s"t$m")): _*)
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("vec_id").asc)
    // BROADCAST the probe side: queries are a ~1% sample (and at 100 TB
    // the query batch is always ≪ the corpus), so the cell join must be
    // a broadcast hash join, never a sort-merge — the corpus side never
    // shuffles for the candidate join.
    val shortlist = broadcast(probes).join(assigned, "cell") // cell-keyed equi join — codes only
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", round((0 until M).map(m =>
        element_at(col(s"t$m"), (col(s"c$m") + 1).cast("int"))).reduceLeft(_ + _), 6))
      .withColumn("ark", row_number().over(wAdc))
      .filter(col("ark") <= Refine)
      .drop((0 until M).map(m => s"t$m"): _*)
    // refine: exact distances on the bounded shortlist only
    val wD = Window.partitionBy(col("q_id")).orderBy(col("d2").asc, col("vec_id").asc)
    shortlist
      .join(emb.select(col("vec_id"), col("embedding").as("c_emb"), col("nsq").as("c_nsq")),
        "vec_id")
      .withColumn("d2",
        round(greatest(col("q_nsq") - lit(2.0) * Similarity.dot(col("q_emb"), col("c_emb")) +
          col("c_nsq"), lit(0.0)), 6))
      .withColumn("rk", row_number().over(wD))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("d2"))
  }

  // ---- q_sq_encode ---------------------------------------------------

  /** Embedding dimensionality (shared by the scalar quantizer). */
  val Dim = M * Sub

  /** q_sq_encode: int8 scalar quantization (the FAISS SQ8 workhorse —
    * 4× compression with near-exact recall, the milder sibling of PQ):
    * per-dimension [min, max] over the corpus defines an affine 256-bin
    * grid; each element encodes as `floor((v−min)/range·256)` clamped
    * to [0, 255], reconstructing at the bin midpoint. Output per vector:
    * the code checksum and the exact reconstruction error (ordered
    * fold, rounded 6) — the pair a pipeline monitors to decide whether
    * SQ8 is lossless enough before switching the index over.
    *
    * Fully SQL-expressible (no frozen fit): the per-dim stats are two
    * tiny aggregations (64-row then 1-row) broadcast back; the encode
    * itself is map-only over the corpus. Constant dimensions (range 0)
    * encode as 0 and reconstruct exactly.
    */
  def sqEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("a"))
    val stats = emb
      .select(posexplode(col("a")).as(Seq("d", "v")))
      .groupBy(col("d")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(array_sort(collect_list(struct(col("d"), col("mn"), col("mx")))).as("dm"))
      .select(transform(col("dm"), s => s.getField("mn")).as("mins"),
        transform(col("dm"), s => s.getField("mx")).as("maxs"))
    def code(i: Column): Column = {
      val v = element_at(col("a"), i)
      val mn = element_at(col("mins"), i)
      val rng = element_at(col("maxs"), i) - mn
      when(rng === lit(0.0), lit(0L))
        .otherwise(least(greatest(
          floor(((v - mn) / rng) * lit(256.0)).cast("long"), lit(0L)), lit(255L)))
    }
    def errTerm(i: Column): Column = {
      val v = element_at(col("a"), i)
      val mn = element_at(col("mins"), i)
      val rng = element_at(col("maxs"), i) - mn
      val recon = mn + ((element_at(col("codes"), i).cast("double") + lit(0.5)) / lit(256.0)) * rng
      (v - recon) * (v - recon)
    }
    emb.crossJoin(broadcast(stats)) // single-row per-dim grid
      // codes materialize once per row; the checksum and the error fold
      // both read the array instead of re-deriving each bin
      .withColumn("codes", transform(sequence(lit(1), lit(Dim)), i => code(i)))
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
        round(aggregate(sequence(lit(1), lit(Dim)), lit(0.0), (acc, i) => acc + errTerm(i)), 6)
          .as("err"))
  }

  val sqEncodeSql: String = {
    val codeSql =
      """CASE WHEN rng = 0 THEN 0
         ELSE least(greatest(CAST(floor(((v - mn) / rng) * CAST(256 AS DOUBLE)) AS BIGINT), 0), 255) END"""
    s"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    per AS (
      SELECT e.vec_id, t.d, CAST(e.embedding[t.d] AS DOUBLE) AS v
      FROM e CROSS JOIN generate_series(1, $Dim) t(d)
    ),
    dm AS (SELECT d, min(v) AS mn, max(v) AS mx, max(v) - min(v) AS rng FROM per GROUP BY d),
    coded AS (
      SELECT p.vec_id, p.d, p.v, dm.mn, dm.rng, $codeSql AS c
      FROM per p JOIN dm ON dm.d = p.d
    ),
    terms AS (
      SELECT vec_id, d, c,
             (v - (mn + ((CAST(c AS DOUBLE) + CAST('0.5' AS DOUBLE)) / CAST(256 AS DOUBLE)) * rng))
               * (v - (mn + ((CAST(c AS DOUBLE) + CAST('0.5' AS DOUBLE)) / CAST(256 AS DOUBLE)) * rng)) AS et
      FROM coded
    )
    SELECT vec_id,
           CAST(list_reduce(list_prepend(0::BIGINT, list(c ORDER BY d)), (x, y) -> x + y) AS BIGINT) AS code_sum,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(et ORDER BY d)), (x, y) -> x + y), 6) AS err
    FROM terms GROUP BY vec_id"""
  }

  // ---- frozen-codebook oracles ---------------------------------------

  /** VALUES rows `(m, code, scc, scv)` for the fitted codebooks. */
  private def codebookValuesSql(cbs: IndexedSeq[IndexedSeq[Array[Double]]]): String =
    (for (m <- 0 until M; k <- cbs(m).indices) yield {
      val c = cbs(m)(k)
      val cc = c.map(v => v * v).sum
      s"($m, $k, ${Similarity.dlit(cc)}, [${c.map(Similarity.dlit).mkString(", ")}])"
    }).mkString(",\n      ")

  /** Sub-slice self-dot with a dynamic element offset expression. */
  private def offNsqSql(v: String, off: String): String =
    s"list_reduce([CAST(($v)[$off+i] AS DOUBLE) * CAST(($v)[$off+i] AS DOUBLE) for i in generate_series(1, $Sub)], (x, y) -> x + y)"

  /** Sub-slice dot against a codebook `scv` list column. */
  private def offDotCvSql(v: String, off: String, cv: String): String =
    s"list_reduce([CAST(($v)[$off+i] AS DOUBLE) * ($cv)[i] for i in generate_series(1, $Sub)], (x, y) -> x + y)"

  /** Shared CTE text: per-(vector, subspace) nearest code under the
    * frozen codebooks — the DuckDB mirror of [[subCode]].
    */
  private def chosenCtesSql(cbs: IndexedSeq[IndexedSeq[Array[Double]]]): String =
    s"""cb(m, code, scc, scv) AS (VALUES
      ${codebookValuesSql(cbs)}),
    subd AS (
      SELECT e.vec_id, c.m, c.code,
             greatest((${offNsqSql("e.embedding", s"c.m*$Sub")}
                       - CAST(2 AS DOUBLE) * ${offDotCvSql("e.embedding", s"c.m*$Sub", "c.scv")})
                      + c.scc, CAST(0 AS DOUBLE)) AS d2
      FROM e CROSS JOIN cb c
    ),
    ch AS (
      SELECT vec_id, m, code, d2 FROM (
        SELECT vec_id, m, code, d2,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC) AS rk
        FROM subd
      ) WHERE rk = 1
    )"""

  /** DuckDB oracle for q_pq_encode (post-fit; None → rows-only). */
  def pqEncodeOracleSql: Option[String] =
    FrozenFit.single(pqFits, "PQ codebooks").map { cbs =>
      val codeCols = (0 until M).map(m => s"c$m.code AS c$m").mkString(", ")
      // fixed left-assoc addition, mirroring the Spark reduceLeft
      val errSum = (0 until M).map(m => s"c$m.d2").reduceLeft((a, b) => s"($a + $b)")
      val joins = (0 until M)
        .map(m => s"JOIN ch c$m ON c$m.vec_id = e0.vec_id AND c$m.m = $m")
        .mkString("\n    ")
      s"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    ${chosenCtesSql(cbs)}
    SELECT e0.vec_id, $codeCols, round($errSum, 6) AS err
    FROM (SELECT vec_id FROM e) e0
    $joins"""
    }

  /** DuckDB oracle for q_ann_ivfpq: needs BOTH frozen fits (the shared
    * IVF coarse quantizer and the PQ codebooks).
    */
  def annIvfPqOracleSql: Option[String] =
    for {
      coarse <- Similarity.ivfFrozen
      cbs <- FrozenFit.single(pqFits, "PQ codebooks")
    } yield {
      val terms = (0 until M).map { m =>
        s"""greatest((${offNsqSql("p.q_emb", (m * Sub).toString)}
                 - CAST(2 AS DOUBLE) * ${offDotCvSql("p.q_emb", (m * Sub).toString, s"b$m.scv")})
                + b$m.scc, CAST(0 AS DOUBLE))"""
      }
      // fixed left-assoc addition, mirroring the Spark reduceLeft
      val adc = terms.reduceLeft((a, b) => s"($a + $b)")
      val candCols = (0 until M).map(m => s"c$m.code AS c$m").mkString(", ")
      val candJoins = (0 until M)
        .map(m => s"JOIN ch c$m ON c$m.vec_id = a.vec_id AND c$m.m = $m")
        .mkString("\n      ")
      val cbJoins = (0 until M)
        .map(m => s"JOIN cb b$m ON b$m.m = $m AND b$m.code = a.c$m")
        .mkString("\n      ")
      s"""
    WITH cents(cell, cc, cv) AS (VALUES
      ${Similarity.centroidValuesSql(coarse)}),
    e AS (
      SELECT vec_id, embedding, ${Similarity.dotSql("embedding", "embedding")} AS nsq
      FROM embeddings
    ),
    ranked AS (
      SELECT vec_id, embedding, nsq, cell, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS crk
      FROM (
        SELECT e.vec_id, e.embedding, e.nsq, c.cell,
               greatest((e.nsq - CAST(2 AS DOUBLE) * ${Similarity.dotCvSql("e.embedding", "c.cv")}) + c.cc,
                        CAST(0 AS DOUBLE)) AS d2
        FROM e CROSS JOIN cents c
      )
    ),
    cells AS (SELECT vec_id, cell FROM ranked WHERE crk = 1),
    ${chosenCtesSql(cbs)},
    cand AS (
      SELECT a.vec_id, a.cell, $candCols
      FROM cells a
      $candJoins
    ),
    probes AS (
      SELECT vec_id AS q_id, embedding AS q_emb, nsq AS q_nsq, cell
      FROM ranked WHERE vec_id % 100 = 0 AND crk <= ${probeOf(coarse.length)}
    ),
    scored AS (
      SELECT p.q_id, p.q_emb, p.q_nsq, a.vec_id, round($adc, 6) AS adc
      FROM probes p
      JOIN cand a ON p.cell = a.cell AND a.vec_id <> p.q_id
      $cbJoins
    ),
    shortlist AS (
      SELECT q_id, q_emb, q_nsq, vec_id FROM (
        SELECT q_id, q_emb, q_nsq, vec_id, adc,
               row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS ark
        FROM scored
      ) WHERE ark <= $Refine
    ),
    refined AS (
      SELECT s.q_id, s.vec_id,
             round(greatest((s.q_nsq - CAST(2 AS DOUBLE) * ${Similarity.dotSql("s.q_emb", "e.embedding")})
                            + e.nsq, CAST(0 AS DOUBLE)), 6) AS d2
      FROM shortlist s JOIN e ON e.vec_id = s.vec_id
    )
    SELECT q_id, rk, vec_id, d2 FROM (
      SELECT q_id, vec_id, d2,
             row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, vec_id ASC) AS rk
      FROM refined
    ) WHERE rk <= $TopK"""
    }
}
