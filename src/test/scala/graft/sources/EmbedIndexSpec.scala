package graft.sources

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.Similarity

/** The persisted embedding index: (a) the cross-snapshot semantic
  * sweep's cell join between two identically-bucketed indexes plans
  * ZERO shuffle exchanges on the cell key; (b) index-against-index
  * verdicts equal the unbucketed direct computation (the layout must
  * change the plan, never the answer); (c) the registered
  * `q_cross_snapshot_embed` / `q_embed_sweep_recall` queries produce
  * the planted verdicts end-to-end under the estate's own frozen
  * codebook; (d) the streaming ingest gate flags the same matches as
  * the batch sweep as vectors arrive.
  *
  * Fixture geometry: five one-hot direction families (exact cosine 1.0
  * inside a family, 0.0 across — both sides of the SemDedup bar with
  * no float subtlety), members alternating parity so every family
  * spans the estate (even) / new-crawl (odd) split, plus one odd-only
  * novel direction that must match nothing.
  */
class EmbedIndexSpec extends SparkSpec {
  import spark.implicits._

  /** id i < 60 → family i % 5 as a scaled one-hot; 61 is the novel. */
  private def vec(i: Int): Seq[Float] =
    if (i == 61) (0 until 64).map(d => if (d == 7) 1.0f else 0.0f)
    else (0 until 64).map(d => if (d == i % 5) (1.0f + i % 5) else 0.0f)

  private def rows = (0 until 60).map(i => (i.toLong, vec(i), 0)) :+ ((61L, vec(61), 0))

  /** Expected verdicts: each odd member of family f matches all six
    * even members, best = the lowest even id (all cosines are exactly
    * 1.0); the novel 61 matches nothing.
    */
  private def expectedVerdicts: Set[(Long, Long, Long, Double)] =
    (0 until 60).filter(_ % 2 == 1).map { i =>
      val f = i % 5
      val evens = (0 until 60).filter(j => j % 2 == 0 && j % 5 == f)
      (i.toLong, evens.size.toLong, evens.min.toLong, 1.0)
    }.toSet

  test("cross-snapshot sweep: exchange-free cell join; bucketed == unbucketed") {
    val dir = java.nio.file.Files.createTempDirectory("embidx10").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // hand-picked codebook: the five family directions (unit scale) —
    // identical vectors land in one cell by construction, and the
    // novel direction's arbitrary cell is harmless (cosine kills it)
    val centers = (0 until 5).map(f =>
      (0 until 64).map(d => if (d == f) 1.0 else 0.0).toArray).toIndexedSeq
    val emb = graft.queries.Tables.embeddings(spark, dir)
    EmbedIndex.write(emb.filter(col("vec_id") % 2 === 0), "emb_idx_a", centers)
    EmbedIndex.write(emb.filter(col("vec_id") % 2 === 1), "emb_idx_b", centers)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = EmbedIndex.crossSnapshotMatches(spark, "emb_idx_a", "emb_idx_b")
      // (a) no exchange may touch a relation still carrying the cell
      // key: the bucketed layout co-locates the join, and everything
      // above it is keyed on vec_id
      val plan = out.queryExecution.executedPlan
      val expanded = plan +: plan.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      val cellExchanges = expanded.flatMap(_.collect {
        case e: ShuffleExchangeExec
          if e.child.output.exists(_.name == "cell") => e
      })
      assert(cellExchanges.isEmpty,
        s"the index-to-index cell join must be exchange-free, found:\n$plan")
      val got = out.collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_matches"),
          r.getAs[Long]("dup_of"), r.getAs[Double]("best_cos"))).toSet
      assert(got == expectedVerdicts, s"planted verdicts diverged: $got")
      // (b) the unbucketed direct computation over the same split and
      // the same codebook produces identical verdicts
      def assigned(parity: Int) = emb.filter(col("vec_id") % 2 === parity)
        .select(col("vec_id"), col("embedding"),
          Similarity.dot(col("embedding"), col("embedding")).as("nsq"),
          graft.functions.VectorFunctions
            .nearestCenter(col("embedding"), 0, 64, centers)("code").as("cell"))
      val aSide = assigned(0)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cell"))
            .orderBy(col("nsq").asc, col("vec_id").asc)))
        .filter(col("rk") <= Similarity.KnnCellCap)
        .select(col("cell"), col("vec_id").as("corpus_vec"),
          col("embedding").as("emb_c"), col("nsq").as("nsq_c"))
      val direct = assigned(1).join(aSide, Seq("cell"))
        .select(col("vec_id"), col("corpus_vec"),
          round(Similarity.dot(col("embedding"), col("emb_c"))
            / sqrt(col("nsq") * col("nsq_c")), 6).as("cos"))
        .filter(col("cos") >= EmbedIndex.Tau)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("cos").desc, col("corpus_vec").asc)))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_matches"),
          min(when(col("rk") === 1, col("corpus_vec"))).as("dup_of"),
          min(when(col("rk") === 1, col("cos"))).as("best_cos"))
        .collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_matches"),
          r.getAs[Long]("dup_of"), r.getAs[Double]("best_cos"))).toSet
      assert(direct == got, s"bucketed and unbucketed diverged: $direct vs $got")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS emb_idx_a")
      spark.sql("DROP TABLE IF EXISTS emb_idx_b")
    }
  }

  test("registered estate queries: verdicts and full recall under the frozen estate codebook") {
    graft.core.Memo.releaseAll()
    val dir = java.nio.file.Files.createTempDirectory("embest10").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val got = EmbedIndex.crossSnapshotEmbed(spark, dir).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_matches"),
          r.getAs[Long]("dup_of"), r.getAs[Double]("best_cos"))).toSet
      assert(got == expectedVerdicts,
        s"estate-codebook verdicts diverged: $got")
      assert(EmbedIndex.crossSnapshotEmbedOracleSql.isDefined &&
        EmbedIndex.sweepRecallOracleSql.isDefined,
        "oracles must freeze once the estate fit has run")
      // recall eval: sampled queries are ids 1, 21, 41 (family 1 —
      // six true matches each, all inside one cell) and the novel 61
      // (zero true matches → absent from the eval by construction)
      val rec = EmbedIndex.sweepRecall(spark, dir).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_true"),
          r.getAs[Long]("n_hits"), r.getAs[Double]("recall"))).toSet
      assert(rec == Set((1L, 6L, 6L, 1.0), (21L, 6L, 6L, 1.0), (41L, 6L, 6L, 1.0)),
        s"cell-scoped sweep must have full recall on the planted families: $rec")
    } finally {
      graft.core.Memo.releaseAll()
      spark.sql(s"DROP TABLE IF EXISTS graft_embed_snap_a_${dir.replaceAll("[^A-Za-z0-9]+", "_")}")
      spark.sql(s"DROP TABLE IF EXISTS graft_embed_snap_b_${dir.replaceAll("[^A-Za-z0-9]+", "_")}")
      spark.catalog.clearCache()
    }
  }

  test("embed incremental: quotient merge == from-scratch; families cluster whole") {
    graft.core.Memo.releaseAll()
    val dir = java.nio.file.Files.createTempDirectory("embinc13").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val got = Similarity.embedIncremental(spark, dir).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("cluster_root"), r.getAs[Long]("cluster_size")))).toMap
      // each one-hot family (12 members spanning both parities) must
      // resolve to ONE cluster rooted at its minimum id (= the family
      // index); the novel 61 has no edge and is absent
      val expected = (0 until 60).map(i => i.toLong -> (((i % 5).toLong, 12L))).toMap
      assert(got == expected, s"family clusters diverged: $got")
      // incremental == from-scratch: one-shot components over the SAME
      // three edge legs (the theorem the oracle re-proves per run)
      val (pa, pb, br) = Similarity.embedIncrementalEdges(spark, dir)
      val scratch = graft.pipeline.Dedup.componentsOfPairs(
          pa.unionAll(pb).unionAll(
            br.select(col("b_doc").as("doc_a"), col("a_doc").as("doc_b"))))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("cluster_root"), r.getAs[Long]("cluster_size")))).toMap
      assert(got == scratch, s"incremental must equal from-scratch: $got vs $scratch")
      assert(Similarity.embedIncrementalOracleSql.isDefined,
        "the from-scratch oracle must freeze once the estate fit has run")
    } finally {
      graft.core.Memo.releaseAll()
      spark.sql(s"DROP TABLE IF EXISTS graft_embed_snap_a_${dir.replaceAll("[^A-Za-z0-9]+", "_")}")
      spark.sql(s"DROP TABLE IF EXISTS graft_embed_snap_b_${dir.replaceAll("[^A-Za-z0-9]+", "_")}")
      spark.catalog.clearCache()
    }
  }

  test("streaming ingest gate flags the batch sweep's matches as vectors arrive") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("embgate10").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val centers = (0 until 5).map(f =>
      (0 until 64).map(d => if (d == f) 1.0 else 0.0).toArray).toIndexedSeq
    val emb = graft.queries.Tables.embeddings(spark, dir)
    EmbedIndex.write(emb.filter(col("vec_id") % 2 === 0), "emb_idx_live", centers)
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Seq[Float])]
      val gate = EmbedIndex.ingestStream(
        mem.toDF().toDF("vec_id", "embedding"), "emb_idx_live", centers)
      val q = gate.writeStream.format("memory").queryName("embed_gate")
        .outputMode("append").start()
      try {
        mem.addData((201L, vec(1)), (203L, vec(61)))
        q.processAllAvailable()
        val flagged = spark.table("embed_gate").collect()
          .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("corpus_vec"))).toSet
        val evensF1 = (0 until 60).filter(j => j % 2 == 0 && j % 5 == 1)
        assert(flagged == evensF1.map(j => (201L, j.toLong)).toSet,
          s"the family-1 arrival must flag against all six estate members, the novel none: $flagged")
      } finally q.stop()
    } finally spark.sql("DROP TABLE IF EXISTS emb_idx_live")
  }
}
