package graft.pipeline

import java.sql.Timestamp

import graft.SparkSpec

/** Round-7 operators: HyperLogLog distinct sketch, reciprocal-rank
  * hybrid retrieval fusion, leakage-safe split. The driver oracle
  * proves cross-engine parity; these pin the semantics on hand-built
  * fixtures (both HLL branches, fusion arithmetic, the no-straddle
  * guarantee).
  */
class Round7OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- fixtures ------------------------------------------------------

  private def writeEvents(users: Seq[Long]): String = {
    val dir = java.nio.file.Files.createTempDirectory("hllev").toString
    users.zipWithIndex.map { case (u, i) =>
      (i.toLong, new Timestamp(1000000L + i), u, "click", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def writeCorpus(docs: Seq[(Long, String)], vecs: Seq[(Long, Array[Float])]): String = {
    val dir = java.nio.file.Files.createTempDirectory("rrf").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // ---- q_hll_distinct ------------------------------------------------

  test("hll: small cardinality takes the linear-counting branch and lands near exact") {
    // 4 distinct users, each seen many times -> at most 4 registers hit
    val dir = writeEvents((1 to 40).map(i => (i % 4 + 1).toLong))
    val rows = graft.queries.SketchQueries.hllDistinct(spark, dir).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val u = rows("user_id")
    assert(u.getAs[Long]("n_exact") == 4L)
    val nHit = u.getAs[Long]("n_hit")
    assert(nHit >= 1L && nHit <= 4L)
    val zeros = 256L - nHit
    val expected = 256.0 * math.log(256.0 / zeros)
    assert(math.abs(u.getAs[Double]("hll_estimate") - expected) < 1e-3,
      "small-range estimate must be the linear-counting formula")
    assert(math.abs(u.getAs[Double]("hll_estimate") - 4.0) < 1.0,
      "linear counting is near-exact at tiny cardinality")
  }

  test("hll: large cardinality takes the harmonic branch within the ~6.5% band") {
    // 20000 distinct users -> every register hit with overwhelming
    // probability -> zeros = 0 -> raw harmonic estimate
    val dir = writeEvents((1L to 20000L).toSeq)
    val rows = graft.queries.SketchQueries.hllDistinct(spark, dir).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val u = rows("user_id")
    assert(u.getAs[Long]("n_exact") == 20000L)
    assert(u.getAs[Long]("n_hit") == 256L, "all registers hit at 20k distinct")
    val est = u.getAs[Double]("hll_estimate")
    assert(math.abs(est - 20000.0) / 20000.0 < 0.15,
      s"harmonic estimate $est should be within ~2 standard errors of 20000")
    // the harmonic numerator is the exact integer SUM 2^(53 - M_j):
    // bounded by 256 * 2^53 and strictly below it when any register hit
    assert(u.getAs[Long]("harmonic_num") < 256L * graft.queries.SketchQueries.HllEmptyTerm)
  }

  test("hll: native register aggregate equals the SQL-composable register relation") {
    import org.apache.spark.sql.functions._
    val Q = graft.queries.SketchQueries
    // random-ish 60-bit hashes via the query's own md5 derivation
    val hashed = (1 to 500).map(i => s"key$i").toDF("k")
      .select(conv(substring(md5(concat(lit("hll|"), col("k"))), 1, 15), 16, 10)
        .cast("long").as("hv"))
    val native = hashed
      .agg(graft.functions.HllAggregates.hllSketch(col("hv"), Q.HllM).as("regs"))
      .head().getSeq[Int](0)
    val composed = hashed
      .select(pmod(col("hv"), lit(Q.HllM.toLong)).as("reg"), expr(s"hv div ${Q.HllM}").as("w"))
      .select(col("reg"),
        when(col("w") === 0, lit(Q.HllMaxRank))
          .otherwise(lit(Q.HllMaxRank) - length(bin(col("w")))).as("rank"))
      .groupBy(col("reg")).agg(max(col("rank")).as("mj"))
      .collect().map(r => r.getLong(0).toInt -> r.getAs[Int]("mj")).toMap
    assert(native.length == Q.HllM)
    native.zipWithIndex.foreach { case (mj, reg) =>
      assert(mj == composed.getOrElse(reg, 0),
        s"register $reg: native $mj vs composed ${composed.getOrElse(reg, 0)}")
    }
  }

  test("hll: duplicate keys never move the sketch (insert-only register max)") {
    val once = graft.queries.SketchQueries
      .hllDistinct(spark, writeEvents(Seq(1L, 2L, 3L))).collect()
      .map(r => r.getAs[String]("col_name") -> r.getAs[Long]("harmonic_num")).toMap
    val dup = graft.queries.SketchQueries
      .hllDistinct(spark, writeEvents(Seq(1L, 2L, 3L, 1L, 2L, 3L, 3L, 3L))).collect()
      .map(r => r.getAs[String]("col_name") -> r.getAs[Long]("harmonic_num")).toMap
    assert(once("user_id") == dup("user_id"),
      "register state is a function of the distinct key set only")
  }

  // ---- q_rrf_fusion --------------------------------------------------

  // 64-dim unit-ish vectors: e(i) has 1.0 at position i
  private def basis(i: Int, scale: Float = 1.0f): Array[Float] = {
    val v = Array.fill(64)(0.0f); v(i) = scale; v
  }

  test("rrf: a doc ranked 1 by both systems tops the fusion with 2/(k+1)") {
    // doc 1 contains every BM25 query term; others contain one or none.
    // vec 1 is parallel to the probe (vec 0); vec 2 orthogonal-ish.
    val docs = Seq(
      1L -> "spark join window spark join window",
      2L -> "spark filler filler filler",
      3L -> "nothing relevant here at all",
    )
    val vecs = Seq(
      0L -> basis(0), // probe
      1L -> basis(0, 2.0f), // cos = 1 with probe
      2L -> { val v = basis(0); v(1) = 3.0f; v }, // cos ~ 0.316
      3L -> basis(5), // cos = 0
    )
    val out = Retrieval.rrfFusion(spark, writeCorpus(docs, vecs)).collect()
    val top = out.head
    assert(top.getAs[Long]("doc_id") == 1L)
    assert(top.getAs[Long]("lex_rank") == 1L && top.getAs[Long]("dense_rank") == 1L)
    val k = Retrieval.RrfK
    assert(math.abs(top.getAs[Double]("rrf_score") -
      BigDecimal(2.0 / (k + 1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("rrf: a doc present in only one list gets the single reciprocal term") {
    val docs = Seq(
      1L -> "spark join window",
      2L -> "irrelevant text entirely", // no BM25 hit
    )
    val vecs = Seq(0L -> basis(0), 1L -> basis(3), 2L -> basis(0, 5.0f))
    val out = Retrieval.rrfFusion(spark, writeCorpus(docs, vecs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 2: dense rank 1 (cos 1), absent from lex
    val r2 = out(2L)
    assert(r2.isNullAt(r2.fieldIndex("lex_rank")))
    assert(r2.getAs[Long]("dense_rank") == 1L)
    val expected = 1.0 / (Retrieval.RrfK + 1)
    assert(math.abs(r2.getAs[Double]("rrf_score") - math.rint(expected * 1e6) / 1e6) < 1e-9)
  }

  // ---- q_embed_outliers ----------------------------------------------

  test("embed_outliers: a planted corrupt vector is the label's flagged outlier") {
    // 40 well-behaved label-0 vectors clustered near e0 (tiny per-vector
    // jitter) + ONE corrupt vector pointing elsewhere at 10x magnitude;
    // the 97.5% quantile boundary flags exactly the corrupt one
    val good = (0 until 40).map { i =>
      val v = basis(0); v(1) = 0.01f * (i % 5); (i.toLong, v)
    }
    val corrupt = { val v = basis(7, 10.0f); (99L, v) }
    val dir = java.nio.file.Files.createTempDirectory("eout").toString
    (good :+ corrupt).map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.embedOutliers(spark, dir).collect()
    val flagged = out.filter(_.getAs[Boolean]("is_outlier")).map(_.getAs[Long]("vec_id"))
    assert(flagged.toSeq == Seq(99L), s"expected only the corrupt vector, got ${flagged.toSeq}")
    val corruptRow = out.find(_.getAs[Long]("vec_id") == 99L).get
    val goodRow = out.find(_.getAs[Long]("vec_id") == 0L).get
    assert(corruptRow.getAs[Double]("dist_sq") > 50 * goodRow.getAs[Double]("dist_sq"))
  }

  // ---- q_importance_weight -------------------------------------------

  test("importance: target-like documents outweigh raw-only documents") {
    // target (src0) speaks vocabulary A; the raw-only majority (src9)
    // speaks vocabulary B. A-documents must score a higher likelihood
    // ratio than B-documents, and the 75% keep boundary must separate
    // them (10 A-docs vs 30 B-docs -> keeping the top quartile keeps
    // exactly the A-docs).
    val a = "alpha beta gamma delta alpha beta"
    val b = "zeta eta theta iota kappa lambda"
    val docs =
      (0 until 10).map(i => (i.toLong, a, "src0")) ++
        (10 until 40).map(i => (i.toLong, b, "src9"))
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Importance.importanceWeight(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("dsir_weight"), r.getAs[Boolean]("kept"))).toMap
    val aW = out(0L)._1
    val bW = out(20L)._1
    assert(aW > bW, s"target-vocabulary weight $aW must exceed raw-only $bW")
    assert(aW > 1.0, "target-like doc is MORE likely under the target model")
    (0L until 10L).foreach(i => assert(out(i)._2, s"A-doc $i should be kept"))
    (10L until 40L).foreach(i => assert(!out(i)._2, s"B-doc $i should not be kept"))
  }

  test("importance: the weight is a function of the text only, not the doc's own source") {
    // two byte-identical documents, one inside the target set and one
    // outside, must score the same weight (the source decides which
    // MODEL a doc's tokens train, never how the doc itself is scored)
    val dir = java.nio.file.Files.createTempDirectory("dsir2").toString
    Seq(
      (0L, "alpha beta alpha beta", "src0"),
      (1L, "alpha beta alpha beta", "src9"),
      (2L, "filler words here now", "src9"),
    ).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Importance.importanceWeight(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_weight")).toMap
    assert(out(0L) == out(1L))
  }

  // ---- q_ann_recall --------------------------------------------------

  test("ann_recall: per-probe recall agrees with a hand-join of the two legs") {
    val sf = "/root/testdata/sf0.001"
    val truth = Similarity.annTopk(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val approx = Similarity.annIvf(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val out = Similarity.annRecall(spark, sf).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Double]("recall"))).toMap
    assert(out.keySet == truth.keySet, "one recall row per exact-leg probe")
    out.foreach { case (q, (hits, rec)) =>
      val expect = truth(q).intersect(approx.getOrElse(q, Set.empty)).size
      assert(hits == expect, s"probe $q hits")
      assert(rec == expect / 5.0, s"probe $q recall")
      assert(hits >= 0 && hits <= 5)
    }
    val mean = out.values.map(_._2).sum / out.size
    assert(mean >= 0.3, s"mean IVF recall $mean collapsed below the pinned floor")
  }

  // ---- q_dataset_card ------------------------------------------------

  test("dataset_card: dispositions partition the corpus and splits partition the kept set") {
    val sf = "/root/testdata/sf0.001"
    val r = DatasetCard.datasetCard(spark, sf).head()
    val nDocs = r.getAs[Long]("n_docs")
    val reasons = Seq("n_too_short", "n_too_repetitive", "n_blocklisted",
      "n_exact_dup", "n_eval_holdout", "n_contaminated", "n_low_importance")
      .map(r.getAs[Long](_)).sum
    assert(nDocs == r.getAs[Long]("n_keep") + reasons,
      "every document gets exactly one disposition")
    assert(r.getAs[Long]("n_keep") ==
      r.getAs[Long]("n_train") + r.getAs[Long]("n_val") + r.getAs[Long]("n_test"),
      "splits partition the kept documents")
    assert(r.getAs[Long]("n_tokens") > nDocs, "token volume present")
  }

  // ---- q_split_leakage -----------------------------------------------

  test("split_leakage: every normalized-duplicate group lands in exactly one split") {
    // 300 distinct paragraphs, each duplicated twice more with case and
    // whitespace noise -> 900 docs, 300 groups of 3
    val docs = (0 until 300).flatMap { g =>
      val para = s"unique paragraph $g about topic ${g % 7} with payload ${g * 37}"
      Seq(
        (g * 3 + 0).toLong -> para,
        (g * 3 + 1).toLong -> para.toUpperCase,
        (g * 3 + 2).toLong -> ("  " + para.replace(" ", "   ") + " "),
      )
    }
    val dir = java.nio.file.Files.createTempDirectory("lsplit").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Sampling.splitLeakage(spark, dir).collect()
    assert(out.length == 900)
    val byGroup = out.groupBy(_.getAs[Long]("dup_group"))
    assert(byGroup.size == 300, "one group per distinct normalized text")
    byGroup.foreach { case (g, rows) =>
      assert(rows.length == 3 && rows.forall(_.getAs[Long]("n_copies") == 3L))
      assert(rows.map(_.getAs[String]("split")).toSet.size == 1,
        s"group $g straddles splits — leakage")
      assert(g == rows.map(_.getAs[Long]("doc_id")).min, "dup_group is the min doc_id")
    }
    val splits = out.map(_.getAs[String]("split")).toSet
    assert(splits == Set("train", "val", "test"),
      s"all three splits populated at 300 groups, got $splits")
  }

  test("split_leakage: assignment is stable under unrelated corpus growth") {
    val base = (0 until 50).map(i => i.toLong -> s"stable doc $i body ${i * 13}")
    val dirA = java.nio.file.Files.createTempDirectory("lsA").toString
    base.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dirA/documents.parquet")
    val a = Sampling.splitLeakage(spark, dirA).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val dirB = java.nio.file.Files.createTempDirectory("lsB").toString
    (base ++ (100 until 150).map(i => i.toLong -> s"new doc $i arrives ${i * 7}"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dirB/documents.parquet")
    val b = Sampling.splitLeakage(spark, dirB).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    base.foreach { case (id, _) =>
      assert(a(id) == b(id), s"doc $id moved splits when unrelated docs arrived")
    }
  }

  // ---- q_gopher_filters ----------------------------------------------

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("gopher").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("gopher: a clean document passes every rule") {
    val clean = "the a of " + Seq.fill(57)("word").mkString(" ") // 60 words, 3 markers
    val dir = writeDocs(Seq(1L -> clean))
    val r = Filters.gopherFilters(spark, dir).collect().head
    assert(r.getAs[Long]("n_words") == 60L)
    assert(r.getAs[Boolean]("keep"), s"clean doc must keep: $r")
    assert(r.getAs[Long]("n_fail") == 0L)
    assert(r.getAs[Long]("stop_hits") == 3L)
  }

  test("gopher: each rule fires on its designed violation") {
    val dir = writeDocs(Seq(
      // too short + no stop markers -> f_words, f_stop
      1L -> "just ten little words right here in this tiny doc",
      // symbol spam -> f_symbol (markers present, 60 words)
      2L -> ("the a of " + Seq.fill(57)("#tag").mkString(" ")),
      // digits only -> f_alpha (+ f_words short list is avoided: 60 words)
      3L -> (Seq.fill(60)("12345").mkString(" ")),
      // bullet lines -> f_bullet (each line "- w", 60 lines)
      4L -> (Seq.fill(60)("- the a of word word").mkString("\n")),
      // mean word length too long -> f_word_len
      5L -> ("the a of " + Seq.fill(57)("pneumonoultramicroscopic").mkString(" ")),
    ))
    val rows = Filters.gopherFilters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!rows(1L).getAs[Boolean]("f_words") && !rows(1L).getAs[Boolean]("f_stop"))
    assert(rows(1L).getAs[Long]("n_fail") == 2L)
    assert(!rows(2L).getAs[Boolean]("f_symbol") && rows(2L).getAs[Boolean]("f_alpha"))
    assert(!rows(3L).getAs[Boolean]("f_alpha"))
    assert(!rows(4L).getAs[Boolean]("f_bullet"),
      s"all-bullet doc must fail the bullet rule: ${rows(4L)}")
    assert(!rows(5L).getAs[Boolean]("f_word_len"))
    assert(rows.values.forall(r => !r.getAs[Boolean]("keep")))
  }

  // ---- q_mix_weights -------------------------------------------------

  test("mix_weights: sqrt temperature flattens the language mixture exactly") {
    val dir = java.nio.file.Files.createTempDirectory("mixw").toString
    // aa: 10 docs x 10 tokens = 100; bb: 20 docs x 20 tokens = 400
    val docs =
      (0 until 10).map(i => (i.toLong, Seq.fill(10)("w").mkString(" "), "aa")) ++
        (0 until 20).map(i => (100L + i, Seq.fill(20)("w").mkString(" "), "bb"))
    docs.toDF("doc_id", "text", "lang").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Sampling.mixWeights(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val aa = rows("aa"); val bb = rows("bb")
    assert(aa.getAs[Long]("n_tokens") == 100L && bb.getAs[Long]("n_tokens") == 400L)
    assert(aa.getAs[Long]("isqrt_tokens") == 10L && bb.getAs[Long]("isqrt_tokens") == 20L)
    // raw shares 0.2/0.8 -> sqrt-tempered 1/3 / 2/3 (integer ppm)
    assert(aa.getAs[Double]("token_share") == 0.2 && bb.getAs[Double]("token_share") == 0.8)
    assert(aa.getAs[Long]("weight_ppm") == 333333L && bb.getAs[Long]("weight_ppm") == 666666L)
    assert(aa.getAs[Long]("drawn_tokens") == 333333L)
    // low-resource lang is over-sampled (epochs > high-resource's)
    assert(aa.getAs[Double]("eff_epochs") > bb.getAs[Double]("eff_epochs"))
    assert(aa.getAs[Double]("eff_epochs") == 3333.33)
  }

  // ---- q_approx_quantiles --------------------------------------------

  test("approx_quantiles: histogram interpolation matches the hand computation") {
    val dir = java.nio.file.Files.createTempDirectory("aq").toString
    // one topic, values 0..15 once each -> 4 bins of width 4, cnt 4 each
    (0 until 16).map(i => (i.toLong, new Timestamp(1000L + i), 1L, "t", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = graft.queries.SketchQueries.approxQuantiles(spark, dir).collect()
      .map(r => r.getAs[Double]("p") -> r).toMap
    assert(rows.keySet == Set(0.5, 0.9, 0.99))
    val p50 = rows(0.5)
    assert(p50.getAs[Long]("n") == 16L && p50.getAs[Long]("n_bins") == 4L)
    // rank 8 falls in bin 1 (cum 8, below 4): est = 4 + 4*(8-4)/4 = 8
    assert(p50.getAs[Double]("est") == 8.0)
    // exact type-7 median of 0..15 = 7.5 -> err exactly 0.5
    assert(p50.getAs[Double]("exact") == 7.5 && p50.getAs[Double]("err") == 0.5)
    // rank 14.4 in bin 3: est = 12 + 4*(14.4-12)/4 = 14.4; exact 13.5
    assert(rows(0.9).getAs[Double]("est") == 14.4)
    assert(rows(0.9).getAs[Double]("exact") == 13.5)
  }

  test("approx_quantiles: bin state stays bounded under heavy duplication") {
    val dir = java.nio.file.Files.createTempDirectory("aqdup").toString
    // 10k rows but only two distinct values -> 1 bin; est lands in it
    (0 until 10000).map(i => (i.toLong, new Timestamp(1000L + i), 1L, "hot",
      if (i % 2 == 0) 1.0 else 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = graft.queries.SketchQueries.approxQuantiles(spark, dir).collect()
    assert(rows.forall(_.getAs[Long]("n_bins") == 1L),
      "10k duplicated rows must collapse to a single histogram bin")
    assert(rows.forall { r =>
      val e = r.getAs[Double]("est"); e >= 0.0 && e <= 4.0
    })
  }

  // ---- q_lsh_recall --------------------------------------------------

  test("lsh recall: identical docs land in the top bucket fully caught") {
    val dir = java.nio.file.Files.createTempDirectory("lshrec").toString
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (31 to 60).map(i => s"tok$i").mkString(" ")
    // two identical docs (J = 1.0 -> bucket 10; every band must agree),
    // one disjoint doc (shares no shingle -> contributes no truth pair)
    Seq((1L, base, "s"), (2L, base, "s"), (3L, other, "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.lshRecall(spark, dir).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(rows.keySet == Set(10L), "only the identical pair shares shingles")
    val top = rows(10L)
    assert(top.getAs[Long]("n_true") == 1L && top.getAs[Long]("n_caught") == 1L)
    assert(top.getAs[Double]("recall") == 1.0)
    assert(top.getAs[Double]("jaccard_lo") == 1.0)
    assert(top.getAs[Double]("predicted") == 1.0,
      "clamped midpoint of the top bucket is s=1 -> theory 1.0")
  }

  // ---- q_dedup_cost --------------------------------------------------

  test("dedup cost: planted hot shingles land in the right band with exact C(n,2) volume") {
    val dir = java.nio.file.Files.createTempDirectory("dcost").toString
    // 10 identical 6-token docs -> 2 distinct shingles, each shared by
    // n=10 docs (band 3, C(10,2)=45 pairs each); 3 disjoint 6-token
    // docs -> 6 singleton shingles (band 0, zero pairs)
    val hot = (1 to 6).map(i => s"h$i").mkString(" ")
    val rows = (1L to 10L).map(i => (i, hot, "s")) ++
      (11L to 13L).map(i => (i, (1 to 6).map(j => s"u${i}_$j").mkString(" "), "s"))
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.dedupCost(spark, dir).collect()
      .map(r => r.getAs[Long]("band") ->
        ((r.getAs[Long]("n_min"), r.getAs[Long]("n_shingles"), r.getAs[Long]("n_postings"),
          r.getAs[Long]("candidate_pairs"), r.getAs[Long]("pairs_ppm")))).toMap
    assert(out.keySet == Set(0L, 3L))
    assert(out(3L) == ((8L, 2L, 20L, 90L, 1000000L)),
      s"hot band mismatch: ${out(3L)}")
    assert(out(0L) == ((1L, 6L, 6L, 0L, 0L)))
  }

  // ---- q_dedup_ngram_capped ------------------------------------------

  test("capped join drops boilerplate-only pairs, keeps rare-content pairs intact") {
    val dir = java.nio.file.Files.createTempDirectory("dcap").toString
    // docs 1-10: identical boilerplate (its shingles hit n=10 > cap 2);
    // docs 11-12: an identical rare pair (shingles at n=2 = cap)
    val boiler = (1 to 6).map(i => s"b$i").mkString(" ")
    val rare = (1 to 6).map(i => s"r$i").mkString(" ")
    val rows = (1L to 10L).map(i => (i, boiler, "s")) ++
      Seq((11L, rare, "s"), (12L, rare, "s"))
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("shared"), r.getAs[Double]("jaccard")))).toMap
    val full = pairs(Dedup.ngramJaccard(spark, dir))
    spark.catalog.clearCache()
    val capped = pairs(Dedup.ngramJaccardCapped(spark, dir))
    spark.catalog.clearCache()
    assert(full.contains((1L, 2L)) && full.size == 45 + 1,
      "uncapped finds all 45 boilerplate pairs plus the rare pair")
    assert(capped.keySet == Set((11L, 12L)),
      s"capped must keep only the rare pair, got ${capped.keySet}")
    assert(capped((11L, 12L)) == full((11L, 12L)),
      "the surviving pair's score is untouched by the cap")
  }

  // ---- q_collocations ------------------------------------------------

  test("collocations: hand-computed lift, tie-break order, single-token docs excluded") {
    val dir = java.nio.file.Files.createTempDirectory("colloc").toString
    // 20 copies of a 4-token sentence + 5 single-token docs:
    // N = 85 tokens, NB = 60 bigrams, every word count 20 (solo: 5),
    // each adjacent pair count 20 -> lift = (20*85*85)/(60*20*20)
    val rows = (1L to 20L).map(i => (i, "new york is big", "s")) ++
      (21L to 25L).map(i => (i, "solo", "s"))
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.collocations(spark, dir).collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("c_ab"), r.getAs[Long]("c_a"), r.getAs[Long]("c_b"),
        r.getAs[Double]("lift")))
    val expectedLift = BigDecimal(20.0 * 85 * 85 / (60.0 * 20 * 20))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      ("is", "big", 20L, 20L, 20L, expectedLift),
      ("new", "york", 20L, 20L, 20L, expectedLift),
      ("york", "is", 20L, 20L, 20L, expectedLift)),
      s"got ${out.toSeq}")
  }

  // ---- q_split_balance -----------------------------------------------

  test("split balance: ppm deviations match an independent recomputation, empty splits included") {
    val dir = java.nio.file.Files.createTempDirectory("splitbal").toString
    // small corpus: val/test are near-certainly empty under 98/1/1, so
    // the absent-source grid path (full corpus share as deviation) runs
    (1L to 12L).map(i => (i, s"doc $i text", if (i <= 4) "A" else "B"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent expectation from the (source, split) count relation
    val counts = Sampling.hashSplit(spark, dir).collect()
      .map(r => (r.getAs[String]("split"), r.getAs[String]("source")) -> r.getAs[Long]("n_docs"))
      .toMap
    val sources = counts.keys.map(_._2).toSet
    val nTotal = counts.values.sum
    val bySource = sources.map(s => s -> counts.collect { case ((_, src), n) if src == s => n }.sum).toMap
    val splits = Seq("train", "val", "test")
    val expected = splits.map { sp =>
      val nSplit = counts.collect { case ((s, _), n) if s == sp => n }.sum
      val devs = sources.toSeq.map { src =>
        val inSplit = if (nSplit == 0) 0L
          else 1000000L * counts.getOrElse((sp, src), 0L) / nSplit
        math.abs(inSplit - 1000000L * bySource(src) / nTotal)
      }
      sp -> ((nSplit, devs.max, devs.sum / 2))
    }.toMap
    assert(expected.values.exists(_._1 == 0L), "fixture must leave one split empty")
    val got = Sampling.splitBalance(spark, dir).collect()
      .map(r => r.getAs[String]("split") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("max_dev_ppm"), r.getAs[Long]("tv_ppm")))).toMap
    assert(got.keySet == splits.toSet)
    splits.foreach { sp =>
      assert(got(sp) == expected(sp), s"split $sp: ${got(sp)} vs ${expected(sp)}")
    }
    assert(got.values.map(_._1).sum == nTotal, "split sizes partition the corpus")
  }

  // ---- q_shingle_cardinality -----------------------------------------

  test("shingle cardinality: repetitive source shows high dup_ratio, unique shows zero") {
    val dir = java.nio.file.Files.createTempDirectory("shcard").toString
    val repeated = (1 to 30).map(i => s"t${i % 8}").mkString(" ") // 8-token cycle
    val unique = (1 to 30).map(i => s"u$i").mkString(" ")
    // rep: 10 identical docs -> every doc contributes the same shingle
    // set; uniq: each doc disjoint vocabulary -> no cross-doc overlap
    val rows = (1L to 10L).map(i => (i, repeated, "rep")) ++
      (11L to 13L).map(i => (i, unique.replace("u", s"u${i}_"), "uniq"))
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.SketchQueries.shingleCardinality(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val rep = out("rep")
    // 10 copies of one shingle set: distinct = instances/10
    assert(rep.getAs[Long]("n_shingles") == 10L * rep.getAs[Long]("n_exact"))
    assert(rep.getAs[Double]("dup_ratio") == 0.9)
    val un = out("uniq")
    assert(un.getAs[Double]("dup_ratio") == 0.0,
      "disjoint per-doc vocabularies produce no repeated shingles")
    // tiny cardinalities ride the linear-counting branch near-exactly
    out.values.foreach { r =>
      val est = r.getAs[Double]("hll_estimate")
      val exact = r.getAs[Long]("n_exact").toDouble
      assert(math.abs(est - exact) / exact < 0.25, s"estimate $est far from $exact")
    }
  }

  // ---- q_knn_graph ---------------------------------------------------

  test("knn graph: top-k bound, rank contiguity, and mutual-flag symmetry") {
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("knng").toString
      // two tight 64-dim clusters of 20 vectors each; within-cluster
      // cosine >> cross-cluster, so neighbors stay intra-cluster
      def vec(cluster: Int, i: Int): Seq[Float] =
        (0 until 64).map { d =>
          val base = if (cluster == 0) { if (d < 32) 1.0f else 0.0f }
                     else { if (d < 32) 0.0f else 1.0f }
          base + (if (d == i % 32) 0.01f * (i + 1) else 0.0f)
        }
      val rows = (0 until 40).map(i => (i.toLong, vec(i / 20, i), i / 20))
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val edges = Similarity.knnGraph(spark, dir).collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Int]("rk"), r.getAs[Long]("dst"),
          r.getAs[Double]("cos"), r.getAs[Boolean]("mutual")))
      val bySrc = edges.groupBy(_._1)
      assert(bySrc.values.forall(_.length <= Similarity.KnnK))
      assert(bySrc.values.forall(es => es.map(_._2).sorted.toSeq == (1 to es.length)),
        "ranks are contiguous from 1 per source node")
      val edgeSet = edges.map(e => (e._1, e._3)).toSet
      assert(edges.forall { case (s, _, d, _, m) => m == edgeSet.contains((d, s)) },
        "mutual flag is exactly the presence of the reversed edge")
      assert(edges.exists(_._5), "tight clusters must produce mutual edges")
      // neighbors never cross the planted cluster boundary
      assert(edges.forall { case (s, _, d, _, _) => (s / 20) == (d / 20) })
    } finally graft.core.Memo.releaseAll()
  }

  // ---- q_epoch_plan --------------------------------------------------

  test("epoch plan: small source caps at 4 epochs and its surplus water-fills the rest") {
    val dir = java.nio.file.Files.createTempDirectory("epoch").toString
    // source A: 100 tokens (weight isqrt = 10, cap 400, cap/w = 40)
    // source B: 10000 tokens (weight 100, cap 40000, cap/w = 400)
    // budget = 3 * 10100 = 30300. A caps (400*110 <= 10*30300); B does
    // not (40000*100 > 100*29900); B gets the remainder 29900 whole.
    def doc(n: Int, tok: String) = (1 to n).map(_ => tok).mkString(" ")
    Seq((1L, doc(100, "a"), "A"), (2L, doc(10000, "b"), "B"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Sampling.epochPlan(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = rows("A")
    assert(a.getAs[Boolean]("is_capped"))
    assert(a.getAs[Long]("planned_tokens") == 400L && a.getAs[Double]("epochs") == 4.0)
    val b = rows("B")
    assert(!b.getAs[Boolean]("is_capped"))
    assert(b.getAs[Long]("planned_tokens") == 29900L && b.getAs[Double]("epochs") == 2.99)
    assert(rows.values.map(_.getAs[Long]("planned_tokens")).sum == 30300L,
      "the full budget is allocated when no source set exhausts it")
  }

  test("epoch plan: symmetric sources split the budget below the cap untouched") {
    val dir = java.nio.file.Files.createTempDirectory("epoch2").toString
    def doc(n: Int, tok: String) = (1 to n).map(_ => tok).mkString(" ")
    Seq((1L, doc(10, "a"), "A"), (2L, doc(10, "b"), "B"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Sampling.epochPlan(spark, dir).collect()
    // budget 60 over equal weights 3+3: 30 each = 3 epochs, below cap 40
    assert(rows.forall(!_.getAs[Boolean]("is_capped")))
    assert(rows.forall(_.getAs[Long]("planned_tokens") == 30L))
    assert(rows.forall(_.getAs[Double]("epochs") == 3.0))
  }

  test("property: epoch plan respects caps and never over- or badly under-allocates") {
    val rng = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val nSources = 2 + rng.nextInt(5)
      val dir = java.nio.file.Files.createTempDirectory("epochp").toString
      val rows = (0 until nSources).map { s =>
        val n = 1 + rng.nextInt(500)
        (s.toLong, Seq.fill(n)("w").mkString(" "), s"s$s")
      }
      rows.toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val plan = Sampling.epochPlan(spark, dir).collect()
      val budget = Sampling.EpochBudgetMult * rows.map(_._2.split(" ").length.toLong).sum
      plan.foreach { r =>
        val planned = r.getAs[Long]("planned_tokens")
        val cap = r.getAs[Long]("cap_tokens")
        assert(planned <= cap, s"${r.getAs[String]("source")} over cap")
        if (r.getAs[Boolean]("is_capped")) assert(planned == cap)
        assert(r.getAs[Double]("epochs") <= Sampling.MaxEpochs + 1e-6)
      }
      // integer floor division may strand < 1 token per uncapped source,
      // never more; and the plan must never exceed the budget
      val allocated = plan.map(_.getAs[Long]("planned_tokens")).sum
      val uncapped = plan.count(!_.getAs[Boolean]("is_capped"))
      assert(allocated <= budget, s"over-allocated: $allocated > $budget")
      assert(budget - allocated < math.max(uncapped.toLong, 1L),
        s"stranded ${budget - allocated} tokens with $uncapped uncapped sources")
    }
  }

  test("lsh recall: predicted column is the 1-(1-s^4)^4 curve at bucket midpoints") {
    val expect = Dedup.LshRecallPredicted.toMap
    // spot-check the closed form against independent arithmetic
    assert(expect(5) == BigDecimal(1.0 - math.pow(1.0 - math.pow(0.55, 4), 4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(expect(0) < 0.001 && expect(10) == 1.0)
    assert(Dedup.LshRecallPredicted.map(_._2) == Dedup.LshRecallPredicted.map(_._2).sorted,
      "the s-curve is monotone in the bucket")
  }
}
