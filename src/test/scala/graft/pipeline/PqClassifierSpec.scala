package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q_pq_encode / q_ann_ivfpq: codes are a pure function of the vector
  * under the frozen codebooks; ADC search finds planted duplicates and
  * holds a recall floor against the exact-L2 truth.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private def writeEmb(dir: String, rows: Seq[(Long, Seq[Float], String)]): Unit =
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  test("identical vectors get identical codes and identical error; codes are deterministic across refits") {
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("pqenc").toString
      // 20 groups x 3 identical one-hot vectors (the SemanticDedupSpec
      // fixture): clones must encode identically
      val rows = for (g <- 0 until 20; j <- 0 until 3) yield {
        val v = Array.fill(64)(0.0f); v(g) = 1.0f
        (g * 3L + j, v.toSeq, s"g$g")
      }
      writeEmb(dir, rows)
      def snapshot() = Pq.pqEncode(spark, dir).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (((0 until Pq.M).map(m => r.getAs[Int](s"c$m")), r.getAs[Double]("err")))).toMap
      val first = snapshot()
      assert(first.size == 60)
      (0 until 20).foreach { g =>
        assert(first(g * 3L) == first(g * 3L + 1) && first(g * 3L) == first(g * 3L + 2),
          s"clones of group $g encode differently")
      }
      assert(first.values.forall(_._2 >= 0.0), "negative quantization error")
      graft.core.Memo.releaseAll()
      assert(snapshot() == first, "refit on the same data changed codes")
    } finally graft.core.Memo.releaseAll()
  }

  test("ADC ranks a query's exact clones first") {
    graft.core.Memo.releaseAll() // annIvfPq also fits the shared coarse quantizer
    try {
      val dir = java.nio.file.Files.createTempDirectory("pqadc").toString
      // vec 0/100/200 are identical; 100 is a query (vec_id % 100 == 0).
      // Its clones share its codes, so their ADC equals the query's own
      // quantization error — no candidate can score lower.
      val base = Array.tabulate(64)(i => (if (i % 7 == 0) 1.0f else 0.25f))
      val rows = Seq(0L, 100L, 200L).map(id => (id, base.toSeq, "dup")) ++
        (1L to 60L).map { id =>
          val v = Array.tabulate(64)(i => (((id * 31 + i * 17) % 13).toFloat / 13f))
          (id + 1000L, v.toSeq, "bg")
        }
      writeEmb(dir, rows)
      val out = Pq.annIvfPq(spark, dir).collect()
      val q100 = out.filter(_.getAs[Long]("q_id") == 100L)
        .sortBy(_.getAs[Int]("rk")).map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("d2")))
      assert(q100.nonEmpty, "query 100 returned no neighbors")
      assert(q100.take(2).map(_._1).toSet == Set(0L, 200L),
        s"clones not ranked first: ${q100.toSeq}")
      assert(q100.take(2).forall(_._2 == 0.0), "exact refine distance of a clone must be 0")
    } finally graft.core.Memo.releaseAll()
  }

  test("IVF+PQ top-5 recall vs exact-L2 top-5 on the driver corpus") {
    graft.core.Memo.releaseAll()
    try {
      val sf = "/root/testdata/sf0.001"
      val emb = graft.queries.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
      val q = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("x").as("qx"))
      // exact L2 truth (test-scale cross join only)
      val d2 = Similarity.dot(col("qx"), col("qx")) -
        lit(2.0) * Similarity.dot(col("qx"), col("x")) +
        Similarity.dot(col("x"), col("x"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("d2").asc, col("vec_id").asc)
      val truth = q.crossJoin(emb).filter(col("vec_id") =!= col("q_id"))
        .withColumn("d2", d2)
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= Pq.TopK)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Pq.annIvfPq(spark, sf).select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.nonEmpty)
      val recall = (truth & got).size.toDouble / truth.size
      assert(recall >= 0.4, f"IVF+PQ recall regressed: $recall%.3f")
    } finally graft.core.Memo.releaseAll()
  }

  test("oracles render only after the fits, with codebooks inlined") {
    graft.core.Memo.releaseAll()
    try {
      assert(Pq.pqEncodeOracleSql.isEmpty, "no fit yet -> no oracle")
      assert(Pq.annIvfPqOracleSql.isEmpty, "no fit yet -> no oracle")
      Pq.annIvfPq(spark, "/root/testdata/sf0.001").count()
      assert(Pq.pqEncodeOracleSql.get.contains("cb(m, code, scc, scv)"))
      assert(Pq.annIvfPqOracleSql.get.contains("cents(cell, cc, cv)"))
    } finally graft.core.Memo.releaseAll()
  }
}

/** q_hard_negatives: the top negative for a query is its planted
  * identical clone carrying the other label; same-label vectors never
  * appear in the output.
  */
class HardNegativesSpec extends graft.SparkSpec {
  import spark.implicits._

  test("identical other-label clone ranks first; same-label candidates are excluded") {
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("hardneg").toString
      // 20 one-hot groups of 3 identical vectors; members 0,1 labeled A,
      // member 2 labeled B. Query = vec 0 (the only vec_id % 100 == 0).
      val rows = for (g <- 0 until 20; j <- 0 until 3) yield {
        val v = Array.fill(64)(0.0f); v(g) = 1.0f
        (g * 3L + j, v.toSeq, if (j == 2) "B" else "A")
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = Similarity.hardNegatives(spark, dir).collect()
      val q0 = out.filter(_.getAs[Long]("q_id") == 0L).sortBy(_.getAs[Int]("rk"))
      assert(q0.nonEmpty, "query 0 returned no negatives")
      assert(q0.head.getAs[Long]("vec_id") == 2L && q0.head.getAs[Double]("cos") == 1.0,
        s"hardest negative should be the identical B-labeled clone: ${q0.toSeq}")
      assert(out.forall(r => r.getAs[String]("label") != r.getAs[String]("q_label")),
        "a same-label candidate leaked into the negatives")
    } finally graft.core.Memo.releaseAll()
  }

  test("oracle renders only after the fit, with the label predicate") {
    graft.core.Memo.releaseAll()
    try {
      assert(Similarity.hardNegativesOracleSql.isEmpty, "no fit yet -> no oracle")
      Similarity.hardNegatives(spark, "/root/testdata/sf0.001").count()
      val sql = Similarity.hardNegativesOracleSql
      assert(sql.nonEmpty && sql.get.contains("a.label <> p.q_label"))
    } finally graft.core.Memo.releaseAll()
  }
}

/** q_sq_encode: hand-computed codes and reconstruction error on a grid
  * fixture; constant dimensions encode as 0 and reconstruct exactly.
  */
class SqEncodeSpec extends graft.SparkSpec {
  import spark.implicits._

  test("hand-computed SQ8 codes, checksum, and midpoint reconstruction error") {
    val dir = java.nio.file.Files.createTempDirectory("sq").toString
    // dims 1..32 span [0,1] across the corpus; dims 33..64 are constant
    // 0.7 (range 0 -> code 0, zero error contribution)
    def vec(v: Float) = (Array.fill(32)(v) ++ Array.fill(32)(0.7f)).toSeq
    Seq((1L, vec(0.0f), "a"), (2L, vec(1.0f), "b"), (3L, vec(0.5f), "c"))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Pq.sqEncode(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("code_sum"), r.getAs[Double]("err")))).toMap
    // codes on the varying dims: 0.0 -> 0, 1.0 -> clamp(256) = 255,
    // 0.5 -> floor(128) = 128; error per varying dim = (0.5/256)^2
    // for v=0.0 and v=1.0 (midpoint recon 0.001953125 away), same for
    // 0.5 (recon 128.5/256) -> 32 * 3.814697265625e-6 = 1.220703125e-4
    val errExpected = BigDecimal(32 * 3.814697265625e-6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((0L, errExpected)), s"v=0.0: ${out(1L)}")
    assert(out(2L) == ((255L * 32, errExpected)), s"v=1.0: ${out(2L)}")
    assert(out(3L) == ((128L * 32, errExpected)), s"v=0.5: ${out(3L)}")
  }
}

/** q_bm25: hand-checked Okapi scoring on a planted corpus — more query
  * terms and shorter length outrank, zero-hit docs are excluded, and
  * the score matches the formula computed with the same double ops.
  */
class Bm25Spec extends graft.SparkSpec {
  import spark.implicits._

  test("planted corpus: all-terms doc outranks single-term doc; zero-hit doc excluded; exact score") {
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    val docs = Seq(
      (1L, "spark join window", "en"),               // all 3 terms, len 3
      (2L, "spark a a a a a a a", "en"),             // 1 term, len 8
      (3L, "b b b", "en"),                           // no terms -> excluded
    )
    docs.toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.bm25(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score"))
    assert(out.map(_._1).toSeq == Seq(1L, 2L), s"ranking/exclusion wrong: ${out.toSeq}")
    // exact score of doc 1, computed with the identical double operations
    val nDocs = 3L
    val avglen = (3.0 + 8.0 + 3.0) / nDocs
    def term(tf: Double, df: Long, len: Double): Double = {
      val idf = ((nDocs - df).toDouble + 0.5) / (df.toDouble + 0.5)
      val norm = TextAnalysis.Bm25K1 *
        (TextAnalysis.Bm25OneMinusB + TextAnalysis.Bm25B * (len / avglen))
      idf * ((tf * TextAnalysis.Bm25K1Plus1) / (tf + norm))
    }
    // spark: df per term over the corpus; doc 1 has tf=1 for each term
    val expected1 = BigDecimal(
      term(1.0, 2L, 3.0) + term(1.0, 1L, 3.0) + term(1.0, 1L, 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head._2 == expected1, s"doc 1 score ${out.head._2} != $expected1")
  }
}

/** q_quality_classifier: the frozen-weights linear scorer separates a
  * planted curated-vs-web corpus, fits deterministically, and gates its
  * oracle on the fit.
  */
class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("qcls").toString
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source",
        when(col("doc_id") % 2 === 0, lit("src0")).otherwise(lit("src9")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("planted signal: curated-source docs classify positive, web docs negative") {
    graft.core.Memo.releaseAll()
    try {
      // even doc_ids (source src0, positive class) draw from one token
      // set, odd (src9) from a disjoint set — linearly separable, and
      // every doc_id % 3 == 0 sample sees both classes
      val rows = (0L until 60L).map { i =>
        val words =
          if (i % 2 == 0) Seq("clean", "prose", "citation", "edited", "clean")
          else Seq("spam", "click", "win", "free", "spam")
        (i, (words ++ words).mkString(" "), "en")
      }
      val dir = writeDocs(rows)
      val out = QualityClassifier.classify(spark, dir).collect()
      assert(out.length == 60)
      out.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val pred = r.getAs[Int]("pred")
        assert(pred == (if (id % 2 == 0) 1 else 0),
          s"doc $id (source ${r.getAs[String]("source")}) misclassified, " +
            s"score ${r.getAs[Double]("score")}")
      }
      // margins are symmetric-ish and nonzero: positives strictly above 0
      assert(out.filter(_.getAs[Long]("doc_id") % 2 == 0).forall(_.getAs[Double]("score") > 0))
    } finally graft.core.Memo.releaseAll()
  }

  test("fit is deterministic: identical weights across refits") {
    graft.core.Memo.releaseAll()
    try {
      val dir = "/root/testdata/sf0.001"
      QualityClassifier.classify(spark, dir).count()
      val first = QualityClassifier.fittedFor(dir).get
      graft.core.Memo.releaseAll()
      QualityClassifier.classify(spark, dir).count()
      assert(QualityClassifier.fittedFor(dir).get == first, "refit changed weights")
    } finally graft.core.Memo.releaseAll()
  }

  test("oracle renders only after the fit, with the weights inlined") {
    graft.core.Memo.releaseAll()
    try {
      assert(QualityClassifier.classifyOracleSql.isEmpty, "no fit yet -> no oracle")
      QualityClassifier.classify(spark, "/root/testdata/sf0.001").count()
      val sql = QualityClassifier.classifyOracleSql
      assert(sql.nonEmpty && sql.get.contains("list_reduce(list_prepend(CAST(0 AS DOUBLE)"))
    } finally graft.core.Memo.releaseAll()
  }

  test("calibration: separable corpus fills top bins with positives, capture reaches 1") {
    graft.core.Memo.releaseAll()
    try {
      val rows = (0L until 60L).map { i =>
        val words =
          if (i % 2 == 0) Seq("clean", "prose", "citation", "edited", "clean")
          else Seq("spam", "click", "win", "free", "spam")
        (i, (words ++ words).mkString(" "), "en")
      }
      val dir = writeDocs(rows)
      val bins = QualityClassifier.qualityCalibration(spark, dir).collect()
        .sortBy(-_.getAs[Long]("bin"))
      assert(bins.map(_.getAs[Long]("n_docs")).sum == 60L)
      assert(bins.map(_.getAs[Long]("n_pos")).sum == 30L)
      // planted separation: every positive-margin bin is pure positive,
      // every negative-margin bin pure negative
      bins.foreach { r =>
        val rate = r.getAs[Double]("pos_rate")
        assert(if (r.getAs[Long]("bin") >= 0) rate == 1.0 else rate == 0.0,
          s"bin ${r.getAs[Long]("bin")} pos_rate $rate")
      }
      // capture is the descending-bin lift curve: monotone to exactly 1
      val caps = bins.map(_.getAs[Double]("capture"))
      assert(caps.zip(caps.tail).forall { case (a, b) => a <= b })
      assert(caps.last == 1.0)
      // margin_lo really is the bin's lower edge under the fixed width
      bins.foreach { r =>
        assert(r.getAs[Double]("margin_lo") ==
          BigDecimal(r.getAs[Long]("bin") * QualityClassifier.CalBinWidth)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    } finally graft.core.Memo.releaseAll()
  }
}
