package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** Pins the LSH operator's recall against the brute-force ground truth
  * on the sf0.001 embeddings — sign-LSH recall is a function of
  * similarity (P(bit agrees) = 1 - angle/pi), so the floor is asserted
  * for the near-dup regime the operator exists for, and overall recall
  * is asserted not to regress below its measured level.
  */
class SimilarityRecallSpec extends SparkSpec {

  test("LSH candidate recall vs brute force (cos >= 0.3 ground truth)") {
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("nsq"))
    val truth = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        Similarity.dot(col("a.embedding"), col("b.embedding")) /
          sqrt(col("a.nsq") * col("b.nsq")))
      .filter(col("cos") >= 0.3)
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"), col("cos"))
      .collect()
    val found = Similarity.annLsh(spark, sf)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val overall = truth.count(r => found((r.getLong(0), r.getLong(1)))).toDouble / truth.length
    val strong = truth.filter(_.getDouble(2) >= 0.42)
    val strongRecall =
      if (strong.isEmpty) 1.0
      else strong.count(r => found((r.getLong(0), r.getLong(1)))).toDouble / strong.length

    assert(overall >= 0.6, f"overall LSH recall regressed: $overall%.3f")
    assert(strongRecall >= 0.8, f"near-dup-regime LSH recall regressed: $strongRecall%.3f")
  }
}

/** IVF recall: the probed-cells candidate search must recover most of
  * the exact brute-force top-5 — probing ¼ of the auto-sized cells trades bounded work
  * for recall, and this pins where that trade lands on real data.
  */
class IvfRecallSpec extends SparkSpec {

  test("IVF top-5 recall vs brute-force top-5") {
    val sf = "/root/testdata/sf0.001"
    def pairs(df: org.apache.spark.sql.DataFrame, q: String, v: String) =
      df.select(col(q), col(v)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.annTopk(spark, sf), "q_id", "vec_id")
    val ivf = pairs(Similarity.annIvf(spark, sf), "q_id", "vec_id")
    assert(ivf.nonEmpty, "IVF returned no neighbors")
    val recall = (truth & ivf).size.toDouble / truth.size
    assert(recall >= 0.6, f"IVF recall regressed: $recall%.3f")
    // every query keeps a full top-k (probed cells are never empty at k=5)
    val perQuery = Similarity.annIvf(spark, sf).groupBy(col("q_id")).count().collect()
    assert(perQuery.forall(_.getLong(1) == Similarity.IvfTopK.toLong))
  }

  test("recall is monotone in nprobe and the production width matches its override") {
    // probe sets are NESTED (top-p of the same sorted cell ranking), so
    // widening the probe budget can only add candidates — mean recall
    // must be non-decreasing in nprobe. This is the contract the 10x
    // recall_sweep record in SCALE.md reads; pinning it here keeps the
    // parameterized path honest at gate scale too.
    val sf = "/root/testdata/sf0.001"
    def meanRecall(p: Option[Int]): Double =
      Similarity.annRecallProbe(spark, sf, p)
        .agg(avg(col("recall"))).head().getDouble(0)
    val byWidth = Seq(1, 2, 4, 8).map(p => meanRecall(Some(p)))
    byWidth.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo <= hi + 1e-9, s"recall must be monotone in nprobe: $byWidth")
    }
    // the default path is the recall-CALIBRATED width: the narrowest
    // ladder width whose probe-set recall clears IvfRecallTarget, the
    // ivfProbeOf ceiling when none does. This corpus is ORGANIC
    // (near-uniform angles — recall can't reach 0.9 at any affordable
    // width), so the calibration must land on the ceiling with
    // targetMet = false, and the production recall must EQUAL the
    // ceiling width's — the policy never silently gives up recall the
    // fixed width had.
    val prod = meanRecall(None)
    val cal = Similarity.ivfCalibrationInfo(sf).get
    val cells = Similarity.ivfCellsOf(
      Tables.embeddings(spark, sf).count())
    assert(cal.width == Similarity.ivfProbeOf(cells) && !cal.targetMet,
      s"organic geometry must calibrate to the ceiling with the target missed: $cal")
    val ceilRecall = meanRecall(Some(Similarity.ivfProbeOf(cells)))
    assert(prod == ceilRecall,
      s"calibrated-width recall must equal its width's explicit override: " +
        s"$prod vs $ceilRecall")
    // cal.recall derives from the integer evidence (hits / (topK·n));
    // prod is a float mean of per-query ratios — equal up to FP order
    assert(math.abs(prod - cal.recall) < 1e-9,
      s"calibration must record the recall it measured: $cal vs $prod")
    // target missed ⇒ the row RECOMMENDS: the better of the measured
    // sign-LSH lane and the ceiling, with the alternative's measured
    // evidence carried in the row (r15 stretch #7)
    val rep = Similarity.ivfCalibrationReport(spark, sf).head()
    val lane = rep.getAs[String]("recommended_lane")
    assert(Set("sign_lsh", "ivf_ceiling")(lane),
      s"miss path must recommend a lane: $lane")
    assert(!rep.isNullAt(rep.fieldIndex("alt_recall_ppm")),
      "miss path must carry the alternative's measured recall")
    val altPpm = rep.getAs[Long]("alt_recall_ppm")
    val lshRow = Similarity.annLshRecall(spark, sf)
      .agg(count(lit(1)), sum(col("n_hits"))).head()
    val expectPpm =
      if (lshRow.getLong(0) == 0) 0L
      else 1000000L * lshRow.getLong(1) / (Similarity.IvfTopK * lshRow.getLong(0))
    assert(altPpm == expectPpm,
      s"alt evidence must be the sign lane's measured recall: $altPpm vs $expectPpm")
    val expectLane =
      if (lshRow.getLong(1) * cal.nQueries > cal.totalHits * lshRow.getLong(0)) "sign_lsh"
      else "ivf_ceiling"
    assert(lane == expectLane, s"recommendation must follow the exact evidence: " +
      s"$lane vs $expectLane")
  }

  test("calibration picks the narrowest width on geometry that clears the target") {
    // a corpus of tight planted cliques: every probe's true top-5 are
    // its own clique-mates, co-celled by construction — recall@5 at
    // nprobe = 1 is already 1.0, so the calibrated width must be 1
    graft.core.Memo.releaseAll()
    import spark.implicits._
    try {
      val dir = java.nio.file.Files.createTempDirectory("ivfcal").toString
      val rnd = new scala.util.Random(7)
      val rows = for (g <- 0 until 40; j <- 0 until 8) yield {
        val base = Array.fill(64)(0f)
        base(g % 64) = 1.0f
        // tiny deterministic jitter keeps clique members distinct
        (g * 100L + j,
          base.toIndexedSeq.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f),
          s"g$g")
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      Similarity.annIvf(spark, dir).count()
      val cal = Similarity.ivfCalibrationInfo(dir).get
      assert(cal.targetMet, s"clustered geometry must clear the target: $cal")
      assert(cal.width == 1, s"co-celled truth must calibrate to width 1: $cal")
      // target met ⇒ the row recommends the calibrated probe itself and
      // pays for no alternative eval (alt column NULL)
      val rep = Similarity.ivfCalibrationReport(spark, dir).head()
      assert(rep.getAs[String]("recommended_lane") == "ivf")
      assert(rep.isNullAt(rep.fieldIndex("alt_recall_ppm")),
        "met path must not carry alternative evidence")
    } finally graft.core.Memo.releaseAll()
  }

  test("oracle derives the calibration on demand when only explicit-nprobe paths ran") {
    // a session that froze the IVF fit WITHOUT the calibrated-width
    // path (e.g. only explicit-nprobe sweeps) must not silently lose
    // the q_ann_ivf oracle gate — annIvfOracleSql derives the missing
    // calibration from the frozen centroids via the active session
    val sf = "/root/testdata/sf0.001"
    graft.core.Memo.releaseAll()
    try {
      Similarity.annRecallProbe(spark, sf, Some(2)).count() // fits centers, no calibration
      assert(Similarity.ivfCalibrationInfo(sf).isEmpty,
        "explicit-nprobe path must not have calibrated")
      val sql = Similarity.annIvfOracleSql
      assert(sql.isDefined, "oracle gate lost: calibration was not derived on demand")
      val cal = Similarity.ivfCalibrationInfo(sf).get
      assert(sql.get.contains(s"crk <= ${cal.width}"),
        "derived calibration width must be frozen into the oracle SQL")
    } finally graft.core.Memo.releaseAll()
  }
}
