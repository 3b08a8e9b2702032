package graft.pipeline

import graft.SparkSpec

/** Recall of the 8-dim projected-space top-k against the exact 64-dim
  * brute-force baseline, in two regimes:
  *
  *  - data WITH 8-dim structure (rank-8 by construction): the top-8
  *    principal components span the data's column space, inner products
  *    are preserved exactly, and recall must be ~1 — the regime the
  *    operator exists for (real embedding matrices are approximately
  *    low-rank).
  *  - the synthetic corpus embeddings, which are near-ISOTROPIC (no
  *    low-rank structure to keep): recall is necessarily modest, and
  *    the spec pins it well above the random-overlap baseline
  *    (5/499 ≈ 0.01) so the projection is shown to carry signal even
  *    in the worst case, without pretending the data has structure it
  *    lacks.
  */
class AnnPcaRecallSpec extends SparkSpec {
  import spark.implicits._

  private def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def recall(exact: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double =
    exact.keys.toSeq.map(q => (exact(q) & got(q)).size.toDouble / exact(q).size).sum / exact.size

  test("rank-8 data: projected top-5 equals the exact top-5") {
    // x = A z: 500 vectors in an 8-dim subspace of R^64 (fixed seed)
    val rnd = new scala.util.Random(42L)
    val a = Array.fill(64, 8)(rnd.nextGaussian())
    val rows = (0L until 500L).map { id =>
      val z = Array.fill(8)(rnd.nextGaussian())
      val x = a.map(row => row.zip(z).map { case (p, q) => p * q }.sum.toFloat)
      (id, x, (id % 3).toInt)
    }
    val dir = java.nio.file.Files.createTempDirectory("pca_rank8").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val exact = top5(Similarity.annTopk(spark, dir))
      val proj = top5(Similarity.annPca(spark, dir))
      assert(exact.keySet == proj.keySet)
      val r = recall(exact, proj)
      info(f"rank-8 recall: $r%.3f")
      assert(r >= 0.9, f"projection must preserve rank-8 neighborhoods, got $r%.3f")
    } finally graft.core.Memo.releaseAll()
  }

  test("isotropic corpus: projected top-5 still carries signal above random") {
    val sf = "/root/testdata/sf0.001"
    try {
      val exact = top5(Similarity.annTopk(spark, sf))
      val proj = top5(Similarity.annPca(spark, sf))
      assert(exact.keySet == proj.keySet, "same probe set on both paths")
      val r = recall(exact, proj)
      info(f"isotropic-corpus recall: $r%.3f (random baseline ~0.01)")
      assert(r >= 0.05, f"projected ranking degenerated to random: $r%.3f")
    } finally graft.core.Memo.releaseAll()
  }
}
