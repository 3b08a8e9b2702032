package graft.pipeline

import graft.SparkSpec

/** Round-9: every REGISTERED shingle-pair query rides the bounded
  * posting-list scaffold under [[Dedup.PairGuardFreqCap]] — the last
  * uncapped hot-key self-joins (q_dedup_ngram / q_containment and the
  * fuzzy/recall legs) are retired to spec-only truth. These pin (a)
  * guard-cap transparency: on the real gate corpus the guarded result
  * EQUALS the uncapped truth (the cap is non-binding below
  * document-frequency 64), and (b) the bound itself: a planted
  * boilerplate corpus whose hot shingles exceed the guard produces
  * C(n,2) pairs uncapped and zero guarded, while rare-content pairs
  * survive identically.
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Long]("shared"), r.getAs[Double]("jaccard"))).toSet

  test("q_dedup_ngram under the guard cap equals the uncapped truth on the gate corpus") {
    val guarded = pairSet(Dedup.ngramJaccard(spark, sf))
    val truth = pairSet(
      Dedup.uncappedPairScaffoldSpecOnly(spark, sf)(_ < _)(Dedup.jaccardFinish))
    spark.catalog.clearCache()
    assert(guarded == truth,
      s"guard cap altered gate-corpus Jaccard pairs: only-guarded=${guarded -- truth}, " +
        s"only-truth=${truth -- guarded}")
    assert(guarded.nonEmpty, "gate corpus must produce near-dup pairs")
  }

  test("q_containment under the guard cap equals the uncapped truth on the gate corpus") {
    def contSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("shared"), r.getAs[Long]("n_sh_a"),
        r.getAs[Double]("containment"))).toSet
    val guarded = contSet(Dedup.containment(spark, sf))
    val truth = contSet(
      Dedup.uncappedPairScaffoldSpecOnly(spark, sf)(_ =!= _) { (pairs, sizes) =>
        import org.apache.spark.sql.functions._
        pairs
          .join(sizes.as("s1"), col("doc_a") === col("s1.doc_id"))
          .withColumn("containment",
            round(col("shared").cast("double") / col("n_sh"), 6))
          .filter(col("containment") >= Dedup.ContainmentMin)
          .select(col("doc_a"), col("doc_b"), col("shared"),
            col("n_sh").as("n_sh_a"), col("containment"))
      })
    spark.catalog.clearCache()
    assert(guarded == truth,
      s"guard cap altered gate-corpus containment pairs: only-guarded=${guarded -- truth}, " +
        s"only-truth=${truth -- guarded}")
    assert(guarded.nonEmpty, "gate corpus must produce containment pairs")
  }

  test("IVF auto-sizing: k derives from the corpus (~sqrt n), no hand constant") {
    graft.core.Memo.releaseAll()
    try {
      Similarity.ivfCenters(spark, sf)
      val info = Similarity.ivfFitInfo(sf).get
      assert(info.n == 500 && info.k0 == Similarity.ivfCellsOf(500),
        s"fit must size k from the corpus: $info")
      assert(info.k0 == 22, s"sqrt-rule k for n=500 is 22, got ${info.k0}")
      // decision record is self-consistent with the shipped index
      assert(info.finalCenters == (if (info.refit) 2 * info.k0 else info.k0),
        s"fit log inconsistent with shipped centers: $info")
      assert(Similarity.ivfCellsOf(100L * 1000 * 1000) == Similarity.IvfCellsMax,
        "k must clamp at IvfCellsMax for web-scale corpora")
    } finally graft.core.Memo.releaseAll()
  }

  test("IVF skew re-fit: a planted giant cell triggers one re-fit at 2k and splits") {
    import org.apache.spark.sql.functions._
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("ivfskew9").toString
      // n = 255 -> k0 = 16. 20 sample-visible far outliers (ids 0,3,..,57:
      // each 100+ away in its own dimension) exhaust the farthest-point
      // init, so the first fit leaves the ~235-point dense cloud in ONE
      // cell (share >> 4x even). The 2k re-fit has centers left over
      // after the outliers and splits the cloud.
      def vec(i: Int): Seq[Float] =
        if (i <= 57 && i % 3 == 0)
          (0 until 64).map(d => if (d == (i / 3) % 64) 100.0f + i else 0.0f)
        else (0 until 64).map(d => 0.001f * ((i * 7 + d) % 13))
      (0 until 255).map(i => (i.toLong, vec(i), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val centers = Similarity.ivfCenters(spark, dir)
      val info = Similarity.ivfFitInfo(dir).get
      val threshold = Similarity.IvfMaxShareMultiple * 1000000L / info.k0
      assert(info.sampleMaxSharePpm > threshold,
        s"plant failed to produce a giant cell: $info (threshold $threshold)")
      assert(info.refit && info.finalCenters == 2 * info.k0,
        s"skewed sample must re-fit once at 2k: $info")
      // the accepted index really is less skewed: re-assign the same
      // sample to the shipped centers
      val pts = KmeansFit.distinctSample(
        graft.queries.Tables.embeddings(spark, dir)
          .filter(col("vec_id") % 3 === 0)
          .select(col("embedding").cast("array<double>").as("a")), col("a"))
      val after = KmeansFit.maxSharePpm(pts, centers)
      assert(after < info.sampleMaxSharePpm / 2,
        s"re-fit did not split the giant cell: $after ppm vs ${info.sampleMaxSharePpm}")
    } finally graft.core.Memo.releaseAll()
  }

  test("dedup sweep: every threshold reports, the curve is monotone, 0.5 matches the cluster pair graph") {
    val rows = Dedup.dedupSweep(spark, sf).collect()
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs")))
      .sortBy(_._1)
    spark.catalog.clearCache()
    assert(rows.map(_._1).toSeq == Dedup.SweepThresholds.sorted,
      "every configured threshold must report (including zero-survivor ones)")
    assert(rows.sliding(2).forall { case Array((_, p1, d1), (_, p2, d2)) => p1 >= p2 && d1 >= d2 },
      s"survivor counts must be non-increasing in the threshold: ${rows.toSeq}")
    val at05 = rows.find(_._1 == 0.5).get._2
    val clusterPairs = Dedup.clusterPairs(spark, sf).count()
    spark.catalog.clearCache()
    assert(at05 == clusterPairs,
      s"sweep at 0.5 must price exactly the cluster pair graph: $at05 vs $clusterPairs")
  }

  test("embed stats: planted zero/duplicate vectors and labels are counted exactly") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("embstats9").toString
    val unit = (0 until 64).map(d => if (d == 0) 3.0f else 4.0f)
    val dup = (0 until 64).map(d => if (d < 2) 1.0f else 0.0f)
    val zero = (0 until 64).map(_ => 0.0f)
    Seq((0L, unit, 0), (1L, dup, 0), (2L, dup, 1), (3L, zero, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = Similarity.embedStats(spark, dir).collect().head
    assert(r.getAs[Long]("n_vectors") == 4 && r.getAs[Long]("n_labels") == 2)
    assert(r.getAs[Long]("n_zero") == 1, "the zero vector must be counted")
    assert(r.getAs[Long]("n_dup_vectors") == 1, "one of the two identical vectors is surplus")
    assert(r.getAs[Double]("norm_min") == 0.0)
    assert(math.abs(r.getAs[Double]("norm_max") - math.sqrt(9.0 + 63 * 16.0)) < 1e-4,
      "norm_max must be the planted 31.89-norm vector")
  }

  test("phash clusters: identical payloads cluster to the min asset id; resolver is the shared one") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("phc9").toString
    // three byte-identical "images" (same text -> same aHash) and one
    // distinct payload far away in code space
    val same = (1 to 80).map(i => ('a' + (i % 17)).toChar).mkString(" ")
    val other = (1 to 80).map(i => if (i % 3 == 0) "zz" else "a").mkString(" ")
    Seq((10L, same, "s"), (11L, same, "s"), (12L, same, "s"), (20L, other, "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.phashClusters(spark, dir).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("cluster_root"), r.getAs[Long]("cluster_size")))
    spark.catalog.clearCache()
    val sameCluster = out.filter(r => Set(10L, 11L, 12L).contains(r._1))
    assert(sameCluster.length == 3 && sameCluster.forall(r => r._2 == 10L && r._3 >= 3),
      s"identical payloads must share the min-id cluster root: ${out.toSeq}")
  }

  test("dup inflation: near-dup copies inflate exactly their token mass, solo docs count fully") {
    import org.apache.spark.sql.functions._
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("inflate9").toString
      // source A: an identical 6-token trio (cluster keeper = min id) +
      // one solo 10-token doc; source B: all solo
      val trio = (1 to 6).map(i => s"t$i").mkString(" ")
      val rows = Seq(
        (1L, trio, "A"), (2L, trio, "A"), (3L, trio, "A"),
        (4L, (1 to 10).map(i => s"s$i").mkString(" "), "A"),
        (5L, (1 to 8).map(i => s"b$i").mkString(" "), "B"))
      rows.toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = Dedup.dupInflation(spark, dir).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
            r.getAs[Long]("kept_tokens"), r.getAs[Long]("dup_token_ppm"))).toMap
      spark.catalog.clearCache()
      // A: 4 docs, 28 tokens total, keepers = doc 1 (6) + doc 4 (10) = 16
      // dup ppm = 1e6 * 12 / 28 = 428571 (floor)
      assert(out("A") == (4L, 28L, 16L, 428571L), s"source A: ${out("A")}")
      assert(out("B") == (1L, 8L, 8L, 0L), s"source B: ${out("B")}")
    } finally graft.core.Memo.releaseAll()
  }

  test("source dup matrix and cluster purity: planted cross-source mirror resolves exactly") {
    import org.apache.spark.sql.functions._
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("prov9").toString
      // a 3-copy mirror spanning sources A (docs 1,2) and B (doc 3),
      // plus an internal B pair (docs 10,11) in another language
      val t1 = (1 to 6).map(i => s"m$i").mkString(" ")
      val t2 = (1 to 6).map(i => s"n$i").mkString(" ")
      val rows = Seq(
        (1L, t1, "en", "A"), (2L, t1, "en", "A"), (3L, t1, "en", "B"),
        (10L, t2, "de", "B"), (11L, t2, "de", "B"),
        (20L, (1 to 9).map(i => s"x$i").mkString(" "), "en", "A"))
      rows.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val matrix = Dedup.sourceDupMatrix(spark, dir).collect()
        .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
          r.getAs[Long]("n_pairs")).toMap
      assert(matrix == Map(("A", "A") -> 1L, ("A", "B") -> 2L, ("B", "B") -> 1L),
        s"pair provenance cells wrong: $matrix")
      val purity = Dedup.clusterPurity(spark, dir).collect()
        .map(r => r.getAs[Long]("cluster_root") ->
          (r.getAs[Long]("n_members"), r.getAs[Long]("n_sources"),
            r.getAs[Long]("n_langs"), r.getAs[String]("keeper_source"))).toMap
      spark.catalog.clearCache()
      assert(purity == Map(
        1L -> (3L, 2L, 1L, "A"),
        10L -> (2L, 1L, 1L, "B")), s"cluster provenance wrong: $purity")
    } finally graft.core.Memo.releaseAll()
  }

  test("component resolver converges on a 300-link chain (log rounds, not diameter rounds)") {
    import spark.implicits._
    // a pure chain 0-1-2-...-300: diameter 300 — plain neighbor-min
    // propagation needs 300 rounds and would hit the 50-round cap;
    // the pointer-jumping loop must resolve it (O(log n) rounds) with
    // every node labeled 0 and cluster_size 301
    val chain = (0L until 300L).map(i => (i, i + 1))
    val out = Dedup.componentsOfPairs(chain.toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_root"),
        r.getAs[Long]("cluster_size")))
    assert(out.length == 301)
    assert(out.forall(r => r._2 == 0L && r._3 == 301L),
      s"chain must resolve to root 0 size 301: ${out.take(5).toSeq}")
  }

  test("sign-LSH recall eval: one row per probe, recalls in [0,1], useful floor on real data") {
    val rows = Similarity.annLshRecall(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_hits"), r.getAs[Double]("recall")))
    spark.catalog.clearCache()
    assert(rows.map(_._1).toSet == Set(0L, 100L, 200L, 300L, 400L),
      s"one row per capped probe: ${rows.toSeq}")
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0 && r._2 == (r._3 * 5).round),
      s"recall arithmetic broken: ${rows.toSeq}")
    val mean = rows.map(_._3).sum / rows.length
    assert(mean >= 0.3,
      f"sign-LSH top-5 recall collapsed on the gate corpus: $mean%.2f " +
        "(8x4 banding should catch a solid fraction of true neighbors)")
  }

  test("Mat boundaries are observationally pure: transparent and materialized runs agree") {
    // the whole self-releasing-checkpoint mechanism must change plans,
    // never answers — run a boundary-heavy query both ways
    def rows() = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("shared"), r.getAs[Double]("jaccard"))).toSet
    val materialized = rows()
    val transparent = graft.core.Mat.withTransparent()(rows())
    spark.catalog.clearCache()
    assert(materialized == transparent && materialized.nonEmpty,
      s"boundary changed the answer: ${(materialized -- transparent).take(3)} / " +
        s"${(transparent -- materialized).take(3)}")
  }

  test("the guard cap prices out >cap boilerplate while rare pairs survive") {
    // 70 identical boilerplate docs (every shingle at document-frequency
    // 70 > PairGuardFreqCap) plus one identical rare pair: uncapped the
    // boilerplate block alone is C(70,2) = 2415 pairs — the quadratic
    // blowup the guard exists to kill; guarded, the block vanishes and
    // ONLY the rare pair reports.
    require(Dedup.PairGuardFreqCap == 64L, "test plants 70 > cap copies")
    val dir = java.nio.file.Files.createTempDirectory("guard9").toString
    val boiler = (1 to 6).map(i => s"b$i").mkString(" ")
    val rare = (1 to 6).map(i => s"r$i").mkString(" ")
    val rows = (1L to 70L).map(i => (i, boiler, "s")) ++
      Seq((1001L, rare, "s"), (1002L, rare, "s"))
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val guarded = pairSet(Dedup.ngramJaccard(spark, dir))
    val truth = pairSet(
      Dedup.uncappedPairScaffoldSpecOnly(spark, dir)(_ < _)(Dedup.jaccardFinish))
    spark.catalog.clearCache()
    assert(truth.size == 2415 + 1,
      s"uncapped truth should carry the C(70,2) boilerplate block, got ${truth.size}")
    assert(guarded == Set((1001L, 1002L, 2L, 1.0)),
      s"guarded form must keep exactly the rare pair, got $guarded")
  }
}
