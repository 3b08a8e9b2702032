package graft.pipeline

import graft.SparkSpec

/** Round-10: the batch perceptual-hash pair source is bounded — the
  * engine's last unbounded pair join is retired. These pin (a) the
  * identical-code collapse: n byte-identical payloads are ONE node of
  * the candidate join (representative + multiplicity), with the full
  * pair output reconstructed by expansion and the cluster resolver fed
  * the LINEAR star graph; and (b) the band-bucket bound itself: a
  * planted hot (band, bv) bucket above the cap is dropped before pair
  * generation while pairs in cold buckets survive identically.
  */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  test("identical payloads collapse to one representative before the band join") {
    import org.apache.spark.sql.functions._
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("phx10").toString
      // 70 byte-identical payloads (one code group) + two distinct
      // near-miss payloads elsewhere in code space
      val same = (1 to 80).map(i => ('a' + (i % 17)).toChar).mkString(" ")
      val otherA = (1 to 80).map(i => if (i % 3 == 0) "zz" else "a").mkString(" ")
      val otherB = (1 to 80).map(i => if (i % 3 == 0) "zy" else "a").mkString(" ")
      val rows = (1L to 70L).map(i => (i, same, "s")) ++
        Seq((100L, otherA, "s"), (101L, otherB, "s"))
      rows.toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      // the candidate-join side: one representative per code — the
      // planted mega-group contributes ONE row, and the rep-pair graph
      // is code-pair-sized (independent of the 70 copies)
      val m = Multimodal.phashMembership(spark, dir).collect()
      val sameGroup = m.filter(_.getAs[Long]("asset_id") <= 70L)
      assert(sameGroup.length == 70 && sameGroup.forall(r =>
        r.getAs[Long]("rep") == 1L && r.getAs[Long]("n_members") == 70L),
        "identical payloads must share one representative with multiplicity 70")
      val rp = Multimodal.phashRepPairs(spark, dir).collect()
      assert(rp.length <= 3,
        s"rep-pair volume must be code-pair-sized, not copy-sized: ${rp.length}")
      assert(rp.forall(r => r.getAs[Long]("rep_a") != r.getAs[Long]("rep_b")))

      // the full pair OUTPUT is still exactly the brute-force Hamming
      // graph: C(70,2) intra pairs + whatever the near-miss codes add
      val codes = Multimodal.phashCodes(spark, dir).collect()
        .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("phash")))
      val brute = (for {
        (a, ca) <- codes; (b, cb) <- codes if a < b
        if java.lang.Long.bitCount(ca ^ cb) <= Multimodal.PhashRadius
      } yield (a, b, java.lang.Long.bitCount(ca ^ cb))).toSet
      val pairs = Multimodal.phashPairs(spark, dir).collect()
        .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b"),
          r.getAs[Int]("hamming"))).toSet
      assert(pairs == brute, s"expanded pairs must equal brute force: " +
        s"only-ours=${(pairs -- brute).take(5)}, only-brute=${(brute -- pairs).take(5)}")
      assert(pairs.count(p => p._1 <= 70 && p._2 <= 70) == 70 * 69 / 2)

      // the resolver sees the linear star graph, and the clusters are
      // the full-graph components regardless
      val cl = Multimodal.phashClusters(spark, dir).collect()
        .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("cluster_root"),
          r.getAs[Long]("cluster_size")))
      val mega = cl.filter(_._1 <= 70L)
      assert(mega.length == 70 && mega.forall(_._2 == 1L),
        s"the 70 copies must cluster to their min id: ${cl.take(8).toSeq}")
    } finally {
      graft.core.Memo.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("a band bucket hotter than the cap is dropped; cold-bucket pairs survive") {
    import org.apache.spark.sql.functions._
    // six codes with one distinct bit each in band 1 (bits 11..16): they
    // agree pairwise on band 0 (low bits zero) and band 2 (high bits
    // zero) at Hamming 2 — both shared buckets carry 6 (and 8) members,
    // above cap=4, so every A-pair is priced out. Two codes with one bit
    // each in band 0 (2 and 4): their shared band-1 bucket holds only
    // them (kept), so their Hamming-2 pair survives.
    val reps = ((0 until 6).map(i => (1000L + i, 1L << (11 + i))) ++
      Seq((2000L, 2L), (2001L, 4L)))
      .toDF("asset_id", "phash")
    val out = Multimodal.repPairsOfReps(reps, cap = 4).collect()
      .map(r => (r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"), r.getAs[Int]("hamming")))
    assert(out.toSet == Set((2000L, 2001L, 2)),
      s"hot buckets must drop, cold pairs survive: ${out.toSeq}")
    // and with a non-binding cap the priced-out pairs come back — the
    // cap is the only thing that dropped them (every pair here is
    // Hamming 2: 15 A-A + 12 A-B via the shared band-2 bucket + 1 B-B)
    val unbound = Multimodal.repPairsOfReps(reps, cap = 1024).collect()
    assert(unbound.length == 15 + 12 + 1,
      s"non-binding cap must admit all Hamming<=2 pairs: ${unbound.length}")
  }

  test("incremental components: the new snapshot merges into the estate state exactly") {
    import org.apache.spark.sql.functions._
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("inc10").toString
      def txt(base: String, edit: Int = -1) =
        (1 to 40).map(i => if (i == edit) "edited" else s"$base$i").mkString(" ")
      // snapshot A (even): cluster {2,4} on base "p", cluster {6,8} on
      // base "q", solo doc 10 on base "r". snapshot B (odd): 101 and
      // 103 are edits of base "p" (101 bridges INTO {2,4}; 103 pairs
      // with 101 B-internally and bridges too), 107 is an edit of the
      // SOLO doc 10 (exercises the bridge-touched-solo path), 109 is
      // novel.
      Seq(
        (2L, txt("p"), "s"), (4L, txt("p", 40), "s"),
        (6L, txt("q"), "s"), (8L, txt("q", 40), "s"),
        (10L, txt("r"), "s"),
        (101L, txt("p", 1), "s"), (103L, txt("p", 2), "s"),
        (107L, txt("r", 1), "s"), (109L, (1 to 40).map(i => s"z$i").mkString(" "), "s"),
      ).toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Dedup.componentsIncremental(spark, dir).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_root"),
          r.getAs[Long]("cluster_size"))).toSet
      val expect = Set(
        (2L, 2L, 4L), (4L, 2L, 4L), (101L, 2L, 4L), (103L, 2L, 4L), // merged p-cluster
        (6L, 6L, 2L), (8L, 6L, 2L),                                  // untouched history
        (10L, 10L, 2L), (107L, 10L, 2L),                             // solo doc bridged
      )
      assert(got == expect,
        s"incremental merge diverged:\nonly-got=${got -- expect}\nonly-expect=${expect -- got}")
      // and the novel B doc (no edges anywhere) is absent, matching the
      // full-graph node set
      assert(!got.exists(_._1 == 109L))
    } finally {
      graft.core.Memo.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("incremental legs are exchange-free over the bucketed snapshot tables") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sf = "/root/testdata/sf0.001"
    val (ta, tb) = graft.sources.SignatureIndex.snapshotTables(spark, sf)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def bandExchanges(df: org.apache.spark.sql.DataFrame) = {
        val p = df.queryExecution.executedPlan
        (p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan })
          .flatMap(_.collect {
            case e: ShuffleExchangeExec if e.child.output.exists(_.name == "bh") => e
          })
      }
      val bandsB = spark.table(tb).select(col("doc_id"), col("sig"), col("band"), col("bh"))
      // the B-internal lane: cap count, semi filter, self-join — all on
      // the table's own bucketing, no exchange may touch the band key
      assert(bandExchanges(Dedup.lshPairsOfBandRows(bandsB, Dedup.MinhashBucketCap)).isEmpty,
        "lane pair join over the bucketed band table must be exchange-free")
      // the bridge: index-against-index, the SignatureIndexSpec contract
      val bandsA = spark.table(ta).select(col("band"), col("bh"),
        col("doc_id").as("a_doc"), col("sig").as("sig_c"))
      assert(bandExchanges(bandsB.join(bandsA, Seq("band", "bh"))).isEmpty,
        "bridge band join between the two snapshot tables must be exchange-free")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("incremental phash clusters: the image snapshot merges through the same quotient") {
    import org.apache.spark.sql.functions._
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("phinc10").toString
      def txt(base: String) = (1 to 40).map(i => s"$base$i").mkString(" ")
      // identical payloads share a phash exactly (Hamming 0), and the
      // four bases differ in word-length structure, which keeps their
      // codes >= 7 bits apart (the fake decode folds payload shape, so
      // single-char bases would all collide — probed in-session).
      // Estate (even): identical pair {2,4} on "p", pair {6,8} on
      // "pp", solo 10 on "ppp"; the new crawl (odd) brings two more
      // "p" copies (101 bridges into {2,4}; 103 is 101's lane-mate via
      // the B star), a "ppp" copy 107 (bridge into the SOLO estate
      // asset — the `extra` path of the quotient), and a novel 109.
      Seq(
        (2L, txt("p"), "s"), (4L, txt("p"), "s"),
        (6L, txt("pp"), "s"), (8L, txt("pp"), "s"),
        (10L, txt("ppp"), "s"),
        (101L, txt("p"), "s"), (103L, txt("p"), "s"),
        (107L, txt("ppp"), "s"), (109L, txt("pppp"), "s"),
      ).toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Multimodal.phashIncremental(spark, dir).collect()
        .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("cluster_root"),
          r.getAs[Long]("cluster_size"))).toSet
      // the distinct bases may themselves sit within PhashRadius in
      // code space (the fake decode makes no spacing promise), so pin
      // against the from-scratch resolver over the SAME edge relations
      // the oracle recomputes: per-lane stars + capped rep pairs +
      // Hamming-verified cross-lane bridges
      val codes = Multimodal.phashCodes(spark, dir).collect()
        .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("phash")))
      def laneEdges(parity: Int): Seq[(Long, Long)] = {
        val side = codes.filter(_._1 % 2 == parity)
        val reps = side.groupBy(_._2).map { case (_, g) => g.map(_._1).min }.toSet
        val stars = side.groupBy(_._2).toSeq.flatMap { case (_, g) =>
          val r = g.map(_._1).min; g.map(_._1).filter(_ != r).map((r, _)) }
        val rp = for {
          (a, ca) <- side if reps(a); (b, cb) <- side if reps(b) && a < b
          if java.lang.Long.bitCount(ca ^ cb) <= Multimodal.PhashRadius
        } yield (a, b)
        stars ++ rp
      }
      val bridges = for {
        (b, cb) <- codes if b % 2 == 1; (a, ca) <- codes if a % 2 == 0
        if java.lang.Long.bitCount(cb ^ ca) <= Multimodal.PhashRadius
      } yield (b, a)
      val reps1 = codes.filter(_._1 % 2 == 1).groupBy(_._2).map(_._2.map(_._1).min).toSet
      val reps0 = codes.filter(_._1 % 2 == 0).groupBy(_._2).map(_._2.map(_._1).min).toSet
      val edges = (laneEdges(0) ++ laneEdges(1) ++
        bridges.filter(p => reps1(p._1) && reps0(p._2))).flatMap(p => Seq(p, p.swap))
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def comp(seed: Long): Set[Long] = {
        var seen = Set(seed); var front = Seq(seed)
        while (front.nonEmpty) {
          val nxt = front.flatMap(adj.getOrElse(_, Nil)).filterNot(seen)
          seen ++= nxt; front = nxt.distinct
        }
        seen
      }
      val nodes = edges.map(_._1).toSet
      val expect = nodes.map { n =>
        val c = comp(n); (n, c.min, c.size.toLong) }
      assert(got == expect,
        s"quotient merge must equal the flat resolve:\nonly-got=${got -- expect}\nonly-expect=${expect -- got}")
      // and the planted layout really exercised what it claims: merged
      // p-cluster of 4, untouched pp-pair, solo-bridged ppp-pair,
      // absent novel
      assert(got == Set(
        (2L, 2L, 4L), (4L, 2L, 4L), (101L, 2L, 4L), (103L, 2L, 4L),
        (6L, 6L, 2L), (8L, 6L, 2L),
        (10L, 10L, 2L), (107L, 10L, 2L)),
        s"planted layout diverged: $got")
    } finally {
      graft.core.Memo.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("ingest windows partition the split: successive checks advance past the cap") {
    import org.apache.spark.sql.functions._
    val cap = Dedup.IngestBatchCap
    // split ids straddling three windows, plus off-split ids that must
    // never appear in any window
    val ids = Seq(0L, 5L, 5 * cap - 5, 5 * cap, 5 * cap + 5, 10 * cap - 5, 10 * cap,
      3L, 5 * cap + 1)
    val docs = ids.toDF("doc_id")
    def batch(w: Long) = Dedup.ingestBatch(docs, w).collect().map(_.getLong(0)).toSet
    assert(batch(0) == Set(0L, 5L, 5 * cap - 5))
    assert(batch(1) == Set(5 * cap, 5 * cap + 5, 10 * cap - 5),
      "window 1 must cover exactly the next IngestBatchCap-id slice")
    assert(batch(2) == Set(10 * cap))
    // the windows tile the split with no gap and no overlap
    assert((batch(0) ++ batch(1) ++ batch(2)) == ids.filter(_ % 5 == 0).toSet)
  }

  test("cross-snapshot recall eval: planted near-identical pair caught; invariants hold") {
    import org.apache.spark.sql.functions._
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("csr10").toString
      def txt(base: String, edit: Int = -1) =
        (1 to 50).map(i => if (i == edit) "edited" else s"$base$i").mkString(" ")
      // 2/3: an identical cross-parity pair (J = 1.0 — any sane sweep
      // catches it); 4/5: a one-token edit (J well above 0.5); plus
      // unrelated docs on both parities
      Seq(
        (2L, txt("p"), "s"), (3L, txt("p"), "s"),
        (4L, txt("q"), "s"), (5L, txt("q", 25), "s"),
        (6L, txt("r"), "s"), (7L, txt("z"), "s"),
      ).toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Dedup.crossSnapshotRecall(spark, dir).collect()
        .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_true"),
          r.getAs[Long]("n_caught"), r.getAs[Double]("recall")))
      // structural invariants: buckets only in the >= 0.5 regime,
      // caught never exceeds truth, recall consistent
      got.foreach { case (bk, nt, nc, rec) =>
        assert(bk >= 5 && bk <= 10, s"bucket $bk outside the J >= 0.5 regime")
        assert(nc <= nt, s"caught $nc exceeds truth $nt in bucket $bk")
        assert(math.abs(rec - nc.toDouble / nt) < 1e-6)
      }
      // the identical pair is truth in bucket 10 and the sweep caught it
      val b10 = got.find(_._1 == 10L)
      assert(b10.exists(b => b._2 >= 1 && b._3 >= 1),
        s"identical cross-parity pair must be caught at J = 1.0: ${got.toSeq}")
    } finally {
      graft.core.Memo.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("image sweep recall eval: planted identical cross-parity pair caught") {
    import org.apache.spark.sql.functions._
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("psr10").toString
      val same = (1 to 80).map(i => ('a' + (i % 17)).toChar).mkString(" ")
      val other = (1 to 80).map(i => if (i % 3 == 0) "zz" else "a").mkString(" ")
      val novel = (1 to 80).map(i => if (i % 2 == 0) "qq" else s"r$i").mkString(" ")
      // asset 11 is an in-sample probe (11 % 10 == 1 < 1000) whose
      // payload is byte-identical to estate asset 2's: truth = one A
      // rep at Hamming 0, which the banded sweep must catch
      Seq((2L, same, "s"), (4L, other, "s"), (11L, same, "s"), (13L, novel, "s"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.sources.PhashIndex.phashSweepRecall(spark, dir).collect()
        .map(r => (r.getAs[Long]("q_rep"), r.getAs[Long]("n_true"),
          r.getAs[Long]("n_hits"), r.getAs[Double]("recall")))
      assert(got.exists(g => g._1 == 11L && g._2 >= 1 && g._3 == g._2 && g._4 == 1.0),
        s"probe 11's identical estate twin must be caught at recall 1.0: ${got.toSeq}")
      got.foreach { case (_, nt, nh, _) => assert(nh <= nt) }
    } finally {
      graft.core.Memo.releaseAll()
      spark.catalog.clearCache()
    }
  }
}
