package graft.pipeline

import graft.SparkSpec

/** Round-6 operators: exact repeated-passage extraction. */
class DupPassagesSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("duppass").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // 20 tokens no filler shares, so the maximal span is exactly the plant
  private val paragraph = (1 to 20).map(i => s"p$i").mkString(" ")

  test("planted repeated paragraph is recovered exactly once, with exact offsets") {
    // doc 1: 5 filler + paragraph + 4 filler; doc 2: 11 filler + paragraph
    val d1 = ((1 to 5).map(i => s"a$i") ++ paragraph.split(" ") ++ (6 to 9).map(i => s"a$i")).mkString(" ")
    val d2 = ((1 to 11).map(i => s"b$i") ++ paragraph.split(" ")).mkString(" ")
    val out = Dedup.dupPassages(spark, writeDocs(Seq(1L -> d1, 2L -> d2))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Long]("start_a") == 6L, "paragraph starts at token 6 of doc 1")
    assert(r.getAs[Long]("start_b") == 12L, "paragraph starts at token 12 of doc 2")
    assert(r.getAs[Long]("span_len") == 20L, "span is maximal: the whole plant, not one anchor")
    assert(r.getAs[String]("passage") == paragraph)
  }

  test("shared spans below PassageMinLen tokens are suppressed") {
    // a 10-token plant: >= PassageK anchors exist, but 10 < PassageMinLen
    val plant = (1 to 10).map(i => s"q$i").mkString(" ")
    val d1 = ((1 to 6).map(i => s"c$i") :+ plant).mkString(" ")
    val d2 = ((1 to 6).map(i => s"d$i") :+ plant).mkString(" ")
    assert(Dedup.PassageMinLen > 10 && Dedup.PassageK <= 10)
    assert(Dedup.dupPassages(spark, writeDocs(Seq(1L -> d1, 2L -> d2))).count() == 0)
  }

  test("a paragraph shared by three documents yields all three pair spans") {
    val docs = Seq(
      1L -> ((1 to 4).map(i => s"x$i").mkString(" ") + " " + paragraph),
      2L -> (paragraph + " " + (1 to 4).map(i => s"y$i").mkString(" ")),
      3L -> ((1 to 2).map(i => s"z$i").mkString(" ") + " " + paragraph),
    )
    val out = Dedup.dupPassages(spark, writeDocs(docs)).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(out == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("dup coverage unions overlapping spans from different partners") {
    // doc 1 shares the same 20-token paragraph with docs 2 and 3: the
    // two identical intervals must union to 20 covered tokens, not 40.
    // doc 4 shares nothing -> coverage 0 but still present in output.
    val docs = Seq(
      1L -> ((1 to 4).map(i => s"x$i").mkString(" ") + " " + paragraph), // 24 toks
      2L -> (paragraph + " " + (1 to 4).map(i => s"y$i").mkString(" ")),
      3L -> ((1 to 2).map(i => s"z$i").mkString(" ") + " " + paragraph),
      4L -> (1 to 30).map(i => s"w$i").mkString(" "),
    )
    val out = Dedup.dupCoverage(spark, writeDocs(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("covered_tokens"),
          r.getAs[Double]("dup_coverage")))).toMap
    assert(out(1L) == ((24L, 20L, 20.0 / 24.0)))
    assert(out(2L) == ((24L, 20L, 20.0 / 24.0)))
    assert(out(3L) == ((22L, 20L, 20.0 / 22.0)))
    assert(out(4L) == ((30L, 0L, 0.0)))
  }

  test("self-repeat finds a planted within-doc copy with exact offsets") {
    // paragraph at 3..22 and again at 28..47 of one document
    val d = ((1 to 2).map(i => s"f$i") ++ paragraph.split(" ") ++
      (3 to 7).map(i => s"f$i") ++ paragraph.split(" ")).mkString(" ")
    val clean = (1 to 40).map(i => s"u$i").mkString(" ")
    val out = Dedup.selfRepeat(spark, writeDocs(Seq(1L -> d, 2L -> clean))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("doc_id") == 1L)
    assert(r.getAs[Long]("start_a") == 3L && r.getAs[Long]("start_b") == 28L)
    assert(r.getAs[Long]("span_len") == 20L)
    assert(r.getAs[String]("passage") == paragraph)
  }

  test("self-repeat reports overlapping periodic copies (period < span length)") {
    // period-6 text repeated 5x = 30 tokens: the diagonal -6 chain merges
    // into one maximal span of 24 with start_b - start_a = 6 < span_len
    val period = (1 to 6).map(i => s"c$i")
    val d = Seq.fill(5)(period).flatten.mkString(" ")
    val out = Dedup.selfRepeat(spark, writeDocs(Seq(1L -> d))).collect()
    val best = out.maxBy(_.getAs[Long]("span_len"))
    assert(best.getAs[Long]("start_a") == 1L && best.getAs[Long]("start_b") == 7L)
    assert(best.getAs[Long]("span_len") == 24L)
  }

  test("cross-doc duplication does not leak into self-repeat") {
    val d1 = ((1 to 3).map(i => s"g$i") ++ paragraph.split(" ")).mkString(" ")
    val d2 = ((1 to 3).map(i => s"h$i") ++ paragraph.split(" ")).mkString(" ")
    assert(Dedup.selfRepeat(spark, writeDocs(Seq(1L -> d1, 2L -> d2))).count() == 0)
  }

  test("randomized cross-check: spans match a brute-force reference") {
    // brute force: for every doc pair and every diagonal, the maximal
    // runs of positionwise-equal tokens, filtered to >= PassageMinLen
    def reference(docs: Seq[(Long, Array[String])]): Set[(Long, Long, Long, Long, Long)] = {
      val out = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Long)]
      for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        diag <- -(tb.length - 1) to (ta.length - 1)
      } {
        // positions pa in doc a aligned with pb = pa - diag in doc b
        var pa = math.max(0, diag)
        val end = math.min(ta.length, tb.length + diag)
        while (pa < end) {
          if (ta(pa) == tb(pa - diag)) {
            val s = pa
            while (pa < end && ta(pa) == tb(pa - diag)) pa += 1
            val len = pa - s
            if (len >= Dedup.PassageMinLen)
              out += ((ia, ib, s + 1L, s - diag + 1L, len.toLong))
          } else pa += 1
        }
      }
      out.toSet
    }
    val rnd = new scala.util.Random(20260813L)
    // small vocab forces chance k-gram collisions AND planted dups
    def word() = s"w${rnd.nextInt(12)}"
    val base = Array.fill(30)(word())
    val docs = (1L to 6L).map { id =>
      val t =
        if (id % 2 == 0) Array.fill(8)(word()) ++ base.slice(0, 15 + rnd.nextInt(15)) ++ Array.fill(5)(word())
        else Array.fill(30)(word())
      id -> t
    }
    val got = Dedup.dupPassages(spark, writeDocs(docs.map { case (id, t) => id -> t.mkString(" ") }))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("start_a"),
        r.getAs[Long]("start_b"), r.getAs[Long]("span_len"))).toSet
    assert(got == reference(docs), s"got ${got.size} spans vs reference ${reference(docs).size}")
  }

  test("strip removes each span from every copy except the lowest doc_id") {
    val filler1 = (1 to 5).map(i => s"a$i")
    val filler2 = (1 to 11).map(i => s"b$i")
    val docs = Seq(
      1L -> (filler1 ++ paragraph.split(" ")).mkString(" "), // keeper
      2L -> (filler2 ++ paragraph.split(" ")).mkString(" "),
      3L -> paragraph, // whole doc is the span -> stripped empty
      4L -> paragraph,
    )
    val out = Dedup.stripPassages(spark, writeDocs(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("text_clean")))).toMap
    assert(out(1L) == ((25L, 0L, docs.head._2)), "lowest doc_id keeps its copy verbatim")
    assert(out(2L) == ((31L, 20L, filler2.mkString(" "))), "unique remainder survives in order")
    assert(out(3L) == ((20L, 20L, "")), "a full-span doc strips to empty")
    assert(out(4L) == ((20L, 20L, "")))
  }

  test("two disjoint repeated paragraphs in one pair produce two separate spans") {
    val p2 = (1 to 15).map(i => s"r$i").mkString(" ")
    val d1 = (paragraph.split(" ") ++ (1 to 7).map(i => s"e$i") ++ p2.split(" ")).mkString(" ")
    val d2 = (p2.split(" ") ++ (1 to 9).map(i => s"g$i") ++ paragraph.split(" ")).mkString(" ")
    val out = Dedup.dupPassages(spark, writeDocs(Seq(1L -> d1, 2L -> d2))).collect()
    assert(out.map(_.getAs[String]("passage")).toSet == Set(paragraph, p2))
    assert(out.map(_.getAs[Long]("span_len")).sorted.toSeq == Seq(15L, 20L))
  }
}

/** End-to-end curation decision record: first-failing-rule attribution
  * across quality gates, exact dedup, eval holdout, decontamination,
  * and split assignment.
  */
class CurateSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  private def h32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16)

  /** The round-7 eval gate: keyed on the normalized-text hash (the
    * fixture texts are already normalized — lowercase, single spaces).
    */
  private def isEvalText(t: String): Boolean =
    h32(s"eval|${md5hex(t)}") % 25 == 0

  /** First variant of a salted text family that is NOT eval-gated. */
  private def nonEval(mk: Int => String): String =
    (0 to 1000).iterator.map(mk).filterNot(isEvalText).next()

  test("each rule attributes first-failure; survivors get a split") {
    // the eval doc is found by TEXT (the gate is content-keyed now):
    // search a salted family for a variant that hash-gates to eval
    val uniq = (0 to 10000).iterator
      .map(j => (1 to 20).map(i => s"u$i$j").mkString(" "))
      .find(isEvalText).get
    val evalRun = uniq.split(" ").take(8).mkString(" ") // its first 8-gram
    val shortT = nonEval(j => if (j == 0) "tiny doc here" else s"tiny doc here$j")
    val repT = nonEval(j => Seq.fill(12)(s"same$j").mkString(" "))
    val blkT = nonEval(j => (1 to 11).map(i => s"b$i$j").mkString(" ") + " error")
    val dupT = nonEval(j => (1 to 15).map(i => s"d$i$j").mkString(" "))
    val contamT = nonEval(j => evalRun + " " + (1 to 10).map(i => s"c$i$j").mkString(" "))
    val cleanT = nonEval(j => (1 to 18).map(i => s"k$i$j").mkString(" "))
    val Seq(shortId, repId, blkId, dupA, dupB, evalId, contamId, cleanId) =
      (0L to 7L).toSeq
    val docs = Seq(
      shortId -> shortT,   // nt < 10
      repId -> repT,       // ndt/nt = 1/12
      blkId -> blkT,       // 1/12 >= 0.08
      dupA -> dupT,
      dupB -> dupT,        // same text, higher id
      evalId -> uniq,
      contamId -> contamT,
      cleanId -> cleanT,
    )
    val dir = java.nio.file.Files.createTempDirectory("curate").toString
    // a single source: target and raw importance models coincide, so
    // every weight is exactly 1.0 and the low_importance gate (strict
    // <) never fires in this fixture
    docs.map { case (id, t) => (id, t, "src0") }
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curate.curate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("keep"), r.getAs[String]("reason"), r.getAs[String]("split")))).toMap
    assert(out.size == docs.size, "exactly one decision per document")
    assert(out(shortId) == ((false, "too_short", null)))
    assert(out(repId) == ((false, "too_repetitive", null)))
    assert(out(blkId) == ((false, "blocklisted", null)))
    assert(out(dupB) == ((false, "exact_dup", null)))
    assert(out(evalId) == ((false, "eval_holdout", null)))
    assert(out(contamId) == ((false, "contaminated", null)))
    val (keep, reason, split) = out(cleanId)
    assert(keep && reason == "keep" && Set("train", "val", "test")(split))
    val (keepA, reasonA, splitA) = out(dupA)
    assert(keepA && reasonA == "keep" && splitA != null, "lower doc_id keeps its copy")
  }

  test("a case variant of an eval document is held out with it, never kept for training") {
    // the pre-round-7 doc-id-keyed gate could put the variant in
    // training; the normalized-hash gate cannot
    val uniq = (0 to 10000).iterator
      .map(j => (1 to 20).map(i => s"v$i$j").mkString(" "))
      .find(isEvalText).get
    val filler = nonEval(j => (1 to 18).map(i => s"f$i$j").mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("curate2").toString
    Seq((0L, uniq, "src0"), (1L, uniq.toUpperCase, "src0"), (2L, filler, "src0"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curate.curate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(out(0L) == "eval_holdout")
    assert(out(1L) == "eval_holdout", "normalized copy must follow its group to eval")
    assert(out(2L) == "keep")
  }
}

/** PCA projection: fitted components + codegen projection semantics. */
class PcaProjectSpec extends SparkSpec {

  test("components are orthonormal and projections are the literal dot products") {
    val sf = "/root/testdata/sf0.001"
    try {
    val out = Similarity.pcaProject(spark, sf)
    val rows = out.collect()
    val comps = Similarity.pcaComponents(sf).get
    assert(comps.length == Similarity.PcaDims)
    // orthonormal basis (PCA contract)
    for (i <- comps.indices; j <- i until comps.length) {
      val d = comps(i).zip(comps(j)).map { case (a, b) => a * b }.sum
      if (i == j) assert(math.abs(d - 1.0) < 1e-9, s"component $i not unit norm")
      else assert(math.abs(d) < 1e-9, s"components $i,$j not orthogonal")
    }
    // projection = left-fold dot with the frozen components, bit-exact
    val emb = graft.queries.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    rows.take(20).foreach { r =>
      val x = emb(r.getAs[Long]("vec_id"))
      comps.zipWithIndex.foreach { case (c, k) =>
        var acc = 0.0
        var i = 0
        while (i < x.length) { acc += x(i) * c(i); i += 1 }
        assert(r.getAs[Double](s"pc${k + 1}") == acc, s"pc${k + 1} not the literal fold")
      }
    }
    // variance concentrates in leading components (sanity of the fit)
    val n = rows.length.toDouble
    val vars = (1 to Similarity.PcaDims).map { k =>
      val v = rows.map(_.getAs[Double](s"pc$k"))
      val m = v.sum / n
      v.map(x => (x - m) * (x - m)).sum / n
    }
    assert(vars.head == vars.max, "pc1 must carry the largest variance")
    } finally graft.core.Memo.releaseAll()
  }
}

/** BPE merge learning + codegen replace-chain application. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("mergePair is leftmost non-overlapping") {
    assert(Bpe.mergePair(Vector("a", "a", "a"), ("a", "a")) == Vector("aa", "a"))
    assert(Bpe.mergePair(Vector("a", "b", "a", "b"), ("a", "b")) == Vector("ab", "ab"))
    assert(Bpe.mergePair(Vector("x", "a", "b"), ("a", "b")) == Vector("x", "ab"))
  }

  test("fit learns hand-checked merge ranks with deterministic tie-break") {
    graft.core.Memo.releaseAll()
    try {
      // words: aaab(2) ab(1) aab(1) xq(1) -> pair counts round 1:
      // (a,a)=5 (a,b)=4 (x,q)=1; then (a,b)=3; then (aa,ab)=2; then the
      // count-1 tie (aa,b) vs (x,q) resolves lexicographically.
      val dir = writeDocs(Seq(1L -> "aaab aaab ab", 2L -> "aab xq"))
      val ms = Bpe.mergesFor(spark, dir)
      assert(ms == Seq(("a", "a"), ("a", "b"), ("aa", "ab"), ("aa", "b"), ("x", "q")))
    } finally graft.core.Memo.releaseAll()
  }

  test("token counts match hand-computed BPE segmentations") {
    graft.core.Memo.releaseAll()
    try {
      val dir = writeDocs(Seq(1L -> "aaab aaab ab", 2L -> "aab xq", 3L -> "aaa"))
      val out = Bpe.tokenCountBpe(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(out(1L) == ((3L, 3L)), "aaab/aaab/ab all merge to single tokens")
      assert(out(2L) == ((2L, 2L)), "aab -> (aa)(b) -> (aab); xq -> (xq)")
      // aaa: (a)(a)(a) -> (aa)(a) -> (aaa): with aaa in the corpus the
      // count-1 tie resolves to (aa,a) before (aa,b), so aaa fully merges
      assert(out(3L) == ((1L, 1L)))
    } finally graft.core.Memo.releaseAll()
  }

  test("consecutive spaces produce empty words that count zero BPE tokens") {
    graft.core.Memo.releaseAll()
    try {
      // "a  b" splits to [a, '', b]: ws count 3, BPE count 2 — the empty
      // word must contribute 0 (the DuckDB mirror filters the phantom
      // empty char string_split('', '') produces)
      val dir = writeDocs(Seq(1L -> "a  b"))
      val out = Bpe.tokenCountBpe(spark, dir).collect().head
      assert((out.getLong(1), out.getLong(2)) == ((3L, 2L)))
    } finally graft.core.Memo.releaseAll()
  }

  test("fertility aggregates the per-doc BPE counts by source") {
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("bpe_f").toString
      Seq((1L, "aaab aaab ab", "s1"), (2L, "aab xq", "s1"), (3L, "aaa", "s2"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val perDoc = Bpe.tokenCountBpe(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val bySource = Bpe.tokenFertility(spark, dir).collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
            r.getAs[Long]("n_tokens_bpe"), r.getAs[Double]("fertility")))).toMap
      val (ws1, bpe1) = Seq(perDoc(1L), perDoc(2L)).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      assert(bySource("s1") == ((2L, ws1, bpe1, bpe1.toDouble / ws1)))
      val (ws2, bpe2) = perDoc(3L)
      assert(bySource("s2") == ((1L, ws2, bpe2, bpe2.toDouble / ws2)))
    } finally graft.core.Memo.releaseAll()
  }

  test("context fit cross-checks the per-doc BPE counts against each window") {
    graft.core.Memo.releaseAll()
    try {
      val dir = java.nio.file.Files.createTempDirectory("bpe_cf").toString
      // one long doc (> 2048 BPE tokens, so the smallest window must
      // truncate it) and two short ones; expectations derive from the
      // independently-tested per-doc relation, not hand constants
      Seq((1L, Seq.fill(300)("aaab").mkString(" "), "s1"),
          (2L, "aaab ab", "s1"),
          (3L, Seq.fill(2500)("xq").mkString(" "), "s2"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val perDoc = Bpe.tokenCountBpe(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(perDoc(3L) > 2048L, "fixture must overflow the smallest window")
      val fit = Bpe.contextFit(spark, dir).collect()
        .map(r => r.getAs[Int]("context") -> r).toMap
      assert(fit.keySet == Bpe.ContextSizes.toSet)
      for (c <- Bpe.ContextSizes) {
        val r = fit(c)
        assert(r.getAs[Long]("n_docs") == perDoc.size.toLong)
        assert(r.getAs[Long]("n_docs_fit") == perDoc.values.count(_ <= c).toLong)
        assert(r.getAs[Long]("tokens_total") == perDoc.values.sum)
        assert(r.getAs[Long]("tokens_truncated") ==
          perDoc.values.map(b => math.max(0L, b - c)).sum)
      }
      val fits = Bpe.ContextSizes.map(c => fit(c).getAs[Long]("n_docs_fit"))
      assert(fits == fits.sorted, "fit count must be monotonic in context size")
    } finally graft.core.Memo.releaseAll()
  }

  test("oracle SQL refuses to render after fits on two datasets") {
    graft.core.Memo.releaseAll()
    try {
      val d1 = writeDocs(Seq(1L -> "aa bb"))
      val d2 = writeDocs(Seq(1L -> "cc dd"))
      Bpe.mergesFor(spark, d1)
      assert(Bpe.tokenCountBpeOracleSql.nonEmpty)
      Bpe.mergesFor(spark, d2)
      intercept[IllegalArgumentException] { Bpe.tokenCountBpeOracleSql }
    } finally graft.core.Memo.releaseAll()
  }

  test("distributed trainer reproduces the driver-side trajectory with counts") {
    graft.core.Memo.releaseAll()
    try {
      // same fixture as the driver-side fit test; each trajectory count
      // is the pair's weighted count AT ITS OWN ROUND, i.e. after the
      // prior merges applied: (a,a)=5, then (a,b)=3 (the aa merge ate
      // one adjacency per aaab), (aa,ab)=2, then the count-1
      // lexicographic ties — and the two fits must agree whenever the
      // vocabulary fits under the driver-side cap
      val dir = writeDocs(Seq(1L -> "aaab aaab ab", 2L -> "aab xq"))
      val tr = Bpe.trainedFor(spark, dir)
      assert(tr == Seq(("a", "a", 5L), ("a", "b", 3L), ("aa", "ab", 2L),
        ("aa", "b", 1L), ("x", "q", 1L)))
      assert(tr.map(m => (m._1, m._2)) == Bpe.mergesFor(spark, dir))
      val rows = Bpe.bpeTrain(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(rows.toSeq == tr.zipWithIndex.map { case ((l, r, c), i) => (i + 1, l, r, c) })
    } finally graft.core.Memo.releaseAll()
  }

  test("vocab export: final symbols, weighted frequencies, and merge flags") {
    graft.core.Memo.releaseAll()
    try {
      // after all 5 learned merges every fixture word collapses to one
      // symbol: aaab (freq 2), aab, ab, xq (freq 1 each)
      val dir = writeDocs(Seq(1L -> "aaab aaab ab", 2L -> "aab xq"))
      val rows = Bpe.bpeVocab(spark, dir).collect()
        .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("freq"),
          r.getAs[Long]("n_chars"), r.getAs[Boolean]("is_merged")))
      assert(rows.toSeq == Seq(("aaab", 2L, 4L, true), ("aab", 1L, 3L, true),
        ("ab", 1L, 2L, true), ("xq", 1L, 2L, true)))
    } finally graft.core.Memo.releaseAll()
  }

  test("property: distributed fit == driver fit and argmax counts never increase") {
    // classic BPE invariant: merging the most frequent pair can only
    // create pairs bounded by its own count (a new (x, ab) adjacency
    // needs an (a, b) at that position), and existing pairs only lose
    // occurrences — so the trajectory counts are non-increasing. Also
    // cross-checks the distributed trainer against the independent
    // driver-side implementation on generated corpora.
    val rng = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      graft.core.Memo.releaseAll()
      try {
        val docs = (1L to 4L).map { id =>
          val words = Seq.fill(3 + rng.nextInt(5))(
            Seq.fill(1 + rng.nextInt(6))("abc" (rng.nextInt(3))).mkString)
          id -> words.mkString(" ")
        }
        val dir = writeDocs(docs)
        val tr = Bpe.trainedFor(spark, dir)
        val counts = tr.map(_._3)
        assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
          s"argmax counts increased: $counts for $docs")
        // the driver-side fit learns NumMerges (24) ranks, the
        // distributed one TrainMerges (12): the common prefix must agree
        assert(tr.map(m => (m._1, m._2)) == Bpe.mergesFor(spark, dir).take(tr.size),
          s"distributed and driver fits diverged on $docs")
      } finally graft.core.Memo.releaseAll()
    }
  }

  test("trainer stops when no pairs remain and caps at TrainMerges") {
    graft.core.Memo.releaseAll()
    try {
      // single-char words only: zero adjacent pairs -> empty trajectory
      val d1 = writeDocs(Seq(1L -> "a b c"))
      assert(Bpe.trainedFor(spark, d1) == Seq.empty)
      assert(Bpe.bpeTrain(spark, d1).count() == 0L)
      graft.core.Memo.releaseAll()
      // long repetitive word: more mergeable pairs than rounds
      val d2 = writeDocs(Seq(1L -> Seq.fill(4)("abcdefghijklmnopqrstuvwxyz").mkString(" ")))
      assert(Bpe.trainedFor(spark, d2).size == Bpe.TrainMerges)
    } finally graft.core.Memo.releaseAll()
  }
}

/** q_boilerplate + q_vocab_stats: planted fixtures with hand-computed
  * expectations (the sf corpus is random text, so the 30% prevalence
  * gate rarely trips there — these plants prove the gate itself).
  */
class VocabBoilerplateSpec extends SparkSpec {
  import spark.implicits._

  private def writeSourced(docs: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("boiler").toString
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("chrome bigram present in every doc of a source is boilerplate; unique filler is not") {
    // 10 web docs all open with the chrome "home login"; filler bigrams
    // are unique per doc. Bigrams of doc i: (home login), (login u<i>),
    // (u<i> v<i>) -> 3 distinct, exactly 1 boilerplate.
    val web = (1L to 10L).map(i => (i, s"home login u$i v$i", "web"))
    val out = Dedup.boilerplate(spark, writeSourced(web)).collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getAs[Long]("n_sh") == 3L)
      assert(r.getAs[Long]("n_boiler") == 1L)
      assert(r.getAs[Double]("boiler_ratio") == 1.0 / 3.0)
    }
  }

  test("prevalence is per-source: the same bigram below 30% elsewhere is clean there") {
    // "home login" in 10/10 web docs (boiler) but only 2/10 book docs
    // (2*10 < 10*3 -> clean), so book docs report zero boilerplate.
    val web = (1L to 10L).map(i => (i, s"home login u$i v$i", "web"))
    val books = (11L to 12L).map(i => (i, s"home login w$i x$i", "books")) ++
      (13L to 20L).map(i => (i, s"plain w$i x$i y$i", "books"))
    val out = Dedup.boilerplate(spark, writeSourced(web ++ books)).collect()
    val byDoc = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_boiler")).toMap
    (1L to 10L).foreach(i => assert(byDoc(i) == 1L))
    (11L to 20L).foreach(i => assert(byDoc(i) == 0L))
  }

  test("df >= 2 floor: in a tiny source one occurrence never counts as boilerplate") {
    // 3 docs: a bigram in 1 doc has df*10=10 >= n_docs*3=9, but df<2.
    val tiny = Seq((1L, "nav bar a1 b1", "t"), (2L, "c2 d2 e2", "t"), (3L, "f3 g3 h3", "t"))
    val out = Dedup.boilerplate(spark, writeSourced(tiny)).collect()
    assert(out.forall(_.getAs[Long]("n_boiler") == 0L))
  }

  test("vocab stats: hand-computed tokens/types/hapax per source") {
    // s1: "a b a" + "b c" -> tf a:2 b:2 c:1 -> 5 tokens, 3 types, 1 hapax
    // s2: "x x x" -> 3 tokens, 1 type, 0 hapax
    val docs = Seq((1L, "a b a", "s1"), (2L, "b c", "s1"), (3L, "x x x", "s2"))
    val out = TextAnalysis.vocabStats(spark, writeSourced(docs)).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"), r.getAs[Long]("n_hapax"),
          r.getAs[Double]("ttr"), r.getAs[Double]("hapax_share")))).toMap
    assert(out("s1") == ((5L, 3L, 1L, 3.0 / 5.0, 1.0 / 3.0)))
    assert(out("s2") == ((3L, 1L, 0L, 1.0 / 3.0, 0.0)))
  }
}

/** q_semantic_dedup: planted identical-vector groups resolve to their
  * most prototypical member; orthogonal groups never cross-drop.
  */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  test("each identical triple keeps exactly its lowest-id member; orthogonal groups untouched") {
    graft.core.Memo.releaseAll()
    try {
      // 20 groups x 3 identical one-hot vectors (64-dim). Within a group
      // cosine = 1 (>= threshold, same cell, identical bands); across
      // groups cosine = 0. d2-to-centroid ties within a group resolve by
      // vec_id, so the keeper is the lowest vec_id of each triple.
      val dir = java.nio.file.Files.createTempDirectory("semdedup").toString
      val rows = for (g <- 0 until 20; j <- 0 until 3) yield {
        val v = Array.fill(64)(0.0f); v(g) = 1.0f
        (g * 3L + j, v.toSeq, s"g$g")
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = Similarity.semanticDedup(spark, dir).collect()
      assert(out.length == 60)
      val kept = out.filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("vec_id")).sorted
      assert(kept.toSeq == (0 until 20).map(_ * 3L), "keeper = lowest vec_id per triple")
      // a dropped member's keeper outranks it in the same cell
      val cellOf = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      (0 until 20).foreach { g =>
        assert(cellOf(g * 3L) == cellOf(g * 3L + 1) && cellOf(g * 3L) == cellOf(g * 3L + 2))
      }
    } finally graft.core.Memo.releaseAll()
  }

  test("oracle renders only after the fit, with the fitted centroids inlined") {
    graft.core.Memo.releaseAll()
    try {
      assert(Similarity.semanticDedupOracleSql.isEmpty, "no fit yet -> no oracle")
      Similarity.semanticDedup(spark, "/root/testdata/sf0.001").count()
      val sql = Similarity.semanticDedupOracleSql
      assert(sql.nonEmpty && sql.get.contains("cents(cell, cc, cv)"))
    } finally graft.core.Memo.releaseAll()
  }
}
