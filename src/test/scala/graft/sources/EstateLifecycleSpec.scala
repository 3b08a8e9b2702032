package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The estate lifecycle END TO END — the invariant a production estate
  * relies on across months of crawls: drive THREE snapshots through
  * add → sweep → compact → expire → sweep for each persisted index
  * family, and assert the final index AND the final sweep verdicts
  * equal a from-scratch build over the surviving corpus. IndexMergeSpec
  * pins merge/removal/re-rank pairwise; this spec pins the COMPOSITION
  * (merging a merged table, expiring out of a twice-merged estate,
  * sweeping a fresh probe against the survivor index).
  */
class EstateLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def dropAll(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  /** Crawl texts: families 0 and 1 are shared verbatim across every
    * crawl (the re-crawled boilerplate an estate keeps meeting);
    * every other doc is unique to its id. Shared text → identical
    * MinHash signature (est 1.0) and identical phash code (Hamming 0),
    * so the planted sweep verdicts are float-free.
    */
  private def text(i: Long): String = {
    val f = i % 5
    if (f < 2) (1 to 60).map(j => s"fam${f}tok${j % 23}").mkString(" ")
    else (1 to 60).map(j => s"u${i}t${(i * 7 + j) % 29}").mkString(" ")
  }

  private def crawl(ids: Range): DataFrame =
    ids.map(i => (i.toLong, text(i.toLong), "s")).toDF("doc_id", "text", "source")

  // three monthly crawls + a probe crawl that arrives after the expiry
  private val c1 = 1 to 20
  private val c2 = 21 to 40
  private val c3 = 41 to 60
  private val probeIds = 901 to 905

  test("signature estate: add -> sweep -> compact -> expire -> sweep == from-scratch") {
    SignatureIndex.write(crawl(c1), "lc_sig_s1")
    SignatureIndex.write(crawl(c2), "lc_sig_s2")
    SignatureIndex.write(crawl(c3), "lc_sig_s3")
    SignatureIndex.write(crawl(probeIds), "lc_sig_probe")
    try {
      // month 2: crawl 2 sweeps against the month-1 estate — every
      // shared-family doc must report a crawl-1 dup
      val sweep2 = SignatureIndex.crossSnapshotMatches(spark, "lc_sig_s1", "lc_sig_s2")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
      for (i <- c2 if i % 5 < 2)
        assert(sweep2(i.toLong) == (i % 5 match { case 0 => 5L case 1 => 1L }),
          s"crawl-2 doc $i must dup to the earliest crawl-1 member of its family: $sweep2")
      // compact month over month: e12 = s1+s2, then e123 = e12+s3 —
      // the second merge consumes a MERGED table, the composition
      // IndexMergeSpec does not cover
      SignatureIndex.merge(spark, Seq("lc_sig_s1", "lc_sig_s2"), "lc_sig_e12")
      SignatureIndex.merge(spark, Seq("lc_sig_e12", "lc_sig_s3"), "lc_sig_e123")
      // crawl 1 expires out of the twice-merged estate
      SignatureIndex.removeSnapshot(spark, "lc_sig_e123", "lc_sig_s1", "lc_sig_e23")
      // from-scratch build over the survivors
      SignatureIndex.write(crawl(c2).unionByName(crawl(c3)), "lc_sig_scratch")
      assert(rows(spark.table("lc_sig_e23")) == rows(spark.table("lc_sig_scratch")),
        "lifecycle estate must equal the from-scratch survivor index row for row")
      // the probe crawl's verdicts against the lifecycle estate equal
      // the verdicts against the from-scratch build — and the expired
      // crawl's docs are gone from the match sets
      val got = rows(SignatureIndex.crossSnapshotMatches(spark, "lc_sig_e23", "lc_sig_probe"))
      val want = rows(SignatureIndex.crossSnapshotMatches(spark, "lc_sig_scratch", "lc_sig_probe"))
      assert(got == want, s"probe sweep diverged:\nlifecycle=$got\nscratch=$want")
      val dupOf = SignatureIndex.crossSnapshotMatches(spark, "lc_sig_e23", "lc_sig_probe")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
      assert(dupOf(905L) == 25L && dupOf(901L) == 21L,
        s"post-expiry best matches must come from the surviving crawls: $dupOf")
    } finally dropAll("lc_sig_s1", "lc_sig_s2", "lc_sig_s3", "lc_sig_probe",
      "lc_sig_e12", "lc_sig_e123", "lc_sig_e23", "lc_sig_scratch")
  }

  test("phash estate: add -> sweep -> compact -> expire -> sweep == from-scratch") {
    PhashIndex.write(crawl(c1), "lc_ph_s1")
    PhashIndex.write(crawl(c2), "lc_ph_s2")
    PhashIndex.write(crawl(c3), "lc_ph_s3")
    PhashIndex.write(crawl(probeIds), "lc_ph_probe")
    try {
      // month 2/3 compaction, month over month
      PhashIndex.merge(spark, Seq("lc_ph_s1", "lc_ph_s2"), "lc_ph_e12")
      PhashIndex.merge(spark, Seq("lc_ph_e12", "lc_ph_s3"), "lc_ph_e123")
      val sweep3 = PhashIndex.crossSnapshotMatches(spark, "lc_ph_e12", "lc_ph_s3")
        .collect().map(r => r.getAs[Long]("rep") -> r.getAs[Long]("dup_of")).toMap
      assert(sweep3.nonEmpty && sweep3.values.forall(d => d <= 40L),
        s"crawl-3 shared-family reps must dup into the months-1+2 estate: $sweep3")
      // crawl 1 expires: phash rows are code-group facts, so survivor
      // compaction re-merges the RETAINED snapshot lanes (the index's
      // documented retention form — no per-asset tombstone exists)
      PhashIndex.merge(spark, Seq("lc_ph_s2", "lc_ph_s3"), "lc_ph_e23")
      PhashIndex.write(crawl(c2).unionByName(crawl(c3)), "lc_ph_scratch")
      assert(rows(spark.table("lc_ph_e23")) == rows(spark.table("lc_ph_scratch")),
        "survivor phash estate must equal the from-scratch build row for row")
      val got = rows(PhashIndex.crossSnapshotMatches(spark, "lc_ph_e23", "lc_ph_probe"))
      val want = rows(PhashIndex.crossSnapshotMatches(spark, "lc_ph_scratch", "lc_ph_probe"))
      assert(got == want, s"probe sweep diverged:\nlifecycle=$got\nscratch=$want")
    } finally dropAll("lc_ph_s1", "lc_ph_s2", "lc_ph_s3", "lc_ph_probe",
      "lc_ph_e12", "lc_ph_e123", "lc_ph_e23", "lc_ph_scratch")
  }

  test("audio estate: add -> sweep -> compact -> expire -> sweep == from-scratch") {
    AudioIndex.write(crawl(c1), "lc_au_s1")
    AudioIndex.write(crawl(c2), "lc_au_s2")
    AudioIndex.write(crawl(c3), "lc_au_s3")
    AudioIndex.write(crawl(probeIds), "lc_au_probe")
    try {
      // month 2: crawl 2 sweeps against the month-1 index — every
      // shared-family track (identical text -> identical fingerprint,
      // agreement 7) must dup to crawl 1's family representative
      val sweep2 = AudioIndex.crossSnapshotMatches(spark, "lc_au_s1", "lc_au_s2")
        .collect().map(r => r.getAs[Long]("rep") -> r.getAs[Long]("dup_of")).toMap
      for ((rep, dupOf) <- sweep2 if rep % 5 < 2)
        assert(dupOf == (rep % 5 match { case 0 => 5L case _ => 1L }),
          s"crawl-2 family rep $rep must dup to crawl 1's family rep: $sweep2")
      assert(sweep2.nonEmpty, "shared families must produce sweep verdicts")
      // compact month over month: the second merge consumes a MERGED
      // table (re-collapse composes)
      AudioIndex.merge(spark, Seq("lc_au_s1", "lc_au_s2"), "lc_au_e12")
      AudioIndex.merge(spark, Seq("lc_au_e12", "lc_au_s3"), "lc_au_e123")
      // crawl 1 expires out of the twice-merged estate: the family
      // fingerprints' global reps (1 and 5, both crawl-1) must REPAIR
      // to the earliest surviving members (21 and 25) — the exact
      // case the subtract-and-repair pass exists for
      AudioIndex.removeSnapshot(spark, "lc_au_e123", "lc_au_s1",
        Seq("lc_au_s2", "lc_au_s3"), "lc_au_e23")
      AudioIndex.write(crawl(c2).unionByName(crawl(c3)), "lc_au_scratch")
      assert(rows(spark.table("lc_au_e23")) == rows(spark.table("lc_au_scratch")),
        "lifecycle estate must equal the from-scratch survivor index row for row")
      val got = rows(AudioIndex.crossSnapshotMatches(spark, "lc_au_e23", "lc_au_probe"))
      val want = rows(AudioIndex.crossSnapshotMatches(spark, "lc_au_scratch", "lc_au_probe"))
      assert(got == want, s"probe sweep diverged:\nlifecycle=$got\nscratch=$want")
      val dupOf = AudioIndex.crossSnapshotMatches(spark, "lc_au_e23", "lc_au_probe")
        .collect().map(r => r.getAs[Long]("rep") -> r.getAs[Long]("dup_of")).toMap
      for ((_, d) <- dupOf)
        assert(d >= 21L && d <= 60L,
          s"post-expiry best matches must come from the surviving crawls: $dupOf")
    } finally dropAll("lc_au_s1", "lc_au_s2", "lc_au_s3", "lc_au_probe",
      "lc_au_e12", "lc_au_e123", "lc_au_e23", "lc_au_scratch")
  }

  /** id → scaled one-hot on direction id % 5 (the EmbedIndexSpec
    * geometry: cosine exactly 1.0 within a family, 0.0 across).
    */
  private def vec(i: Int): Seq[Float] =
    (0 until 64).map(d => if (d == i % 5) (1.0f + i % 5) else 0.0f)

  private def embCrawl(ids: Range): DataFrame =
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  test("embed estate: add -> sweep -> compact -> expire -> sweep == from-scratch") {
    // ONE frozen codebook across the whole lifecycle — the estate rule
    val centers = (0 until 5).map(f =>
      (0 until 64).map(d => if (d == f) 1.0 else 0.0).toArray).toIndexedSeq
    EmbedIndex.write(embCrawl(c1), "lc_em_s1", centers)
    EmbedIndex.write(embCrawl(c2), "lc_em_s2", centers)
    EmbedIndex.write(embCrawl(c3), "lc_em_s3", centers)
    EmbedIndex.write(embCrawl(probeIds), "lc_em_probe", centers)
    try {
      EmbedIndex.merge(spark, Seq("lc_em_s1", "lc_em_s2"), "lc_em_e12")
      EmbedIndex.merge(spark, Seq("lc_em_e12", "lc_em_s3"), "lc_em_e123")
      val sweep3 = EmbedIndex.crossSnapshotMatches(spark, "lc_em_e12", "lc_em_s3")
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("dup_of")).toMap
      assert(sweep3.keySet == c3.map(_.toLong).toSet && sweep3.values.forall(_ <= 40L),
        s"every crawl-3 vector must dup into the months-1+2 estate: $sweep3")
      // crawl 1 expires via the anti join + gap-closing re-rank
      EmbedIndex.removeSnapshot(spark, "lc_em_e123", "lc_em_s1", "lc_em_e23")
      EmbedIndex.write(embCrawl(c2).unionByName(embCrawl(c3)), "lc_em_scratch", centers)
      assert(rows(spark.table("lc_em_e23")) == rows(spark.table("lc_em_scratch")),
        "survivor embed estate must equal the from-scratch build (ranks re-closed)")
      val got = rows(EmbedIndex.crossSnapshotMatches(spark, "lc_em_e23", "lc_em_probe"))
      val want = rows(EmbedIndex.crossSnapshotMatches(spark, "lc_em_scratch", "lc_em_probe"))
      assert(got == want, s"probe sweep diverged:\nlifecycle=$got\nscratch=$want")
      val dupOf = EmbedIndex.crossSnapshotMatches(spark, "lc_em_e23", "lc_em_probe")
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("dup_of")).toMap
      assert(dupOf.values.forall(d => d >= 21L && d <= 60L),
        s"post-expiry best matches must come from the surviving crawls: $dupOf")
    } finally dropAll("lc_em_s1", "lc_em_s2", "lc_em_s3", "lc_em_probe",
      "lc_em_e12", "lc_em_e123", "lc_em_e23", "lc_em_scratch")
  }

  test("one lifecycle: no bucketed write or co-partition scope outside EstateIndex in src/main") {
    // a family that re-rolls its own write tail or expiry scope drifts
    // from the shared one (bucket count, table+location drop, conf
    // restore) — new families supply keys, lane, collapse and verify
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala"))
    assert(files.length > 50, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    val owner = java.nio.file.Paths.get("graft", "sources", "EstateIndex.scala")
    val offenders = files.toSeq.filterNot(_.endsWith(owner)).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      Seq("bucketBy(", "requireAllClusterKeysForCoPartition")
        .filter(text.contains).map(m => s"$f: $m")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
