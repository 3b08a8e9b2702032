package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{AudioIndex, PhashIndex, SignatureIndex}

/** The admission gates' index-side hot-bucket stop-loss (round 16):
  * each index-joining gate leg (text signature, image phash, audio
  * landmark) drops index buckets over its family cap WHOLE before the
  * candidate join — the crossSnapshotPairsCapped convention, extended
  * from the batch sweeps to the ingest path so a boilerplate band key
  * with millions of resident rows cannot stall a trigger. The cap
  * params are the spec seam (cap = 0 makes EVERY nonempty bucket hot):
  * verdicts that exist under the default cap must disappear under
  * cap 0, and the keeper-map rules (which ride no index) must not.
  */
class GateBucketCapSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 40).map(i => s"w$i")
  private def corpusDf = Seq(
    (2L, base.mkString(" "), "s"),
    (4L, (1 to 40).map(i => s"x$i").mkString(" "), "s"),
  ).toDF("doc_id", "text", "source")

  test("signature gate: cap 0 drops every index bucket; near_dup becomes keep, exact_dup survives") {
    SignatureIndex.write(corpusDf, "cap_sig_idx")
    try {
      val incoming = Seq(
        901L -> base.updated(39, "edited").mkString(" "), // near_dup of 2 (index path)
        902L -> base.mkString(" "),                       // exact_dup of 2 (keeper map, no index)
      ).toDF("doc_id", "text")
      val byDefault = IngestGate.verdicts(incoming, corpusDf, "cap_sig_idx")
        .collect().map(v => v.doc_id -> v.verdict).toMap
      assert(byDefault(901L) == "near_dup" && byDefault(902L) == "exact_dup")
      val byZero = IngestGate.verdicts(incoming, corpusDf, "cap_sig_idx", bucketCap = 0L)
        .collect().map(v => v.doc_id -> v.verdict).toMap
      assert(byZero(901L) == "keep",
        s"with every bucket hot the index match must vanish: $byZero")
      assert(byZero(902L) == "exact_dup",
        "the keeper-map rule rides no index and must survive the stop-loss")
    } finally spark.sql("DROP TABLE IF EXISTS cap_sig_idx")
  }

  test("phash gate: cap 0 empties the match relation") {
    PhashIndex.write(corpusDf, "cap_ph_idx")
    try {
      val arriving = Seq((3L, base.mkString(" "), "s")).toDF("doc_id", "text", "source")
      val dflt = PhashIndex.ingestStream(arriving, "cap_ph_idx").collect()
      assert(dflt.nonEmpty && dflt.forall(_.getAs[Long]("corpus_rep") == 2L),
        s"identical text must phash-match its corpus twin: ${dflt.mkString(",")}")
      assert(PhashIndex.ingestStream(arriving, "cap_ph_idx", bucketCap = 0L).isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS cap_ph_idx")
  }

  test("audio gate: cap 0 empties the match relation") {
    AudioIndex.write(corpusDf, "cap_au_idx")
    try {
      val arriving = Seq((3L, base.mkString(" "), "s")).toDF("doc_id", "text", "source")
      val dflt = AudioIndex.ingestStream(arriving, "cap_au_idx").collect()
      assert(dflt.nonEmpty && dflt.forall(_.getAs[Long]("corpus_rep") == 2L),
        s"identical text must landmark-match its corpus twin: ${dflt.mkString(",")}")
      assert(AudioIndex.ingestStream(arriving, "cap_au_idx", bucketCap = 0L).isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS cap_au_idx")
  }

  test("a rewritten index table is gated with its own hot set and keeper map, not the old table's") {
    // the gate's static legs are memoized per index table; every index
    // write drops and re-creates the name, so a memo keyed by the bare
    // name would keep serving the dropped table's derivations
    val cap = 1L
    val incoming = Seq(
      901L -> base.updated(39, "edited").mkString(" "), // near_dup of 2 while its buckets are cool
      903L -> (1 to 40).map(i => s"y$i").mkString(" "), // exact copy of doc 8, which only the rewrite holds
    ).toDF("doc_id", "text")
    def gate(corpus: org.apache.spark.sql.DataFrame) = {
      SignatureIndex.write(corpus, "cap_rw_idx")
      IngestGate.verdicts(incoming, corpus, "cap_rw_idx", bucketCap = cap)
        .collect().map(v => v.doc_id -> v.verdict).toMap
    }
    try {
      // first write: every (band, bh) bucket holds one doc — none is hot at cap 1
      assert(gate(corpusDf)(901L) == "near_dup")
      // rewrite: doc 6 duplicates doc 2, so each of doc 2's buckets holds
      // two docs — over the cap, dropped whole; doc 8 brings new content
      val rewritten = corpusDf.unionByName(Seq(
        (6L, base.mkString(" "), "s"),
        (8L, (1 to 40).map(i => s"y$i").mkString(" "), "s"),
      ).toDF("doc_id", "text", "source"))
      val after = gate(rewritten)
      assert(after(901L) == "keep",
        s"the rewritten table's hot buckets must be dropped, not the old table's (empty) set: $after")
      assert(after(903L) == "exact_dup",
        s"the keeper map must be the rewritten corpus's: $after")
    } finally spark.sql("DROP TABLE IF EXISTS cap_rw_idx")
  }
}
