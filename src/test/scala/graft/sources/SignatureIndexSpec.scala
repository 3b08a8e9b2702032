package graft.sources

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted signature index: (a) cross-snapshot near-dup
  * verdicts computed index-against-index match the directly-computed
  * (unbucketed) join row for row, and (b) the band join between two
  * identically-bucketed indexes plans ZERO shuffle exchanges — the
  * historical corpus is never re-shuffled to check a new snapshot.
  */
class SignatureIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docRow(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "), "s")

  test("cross-snapshot matches: verdicts equal the unbucketed computation; join is exchange-free") {
    // snapshot A (the historical corpus): two docs; snapshot B: an
    // edited re-crawl of A's doc 1 (one token changed out of 40 — high
    // signature agreement) and a novel doc
    val base = (1 to 40).map(i => s"w$i")
    val snapA = Seq(docRow(1L, base), docRow(2L, (1 to 40).map(i => s"x$i")))
      .toDF("doc_id", "text", "source")
    val snapB = Seq(
      docRow(101L, base.updated(39, "edited")),
      docRow(102L, (1 to 40).map(i => s"z$i")))
      .toDF("doc_id", "text", "source")
    SignatureIndex.write(snapA, "sig_idx_a")
    SignatureIndex.write(snapB, "sig_idx_b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = SignatureIndex.crossSnapshotMatches(spark, "sig_idx_a", "sig_idx_b")
      // (a) the band join between the two indexes plans no exchange:
      // only the verdict aggregation/window above it may shuffle, and
      // those are keyed on doc_id — assert no exchange touches a
      // relation still carrying the band key
      val plan = out.queryExecution.executedPlan
      val expanded = plan +: plan.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      val bandExchanges = expanded.flatMap(_.collect {
        case e: ShuffleExchangeExec
          if e.child.output.exists(_.name == "bh") => e
      })
      assert(bandExchanges.isEmpty,
        s"the index-to-index band join must be exchange-free, found:\n$plan")
      // (b) verdicts match the directly-computed unbucketed join
      val got = out.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_matches"),
          r.getAs[Long]("dup_of"), r.getAs[Double]("best_est"))).toSet
      assert(got.map(_._1) == Set(101L), s"only the re-crawl doc matches: $got")
      val m = got.head
      assert(m._3 == 1L && m._4 >= 0.5,
        s"re-crawl must resolve to its original with high estimate: $m")
      // and the index-against-index result equals the unbucketed
      // direct computation over the same snapshots (the layout must
      // change the plan, never the answer)
      import graft.pipeline.Dedup
      val direct = Dedup.bandedSignatures(snapB).as("b")
        .join(Dedup.bandedSignatures(snapA)
          .select(col("band"), col("bh"), col("doc_id").as("corpus_doc"),
            col("sig").as("sig_c")).as("a"), Seq("band", "bh"))
        .select(col("doc_id"), col("corpus_doc"),
          round(size(filter(zip_with(col("sig"), col("sig_c"), (x, y) => x === y), p => p))
            .cast("double") / lit(16.0), 6).as("est"))
        .filter(col("est") >= 0.5).distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n"))).toSet
      assert(direct == got.map(g => (g._1, g._2)),
        s"bucketed and unbucketed computations diverged: $direct vs $got")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS sig_idx_a")
      spark.sql("DROP TABLE IF EXISTS sig_idx_b")
    }
  }
}
