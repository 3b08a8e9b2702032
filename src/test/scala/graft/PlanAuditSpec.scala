package graft

import org.scalatest.funsuite.AnyFunSuite

/** `PlanAudit.normalize` makes plan text diffable across runs and
  * commits. The fixture is q_embed_stats's distinct-aggregate Expand as
  * two JVMs planned it: the group order, the order of the distinct
  * columns and the gid numbers followed the expression ids' hashes.
  */
class PlanAuditSpec extends AnyFunSuite {

  private val planA =
    """(3) Expand
      |Input [3]: [label#2, embedding#1, norm#3]
      |Arguments: [[null, null, 0, CASE WHEN (norm#3 = 0.0) THEN 1 ELSE 0 END, norm#3, cast(norm#3 as decimal(18,6))], [embedding#1, null, 1, null, null, null], [null, label#2, 2, null, null, null]], [embedding#26, label#27, gid#25, CASE WHEN (norm = 0.0D) THEN 1L ELSE 0L END#28L, norm#29, CAST(norm AS DECIMAL(18,6))#30]
      |
      |(4) HashAggregate
      |Input [6]: [embedding#26, label#27, gid#25, CASE WHEN (norm = 0.0D) THEN 1L ELSE 0L END#28L, norm#29, CAST(norm AS DECIMAL(18,6))#30]
      |Keys [3]: [knownfloatingpointnormalized(transform(embedding#26, lambdafunction(knownfloatingpointnormalized(normalizenanandzero(lambda arg#77)), lambda arg#77, false))) AS embedding#26, label#27, gid#25]
      |
      |(5) Exchange
      |Arguments: hashpartitioning(embedding#26, label#27, gid#25, 4), ENSURE_REQUIREMENTS, [plan_id=59452]
      |
      |(7) HashAggregate
      |Functions [2]: [partial_count(label#27) FILTER (WHERE (gid#25 = 2)), partial_count(embedding#26) FILTER (WHERE (gid#25 = 1))]""".stripMargin

  private val planB =
    """(3) Expand
      |Input [3]: [label#158, embedding#157, norm#159]
      |Arguments: [[null, null, 0, CASE WHEN (norm#159 = 0.0) THEN 1 ELSE 0 END, norm#159, cast(norm#159 as decimal(18,6))], [label#158, null, 1, null, null, null], [null, embedding#157, 2, null, null, null]], [label#182, embedding#183, gid#181, CASE WHEN (norm = 0.0D) THEN 1L ELSE 0L END#184L, norm#185, CAST(norm AS DECIMAL(18,6))#186]
      |
      |(4) HashAggregate
      |Input [6]: [label#182, embedding#183, gid#181, CASE WHEN (norm = 0.0D) THEN 1L ELSE 0L END#184L, norm#185, CAST(norm AS DECIMAL(18,6))#186]
      |Keys [3]: [label#182, knownfloatingpointnormalized(transform(embedding#183, lambdafunction(knownfloatingpointnormalized(normalizenanandzero(lambda arg#233)), lambda arg#233, false))) AS embedding#183, gid#181]
      |
      |(5) Exchange
      |Arguments: hashpartitioning(label#182, embedding#183, gid#181, 4), ENSURE_REQUIREMENTS, [plan_id=1021]
      |
      |(7) HashAggregate
      |Functions [2]: [partial_count(label#182) FILTER (WHERE (gid#181 = 1)), partial_count(embedding#183) FILTER (WHERE (gid#181 = 2))]""".stripMargin

  test("two Expand group orders normalize to the same text") {
    val a = PlanAudit.normalize(planA)
    assert(planA != planB)
    assert(a == PlanAudit.normalize(planB))
    assert(a.linesIterator.contains(
      "Arguments: [[null, null, 0, CASE WHEN (norm#n = 0.0) THEN 1 ELSE 0 END, norm#n, cast(norm#n as decimal(18,6))], " +
        "[embedding#n, null, 1, null, null, null], [null, label#n, 2, null, null, null]], " +
        "[embedding#n, label#n, gid#n, CASE WHEN (norm = 0.0D) THEN 1L ELSE 0L END#nL, norm#n, CAST(norm AS DECIMAL(18,6))#n]"))
    // gid filters follow the renumbered groups
    assert(a.contains("partial_count(label#n) FILTER (WHERE (gid#n = 2)), partial_count(embedding#n) FILTER (WHERE (gid#n = 1))"))
  }

  test("ids, lambda variables and classes, RDD and plan ids and the warehouse path become fixed tokens") {
    val plan =
      """(1) Scan ExistingRDD
        |Arguments: [doc_id#12L, tok#13], MapPartitionsRDD[1064] at count, ExistingRDD, UnknownPartitioning(0)
        |(2) Project
        |Output [1]: [transform(tok#13, lambdafunction(upper(lambda x_192#13989), lambda x_192#13989, false)) AS t#14]
        |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=595]
        |Arguments: graft.pipeline.Multimodal$$$Lambda$7345/0x00007f1a15cee258@52613465, obj#9: graft.X
        |Location: InMemoryFileIndex [file:/srv/app/spark-warehouse/graft_sig_snap__sf]""".stripMargin
    assert(PlanAudit.normalize(plan) ==
      """(1) Scan ExistingRDD
        |Arguments: [doc_id#nL, tok#n], MapPartitionsRDD[n] at count, ExistingRDD, UnknownPartitioning(0)
        |(2) Project
        |Output [1]: [transform(tok#n, lambdafunction(upper(lambda x_n#n), lambda x_n#n, false)) AS t#n]
        |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=n]
        |Arguments: graft.pipeline.Multimodal$$$Lambda@n, obj#n: graft.X
        |Location: InMemoryFileIndex [file:<warehouse>/graft_sig_snap__sf]""".stripMargin)
  }
}
