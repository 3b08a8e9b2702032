package graft

import org.scalatest.funsuite.AnyFunSuite

/** The stream bench's self-adjudication fields — pure JSON assembly,
  * no Spark session needed. Pins the round-12 refresh shape that
  * motivated `suspect_contended`: runs of 18.5 k / 50 k / 123 k msg/s
  * on identical code, where the 18.5 k run is host contention (it is
  * below a third of what the committed record proves the code
  * sustains) and must self-flag instead of being re-litigated by hand.
  */
class StreamBenchSummarySpec extends AnyFunSuite {

  private def r(msgs: Long) =
    StreamBench.Result(msgs, messages = 300000, seconds = 1.0,
      anomalies = 0, topics = 2)

  test("a run below a third of the committed best self-flags") {
    val s = StreamBench.summaryJson(Seq(r(18469), r(50075), r(123067)),
      priorBest = Some(123067))
    assert(s.contains(""""prior_best":123067"""))
    assert(s.contains(""""suspect_contended":[18469]"""))
    assert(s.contains(""""suspect_all_runs":false"""))
  }

  test("all runs below the bar set suspect_all_runs — a regression candidate") {
    val s = StreamBench.summaryJson(Seq(r(10000), r(12000), r(15000)),
      priorBest = Some(120000))
    assert(s.contains(""""suspect_contended":[10000,12000,15000]"""))
    assert(s.contains(""""suspect_all_runs":true"""))
  }

  test("no prior record: the fields are absent, the summary unchanged") {
    val s = StreamBench.summaryJson(Seq(r(50000), r(60000), r(70000)))
    assert(!s.contains("prior_best"))
    assert(!s.contains("suspect_contended"))
    assert(s.contains(""""contended":false"""))
  }

  test("spread carries the best/worst ratio the r13 record only showed by eyeball") {
    val s = StreamBench.summaryJson(Seq(r(24800), r(98700), r(113500)),
      priorBest = Some(123067))
    // 113500 / 24800 = 4.58 — the thin-record signature, now a field
    assert(s.contains(""""spread":4.58"""))
    val tight = StreamBench.summaryJson(Seq(r(100000), r(105000), r(110000)))
    assert(tight.contains(""""spread":1.10"""))
  }

  test("prior_median rides beside prior_best when supplied") {
    val s = StreamBench.summaryJson(Seq(r(90000), r(95000), r(100000)),
      priorBest = Some(123067), priorMedian = Some(98700))
    assert(s.contains(""""prior_best":123067"""))
    assert(s.contains(""""prior_median":98700"""))
    val without = StreamBench.summaryJson(Seq(r(90000)), priorBest = Some(123067))
    assert(!without.contains("prior_median"))
  }

  test("quiet runs near the committed best produce an empty suspect list") {
    val s = StreamBench.summaryJson(Seq(r(60000), r(65000), r(70000)),
      priorBest = Some(123067))
    assert(s.contains(""""suspect_contended":[]"""))
    assert(s.contains(""""suspect_all_runs":false"""))
  }

  test("a uniformly degraded family flags suspect_epoch_slow (the r15 round-end shape)") {
    // the r15 round-end failure: every run ~half the committed best,
    // tight enough that the per-run 3x flags stayed silent — the
    // median shipped as the record with nothing marking the family
    val s = StreamBench.summaryJson(Seq(r(50000), r(55700), r(64000)),
      priorBest = Some(110200))
    assert(s.contains(""""suspect_epoch_slow":true"""))
    assert(s.contains(""""suspect_contended":[]"""), "per-run flags miss this shape")
    // healthy family: median comfortably over two-thirds of the best
    val ok = StreamBench.summaryJson(Seq(r(90000), r(100000), r(110000)),
      priorBest = Some(110200))
    assert(ok.contains(""""suspect_epoch_slow":false"""))
    // ordinary wobble just under the best stays quiet too
    val wobble = StreamBench.summaryJson(Seq(r(78000), r(85000), r(92000)),
      priorBest = Some(110200))
    assert(wobble.contains(""""suspect_epoch_slow":false"""))
    // no prior record: the field is absent like its siblings
    assert(!StreamBench.summaryJson(Seq(r(50000))).contains("suspect_epoch_slow"))
  }
}
