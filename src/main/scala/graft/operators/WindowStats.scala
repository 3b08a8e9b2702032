package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Dsl
import graft.functions.Exact._

/** Trailing-window statistics: count / mean / population-stddev per
  * (topic, path, windowSec) over a trailing wall-clock window anchored at
  * an injected `now` (reference computes these as three separate MongoDB
  * pipelines per key per scan, lib/db/model/SigmaModel.js:47-122; we do
  * all keys x all windows x all three stats in ONE grouped pass).
  *
  * Scale notes:
  *  - The multi-window fan-out is an `explode` over a literal window
  *    array — a narrow op; the only shuffle is the single hash
  *    aggregation on (topic, path, window_sec), with map-side partial
  *    aggregation (sum/sumsq/count are algebraic).
  *  - For very long windows over huge streams use
  *    [[bucketedStats]]: pre-aggregate per time bucket first, so the
  *    per-window merge touches O(buckets) rows instead of O(samples).
  */
object WindowStats {

  /** Exact trailing-window stats anchored at `now` (a timestamp column,
    * usually a literal): samples with `produced in [now - w, now]`.
    * Output: topic, path, window_sec, cnt, mean, stddev_pop (mean/stddev
    * rounded to 6 decimals for hash-stable comparison).
    */
  def trailingStats(samples: DataFrame, windows: Seq[Long], now: Column): DataFrame =
    finishStats(nestedTrailingAgg(samples, windows, now))

  /** The trailing-window aggregation, restructured around the windows
    * being NESTED (all anchored at `now`, so w < w' ⇒ [now−w, now] ⊂
    * [now−w', now]): each sample belongs to exactly one SMALLEST
    * containing window (a when-chain over its age — no explode), the
    * exact-decimal partials aggregate once per sample, and each
    * window's totals re-aggregate the ≤ |windows| partial rows it
    * covers. The former explode-per-window form paid the per-row
    * decimal cast + decimal multiply |windows| times per sample
    * (round-17 measurement: the decimal ops were ~5 s of task CPU per
    * spine pass at sf0.1, the dominant cost of the whole stats
    * family). Bit-identical by the [[graft.functions.Exact]] partial
    * contract: decimal addition is associative and exact, and the
    * trim + double conversion happens once, after the merge, exactly
    * as before.
    */
  private def nestedTrailingAgg(samples: DataFrame, windows: Seq[Long], now: Column): DataFrame = {
    val ws = windows.distinct.sorted
    val age = unix_micros(now) - unix_micros(col("produced"))
    // smallest containing window: age in [0, w·1e6] ⇔ the old pair of
    // produced-bounds filters for window w
    val sw = ws.init.foldRight(lit(ws.last): Column)((w, acc) =>
      when(age <= lit(w * 1000000L), lit(w)).otherwise(acc))
    val partials = partialAgg(samples
      .filter(age >= 0L && age <= lit(ws.max * 1000000L))
      .withColumn("sw", sw), col("sw"))
    mergePartials(partials
      .withColumn("window_sec", explode(array(ws.map(lit): _*)))
      .filter(col("window_sec") >= col("sw")))
  }

  /** Per-(topic, path, `sub`) partial sums of one sample relation.
    *
    * Exact-decimal partials: count/sum/sumsq merge associatively, so
    * merging partials equals aggregating the raw union. The exact path
    * holds a value only inside DECIMAL(18,6) (|value| < 1e12) and a sum
    * of squares only inside DECIMAL(38,12) (< 1e26). A value outside
    * the first range (an epoch-millis leaf, ~1.7e12) is routed to a
    * double sum, and a sum of squares past the second becomes null
    * instead of throwing under ANSI mode; [[mergePartials]] then takes
    * the group's double sums. A group that stays inside both ranges
    * keeps the exact decimal result bit for bit.
    */
  private def partialAgg(samples: DataFrame, sub: Column): DataFrame =
    samples
      // one explicit decimal conversion per row (the double→decimal
      // cast allocates via BigDecimal.valueOf — don't rely on
      // subexpression elimination inside the aggregate)
      .withColumn("vd", col("value").try_cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy(col("topic"), col("path"), sub)
      .agg(
        count(lit(1)).as("p_cnt"),
        sum(col("vd")).as("p_sum"),
        try_sum(col("vd") * col("vd")).as("p_sumsq"),
        // the values the exact cast could not hold, and every square in
        // double: the fallback of a group that leaves the exact range
        sum(when(col("vd").isNull, col("value"))).as("p_bsum"),
        sum(col("value") * col("value")).as("p_fsumsq"),
      )

  /** Merge [[partialAgg]] rows per (topic, path, window_sec): the
    * exact-decimal sums finished by [[graft.functions.Exact.finishSum]],
    * or, for a group with a value past DECIMAL(18,6) or a sum of squares
    * past DECIMAL(38,12), the double sums (past 1e12 an exact sum also
    * reaches the variance formula as a rounded double).
    */
  private def mergePartials(partials: DataFrame): DataFrame = {
    // a partial whose exact sum of squares overflowed: null, though it
    // holds exact values (a partial with none has a null p_sum too)
    val overflowed = max(col("p_sumsq").isNull && col("p_sum").isNotNull)
    val bsum = sum(col("p_bsum"))
    val sumsq = try_sum(col("p_sumsq"))
    partials
      .groupBy(col("topic"), col("path"), col("window_sec"))
      .agg(
        coalesce(sum(col("p_cnt")), lit(0L)).as("cnt"),
        when(bsum.isNull, finishSum(sum(col("p_sum"))))
          .otherwise(coalesce(sum(col("p_sum")).cast("double"), lit(0.0)) + bsum).as("sumv"),
        when(bsum.isNull && !overflowed && sumsq.isNotNull, finishSum(sumsq))
          .otherwise(sum(col("p_fsumsq"))).as("sumsq"),
      )
  }

  /** Scale path: two-level aggregation. Samples are first reduced to
    * per-(topic, path, bucket) partial sums — the dominant shuffle now
    * carries O(keys x buckets) rows regardless of input size — then each
    * window sums the buckets it covers. Windows must be multiples of
    * `bucketSec` and `now` must be bucket-aligned; window semantics are
    * `produced in [now - w, now)`.
    *
    * This is the algebraic decomposition flagged in SURVEY.md §7.5.7: at
    * 100 TB the raw explode-per-window would multiply shuffle volume by
    * the window count, while partial sums are count/sum/sumsq and merge
    * exactly (decimal addition is associative).
    */
  def bucketedStats(
      samples: DataFrame,
      windows: Seq[Long],
      now: Column,
      bucketSec: Long = 60L,
  ): DataFrame = {
    // misaligned windows silently over-cover (the straddling bucket is
    // included whole) — fail fast instead
    require(windows.forall(_ % bucketSec == 0), s"windows must be multiples of $bucketSec")
    finishStats(mergeAgg(bucketPartials(samples, bucketSec), windows, now))
  }

  /** Per-(topic, path, bucket) partial sums of one sample relation.
    * Exact-decimal partials: count/sum/sumsq merge associatively, so
    * merging per-segment partials equals aggregating the raw union.
    */
  def bucketPartials(samples: DataFrame, bucketSec: Long = 60L): DataFrame =
    partialAgg(samples
      .withColumn("bucket_us",
        (unix_micros(col("produced")) / lit(bucketSec * 1000000L)) * lit(bucketSec * 1000000L)),
      col("bucket_us"))

  /** Window merge over bucket partials: `bucket_us in [now - w, now)`
    * per exploded window, merged by [[mergePartials]].
    */
  private def mergeAgg(buckets: DataFrame, windows: Seq[Long], now: Column): DataFrame = {
    val nowUs = unix_micros(now)
    mergePartials(buckets
      .filter(col("bucket_us") < nowUs)
      .filter(col("bucket_us") >= nowUs - lit(windows.max * 1000000L))
      .withColumn("window_sec", explode(array(windows.map(lit): _*)))
      .filter(col("bucket_us") >= nowUs - col("window_sec") * lit(1000000L)))
  }

  /** Shared tail: derive mean/stddev_pop from exact sums and apply the
    * reference's validity gates (F6 min-sample, lib/dsl/DSLHandler.js:
    * 244; F7 zero-stats quirk, lib/dsl/DSLHandler.js:259-262 — dropping
    * legitimately-zero means is intentionally reproduced).
    */
  private def gatedStats(agged: DataFrame): DataFrame =
    agged
      .withColumn("mean", col("sumv") / col("cnt"))
      .withColumn("stddev_pop", popStddev(col("sumsq"), col("mean"), col("cnt")))
      .filter(col("cnt") >= Dsl.MinSamples)
      .filter(col("mean") =!= 0.0 && col("stddev_pop") =!= 0.0)

  private def finishStats(agged: DataFrame): DataFrame =
    gatedStats(agged)
      .select(
        col("topic"),
        col("path"),
        col("window_sec"),
        col("cnt"),
        round(col("mean"), 6).as("mean"),
        round(col("stddev_pop"), 6).as("stddev_pop"),
      )

  private def rawFinish(agged: DataFrame): DataFrame =
    gatedStats(agged)
      .select(col("topic"), col("path"), col("window_sec"), col("cnt"),
        col("mean"), col("stddev_pop"))

  /** Raw (ungated, unrounded) stats for internal reuse by the anomaly
    * join, where the z-score must be computed from full-precision values.
    */
  def rawTrailingStats(samples: DataFrame, windows: Seq[Long], now: Column): DataFrame =
    rawFinish(nestedTrailingAgg(samples, windows, now))
}
