package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine-exact aggregation building blocks.
  *
  * Double summation is order-dependent, so a plain `sum(double)` differs
  * in final ulps between Spark (parallel partial aggregation) and any
  * oracle engine (sequential scan). To make correctness gates hash-stable
  * we sum in exact decimal space and only convert the *final* sum to
  * double: decimal addition is associative/exact, and decimal->double is
  * the same nearest-even conversion in every IEEE-754 engine. Downstream
  * double arithmetic (division, sqrt) is then bit-identical as long as
  * the oracle SQL uses the same expression shape.
  *
  * DECIMAL(18,6) is chosen so a product of two values stays within
  * DuckDB's 38-digit decimal width (18+18=36) while exactly representing
  * the <=2-decimal test values.
  */
object Exact {

  private val D = DecimalType(18, 6)

  /** The largest magnitude DECIMAL(18,6) holds. */
  private val MaxD = lit(new java.math.BigDecimal("999999999999.999999"))

  /** Final decimal->double conversion, made cross-engine-identical by
    * first trimming the sum back to DECIMAL(18,6): the unscaled value
    * then fits in 2^53, so `double(raw)/double(10^6)` (DuckDB's int-path
    * cast) and BigDecimal.doubleValue (Spark) both yield the correctly
    * rounded double. A direct DECIMAL(38,12)->DOUBLE cast is NOT
    * correctly rounded in DuckDB (int128 conversion) and differs from
    * Spark by 1 ulp. The trim needs |sum| within DECIMAL(18,6) (all gate
    * data is); a larger sum (a sum of squares past 1e12, e.g. one
    * sample of 1e6) would fail the trim under ANSI mode, so it is cast
    * to double directly instead.
    */
  private def toDouble(sumDec: Column): Column =
    when(abs(sumDec) <= MaxD, sumDec.cast(D).cast("double")).otherwise(sumDec.cast("double"))

  /** Exact sum: sum(cast(x as decimal(18,6))), trimmed, cast to double.
    * Oracle shape: `CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE)`.
    */
  def exactSum(x: Column): Column = toDouble(sum(x.cast(D)))

  /** Exact sum of squares. */
  def exactSumSq(x: Column): Column = toDouble(sum(x.cast(D) * x.cast(D)))

  // Two-level (re-aggregated) forms: decimal addition is associative and
  // exact, so a per-subgroup decimal partial summed again over the
  // enclosing group, THEN trimmed/converted, is bit-identical to the
  // single-level exactSum/exactSumSq over the same rows. Lets a plan
  // that already aggregates a finer grouping derive the coarser group's
  // exact sums from the partials instead of re-scanning the input.

  /** Per-subgroup decimal partial of [[exactSum]] (no final trim/cast). */
  def partialSum(x: Column): Column = sum(x.cast(D))

  /** Per-subgroup decimal partial of [[exactSumSq]]. */
  def partialSumSq(x: Column): Column = sum(x.cast(D) * x.cast(D))

  /** Finish a (possibly re-aggregated) decimal partial: trim + double —
    * the same final conversion [[exactSum]] applies.
    */
  def finishSum(partial: Column): Column = toDouble(partial)

  /** Mean from exact sums: (exact sum)/n, computed in double.
    * Oracle shape: `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x)`.
    */
  def exactMean(sumCol: Column, cnt: Column): Column = sumCol / cnt

  /** Population variance from exact sums: sumsq/n - mean*mean, clamped at
    * zero against negative round-off.
    * Oracle shape: `GREATEST(sumsq/n - mean*mean, 0.0)`.
    */
  def popVariance(sumSq: Column, mean: Column, cnt: Column): Column =
    greatest(sumSq / cnt - mean * mean, lit(0.0))

  /** Population stddev (the reference's `$stdDevPop`,
    * reference: lib/db/model/SigmaModel.js:75-100).
    */
  def popStddev(sumSq: Column, mean: Column, cnt: Column): Column =
    sqrt(popVariance(sumSq, mean, cnt))
}
