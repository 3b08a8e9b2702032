package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Mat.MatOps

/** Robust-statistics anomaly scoring and sequential drift detection —
  * the two classical alternatives to the reference's mean/stddev
  * z-score (reference: lib/dsl/DSLHandler.js:191-192). The reference's
  * "median" field is actually the mean ("no median supported",
  * lib/db/model/SigmaModel.js:48); this engine supplies the real
  * robust pipeline: median + MAD scoring (outlier-resistant where one
  * huge spike inflates a stddev and masks later anomalies) and
  * EWMA/CUSUM drift statistics (the streaming-friendly change
  * detectors that need O(1) state per key instead of a trailing
  * window of samples).
  */
object DriftQueries {

  /** Robust-score threshold: |value − median| > MadK · MAD. */
  val MadK = 5.0

  /** The per-topic robust stats (topic, med, mad) memoized per
    * (application, dataset): a deterministic 5-row property of the
    * snapshot that BOTH q_mad_anomaly and q_anomaly_ensemble derived
    * per call with two sequential exact-percentile passes each — the
    * med → mad dependency is this family's critical path, so the
    * shared build removes two full event scans and two sort-aggregate
    * barriers from every later consumer call. Unfiltered (mad = 0 rows
    * kept); consumers apply their own mad > 0 guard.
    */
  private val robustStatsMemo = graft.core.Memo[DataFrame]("topic_robust_stats")

  private def topicRobustStats(spark: SparkSession, sfDir: String): DataFrame =
    robustStatsMemo(spark, sfDir) {
      val ev = Tables.events(spark, sfDir)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
      val med = ev.groupBy(col("event_type").as("topic"))
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("med"))
      ev.as("e")
        .join(broadcast(med).as("m"), col("e.event_type") === col("m.topic"))
        .groupBy(col("m.topic").as("topic"), col("m.med").as("med"))
        .agg(round(percentile(abs(col("e.value") - col("m.med")), lit(0.5)), 6).as("mad"))
    }

  // ---- q_mad_anomaly -------------------------------------------------

  /** Median/MAD robust anomaly detection per topic.
    *
    * Two exact-percentile passes (median of values, then median of
    * absolute deviations), both rounded to 6 decimals before use so
    * the engines' interpolation ulp drift cannot flip a comparison;
    * events are then flagged where |value − med| > 5·MAD.
    *
    * Scale: the stats relation is one row per topic — broadcast both
    * joins; the events side is scanned twice (two percentile passes)
    * but never shuffles on the scoring pass. At 100 TB the second pass
    * rides the same partition layout as the first (no repartition
    * between them), and percentile can be swapped for the two-level
    * bucketed form if a single-pass approximation is acceptable.
    */
  def madAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    // (topic, med, mad) from the shared memoized build — one broadcast
    // join instead of the former med + mad broadcast pair
    val rs = topicRobustStats(spark, sfDir)
    ev.as("e")
      .join(broadcast(rs).as("m"), col("e.event_type") === col("m.topic"))
      // mad = 0 (a majority-constant topic) would make every deviation
      // "anomalous" and the score division-by-zero — gate like the
      // reference's stddev≠0 guard (lib/dsl/DSLHandler.js:191)
      .filter(col("m.mad") > 0 &&
        abs(col("e.value") - col("m.med")) > lit(MadK) * col("m.mad"))
      .select(
        col("e.event_id").as("event_id"),
        col("m.topic").as("topic"),
        col("e.value").as("value"),
        col("m.med").as("med"),
        col("m.mad").as("mad"),
        round((col("e.value") - col("m.med")) / col("m.mad"), 6).as("rscore"),
      )
  }

  val madAnomalySql: String =
    s"""
    WITH med AS (
      SELECT event_type AS topic, round(quantile_cont(value, 0.5), 6) AS med
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type AS topic,
             round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
      FROM events e JOIN med m ON e.event_type = m.topic
      WHERE e.value IS NOT NULL
      GROUP BY 1
    )
    SELECT e.event_id, e.event_type AS topic, e.value, m.med, d.mad,
           round((e.value - m.med) / d.mad, 6) AS rscore
    FROM events e
    JOIN med m ON e.event_type = m.topic
    JOIN dev d ON e.event_type = d.topic
    WHERE e.value IS NOT NULL AND d.mad > 0
      AND abs(e.value - m.med) > $MadK * d.mad"""

  // ---- q_seasonal_anomaly --------------------------------------------

  /** Residual z-score threshold against the seasonal baseline. */
  val SeasonalZ = 3.0

  /** Seasonal-baseline anomaly detection: the global mean/stddev the
    * reference z-scores against flags every rush hour as anomalous; a
    * per-(topic, hour-of-day) baseline scores each event against its
    * OWN season's statistics — the standard monitoring upgrade.
    * Stats use the exact-decimal sum/sumsq shapes (graft.functions
    * .Exact) and the reference's gates (≥ 3 samples, stddev ≠ 0).
    *
    * Scale: the baseline is topics × 24 rows — broadcast; the event
    * side computes hour-of-day as a codegen projection and never
    * shuffles. Identical plan shape to `q_anomaly`, different
    * dimension key.
    */
  def seasonalAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Exact
    val base = Tables.events(spark, sfDir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("event_type").as("topic"),
        pmod(expr("unix_micros(ts) div 3600000000"), lit(24)).as("hod"), col("value"))
    val stats = base.groupBy(col("topic"), col("hod"))
      .agg(count(lit(1)).as("cnt"),
        Exact.exactSum(col("value")).as("sumv"),
        Exact.exactSumSq(col("value")).as("sumsq"))
      .select(col("topic"), col("hod"), col("cnt"),
        (col("sumv") / col("cnt")).as("mean"),
        Exact.popStddev(col("sumsq"), col("sumv") / col("cnt"), col("cnt")).as("stddev"))
      .filter(col("cnt") >= 3 && col("stddev") > 0)
    base.as("e")
      .join(broadcast(stats).as("s"),
        col("e.topic") === col("s.topic") && col("e.hod") === col("s.hod"))
      .filter(abs((col("e.value") - col("s.mean")) / col("s.stddev")) > lit(SeasonalZ))
      .select(
        col("e.event_id").as("event_id"),
        col("e.topic").as("topic"),
        col("e.hod").as("hod"),
        col("e.value").as("value"),
        round(col("s.mean"), 6).as("mean_hod"),
        round(col("s.stddev"), 6).as("stddev_hod"),
        round((col("e.value") - col("s.mean")) / col("s.stddev"), 6).as("z"),
      )
  }

  val seasonalAnomalySql: String =
    s"""
    WITH b AS (
      SELECT event_id, event_type AS topic,
             (((epoch_us(ts) // 3600000000) % 24) + 24) % 24 AS hod, value
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    m AS (
      SELECT topic, hod, count(*) AS cnt,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sumv,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sumsq
      FROM b GROUP BY 1, 2
    ),
    s AS (
      SELECT topic, hod, cnt, sumv / cnt AS mean,
             sqrt(greatest(sumsq / cnt - (sumv / cnt) * (sumv / cnt), 0.0)) AS stddev
      FROM m WHERE cnt >= 3
    )
    SELECT e.event_id, e.topic, e.hod, e.value,
           round(s.mean, 6) AS mean_hod,
           round(s.stddev, 6) AS stddev_hod,
           round((e.value - s.mean) / s.stddev, 6) AS z
    FROM b e JOIN s ON e.topic = s.topic AND e.hod = s.hod
    WHERE s.stddev > 0 AND abs((e.value - s.mean) / s.stddev) > $SeasonalZ"""

  // ---- q_anomaly_ensemble --------------------------------------------

  /** Global z-score threshold for the ensemble's first detector. */
  val EnsembleZ = 3.0

  /** Detector consensus: every event scored by all three batch
    * detectors — global per-topic z-score (the reference's statistic),
    * median/MAD robust score, and the seasonal hour-of-day baseline —
    * with per-method flags and an agreement count. One detector firing
    * = investigate; all three = page someone. Gated rows (thin hours,
    * zero MAD/stddev) contribute a false flag, not a dropped event.
    *
    * Scale: all three stats relations are tiny (topics, topics×24) →
    * three broadcast left joins; the event side is scanned once for
    * scoring and never shuffles. The stats passes share the events
    * scan layout.
    */
  def anomalyEnsemble(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Exact
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    val base = ev.select(col("event_id"), col("event_type").as("topic"),
      pmod(expr("unix_micros(ts) div 3600000000"), lit(24)).as("hod"), col("value"))

    // ONE (topic, hod) partial aggregation feeds BOTH stats legs: the
    // global leg re-aggregates the decimal partials per topic (decimal
    // addition is associative/exact — Exact.partialSum/finishSum — so
    // the derived sums are bit-identical to a direct scan), and exchange
    // reuse computes the shared partial subplan once. One full pass over
    // events replaces the former two (guide §2.3/§2.4).
    val partials = base.groupBy(col("topic"), col("hod"))
      .agg(count(lit(1)).as("cnt"),
        Exact.partialSum(col("value")).as("psv"),
        Exact.partialSumSq(col("value")).as("psq"))

    def statsFromSums(df: DataFrame, keys: Column*): DataFrame =
      df
        .select(keys ++ Seq(
          (col("sumv") / col("cnt")).as("mean"),
          Exact.popStddev(col("sumsq"), col("sumv") / col("cnt"), col("cnt")).as("stddev")): _*)
        .filter(col("cnt") >= lit(3) && col("stddev") > 0)

    val g = statsFromSums(
      partials.groupBy(col("topic"))
        .agg(sum(col("cnt")).as("cnt"),
          Exact.finishSum(sum(col("psv"))).as("sumv"),
          Exact.finishSum(sum(col("psq"))).as("sumsq")),
      col("topic"))
      .withColumnRenamed("topic", "g_topic")
      .withColumnRenamed("mean", "g_mean").withColumnRenamed("stddev", "g_stddev")
    val s = statsFromSums(
      partials.select(col("topic"), col("hod"), col("cnt"),
        Exact.finishSum(col("psv")).as("sumv"),
        Exact.finishSum(col("psq")).as("sumsq")),
      col("topic"), col("hod"))
      .withColumnRenamed("topic", "s_topic").withColumnRenamed("hod", "s_hod")
      .withColumnRenamed("mean", "s_mean").withColumnRenamed("stddev", "s_stddev")
    // the med → mad percentile chain comes from the shared memoized
    // (topic, med, mad) build (topicRobustStats — also q_mad_anomaly's),
    // removing two more event passes and the family's longest
    // sequential barrier chain from the per-call plan
    val mad = topicRobustStats(spark, sfDir)
      .select(col("topic").as("m_topic"), col("med"), col("mad"))
      .filter(col("mad") > 0)

    base
      .join(broadcast(g), col("topic") === col("g_topic"), "left")
      .join(broadcast(s), col("topic") === col("s_topic") && col("hod") === col("s_hod"), "left")
      .join(broadcast(mad), col("topic") === col("m_topic"), "left")
      .select(
        col("event_id"), col("topic"), col("hod"), col("value"),
        coalesce(abs((col("value") - col("g_mean")) / col("g_stddev")) > lit(EnsembleZ),
          lit(false)).as("flag_global"),
        coalesce(abs(col("value") - col("med")) > lit(MadK) * col("mad"),
          lit(false)).as("flag_mad"),
        coalesce(abs((col("value") - col("s_mean")) / col("s_stddev")) > lit(SeasonalZ),
          lit(false)).as("flag_seasonal"),
      )
      .withColumn("n_methods",
        col("flag_global").cast("int") + col("flag_mad").cast("int") +
          col("flag_seasonal").cast("int"))
      .filter(col("n_methods") >= 1)
  }

  val anomalyEnsembleSql: String =
    s"""
    WITH b AS (
      SELECT event_id, event_type AS topic,
             (((epoch_us(ts) // 3600000000) % 24) + 24) % 24 AS hod, value
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    gm AS (
      SELECT topic, count(*) AS cnt,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sumv,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sumsq
      FROM b GROUP BY 1
    ),
    g AS (
      SELECT topic, sumv / cnt AS g_mean,
             sqrt(greatest(sumsq / cnt - (sumv / cnt) * (sumv / cnt), 0.0)) AS g_stddev
      FROM gm WHERE cnt >= 3
    ),
    sm AS (
      SELECT topic, hod, count(*) AS cnt,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sumv,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sumsq
      FROM b GROUP BY 1, 2
    ),
    s AS (
      SELECT topic, hod, sumv / cnt AS s_mean,
             sqrt(greatest(sumsq / cnt - (sumv / cnt) * (sumv / cnt), 0.0)) AS s_stddev
      FROM sm WHERE cnt >= 3
    ),
    med AS (SELECT topic, round(quantile_cont(value, 0.5), 6) AS med FROM b GROUP BY 1),
    mad AS (
      SELECT e.topic, m.med,
             round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
      FROM b e JOIN med m ON e.topic = m.topic
      GROUP BY 1, 2
      HAVING round(quantile_cont(abs(e.value - m.med), 0.5), 6) > 0
    ),
    f AS (
      SELECT e.event_id, e.topic, e.hod, e.value,
             COALESCE(g.g_stddev > 0 AND abs((e.value - g.g_mean) / g.g_stddev) > $EnsembleZ, FALSE) AS flag_global,
             COALESCE(abs(e.value - d.med) > $MadK * d.mad, FALSE) AS flag_mad,
             COALESCE(s.s_stddev > 0 AND abs((e.value - s.s_mean) / s.s_stddev) > $SeasonalZ, FALSE) AS flag_seasonal
      FROM b e
      LEFT JOIN g ON e.topic = g.topic
      LEFT JOIN s ON e.topic = s.topic AND e.hod = s.hod
      LEFT JOIN mad d ON e.topic = d.topic
    )
    SELECT event_id, topic, hod, value, flag_global, flag_mad, flag_seasonal,
           CAST(flag_global AS INT) + CAST(flag_mad AS INT) + CAST(flag_seasonal AS INT) AS n_methods
    FROM f
    WHERE CAST(flag_global AS INT) + CAST(flag_mad AS INT) + CAST(flag_seasonal AS INT) >= 1"""

  // ---- q_ewma --------------------------------------------------------

  /** EWMA smoothing factor — 1/4 is exactly representable in binary so
    * `s·0.75 + x·0.25` is the identical IEEE computation in any engine.
    */
  val EwmaAlpha = 0.25

  /** Per-topic EWMA and CUSUM drift statistics over the event-id-ordered
    * value sequence.
    *
    * EWMA folds `s ← s·0.75 + x·0.25` from the first value; CUSUM folds
    * `c ← max(0, c + (x − mean))` from 0 with the exact-decimal global
    * mean as the target — the textbook one-sided change detector: a
    * persistent upward shift accumulates, noise resets to 0. Both are
    * left folds (`functions.aggregate`), bit-identical to the oracle's
    * `list_reduce` because the sequence of IEEE operations is the same.
    *
    * Scale: a sequential per-key fold is inherently ordered — the
    * DataFrame form (sort + collect_list per key) is right when per-key
    * history fits an executor (here: ≤ tens of MB per topic). At 100 TB
    * the same fold runs incrementally as keyed streaming state
    * ([[graft.streaming.DriftState]]) with O(1) memory per key, or
    * segment-wise: EWMA over a partitioned series composes as
    * `s_out = s_in·0.75^n + partial` with per-segment prefolds.
    */
  def ewma(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    val mean = ev.groupBy(col("event_type").as("topic"))
      .agg((graft.functions.Exact.exactSum(col("value")) / count(lit(1))).as("mean"),
        count(lit(1)).as("n"))
    val series = ev
      .groupBy(col("event_type").as("topic"))
      .agg(array_sort(collect_list(struct(col("event_id"), col("value")))).as("ordered"))
      .withColumn("vals", transform(col("ordered"), r => r.getField("value")))
      .drop("ordered")
    series.as("l")
      .join(broadcast(mean).as("m"), col("l.topic") === col("m.topic"))
      .select(
        col("l.topic").as("topic"),
        col("m.n").as("n"),
        round(col("m.mean"), 6).as("mean"),
        round(
          aggregate(
            slice(col("vals"), lit(2), greatest(size(col("vals")) - 1, lit(0))),
            element_at(col("vals"), 1),
            (s, x) => s * lit(0.75) + x * lit(0.25)),
          6).as("ewma_last"),
        round(
          aggregate(col("vals"), lit(0.0),
            (c, x) => greatest(lit(0.0), c + (x - col("m.mean")))),
          6).as("cusum"),
      )
  }

  val ewmaSql: String =
    """
    WITH m AS (
      SELECT event_type AS topic,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) / count(*) AS mean,
             count(*) AS n
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ),
    l AS (
      SELECT event_type AS topic, list(value ORDER BY event_id) AS vals
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    )
    SELECT l.topic, m.n, round(m.mean, 6) AS mean,
           round(list_reduce(l.vals, (s, x) -> s * 0.75 + x * 0.25), 6) AS ewma_last,
           round(list_reduce(list_prepend(0.0, l.vals),
                 (c, x) -> greatest(0.0, c + (x - m.mean))), 6) AS cusum
    FROM l JOIN m ON l.topic = m.topic"""

  // ---- q_changepoint -------------------------------------------------

  /** A topic is flagged changed when the peak |CUSUM| captures at least
    * this fraction of the series' total absolute deviation (a
    * scale-free localization confidence: a genuine level shift
    * concentrates deviation mass on one side of the peak; noise
    * spreads it).
    */
  val CpRatio = 0.2

  /** q_changepoint: CUSUM change-POINT localization per topic — the
    * question after `q_ewma`'s "is it drifting?" is "WHEN did it
    * change?": the k maximizing |Σ_{i≤k}(xᵢ − mean)| is the classic
    * CUSUM change-point estimate, reported with its event_id, the peak
    * statistic, and the scale-free confidence ratio.
    *
    * Determinism at scale: the running CUSUM accumulates in
    * DECIMAL(18,6) (exact, associative) — NOT double — because window
    * engines disagree on summation ORDER (DuckDB evaluates windowed
    * aggregates with segment trees, Spark's running frame accumulates
    * sequentially; decimal makes the order irrelevant). Per-row diffs
    * (xᵢ − mean) are one IEEE subtraction each, identical both
    * engines, rounded to the decimal grid identically.
    *
    * Scale: one exact-mean aggregation (broadcast back), then windows
    * PARTITIONED BY topic (never global): running decimal sum +
    * per-topic total + one ranking pass — a single hash partition by
    * topic and per-partition sorts, no corpus-sized collect.
    *
    * Envelope: the DECIMAL(18,6) trim bounds |CUSUM| and the total
    * absolute deviation at 1e12 — the engine-wide exact-sum contract
    * (graft.functions.Exact; SCALE.md "Cross-engine determinism").
    * Beyond it Spark's non-ANSI cast nulls while DuckDB raises, so a
    * corpus outside the envelope must lift the trim to a wider
    * decimal, accepting that values past 2^53/1e6 lose the
    * correctly-rounded double conversion both engines share below it.
    */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = org.apache.spark.sql.types.DecimalType(18, 6)
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    val run = Window.partitionBy(col("topic")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("topic"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rank = Window.partitionBy(col("topic"))
      .orderBy(col("abs_sk").desc, col("event_id").asc)
    // the per-topic exact mean rides the SAME per-topic window shuffle
    // as the CUSUM chain (whole-partition decimal sum, trimmed by the
    // identical Exact.finishSum conversion the aggregate form used), so
    // the former separate stats aggregation — a second full scan of
    // events plus a broadcast-build barrier — is gone (guide §2.4:
    // window keyed like the aggregation needs no second shuffle)
    ev.select(col("event_type").as("topic"), col("event_id"), col("value"))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("mean",
        graft.functions.Exact.finishSum(
          graft.functions.Exact.partialSum(col("value")).over(whole)) / col("n"))
      .withColumn("diff", (col("value") - col("mean")).cast(D))
      .withColumn("sk", sum(col("diff")).over(run).cast(D))
      .withColumn("abs_sk", abs(col("sk")))
      .withColumn("tad", sum(abs(col("diff"))).over(whole).cast(D))
      .withColumn("rk", row_number().over(rank))
      .filter(col("rk") === 1)
      .select(col("topic"), col("n"), round(col("mean"), 6).as("mean"),
        col("event_id").as("cp_event_id"),
        col("abs_sk").cast("double").as("cusum_stat"),
        col("tad").cast("double").as("total_abs_dev"),
        when(col("tad") > 0,
          round(col("abs_sk").cast("double") / col("tad").cast("double"), 6))
          .otherwise(lit(0.0)).as("cp_ratio"))
      .withColumn("changed", col("cp_ratio") >= CpRatio)
  }

  val changepointSql: String =
    s"""
    WITH m AS (
      SELECT event_type AS topic,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) / count(*) AS mean,
             count(*) AS n
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ),
    s AS (
      SELECT e.event_type AS topic, e.event_id, m.n, m.mean,
             CAST(e.value - m.mean AS DECIMAL(18,6)) AS diff
      FROM events e JOIN m ON e.event_type = m.topic
      WHERE e.event_type IS NOT NULL AND e.value IS NOT NULL
    ),
    p AS (
      SELECT topic, event_id, n, mean,
             CAST(sum(diff) OVER (PARTITION BY topic ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,6)) AS sk,
             CAST(sum(abs(diff)) OVER (PARTITION BY topic) AS DECIMAL(18,6)) AS tad
      FROM s
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY topic ORDER BY abs(sk) DESC, event_id ASC) AS rk
      FROM p
    )
    SELECT topic, n, round(mean, 6) AS mean, event_id AS cp_event_id,
           CAST(abs(sk) AS DOUBLE) AS cusum_stat,
           CAST(tad AS DOUBLE) AS total_abs_dev,
           CASE WHEN tad > 0 THEN round(CAST(abs(sk) AS DOUBLE) / CAST(tad AS DOUBLE), 6)
                ELSE 0.0 END AS cp_ratio,
           (CASE WHEN tad > 0 THEN round(CAST(abs(sk) AS DOUBLE) / CAST(tad AS DOUBLE), 6)
                 ELSE 0.0 END) >= $CpRatio AS changed
    FROM r WHERE rk = 1"""

  // ---- q_dist_drift ----------------------------------------------------

  /** Histogram bin width (chars) for the distribution-drift report. */
  val DriftBinChars = 200L

  /** TVD flag threshold. */
  val DriftTvdThreshold = 0.1

  /** q_dist_drift: per-source distribution drift of document length vs
    * the whole-corpus baseline — the train/serve-skew and
    * batch-over-batch shift monitor a data pipeline runs before a
    * mixture decision. Lengths are binned ([[DriftBinChars]] chars);
    * each source's bin histogram is compared to the corpus histogram
    * with two PURE-ARITHMETIC divergences (no `ln`, which is not
    * bit-reproducible across engines — the repo-wide rule):
    *
    *  - `tvd`: total variation distance ½·Σ|p_i − q_i|
    *  - `chi2`: Pearson's Σ (o_i − e_i)²/e_i against expected counts
    *
    * Bins the source never hits still contribute (|0 − q| and e): their
    * mass is folded in CLOSED FORM as `1 − Σ_present q` — so no
    * source×bin grid (and no cross join) is ever materialized.
    *
    * Scale: ONE scan of the corpus — the (source, bin) histogram is
    * the only O(n) aggregation; the corpus histogram, per-source
    * totals, and grand total all derive from that tiny persisted
    * relation (sources × bins rows), so nothing else touches the
    * input. Per-bin terms round through DECIMAL(18,6) before the sum
    * (exact, associative — partition-order-free), the lmScore
    * discipline.
    */
  def distDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val binned = Tables.documents(spark, sfDir)
      .select(col("source"), expr(s"n_chars div $DriftBinChars").as("bin"))
    // the single O(n) pass; everything below re-aggregates this
    // sources×bins relation, so persist to pin the one-scan shape
    val bySrc = binned.groupBy(col("source"), col("bin")).agg(count(lit(1)).as("n_s_bin"))
      .mat
    val global = bySrc.groupBy(col("bin")).agg(sum(col("n_s_bin")).as("n_g"))
      .crossJoin(broadcast(bySrc.agg(sum(col("n_s_bin")).as("n_total"))))
    val totals = bySrc.groupBy(col("source")).agg(sum(col("n_s_bin")).as("n_s"))
    val D = org.apache.spark.sql.types.DecimalType(18, 6)
    val j = bySrc
      .join(broadcast(totals), "source")
      .join(broadcast(global), "bin")
      .withColumn("p", col("n_s_bin").cast("double") / col("n_s").cast("double"))
      .withColumn("q", col("n_g").cast("double") / col("n_total").cast("double"))
      .withColumn("e", col("q") * col("n_s").cast("double"))
    j.groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_docs"),
        count(lit(1)).as("n_bins"),
        sum(abs(col("p") - col("q")).cast(D)).cast(D).cast("double").as("sum_t"),
        sum(((col("n_s_bin").cast("double") - col("e")) * (col("n_s_bin").cast("double") - col("e"))
          / col("e")).cast(D)).cast(D).cast("double").as("sum_c"),
        sum(col("q").cast(D)).cast(D).cast("double").as("q_present"),
      )
      .select(col("source"), col("n_docs"), col("n_bins"),
        ((col("sum_t") + (lit(1.0) - col("q_present"))) / lit(2.0)).as("tvd"),
        (col("sum_c") + col("n_docs").cast("double") * (lit(1.0) - col("q_present"))).as("chi2"),
        ((col("sum_t") + (lit(1.0) - col("q_present"))) / lit(2.0) >= DriftTvdThreshold).as("drifted"))
  }

  val distDriftSql: String =
    s"""
    WITH b AS (SELECT source, n_chars // $DriftBinChars AS bin FROM documents),
    s AS (SELECT source, bin, count(*) AS n_s_bin FROM b GROUP BY 1, 2),
    g AS (SELECT bin, CAST(sum(n_s_bin) AS BIGINT) AS n_g FROM s GROUP BY 1),
    t AS (SELECT CAST(sum(n_s_bin) AS BIGINT) AS n_total FROM s),
    st AS (SELECT source, CAST(sum(n_s_bin) AS BIGINT) AS n_s FROM s GROUP BY 1),
    j AS (
      SELECT s.source, s.n_s_bin, st.n_s,
             CAST(s.n_s_bin AS DOUBLE) / CAST(st.n_s AS DOUBLE) AS p,
             CAST(g.n_g AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS q,
             (CAST(g.n_g AS DOUBLE) / CAST(t.n_total AS DOUBLE)) * CAST(st.n_s AS DOUBLE) AS e
      FROM s JOIN st USING (source) JOIN g USING (bin) CROSS JOIN t
    ),
    agg AS (
      SELECT source, max(n_s) AS n_docs, count(*) AS n_bins,
             CAST(CAST(sum(CAST(abs(p - q) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_t,
             CAST(CAST(sum(CAST((CAST(n_s_bin AS DOUBLE) - e) * (CAST(n_s_bin AS DOUBLE) - e) / e
               AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_c,
             CAST(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS q_present
      FROM j GROUP BY 1
    )
    SELECT source, n_docs, n_bins,
           (sum_t + (CAST(1 AS DOUBLE) - q_present)) / CAST(2 AS DOUBLE) AS tvd,
           sum_c + CAST(n_docs AS DOUBLE) * (CAST(1 AS DOUBLE) - q_present) AS chi2,
           (sum_t + (CAST(1 AS DOUBLE) - q_present)) / CAST(2 AS DOUBLE)
             >= CAST('$DriftTvdThreshold' AS DOUBLE) AS drifted
    FROM agg"""
}
