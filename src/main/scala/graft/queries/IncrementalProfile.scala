package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Memo

/** INCREMENTAL profiling — the estate profile that never re-scans
  * history. [[ProfileQueries.profileApprox]] is the 100 TB single-pass
  * form of the pre-training sanity report, but it is still a
  * whole-corpus pass per run: every nightly profile re-reads every
  * crawl. The metrics it computes are all MERGEABLE — counts and
  * null counts sum, min/max fold, and the distinct estimator is a KMV
  * sketch ([[graft.functions.KmvSketch]]) whose merge (set union +
  * trim to the k smallest) is exactly its own update rule — so the
  * right estate shape is the same split the curation layer uses
  * ([[graft.pipeline.IncrementalCurate]]): per-snapshot PROFILE STATE
  * built once per crawl ever, and a nightly assembly that folds N
  * tiny state relations (6 rows × ~40 bytes + ≤K longs each per
  * snapshot) without touching a single raw row.
  *
  * Bit-exactness of the merge is a theorem, not a tolerance: the k
  * smallest distinct hashes of A ∪ B equal the k smallest distinct
  * values of (k smallest of A) ∪ (k smallest of B) whenever each side
  * keeps min(k, all) of its own — so the merged estimate is IDENTICAL
  * to the single-pass estimate, and `q_profile_incremental` is gated
  * by the very same full-recompute DuckDB oracle as
  * `q_profile_approx`. IncrementalProfileSpec asserts the assembled
  * plan contains no events scan once the states exist.
  *
  * The same states power `q_profile_drift`: the cross-crawl schema /
  * distribution regression gate (null-rate shift, distinct-cardinality
  * ratio, range expansion per column) — the report that catches "crawl
  * B's extractor broke a field" BEFORE the crawl is admitted, at
  * state-read cost.
  */
object IncrementalProfile {

  import SketchQueries.{Domain, KmvK}

  private val numeric = Seq("event_id", "user_id", "value", "ts_us")
  private val strings = Seq("event_type", "props")

  /** Per-snapshot profile state: one row per profiled column —
    * row/value counts, numeric and string extrema, and the KMV sketch
    * (ascending ≤K smallest distinct md5-derived hashes) of the
    * column's cross-engine exact string repr (the
    * [[ProfileQueries.profileApprox]] repr rules). One raw scan per
    * snapshot, ever; the scalar leg is a single wide aggregation and
    * the sketch leg one bounded-state hash agg.
    */
  private[graft] def stateOf(snapshot: DataFrame): DataFrame = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val ev = snapshot.withColumn("ts_us", expr("unix_micros(ts)"))
    val aggs = (numeric ++ strings).flatMap { c =>
      Seq(count(col(c)).as(s"${c}__cnt")) ++ (if (numeric.contains(c))
        Seq(min(col(c)).cast("double").as(s"${c}__min"),
          max(col(c)).cast("double").as(s"${c}__max"))
      else
        Seq(min(col(c)).as(s"${c}__smin"), max(col(c)).as(s"${c}__smax")))
    }
    val row = ev.agg(count(lit(1)).as("n_rows"), aggs: _*).collect().head
    val n = row.getAs[Long]("n_rows")
    val base = (numeric ++ strings).map { c =>
      val cnt = row.getAs[Long](s"${c}__cnt")
      def numAt(f: String): Option[Double] = {
        val i = row.fieldIndex(f)
        if (row.isNullAt(i)) None else Some(row.getDouble(i))
      }
      val (mn, mx) = if (numeric.contains(c))
        (numAt(s"${c}__min"), numAt(s"${c}__max"))
      else (None, None)
      val (smn, smx) = if (strings.contains(c))
        (Option(row.getAs[String](s"${c}__smin")), Option(row.getAs[String](s"${c}__smax")))
      else (None, None)
      (c, n, cnt, mn, mx, smn, smx)
    }.toDF("col_name", "n_rows", "cnt", "min_num", "max_num", "min_str", "max_str")

    val repr = map(
      lit("event_id"), col("event_id").cast("string"),
      lit("user_id"), col("user_id").cast("string"),
      lit("ts_us"), col("ts_us").cast("string"),
      lit("event_type"), col("event_type"),
      lit("props"), col("props"),
      lit("value"), (col("value").cast("decimal(18,6)") * lit(1000000)).cast("long").cast("string"),
    )
    val pairs = ev.select(explode(repr).as(Seq("col_name", "s")))
      .filter(col("s").isNotNull)
    val hv = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
    val tops = pairs
      .select(col("col_name"), hv.as("hv"))
      .groupBy(col("col_name"))
      .agg(graft.functions.KmvAggregates.kmvSketch(col("hv"), KmvK).as("top"))
    // LEFT join: a fully-null column has no hashes but the state must
    // still carry its (all-null) scalar row — the profile's whole job
    base.join(broadcast(tops), Seq("col_name"), "left")
  }

  private val stateMemoA = Memo[DataFrame]("profile_state_a")
  private val stateMemoB = Memo[DataFrame]("profile_state_b")

  /** Snapshot A's state (even event ids — the historical estate). */
  private[queries] def stateA(spark: SparkSession, sfDir: String): DataFrame =
    stateMemoA(spark, sfDir)(
      stateOf(Tables.events(spark, sfDir)
        .filter(coalesce(pmod(col("event_id"), lit(2)), lit(1L)) === 0)))

  /** Snapshot B's state (odd or null event ids — the arriving crawl;
    * the coalesce keeps A ∪ B == the whole table even for null ids).
    */
  private[queries] def stateB(spark: SparkSession, sfDir: String): DataFrame =
    stateMemoB(spark, sfDir)(
      stateOf(Tables.events(spark, sfDir)
        .filter(coalesce(pmod(col("event_id"), lit(2)), lit(1L)) =!= 0)))

  private def kmvEstimate(nk: Column, kth: Column): Column =
    coalesce(
      round(
        when(nk < KmvK, nk.cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(Domain) / kth.cast("double")),
        6),
      lit(0.0))

  /** q_profile_incremental: the [[ProfileQueries.profileApprox]]
    * report assembled from the two snapshot states — identical output
    * (same DuckDB oracle, hash-gated) with the nightly pass reading
    * only 12 state rows. All-narrow: scalar metrics fold in one
    * 12-row hash agg; sketches re-enter the SAME bounded
    * [[graft.functions.KmvSketch]] aggregate (merge == update), ≤2K
    * hashes per column in flight.
    */
  def profileIncremental(spark: SparkSession, sfDir: String): DataFrame =
    profileOfStates(stateA(spark, sfDir).unionByName(stateB(spark, sfDir)))

  /** The estate profile over ANY union of per-snapshot states (two
    * memoized halves here; N persisted crawls via
    * [[graft.sources.ProfileStateStore]]) — the fold is
    * snapshot-count-agnostic because every metric merges pairwise-
    * associatively.
    */
  private[graft] def profileOfStates(s: DataFrame): DataFrame = {
    val scalars = s.groupBy(col("col_name")).agg(
      sum(col("n_rows")).as("n_rows"),
      sum(col("cnt")).as("cnt"),
      min(col("min_num")).as("min_num"),
      max(col("max_num")).as("max_num"),
      min(col("min_str")).as("min_str"),
      max(col("max_str")).as("max_str"))
    val merged = s.filter(col("top").isNotNull)
      .select(col("col_name"), explode(col("top")).as("hv"))
      .groupBy(col("col_name"))
      .agg(graft.functions.KmvAggregates.kmvSketch(col("hv"), KmvK).as("top"))
      .select(col("col_name"),
        element_at(col("top"), -1).as("kth_hash"),
        size(col("top")).cast("long").as("nk"))
    scalars.join(broadcast(merged), Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("cnt")).as("n_null"),
        kmvEstimate(col("nk"), col("kth_hash")).as("n_distinct_kmv"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"),
        (col("n_rows") - col("cnt") === 0L).as("is_complete"))
  }

  /** The from-raw oracle is profileApprox's own — merged state must
    * equal the single pass bit-for-bit.
    */
  val profileIncrementalSql: String = ProfileQueries.profileApproxSql

  // ---- q_profile_drift -------------------------------------------------

  /** q_profile_drift: the cross-crawl profile regression gate — for
    * each column, history (A) vs the arriving crawl (B): null-rate
    * shift, KMV distinct-cardinality ratio, and numeric range
    * expansion, with a composed `drifted` verdict. Reads ONLY the two
    * persisted states (12 rows); no raw scan. Thresholds: null-rate
    * shift > 0.05 absolute, distinct ratio outside [0.5, 2.0], or any
    * range expansion on a numeric column.
    *
    * Doubles are quotients of exact BIGINTs (or the shared rounded KMV
    * estimates), rounded to 6 — cross-engine stable, so the gate is
    * hash-gated like everything else.
    */
  def profileDrift(spark: SparkSession, sfDir: String): DataFrame =
    driftOf(stateA(spark, sfDir), stateB(spark, sfDir))

  /** The drift assembly over two state relations (the spec seam —
    * planted states drive the thresholds directly).
    */
  private[graft] def driftOf(stA: DataFrame, stB: DataFrame): DataFrame = {
    def leg(st: DataFrame, tag: String): DataFrame =
      st.select(col("col_name"),
        round((col("n_rows") - col("cnt")).cast("double") / col("n_rows").cast("double"), 6)
          .as(s"null_rate_$tag"),
        kmvEstimate(
          when(col("top").isNotNull, size(col("top")).cast("long")),
          element_at(col("top"), -1)).as(s"nd_kmv_$tag"),
        col("min_num").as(s"min_num_$tag"),
        col("max_num").as(s"max_num_$tag"))
    val a = leg(stA, "a")
    val b = leg(stB, "b")
    // zero-guarded ratio: a fully-null column in history has
    // nd_kmv_a = 0.0 (the kmvEstimate coalesce), and an IEEE division
    // there would disagree across engines (Spark NULL-or-inf vs DuckDB
    // inf). Both-dead -> 1.0 (no cardinality drift); dead column come
    // alive -> 0-denominator sentinel NULL with drift flagged
    // EXPLICITLY below, so `drifted` is always a concrete boolean.
    val ratio = when(col("nd_kmv_a") === 0.0 && col("nd_kmv_b") === 0.0, lit(1.0))
      .when(col("nd_kmv_a") > 0.0, round(col("nd_kmv_b") / col("nd_kmv_a"), 6))
    val ratioDrift = when(col("nd_kmv_a") === 0.0, col("nd_kmv_b") > 0.0)
      .otherwise(ratio < 0.5 || ratio > 2.0)
    val nullShift = round(abs(col("null_rate_b") - col("null_rate_a")), 6)
    val newMin = coalesce(col("min_num_b") < col("min_num_a"), lit(false))
    val newMax = coalesce(col("max_num_b") > col("max_num_a"), lit(false))
    a.join(b, Seq("col_name"))
      .select(col("col_name"),
        col("null_rate_a"), col("null_rate_b"), nullShift.as("null_shift"),
        col("nd_kmv_a"), col("nd_kmv_b"), ratio.as("nd_ratio"),
        newMin.as("new_min"), newMax.as("new_max"),
        (nullShift > 0.05 || ratioDrift || newMin || newMax)
          .as("drifted"))
  }

  /** DuckDB oracle: both snapshots' metrics recomputed from the raw
    * events table (same parity split, same KMV pipeline, same
    * thresholds).
    */
  val profileDriftSql: String = {
    def legSql(tag: String): String =
      s"""
    pairs_$tag AS (
      SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS s FROM ev_$tag WHERE event_id IS NOT NULL
      UNION ALL
      SELECT 'user_id', CAST(user_id AS VARCHAR) FROM ev_$tag WHERE user_id IS NOT NULL
      UNION ALL
      SELECT 'ts_us', CAST(epoch_us(ts) AS VARCHAR) FROM ev_$tag WHERE ts IS NOT NULL
      UNION ALL
      SELECT 'event_type', event_type FROM ev_$tag WHERE event_type IS NOT NULL
      UNION ALL
      SELECT 'props', props FROM ev_$tag WHERE props IS NOT NULL
      UNION ALL
      SELECT 'value', CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS VARCHAR)
      FROM ev_$tag WHERE value IS NOT NULL
    ),
    h_$tag AS (SELECT DISTINCT col_name, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hv FROM pairs_$tag),
    r_$tag AS (SELECT col_name, hv, row_number() OVER (PARTITION BY col_name ORDER BY hv) AS rn FROM h_$tag),
    kth_$tag AS (SELECT col_name, max(hv) AS kth_hash, count(*) AS nk FROM r_$tag WHERE rn <= $KmvK GROUP BY 1),
    m_$tag AS (
      SELECT count(*) AS n_rows,
             count(event_id) AS event_id__cnt,
             CAST(min(event_id) AS DOUBLE) AS event_id__min, CAST(max(event_id) AS DOUBLE) AS event_id__max,
             count(user_id) AS user_id__cnt,
             CAST(min(user_id) AS DOUBLE) AS user_id__min, CAST(max(user_id) AS DOUBLE) AS user_id__max,
             count(value) AS value__cnt,
             CAST(min(value) AS DOUBLE) AS value__min, CAST(max(value) AS DOUBLE) AS value__max,
             count(epoch_us(ts)) AS ts_us__cnt,
             CAST(min(epoch_us(ts)) AS DOUBLE) AS ts_us__min, CAST(max(epoch_us(ts)) AS DOUBLE) AS ts_us__max,
             count(event_type) AS event_type__cnt,
             count(props) AS props__cnt
      FROM ev_$tag
    ),
    percol_$tag AS (
      SELECT 'event_id' AS col_name, n_rows, event_id__cnt AS cnt, event_id__min AS min_num, event_id__max AS max_num FROM m_$tag
      UNION ALL
      SELECT 'user_id', n_rows, user_id__cnt, user_id__min, user_id__max FROM m_$tag
      UNION ALL
      SELECT 'value', n_rows, value__cnt, value__min, value__max FROM m_$tag
      UNION ALL
      SELECT 'ts_us', n_rows, ts_us__cnt, ts_us__min, ts_us__max FROM m_$tag
      UNION ALL
      SELECT 'event_type', n_rows, event_type__cnt, NULL, NULL FROM m_$tag
      UNION ALL
      SELECT 'props', n_rows, props__cnt, NULL, NULL FROM m_$tag
    ),
    leg_$tag AS (
      SELECT p.col_name,
             round(CAST(p.n_rows - p.cnt AS DOUBLE) / CAST(p.n_rows AS DOUBLE), 6) AS null_rate_$tag,
             coalesce(round(CASE WHEN k.nk < $KmvK THEN CAST(k.nk AS DOUBLE)
                        ELSE ${KmvK - 1}.0 * $Domain / CAST(k.kth_hash AS DOUBLE) END, 6),
                      CAST(0 AS DOUBLE)) AS nd_kmv_$tag,
             p.min_num AS min_num_$tag, p.max_num AS max_num_$tag
      FROM percol_$tag p LEFT JOIN kth_$tag k ON p.col_name = k.col_name
    )"""
    s"""
    WITH ev_a AS (SELECT * FROM events WHERE coalesce(event_id % 2, 1) = 0),
    ev_b AS (SELECT * FROM events WHERE coalesce(event_id % 2, 1) != 0),
    ${legSql("a")},
    ${legSql("b")}
    SELECT a.col_name, a.null_rate_a, b.null_rate_b,
           round(abs(b.null_rate_b - a.null_rate_a), 6) AS null_shift,
           a.nd_kmv_a, b.nd_kmv_b,
           CASE WHEN a.nd_kmv_a = 0 AND b.nd_kmv_b = 0 THEN 1.0
                WHEN a.nd_kmv_a > 0 THEN round(b.nd_kmv_b / a.nd_kmv_a, 6)
           END AS nd_ratio,
           coalesce(b.min_num_b < a.min_num_a, false) AS new_min,
           coalesce(b.max_num_b > a.max_num_a, false) AS new_max,
           (round(abs(b.null_rate_b - a.null_rate_a), 6) > 0.05
            OR (CASE WHEN a.nd_kmv_a = 0 THEN b.nd_kmv_b > 0
                     ELSE round(b.nd_kmv_b / a.nd_kmv_a, 6) < 0.5
                          OR round(b.nd_kmv_b / a.nd_kmv_a, 6) > 2.0 END)
            OR coalesce(b.min_num_b < a.min_num_a, false)
            OR coalesce(b.max_num_b > a.max_num_a, false)) AS drifted
    FROM leg_a a JOIN leg_b b ON a.col_name = b.col_name"""
  }
}
