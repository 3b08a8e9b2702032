package graft.pipeline

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.queries.Tables

/** MLlib-based anomaly scoring: fit KMeans over the embeddings and
  * score each vector by its distance to the nearest centroid — points
  * far from every cluster are model-based anomalies (the
  * "Structured Streaming + MLlib anomaly detection" leg of the
  * BASELINE.json approach; complements the z-score statistical path).
  *
  * The iterative fit is not SQL-expressible, but the scoring given the
  * fitted centroids is: the fit freezes its centers into
  * [[kmeansAnomalyOracleSql]] as exact literals, so the
  * distance-to-nearest-centroid scoring is fully oracle-gated in DuckDB
  * (seed fixed, and `Verify` dumps oracle_sql.json only after running
  * the query, so the SQL always carries the centroids of the very fit
  * that produced the parquet under compare).
  *
  * Scale notes: KMeans fit is Spark-parallel (one pass per iteration,
  * tree-aggregated); scoring is a per-row map against broadcast
  * centroids. At 100 TB you fit on a sample and score the full stream —
  * the scoring stage here is exactly that shape.
  */
object MlAnomaly {

  /** Number of clusters in the anomaly-scoring fit. */
  val K = 8

  /** Centroids of the most recent [[kmeansAnomaly]] fit (see scaladoc
    * above for the frozen-centroid oracle contract).
    */
  private val fits = graft.core.Memo.fits[IndexedSeq[Array[Double]]]("kmeans_anomaly_fit")

  /** DuckDB oracle for q_kmeans_anomaly, available once
    * [[kmeansAnomaly]] has run in this JVM (None → rows-only check).
    * Mirrors the codegen'd scoring exactly: per-cluster
    * `sqrt(greatest((xx - 2·x.c) + |c|², 0))` with the same left-fold
    * dot products and the same (dist, cluster) argmin tie-break.
    * Keyed by dataset dir; refuses to render after fits on two datasets
    * (one dump cannot gate two datasets' parquet).
    */
  def kmeansAnomalyOracleSql: Option[String] = {
    FrozenFit.single(fits, "KMeans centroids").map { centers =>
    import graft.pipeline.Similarity.{centroidValuesSql, dotCvSql, dotSql}
    s"""
    WITH cents(cluster, cc, cv) AS (VALUES
      ${centroidValuesSql(centers)}),
    e AS (
      SELECT vec_id, label, embedding, ${dotSql("embedding", "embedding")} AS xx
      FROM embeddings
    ),
    ranked AS (
      SELECT vec_id, label, cluster, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster ASC) AS rk
      FROM (
        SELECT e.vec_id, e.label, c.cluster,
               sqrt(greatest((e.xx - CAST(2 AS DOUBLE) * ${dotCvSql("e.embedding", "c.cv")}) + c.cc,
                             CAST(0 AS DOUBLE))) AS dist
        FROM e CROSS JOIN cents c
      )
    )
    SELECT vec_id, label, cluster, round(dist, 3) AS dist FROM ranked WHERE rk = 1"""
    }
  }

  /** (vec_id, cluster, round(dist, 3), label) with each vector scored
    * by its nearest centroid.
    *
    * The scoring stage is fully codegen'd — no UDF, no MLlib transform:
    * each centroid becomes a literal array and
    * `dist_i^2 = |x|^2 - 2 x.c_i + |c_i|^2` uses the native
    * [[graft.functions.VectorFunctions.dotProduct]] expression (|c_i|^2
    * precomputed on the driver); the nearest cluster is `array_min`
    * over (dist, idx) structs, which breaks ties on the lower index
    * exactly like MLlib's first-minimum argmin.
    */
  def kmeansAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.embeddings(spark, sfDir)
    // fit memoized per dataset (seed-fixed, deterministic — same as the
    // IVF/PCA/BPE fits): repeated invocations time the codegen scoring,
    // not a redundant refit
    val centers = fits(spark, sfDir) {
      val fitInput = raw.select(col("vec_id"), col("label"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
      new KMeans().setK(K).setSeed(42L).setMaxIter(20).setFeaturesCol("features")
        .fit(fitInput).clusterCenters.map(_.toArray).toIndexedSeq
    }
    val x = col("embedding").cast("array<double>")
    val xx = VectorFunctions.dotProduct(x, x)
    val candidates = array(centers.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      val cc = c.map(v => v * v).sum
      val dist2 = xx - lit(2.0) * VectorFunctions.dotProduct(x, typedLit(c.toSeq)) + lit(cc)
      // sqrt(greatest(.., 0)): the expansion can go epsilon-negative
      struct(sqrt(greatest(dist2, lit(0.0))).as("dist"), lit(i).as("cluster"))
    }: _*)
    raw.withColumn("best", array_min(candidates))
      .select(
        col("vec_id"), col("label"),
        col("best.cluster").as("cluster"),
        round(col("best.dist"), 3).as("dist"),
      )
  }
}
