package graft.sources

import org.apache.spark.sql.SparkSession

/** Shared managed-table hygiene for the persisted index writers.
  *
  * With the default in-memory catalog, a managed table's WAREHOUSE
  * DIRECTORY outlives the session that wrote it while the catalog
  * entry does not — so a fresh JVM overwriting the "same" table sees
  * `LOCATION_ALREADY_EXISTS` (the catalog has nothing to overwrite,
  * but the location is occupied by the previous run's files). An
  * overwrite-mode index write must therefore clear BOTH: the catalog
  * entry if present, and the stale location if orphaned. (A Hive
  * metastore deployment does not hit this — the catalog entry
  * persists with the files — but the library must be safe under the
  * default catalog the driver contract runs with.)
  */
private[graft] object TableUtil {

  /** Drop `table` from the catalog and delete its default warehouse
    * location if the directory exists (orphaned by a previous JVM).
    */
  def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = new java.io.File(warehouse, table.toLowerCase(java.util.Locale.ROOT))
    if (loc.exists()) deleteRecursively(loc)
  }

  /** Read a bucketed table's parquet files RAW — same rows, but the
    * scan carries NO bucket-partitioning claim. Compaction ([[
    * EstateIndex.merge]]) must read its inputs this
    * way: Spark 4.1's UnionExec propagates compatible children
    * bucket-partitioning, yet executes a concatenating union — a
    * clustering-requiring operator (aggregate, window) planned over a
    * union of identically-bucketed scans then gets NO exchange (an
    * explicit repartition is even elided as redundant), and same-key
    * rows from different snapshots never meet: duplicate groups,
    * per-snapshot ranks (IndexMergeSpec caught the duplicate groups).
    * A raw file scan makes no partitioning claim, so the normal
    * exchange is planned and the merge pays exactly the one
    * co-locating shuffle it budgets.
    */
  def rawTable(spark: SparkSession, table: String): org.apache.spark.sql.DataFrame = {
    val meta = metadata(spark, table)
    // the catalog schema, not inference: an EMPTY snapshot lane (a
    // crawl that matched nothing) has a location with no parquet files,
    // and schema inference would fail where the catalog knows the shape
    spark.read.schema(meta.schema).parquet(meta.location.toString)
  }

  private def metadata(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** `table` qualified by its catalog creation time — a memo key for a
    * derivation of the table's contents. Every index write drops and
    * re-creates its table, so a rewrite under the same name is a new
    * key and never reads the dropped table's derivation.
    */
  def tableVersion(spark: SparkSession, table: String): String =
    s"$table@${metadata(spark, table).createTime}"

  /** The over-cap (hot) bucket keys of a persisted index table — the
    * gate legs' stop-loss anti-join build side — materialized ONCE per
    * (application, table version, cap) and checkpointed: the hot set is a
    * static derivation of a static table, and deriving it inside the
    * per-trigger plan re-aggregated the whole index EVERY trigger
    * (measured +2.6 s/trigger at the 5M-doc estate — more than the
    * candidates it saved). The relation is ≤ rows/cap keys by
    * construction and usually near-empty; cold cost lands in the
    * bench `artifacts` map via the Memo build log.
    */
  def hotBuckets(spark: SparkSession, table: String, keys: Seq[String],
      cap: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    hotBucketsMemo(spark, tableVersion(spark, table), s"${keys.mkString(",")}|$cap")(
      spark.table(table)
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .filter(col("c") > cap)
        .select(keys.map(col): _*))
  }

  // one entry per (dataset, family) index table a session gates against
  private val hotBucketsMemo =
    graft.core.Memo[org.apache.spark.sql.DataFrame]("gate_hot_buckets", maxEntries = 8)

  /** Delete a filesystem path recursively (no catalog interaction). */
  def deletePath(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) deleteRecursively(f)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }
}
