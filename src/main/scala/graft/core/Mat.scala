package graft.core

import org.apache.spark.sql.DataFrame

/** Materialization boundary for multi-consumer intermediates.
  *
  * Every batch operator that derives an expensive relation once and
  * reads it from several branches needs a boundary so the subplan does
  * not re-execute per consumer. A bare `.persist()` gives that boundary
  * but LEAKS outside the Bench/Verify harness: the cache is registered
  * in the session's CacheManager and survives until an explicit
  * `unpersist`/`clearCache`, so a library caller composing these
  * operators accumulates dead caches for the life of the session. An
  * eager `localCheckpoint` is the self-releasing form — the
  * materialized blocks are tied to the checkpointed RDD and the
  * ContextCleaner frees them as soon as the relation is
  * garbage-collected, no harness discipline required. (At cluster
  * scale the equivalent move is writing the intermediate to storage
  * once and reading it back; executor loss mid-query is the accepted
  * trade, as with every localCheckpoint in this engine.)
  *
  * Per-dataset artifacts do not call this boundary: [[Memo]]
  * materializes every entry it builds. `Mat` is the per-call form, for
  * a relation one query derives and reads from several branches.
  *
  * [[withTransparent]] is a test seam for the plan guards only:
  * PlanSpec asserts properties of subplans (codegen expressions,
  * window partitioning) that an eager checkpoint hides behind an RDD
  * scan, so those tests build the plan inside the seam, inspect the
  * full logical tree, and the boundary is restored on exit. The seam
  * is THREAD-CONFINED (a DynamicVariable, not a process global):
  * under parallel test execution or concurrent plan construction, one
  * thread's transparent window can never leak into another thread's
  * plans. [[Jobs.concurrently]], which fans plan construction out to
  * worker threads, captures the current value and re-scopes it on the
  * workers; both the seam and its reads stay inside `core`. Inside the
  * seam a memo returns its build as built (see [[Memo]]). Production
  * and the driver contract always run with the boundary on.
  */
object Mat {
  private val transparentVar = new scala.util.DynamicVariable[Boolean](false)

  /** Whether the current THREAD is inside a transparent window. */
  private[core] def isTransparent: Boolean = transparentVar.value

  /** Run `body` with the boundary flipped to identity (or explicitly
    * re-scoped, for propagating a captured value onto a worker
    * thread) for the current thread only.
    */
  private[graft] def withTransparent[T](on: Boolean = true)(body: => T): T =
    transparentVar.withValue(on)(body)

  def apply(df: DataFrame): DataFrame =
    if (transparentVar.value) df else df.localCheckpoint(eager = true)

  /** Re-layout an ALREADY-materialized checkpoint to a SIZE-derived
    * partition count (guide §2: right-size partitions to data, not to
    * cores). Builds run at their full parallelism and materialize
    * wide; when the artifact turns out small (bytes per partition well
    * under `bytesPerPartition`), it is re-checkpointed coalesced to
    * ceil(bytes / bytesPerPartition) partitions and the wide blocks
    * are released — so every later consumer of a megabyte-scale memo
    * launches a handful of scan tasks instead of one per build core
    * (round-17 measurement: q_dedup_simhash64's 2 MB band relation
    * pinned 32 partitions; consumers read 0.54 s at 32 cores vs
    * 0.27 s at 8 — the re-layout brought 32 cores to 0.28 s and the
    * 8c/32c ratio from 0.49 to ~1). A genuinely large artifact (real
    * input splits at 100 TB) fails the size test and keeps its wide
    * layout — nothing is tuned to the local core count. Only applies
    * to a pure checkpoint leaf; anything else passes through.
    */
  private[core] def rightSizeStored(df: DataFrame,
      bytesPerPartition: Long = 8L << 20): DataFrame = {
    if (!isCheckpointLeaf(df)) return df
    val ids = rddIdsOf(df)
    if (ids.isEmpty) return df
    val bytes = df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    val parts = try df.rdd.getNumPartitions catch { case _: Throwable => return df }
    val target = math.max(1L, math.min(parts.toLong,
      (bytes + bytesPerPartition - 1) / bytesPerPartition)).toInt
    // only worth a second pass when the layout is GROSSLY oversized
    if (bytes == 0L || target * 2 >= parts) df
    else
      // the wide blocks are NOT eagerly unpersisted: a build may still
      // hold (and read) the wide handle, and an unpersisted local
      // checkpoint is unrecoverable. Dropping the reference is enough —
      // the ContextCleaner releases the blocks once the wide relation
      // is garbage-collected, the same self-releasing contract as
      // [[apply]].
      df.coalesce(target).localCheckpoint(eager = true)
  }

  /** Whether `df` is a checkpoint leaf: its analyzed plan is one RDD
    * scan (what an eager `localCheckpoint` returns).
    */
  private def isCheckpointLeaf(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** `df` eagerly checkpointed, or `df` itself when it already is a
    * checkpoint leaf (a relation is never checkpointed twice). The
    * memo's materialization step.
    */
  private[core] def checkpointed(df: DataFrame): DataFrame =
    if (isCheckpointLeaf(df)) df else df.localCheckpoint(eager = true)

  private def rddIdsOf(df: DataFrame): Set[Int] =
    try df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    catch { case _: Throwable => Set.empty }

  /** Postfix form: `relation.mat` reads like `.persist()` at the call
    * site but is self-releasing (see the object doc).
    */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def mat: DataFrame = Mat(df)
  }
}
