package graft.core

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one cache for per-dataset artifacts: materialized DataFrames
  * (keep list, cluster pair graph, component labels, corpus
  * signatures, passage spans, ...), scalar snapshot anchors (max/min
  * ts, row counts), persisted-table names, frozen fits, and tuples of
  * those. Every consumer writes `memo(spark, sfDir) { build }` with a
  * plain, lazy build; the memo forms the per-(application, dataset)
  * key itself, and a `variant` discriminates the artifacts one
  * dataset has several of (a band width, a posting cap, a key set).
  *
  * Contracts:
  *
  *  - '''Materialized here.''' Every DataFrame a built value holds —
  *    the value itself, or a component of a pair or triple — is
  *    eagerly `localCheckpoint`ed unless it already is a checkpoint
  *    leaf, then re-laid to a size-derived partition count
  *    ([[Mat.rightSizeStored]]). A build checkpoints inside itself
  *    only where the checkpoint guards a resource it releases
  *    afterwards (a broadcast destroyed on exit), or for one part of
  *    a tuple it computes from.
  *  - '''Optionally on disk.''' A [[Memo.persisted]] memo also keeps
  *    each built relation across JVMs in its private disk tier
  *    ([[DatasetStore]]), under the store name `name`, or
  *    `name_variant` for a variant. [[Memo.releaseAll]] drops the
  *    in-memory entry and leaves the store, so the next lookup reads
  *    it back instead of re-deriving it.
  *  - '''Bounded.''' Entries are LRU-evicted past [[maxEntries]], and
  *    eviction RELEASES every checkpoint the evicted value holds
  *    (best-effort unpersist of the checkpointed RDDs, then the strong
  *    reference drops so the ContextCleaner can finish the job). A
  *    long-lived session touching many datasets does not accumulate
  *    pinned block-manager storage without bound.
  *  - '''Timed.''' Each build's wall-clock, checkpoint and store
  *    included, lands in a process-wide registry ([[Memo.buildLog]]),
  *    so the bench reports the COLD construction cost of every
  *    artifact explicitly instead of folding it into the first
  *    consumer's first run.
  *  - '''Releasable.''' [[Memo.releaseAll]] is the public "done with
  *    these datasets" path: it drops every entry of every memo —
  *    scalars and fits included — so a dataset rewritten in place is
  *    re-derived from its new contents (a stored relation by its file
  *    signature). It is also the test seam.
  *  - '''Not transparent.''' A build inside [[Mat.withTransparent]]
  *    is returned as built: neither cached, checkpointed nor stored.
  *    The plan-inspection seam must see the full operator tree, and an
  *    un-materialized plan must never be served to a later production
  *    call.
  *
  * A checkpoint held by a value is released with its entry and
  * counted by [[Memo.storageBytes]].
  *
  * Builds are serialized per memo (a concurrent build of the same
  * entry would run the expensive work twice and leak the loser's
  * checkpoint); distinct memos build concurrently.
  */
final class Memo[V] private (val name: String, val maxEntries: Int, perApplication: Boolean,
    storeVersion: Option[String] = None) {
  Memo.register(this)

  // LinkedHashMap in access order via explicit re-insertion: last = MRU
  private val entries = mutable.LinkedHashMap.empty[String, V]

  def apply(spark: SparkSession, dataset: String, variant: String = "")(build: => V): V =
    if (Mat.isTransparent) build
    else synchronized {
      val base = if (perApplication) s"${spark.sparkContext.applicationId}|$dataset" else dataset
      val key = if (variant.isEmpty) base else s"$base|$variant"
      entries.remove(key) match {
        case Some(v) =>
          entries.put(key, v) // refresh recency
          v
        case None =>
          val t0 = System.nanoTime()
          val built = storeVersion match {
            case Some(version) =>
              val store = if (variant.isEmpty) name else s"${name}_$variant"
              DatasetStore.persisted(spark, dataset, store, version)(
                build.asInstanceOf[DataFrame]).asInstanceOf[V]
            case None => build
          }
          // checkpoint, then a size-derived storage layout: a small
          // artifact built 32-wide must not pin one scan task per build
          // core for every later consumer; both passes are part of the
          // timed cold build
          val v = Memo.mapFrames(built)(df => Mat.rightSizeStored(Mat.checkpointed(df)))
            .asInstanceOf[V]
          Memo.logBuild(name, key, (System.nanoTime() - t0) / 1e9)
          entries.put(key, v)
          while (entries.size > maxEntries) {
            val (k, evicted) = entries.head
            entries.remove(k)
            Memo.release(evicted)
          }
          v
      }
    }

  /** Drop (and release) every entry. */
  def clear(): Unit = synchronized {
    entries.valuesIterator.foreach(Memo.release)
    entries.clear()
  }

  /** Key → value of every entry (a fit memo's keys are its datasets). */
  private[graft] def snapshot: Map[String, V] = synchronized(entries.toMap)

  private def size: Int = synchronized(entries.size)

  /** Ids of the checkpointed RDDs currently pinned by this memo's
    * entries (the blocks [[Memo.storageBytes]] attributes to the memo
    * estate).
    */
  private def rddIds: Set[Int] = synchronized {
    entries.valuesIterator.flatMap(Memo.checkpointRdds).map(_.id).toSet
  }
}

object Memo {
  private val all = TrieMap.empty[String, Memo[_]]

  /** (memo name, entry key, seconds) per build, in build order. */
  private val builds = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double)]
  private val buildsTotal = new java.util.concurrent.atomic.AtomicLong

  /** A per-(application, dataset) memo holding at most `maxEntries`
    * entries.
    */
  def apply[V](name: String, maxEntries: Int = 4): Memo[V] =
    new Memo[V](name, maxEntries, perApplication = true)

  /** A per-(application, dataset) DataFrame memo whose entries are
    * also stored on disk per dataset ([[DatasetStore]]), under the
    * store name `name`, or `name_variant` for a variant. `version` is
    * the derivation's fingerprint: bump it whenever the build's code
    * or constants change, and every stored copy rebuilds. Only
    * relations that are deterministic functions of the dataset's
    * files may be persisted.
    */
  def persisted(name: String, version: String, maxEntries: Int = 4): Memo[DataFrame] =
    new Memo[DataFrame](name, maxEntries, perApplication = true, Some(version))

  /** A frozen-fit memo: keyed by the dataset alone (one dataset fitted
    * under two sessions is still one fit) and never evicting, so
    * [[graft.pipeline.FrozenFit.single]] sees every dataset fitted in
    * this JVM.
    */
  def fits[V](name: String): Memo[V] =
    new Memo[V](name, Int.MaxValue, perApplication = false)

  private def register(m: Memo[_]): Unit =
    require(all.putIfAbsent(m.name, m).isEmpty,
      s"a memo named ${m.name} is already registered; a second one would hide " +
        "the first from releaseAll and storageBytes")

  private def logBuild(name: String, key: String, sec: Double): Unit = {
    builds.add((name, key, sec))
    buildsTotal.incrementAndGet()
  }

  /** Snapshot of every build since [[resetLog]]: memo name → seconds
    * (latest build wins when a memo built more than once — one dataset
    * per bench run, so this is the cold construction cost map).
    */
  def buildLog: Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    builds.forEach { case (n, _, s) => out.put(n, s) }
    out.toMap
  }

  def resetLog(): Unit = builds.clear()

  /** Builds since the JVM started (not reset by [[resetLog]]). */
  def buildCount: Long = buildsTotal.get()

  /** Entries currently held across every memo. */
  def entryCount: Int = all.values.map(_.size).sum

  /** Release every entry of every memo — the library caller's "done
    * with these datasets" hook.
    */
  def releaseAll(): Unit = all.values.foreach(_.clear())

  /** Block-manager bytes (memory + disk) currently pinned by memo
    * entries — the OBSERVABLE form of the bounded-LRU contract: the
    * bench reports it at run end, so "a long session's memo estate
    * stays bounded" is a number in every round record, not a claim.
    */
  def storageBytes(spark: SparkSession): Long = {
    val ids = all.values.flatMap(_.rddIds).toSet
    spark.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
  }

  /** Apply `f` to every DataFrame a value holds — the value itself or
    * a component of a pair or triple — rebuilding the tuple around the
    * results; any other value passes through.
    */
  private def mapFrames(v: Any)(f: DataFrame => DataFrame): Any = v match {
    case df: Dataset[_] => f(df.asInstanceOf[DataFrame])
    case (a, b) => (mapFrames(a)(f), mapFrames(b)(f))
    case (a, b, c) => (mapFrames(a)(f), mapFrames(b)(f), mapFrames(c)(f))
    case other => other
  }

  /** The checkpointed RDDs inside the plans of a value's DataFrames
    * (an eager `localCheckpoint` leaves `LogicalRDD` leaves whose RDDs
    * hold the materialized blocks).
    */
  private def checkpointRdds(v: Any): Seq[org.apache.spark.rdd.RDD[_]] = {
    val out = mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    mapFrames(v) { df =>
      try df.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD => out += l.rdd
        case _ => ()
      } catch { case _: Throwable => () }
      df
    }
    out.toSeq
  }

  /** Best-effort release of the storage a value's checkpoints hold:
    * unpersist the checkpointed RDDs, then let the dropped strong
    * reference finish the job via the ContextCleaner. Never throws —
    * release is an optimization, not a correctness step.
    */
  private def release(v: Any): Unit = checkpointRdds(v).foreach { r =>
    try r.unpersist(blocking = false) catch { case _: Throwable => () }
  }
}
