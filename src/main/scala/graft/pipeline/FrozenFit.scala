package graft.pipeline

/** Shared guard for the frozen-fit oracle pattern (IVF/KMeans
  * centroids, PCA components, BPE merge tables): each fit caches its
  * artifact per dataset dir in a [[graft.core.Memo.fits]] memo, and the
  * generated oracle SQL may only render when exactly one dataset was
  * fitted in this JVM — one dump cannot gate two datasets' parquet
  * (Verify runs one dataset per JVM; multi-dataset specs call
  * `Memo.releaseAll()`).
  */
object FrozenFit {

  /** The single fitted artifact, or None if nothing fitted yet; throws
    * (IllegalArgumentException) after fits on two datasets.
    */
  def single[T](fits: graft.core.Memo[T], what: String): Option[T] = {
    val snap = fits.snapshot
    require(snap.size <= 1,
      s"$what fitted for multiple datasets (${snap.keys.mkString(", ")}); " +
        "a single oracle SQL dump cannot gate more than one")
    snap.values.headOption
  }
}
