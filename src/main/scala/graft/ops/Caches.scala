package graft.ops

import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Registry for intermediate persists created while BUILDING a lazy query
  * (LSH band tables, inverted shingle indexes, curation `kept2`). The
  * builder can't unpersist at build time — the cache is only populated when
  * the caller later runs an action — so the runner (Verify/Bench/user code)
  * calls [[releaseAll]] once the consuming action finishes. Without this a
  * long session accumulates band tables and re-persisting the same logical
  * plan trips `CacheManager: Asked to cache already cached data` warnings.
  */
object Caches {
  private val live = mutable.Buffer[DataFrame]()

  /** Persist `df` (MEMORY_AND_DISK) and register it for later release. */
  def cached(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    live += p
    p
  }

  /** Unpersist every registered frame (non-blocking) and clear the registry. */
  def releaseAll(): Unit = synchronized {
    live.foreach(_.unpersist(false))
    live.clear()
  }
}

/** SPARK_GRAFT_TIMING=1 phase timer — the one switch and stderr format
  * for query-internal phases (label = query and phase) and the
  * VersionedTable commit path (label = phase and table path), so a slow
  * entry or commit can be broken into its eager phases without temporary
  * instrumentation. Zero cost unset.
  */
object Phases {
  private val timing: Boolean =
    sys.env.get("SPARK_GRAFT_TIMING").contains("1")

  /** `label` is rendered after `f` runs, so it may carry what `f` found. */
  def timed[A](label: => String)(f: => A): A =
    if (!timing) f
    else {
      val t0 = System.nanoTime()
      try f
      finally System.err.println(
        f"[timing] ${(System.nanoTime() - t0) / 1e9}%7.3f s  $label")
    }
}
