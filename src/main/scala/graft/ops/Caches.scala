package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache leasing for shared query subtrees.
  *
  * Several operators reuse one expensive subtree across multiple Spark
  * actions — the dedup pipelines re-read the shingle projection from both
  * self-join branches, and the TPC-H bloom prefilters consume their build
  * side three times (exact count, bloom aggregation, then the downstream
  * join itself). Returned DataFrames are lazy, so the operator cannot
  * unpersist eagerly; leaving frames persisted forever leaks storage in a
  * long-lived session. The lease queue makes the lifecycle explicit:
  * operators `lease` what they persist, and the driver loop (Verify /
  * Bench, or any user harness) calls [[releaseAll]] once the
  * query's result has been materialized.
  *
  * Unpersisting is always safe — an unpersisted frame recomputes — so a
  * missed release costs memory, never correctness.
  */
object Caches {

  private val leased = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK: at 100 TB scale the working set
    * spills instead of evicting) and register it for [[releaseAll]]. */
  def lease(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(level)
    leased.add(p)
    p
  }

  /** Unpersist every leased frame. Safe at any time. Non-blocking by
    * default; the bench loop passes `blocking = true` so a query's cache
    * blocks are actually gone before the NEXT query's timer starts —
    * lazily-evicted blocks from query N otherwise inflate query N+1's
    * memory pressure and read as spread (the q16/q18 in-suite vs solo
    * gap). */
  def releaseAll(blocking: Boolean = false): Unit = {
    var df = leased.poll()
    while (df != null) {
      // a frame leased in a since-stopped session has nothing left to
      // release and unpersist throws — releasing must never kill the
      // harness loop that is doing the cleanup (r8: BENCH_ONLY with an
      // all-extended set hit exactly this across a freshTier boundary).
      // Only non-fatal failures are swallowed; an interrupt re-flags the
      // thread so the caller's cancellation still lands.
      try df.unpersist(blocking)
      catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
        case scala.util.control.NonFatal(_) => ()
      }
      df = leased.poll()
    }
  }
}
