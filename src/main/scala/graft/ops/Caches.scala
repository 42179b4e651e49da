package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Registry of persisted intermediates created inside library operators
  * (LSH band tables, the rounds [[Fixpoint]] keeps). Operators register
  * what they persist; the *consumer* releases after its terminal action:
  * the catalog mains (`Verify`, `Bench`, `TimeQ`, …) after each query;
  * the slicer server registers nothing. This keeps a long-lived process
  * from accumulating one cached table per call (round-1 finding: persists in
  * `minhashCandidates`/`nearDupClusters` were never freed).
  *
  * The registry is THREAD-SCOPED: operators register on the thread that
  * builds the plan (plan construction is driver-side), and `releaseAll`
  * frees only the calling thread's persists. Two concurrent threads
  * therefore cannot release each other's in-flight intermediates
  * (round-2 finding: a process-global queue made one request's
  * `releaseAll` unpersist another's LSH band table mid-join, silently
  * forcing full recomputation); register and release on one thread.
  *
  * DataFrame persists are additionally REFERENCE-COUNTED by canonical
  * logical plan (round-9 finding): Spark's `CacheManager` keys cached
  * data by the canonicalized plan, so two threads persisting IDENTICAL
  * plans (two concurrent queries over the same intermediate) share ONE
  * cache entry — thread-scoping alone cannot protect it, because the
  * first thread's unpersist drops the shared entry while the second is
  * mid-read (observed as a 500 `Block rdd_N_M does not exist` under the
  * response-cache chaos test). `registerDf` increments the entry's
  * count; `releaseAll` decrements and only unpersists when the LAST
  * registrant releases. RDD registrations stay un-counted — operator
  * internals are per-thread unique by construction.
  */
object Caches {
  private final class Scope {
    val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    val dfs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  }
  private val scope: ThreadLocal[Scope] = ThreadLocal.withInitial(() => new Scope)

  // canonicalized analyzed plan -> live registration count; guarded by
  // its own monitor (registration/release are driver-side and rare
  // relative to execution — a plain synchronized map is plenty)
  private val refCounts = scala.collection.mutable.Map
    .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int]

  private def keyOf(d: DataFrame) = d.queryExecution.analyzed.canonicalized

  def registerRdd[T](r: RDD[T]): RDD[T] = { scope.get.rdds += r; r }

  def registerDf(d: DataFrame): DataFrame = {
    refCounts.synchronized {
      val k = keyOf(d)
      refCounts(k) = refCounts.getOrElse(k, 0) + 1
    }
    scope.get.dfs += d
    d
  }

  /** Unpersist everything this thread registered since its last release.
    * Safe to call while results are still referenced: lineage is intact
    * everywhere, so a later action recomputes instead of failing; a
    * cache entry shared with another thread's identical plan survives
    * until that thread releases too. */
  def releaseAll(): Unit = {
    val s = scope.get
    s.rdds.foreach(_.unpersist(blocking = false))
    s.rdds.clear()
    s.dfs.foreach { d =>
      refCounts.synchronized {
        val k = keyOf(d)
        val n = refCounts.getOrElse(k, 1) - 1
        if (n <= 0) {
          refCounts.remove(k)
          // unpersist INSIDE the monitor: a concurrent registerDf of the
          // same canonical plan must not land between the count-hits-zero
          // decision and the drop, or the new registrant would hold a
          // reference to an already-evicted entry (the same race the
          // refcount exists to prevent, one window narrower).
          // unpersist(blocking=false) only marks the entry — cheap.
          d.unpersist(blocking = false)
        } else refCounts(k) = n
      }
    }
    s.dfs.clear()
  }
}
