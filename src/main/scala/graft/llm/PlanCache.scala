package graft.llm

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Bounded access-order LRU for plan-keyed, Spark-CACHED frames —
  * the bloomCache discipline applied to the dedup/similarity memo
  * tables (r10): a long-running server evaluating per-batch operators
  * (incremental dedup/near-dup sees a NEW canonicalized plan every
  * batch) must not accumulate executor storage without bound, so
  * eviction unpersists the frame (non-blocking: an in-flight consumer
  * recomputes, it never fails).
  *
  * Values must be built LAZILY (`.cache()` marks, it does not run a
  * job), so `computeIfAbsent` under the map mutex holds it only for
  * plan construction — never for a Spark action (the r9
  * selectivity-cache liveness rule). Caches whose compute DOES run an
  * action (ANN centroid/PQ codebook builds) stay on ConcurrentHashMap
  * with per-bin locking and small driver-side values instead.
  */
private[graft] object PlanCache {
  /** Unpersist that never throws out of cache machinery: skipped on a
    * stopped context (teardown frees all block storage anyway) and
    * exception-guarded against the CacheManager race a stop concurrent
    * with the check can still hit (r17 — shared by LRU eviction and
    * the application-end sweep, so neither path can propagate a
    * teardown race into a caller's cache insert). */
  private def safeUnpersist(v: DataFrame): Unit =
    if (!v.sparkSession.sparkContext.isStopped)
      try v.unpersist(false) catch { case NonFatal(_) => () }

  def bounded[K](max: Int): java.util.Map[K, DataFrame] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, DataFrame](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[K, DataFrame]): Boolean =
          if (size() > max) { safeUnpersist(e.getValue); true }
          else false
      })

  /** Session-teardown eviction: `Map.clear()` bypasses
    * `removeEldestEntry`, so entries dropped that way would keep their
    * executor storage until GC — unpersist every value FIRST (r10
    * advice). Synchronizes on the map (the `synchronizedMap` contract
    * for iteration), which is safe because unpersist(false) is
    * non-blocking and never runs a job. */
  def clearAndUnpersist(m: java.util.Map[_, DataFrame]): Unit =
    m.synchronized {
      // r17: the application-end listener (Samples.evictSession)
      // calls this while the context is tearing down — a raw
      // unpersist then races CacheManager internals and logs a scary
      // (but harmless) stack trace from the listener bus.
      m.values.forEach(safeUnpersist(_))
      m.clear()
    }
}
