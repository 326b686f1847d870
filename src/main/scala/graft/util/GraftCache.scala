package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Site-keyed lifecycle for the corpus-scaled `DISK_ONLY` persist
  * barriers used by the dedup / ANN / text operators.
  *
  * Those persists exist as materialization barriers: they stop
  * Catalyst's `CollapseProject` from inlining an expensive encode /
  * assignment chain through a self-join (where it would be
  * re-evaluated per candidate PAIR), and they bound plan depth. The
  * persisted relation is part of the *returned* lazy plan, so the
  * operator cannot unpersist it eagerly — but without any lifecycle,
  * repeated operator invocations in a long-lived session grow the
  * block-manager disk cache without bound, and `CacheManager`'s
  * plan-keyed substitution can serve stale data if the same input
  * path is re-read after new files land (`InMemoryFileIndex` equality
  * is rootPaths-based).
  *
  * Policy here: each *call site* keeps exactly one live generation.
  * Re-entering the same site unpersists the previous call's relation
  * (non-blocking), so steady-state disk usage is bounded by the number
  * of distinct operator sites, not by the number of invocations. A
  * caller that still holds the previous invocation's plan keeps
  * correct results — Spark recomputes an unpersisted
  * `InMemoryRelation` from its child — it just loses the barrier's
  * cache hit.
  *
  * Long-lived sessions that re-read *mutating* input paths should
  * additionally call [[clear]] (or `spark.catalog.clearCache()`)
  * between runs: unpersisting the previous generation on re-entry
  * already prevents the stale-substitution hazard for these sites,
  * but only for operators that are actually re-entered.
  */
object GraftCache {
  private val live = new ConcurrentHashMap[String, DataFrame]()

  /** `df.transform(GraftCache.barrier("Site.key"))` ==
    * `df.persist(DISK_ONLY)` + unpersist of the relation previously
    * registered under `Site.key`.
    */
  def barrier(site: String)(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.DISK_ONLY)
    val prev = live.put(site, p)
    // re-entry with the IDENTICAL plan shares one CacheManager entry
    // (persist of an already-cached plan is a no-op) — unpersisting
    // "prev" would evict the entry the new handle relies on, silently
    // removing the barrier. Only retire genuinely superseded relations.
    if (prev != null && (prev ne p) &&
        !prev.queryExecution.analyzed.sameResult(p.queryExecution.analyzed))
      prev.unpersist(blocking = false)
    p
  }

  /** Unpersist every live barrier relation and forget them. */
  def clear(): Unit = {
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      it.next().getValue.unpersist(blocking = false)
      it.remove()
    }
  }

  /** [[clear]] plus Spark's own plan-keyed cache — the full reset a
    * long-lived session needs before re-reading inputs that changed
    * on disk.
    */
  def reset(spark: SparkSession): Unit = {
    clear()
    spark.catalog.clearCache()
  }

  /** Number of live barrier relations (test hook). */
  def liveCount: Int = live.size()

  /** Currently registered site keys (test hook — lets a plan-audit
    * spec assert an operator's barrier is still in place by name).
    */
  def liveSites: Set[String] = {
    val b = Set.newBuilder[String]
    live.keySet().forEach(k => b += k)
    b.result()
  }

  /** Storage level of each live barrier's OWN cached relation, keyed by
    * site (`Dataset.storageLevel` consults the `CacheManager` entry for
    * exactly this plan). This is the assertion surface a plan-audit
    * spec must use: asserting over the context-global
    * `getPersistentRDDs` registry is order-DEPENDENT on a shared
    * `SparkContext` — `localCheckpoint` blocks from sibling suites sit
    * there at `MEMORY_AND_DISK` until `ContextCleaner` GC and redden a
    * global forall (the r16 554/4 flake).
    */
  def liveLevels: Map[String, StorageLevel] = {
    val b = Map.newBuilder[String, StorageLevel]
    live.forEach((k, df) => b += k -> df.storageLevel)
    b.result()
  }

  // ---------------------------------------------------------------------
  // Eager localCheckpoint lifecycle.
  //
  // `Dataset.unpersist()` on a locally-checkpointed Dataset is a SILENT
  // NO-OP: the checkpoint's persist lives on the underlying RDD, not in
  // the `CacheManager` that `Dataset.unpersist` consults, so the
  // MEMORY_AND_DISK blocks survive until `ContextCleaner` GCs the RDD
  // object (verified against Spark 4.1.2; this is what made per-flush
  // checkpoint blocks linger and pollute context-global assertions).
  // Deterministic release must go through the RDD handle, recovered here
  // from the checkpointed Dataset's `LogicalRDD` plan. Releasing makes
  // the relation NON-RECOMPUTABLE (checkpoints truncate lineage), so —
  // unlike [[barrier]] relations, which silently recompute — a released
  // checkpoint must be provably dead: fully consumed, with no caller
  // still holding its plan. Release sites encode exactly that contract
  // (iterative ops free round N−1 once round N is eagerly
  // materialized). Expect one benign "cannot be recomputed after
  // unpersisting" WARN per release.
  // ---------------------------------------------------------------------

  private val ckptsFreed = new java.util.concurrent.atomic.AtomicLong(0L)

  /** RDD backing an eager localCheckpoint'd Dataset (None otherwise). */
  private def ckptRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Free the blocks of a checkpointed Dataset by handle — call when
    * the checkpoint is provably dead: its last consuming action (the
    * next round's eager checkpoint) completed and no caller still holds
    * its plan (a released checkpoint CANNOT recompute). No-op for non-checkpoint plans, so
    * loop seeds that were never checkpointed pass through safely.
    */
  def releaseCheckpointOf(df: DataFrame): Unit =
    ckptRdd(df).foreach { r =>
      if (r.getStorageLevel != StorageLevel.NONE) {
        r.unpersist(blocking = false)
        ckptsFreed.incrementAndGet()
        ()
      }
    }

  /** Monotonic count of checkpoint generations freed (test hook: a spec
    * asserts a DELTA ≥ expected releases, which stays valid under
    * concurrent suites — concurrency only grows it).
    */
  def checkpointsFreed: Long = ckptsFreed.get()
}
