package graft

import org.apache.spark.sql.Dataset

/** Tracks persisted INTERMEDIATES (subplans that feed self-joins or
  * iteration, e.g. the dedup signature/shingle sets) so harnesses can
  * release them once the query's result is materialized.
  *
  * Why: `Dataset.persist` pins blocks in the executor storage pool
  * until explicitly unpersisted. A query function cannot unpersist its
  * own intermediates — they must stay alive until the CALLER consumes
  * the result — so without a handoff every persisted subplan leaks for
  * the life of the session. Across a 95-query bench run those leaked
  * blocks accumulate into storage-pool pressure (evictions, GC) that
  * taxes every later query; on a long-lived production session the
  * same leak is an OOM. The contract: builders `track` what they
  * persist, harnesses (Bench, Verify, long-lived apps) call
  * `release()` after consuming each result.
  */
object PersistRegistry {
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Register a persisted intermediate; returns it unchanged. */
  def track[T <: Dataset[_]](ds: T): T = { tracked.add(ds); ds }

  /** Persist-and-track, idempotent BY PLAN: `Dataset.storageLevel`
    * consults the session CacheManager with the same normalized-plan
    * lookup `persist` itself uses, so a frame whose plan is already
    * cached (a shared builder invoked twice inside one query) is
    * returned as-is instead of re-persisting — which would log
    * CacheManager's "already cached" warning and register a
    * double-release. This is the one entry point query builders
    * should use; bare `track(x.persist(...))` remains for callers
    * that manage the persist themselves.
    *
    * A FRESH persist is materialized EAGERLY (one count()): the
    * frames handed here exist to feed self-joins and multi-branch
    * plans, and when those branches' stages run concurrently each
    * recomputes the unmaterialized cached partitions before the
    * first cache write lands — wasted compute plus the BlockManager
    * "already exists; not re-adding" WARN (round 11: this
    * double-compute was ~2.4 s of m06's stamped cost). Callers whose
    * very next statement is already an action on the frame (d08's
    * fixpoint loop) pass eager = false.
    *
    * Round-12 audit (every call site, measured both ways at sf0.1,
    * warm runs): eager wins or ties at ALL of them — d04 2.47→3.16 s,
    * d11 0.87→1.17, m06 2.66→3.27, v16 0.84→1.04, d02 1.67→1.98 when
    * flipped lazy; no site got faster. The "single-job consumer pays
    * a pure extra pass" hypothesis is false here because Spark's
    * DAGScheduler submits a job's independent map stages
    * CONCURRENTLY, so even one job's two branches race the unfilled
    * cache. Eager stays the default; the one real loss (d16, whose
    * cached frame was the suite's largest intermediate) was fixed by
    * removing its persist entirely, not by going lazy. */
  def cached[T <: Dataset[_]](ds: T,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      eager: Boolean = true): T = {
    if (ds.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      ds.persist(level)
      tracked.add(ds)
      if (eager) ds.count()
    }
    ds
  }

  /** Persist at MEMORY_AND_DISK unless the plan is already cached —
    * the RE-PIN primitive of the long-lived corpus caches (graft
    * .Resident's corpus kinds). Deliberately does NOT track: those
    * caches own their release discipline (state-boundary sweep, LRU
    * bound, release) and must survive per-query release().
    * The storageLevel check consults the session CacheManager by
    * plan, so an identical plan cached by anyone is reused instead
    * of re-persisted (which would only log a CacheManager warn). */
  def ensurePinned[T <: Dataset[_]](ds: T): T = {
    if (ds.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ds
  }

  /** Unpersist every tracked intermediate (non-blocking). Safe to call
    * when nothing is tracked, and safe on already-unpersisted sets. */
  def release(): Unit = {
    var ds = tracked.poll()
    while (ds != null) { ds.unpersist(false); ds = tracked.poll() }
  }
}
