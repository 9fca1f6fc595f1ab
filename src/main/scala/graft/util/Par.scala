package graft.util

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.SparkSession

/** Concurrent submission of independent Spark actions (guide §2.6 "overlap
  * independent jobs"): a multi-pass fuzzy match runs ~8-13 small driver
  * actions per match (stat scans, index checkpoints, distinct-value
  * materializations, counts), each with ~100 ms of fixed scheduling and
  * planning latency — and many are pairwise independent (left side vs
  * right side). Running the two sides concurrently halves that fixed floor
  * without changing a single computed value: the same jobs run, the driver
  * just stops serializing them.
  *
  * Threads are created fresh per call (never pooled), for two properties:
  *  - SparkContext local properties (job description/group, job tags)
  *    are an InheritableThreadLocal — a fresh thread inherits the caller's
  *    at creation time, so concurrent jobs stay correctly labelled and
  *    carry the call's cancellation tag;
  *  - the caller's [[MatchScope]] stack is explicitly propagated, so
  *    barriers materialized on the side thread register with (and are
  *    released by) the same scope as the caller's.
  * Thread creation is ~50 µs against the ~100 ms action it parallelizes.
  */
object Par {

  private val calls = new AtomicLong()

  /** Run `a` on the calling thread and `b` on a fresh thread, concurrently;
    * return both results. Both sides' Spark jobs carry one per-call job
    * tag; when either side throws, the jobs still running under that tag
    * are cancelled, the other side is awaited, and the original failure
    * (not the cancellation it caused) is rethrown. A job the other side
    * submits after the cancellation still runs. Job tags leave job groups
    * and descriptions alone. Both run sequentially on the calling thread
    * when it holds the active session's SessionCatalog monitor (see
    * `holdsCatalogMonitor`). */
  def run2[A, B](a: => A, b: => B): (A, B) = {
    if (holdsCatalogMonitor) return (a, b)
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-par-${calls.incrementAndGet()}"
    val failure = new AtomicReference[Throwable]()
    def attempt[T](body: => T): Option[T] =
      try Some(body)
      catch {
        case e: Throwable =>
          if (failure.compareAndSet(null, e))
            sc.foreach(_.cancelJobsWithTag(tag, s"the other side of Par.run2 failed: $e"))
          None
      }
    // tagged before the helper starts: it inherits the caller's local
    // properties at creation
    sc.foreach(_.addJobTag(tag))
    try {
      val scopes = MatchScope.capturedScopes
      var rb: Option[B] = None
      val t = new Thread(() => rb = attempt(MatchScope.runWithScopes(scopes)(b)), "graft-par")
      t.setDaemon(true)
      t.start()
      val ra = attempt(a)
      t.join()
      (ra, rb) match {
        case (Some(va), Some(vb)) => (va, vb)
        case _ => throw failure.get
      }
    } finally sc.foreach(_.removeJobTag(tag))
  }

  /** Whether the calling thread holds the active session's SessionCatalog
    * monitor. The `fuzzy_match` TVF builder does: it runs `matchDfs` inside
    * `SessionCatalog.resolveBuiltinOrTempFunctionInternal`, which is
    * synchronized on the catalog. A helper thread analyzing its own query
    * blocks on that same monitor while the caller joins the helper — a
    * guaranteed single-caller deadlock (observed as a thread-dump pair:
    * parent `Thread.join` holding the catalog monitor, `graft-par` child
    * BLOCKED on `lookupBuiltinOrTempFunction`). */
  private def holdsCatalogMonitor: Boolean =
    SparkSession.getActiveSession.exists(s => Thread.holdsLock(s.sessionState.catalog))
}
