package graft.util

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
  *  - SparkContext local properties (job description/group) are an
  *    InheritableThreadLocal — a fresh thread inherits the caller's at
  *    creation time, so concurrent jobs stay correctly labelled;
  *  - the caller's [[MatchScope]] stack is explicitly propagated, so
  *    barriers materialized on the side thread register with (and are
  *    released by) the same scope as the caller's.
  * Thread creation is ~50 µs against the ~100 ms action it parallelizes.
  */
object Par {

  /** Run `a` on the calling thread and `b` on a fresh thread, concurrently;
    * return both results. If either fails, the other is still awaited and
    * the first failure (caller side preferred) is rethrown. Both run
    * sequentially on the calling thread when it holds the active session's
    * SessionCatalog monitor (see `holdsCatalogMonitor`). */
  def run2[A, B](a: => A, b: => B): (A, B) = {
    if (holdsCatalogMonitor) return (a, b)
    val scopes = MatchScope.capturedScopes
    var rb: Either[Throwable, B] = null
    val t = new Thread(() => {
      rb =
        try Right(MatchScope.runWithScopes(scopes)(b))
        catch { case e: Throwable => Left(e) }
    }, "graft-par")
    t.setDaemon(true)
    t.start()
    val ra =
      try Right(a)
      catch { case e: Throwable => Left(e) }
    t.join()
    (ra, rb) match {
      case (Right(va), Right(vb)) => (va, vb)
      case (Left(e), _) => throw e
      case (_, Left(e)) => throw e
      case _ => throw new IllegalStateException("unreachable")
    }
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
