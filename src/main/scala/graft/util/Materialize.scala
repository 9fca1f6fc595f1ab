package graft.util

import scala.collection.mutable.ListBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Materialization-barrier strategy for multi-pass plans.
  *
  * The engine cuts lineage wherever an intermediate is consumed more than
  * once (pass N+1, the combine join, the final assembly — see
  * [[graft.fuzzy.FuzzyMatcher]]). The reference hands the caller a temp
  * directory for the same purpose (matcher.py:580-658 + the
  * `fuzzy_match_temp_dir` context manager, matcher.py:725-750); on Spark the
  * right abstraction is a checkpoint strategy:
  *
  *  - [[CheckpointStrategy.Local]] (default): `localCheckpoint()` —
  *    executor-local blocks, fastest, but NOT fault-tolerant: losing one
  *    executor mid-job kills the lineage. Right for local mode and
  *    short-lived jobs.
  *  - [[CheckpointStrategy.Reliable]]: `checkpoint()` into a caller-owned
  *    HDFS-compatible directory — survives executor loss, the setting for
  *    long multi-pass jobs on a real cluster (the 100 TB path).
  *  - [[CheckpointStrategy.Persist]]: `persist(MEMORY_AND_DISK)` + an eager
  *    count. Recomputable on executor loss (lineage kept) but Spark 4.1's
  *    CacheManager can NPE rebuilding caches shared across sequential
  *    queries — use only for single-action jobs.
  *
  * Lifecycle: each barrier holds executor blocks (Local/Persist) or
  * checkpoint files (Reliable) for the APP lifetime unless released — a
  * long-running driver doing repeated matches accumulates them without
  * bound. Wrap match calls in [[MatchScope.withMatchScope]] (or the
  * reference-parity [[MatchScope.withTempMatchDir]]) to release everything
  * on scope exit.
  */
sealed trait CheckpointStrategy extends Serializable

object CheckpointStrategy {
  case object Local extends CheckpointStrategy
  final case class Reliable(dir: String) extends CheckpointStrategy
  case object Persist extends CheckpointStrategy
}

object Materialize {
  /** Materialize `df` under the given strategy and return the barrier'd
    * frame. Every strategy is EAGER (the frame is computed here), matching
    * `localCheckpoint()`'s default — callers rely on the barrier freezing
    * nondeterministic columns such as `monotonically_increasing_id`.
    * If a [[MatchScope]] is active on this thread, the barrier registers
    * with it and is released when the scope closes. */
  def apply(df: DataFrame, strategy: CheckpointStrategy): DataFrame = {
    val out = strategy match {
      case CheckpointStrategy.Local => df.localCheckpoint()
      case CheckpointStrategy.Reliable(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir stores the QUALIFIED dir/<uuid> (file:/… or
        // hdfs://…), so qualify ours and compare by path prefix — a raw
        // equality check would reset (and re-uuid) on every barrier
        val base = new Path(dir)
        val qualified = base.getFileSystem(sc.hadoopConfiguration)
          .makeQualified(base).toString.stripSuffix("/")
        if (!sc.getCheckpointDir.exists(d => d == qualified || d.startsWith(qualified + "/")))
          sc.setCheckpointDir(dir)
        df.checkpoint()
      case CheckpointStrategy.Persist =>
        val persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.count()
        persisted
    }
    MatchScope.register(out)
    out
  }

  /** Release one barrier's storage NOW: checkpointed blocks unpersist
    * (blocking) and reliable checkpoint files are deleted. This is the
    * single-frame form of what [[MatchScope.close]] does for a whole
    * scope — for callers that manage barrier lifetimes explicitly, such
    * as the segmented index-append writers
    * ([[graft.streaming.RetrievalStream.bm25AppendWriter]] /
    * [[graft.streaming.AnnStream.ivfAppendWriter]]) releasing a
    * superseded generation's segments instead of leaving executor
    * blocks to driver GC + ContextCleaner. Safe on a never-materialized
    * frame (falls through to a no-op `unpersist`); reading a RELEASED
    * frame recomputes from dead blocks and fails — release only after
    * every consumer of the barrier is done. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: LogicalRDD =>
      // checkpoint()/localCheckpoint() both wrap the materialized RDD in a
      // LogicalRDD; the RDD carries the blocks and (if reliable) the files
      l.rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
      }
      l.rdd.unpersist(blocking = true)
    case _ =>
      // Persist strategy: the plan is unchanged, CacheManager owns the blocks
      df.unpersist(blocking = true)
  }
}

/** Tracks every barrier [[Materialize]] creates while the scope is active
  * on the current thread, and releases them all on [[close]]: local/persist
  * blocks unpersist (blocking, so tests and quota accounting see the space
  * back immediately) and reliable checkpoint FILES are deleted.
  *
  * This is the Spark restatement of the reference's `fuzzy_match_temp_dir`
  * context manager (matcher.py:725-750), which deletes all intermediates
  * when the context exits. Contract is the same as the reference's:
  * CONSUME THE RESULT INSIDE THE SCOPE (write it, collect it) — the final
  * frame is itself a tracked barrier, so reading it after close recomputes
  * from dead blocks and fails.
  */
final class MatchScope private[util] () extends AutoCloseable {
  private val frames = ListBuffer.empty[DataFrame]

  private[util] def track(df: DataFrame): Unit = synchronized { frames += df }

  /** Barriers tracked so far (visible for tests/diagnostics). */
  def trackedCount: Int = synchronized(frames.size)

  override def close(): Unit = synchronized {
    // newest-first: later barriers may read earlier ones while alive
    frames.reverseIterator.foreach(release)
    frames.clear()
  }

  private def release(df: DataFrame): Unit = Materialize.release(df)
}

object MatchScope {
  private val active = new ThreadLocal[List[MatchScope]] {
    override def initialValue: List[MatchScope] = Nil
  }

  private[util] def register(df: DataFrame): Unit =
    active.get.headOption.foreach(_.track(df))

  /** The calling thread's scope stack, for explicit propagation to a
    * helper thread (see [[Par]]) or to a barrier built later on behalf of
    * a frame these scopes own
    * ([[graft.fuzzy.FuzzyMatcher.PreparedRight]]). Scope tracking is a plain ThreadLocal —
    * NOT inheritable, so long-lived worker threads (streaming writers)
    * never capture a scope by accident; concurrent-action helpers opt in
    * through this pair instead. */
  private[graft] def capturedScopes: List[MatchScope] = active.get

  /** Run `body` with the given scope stack active on the current thread,
    * restoring the previous stack afterwards. [[MatchScope.track]] is
    * synchronized, so registration from the helper thread is safe. */
  private[graft] def runWithScopes[A](scopes: List[MatchScope])(body: => A): A = {
    val prev = active.get
    active.set(scopes)
    try body finally active.set(prev)
  }

  /** Run `body` with a fresh scope active on this thread; every barrier
    * materialized inside (any strategy, nested scopes innermost-first) is
    * released when `body` returns or throws. Returns `body`'s result —
    * which must NOT be a lazy frame over the released barriers. */
  def withMatchScope[A](body: => A): A = {
    val scope = new MatchScope
    active.set(scope :: active.get)
    try body
    finally {
      active.set(active.get.filterNot(_ eq scope))
      scope.close()
    }
  }

  /** Reference-parity `fuzzy_match_temp_dir` (matcher.py:725-750): creates
    * a fresh temp directory, hands `body` the [[CheckpointStrategy.Reliable]]
    * pointing at it, and on exit releases every barrier AND deletes the
    * whole directory — nothing survives, exactly like the reference's
    * `shutil.rmtree` on context exit. */
  def withTempMatchDir[A](parent: String = System.getProperty("java.io.tmpdir"))
                         (body: CheckpointStrategy.Reliable => A): A = {
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(parent), "graft_match_")
      .toString
    try withMatchScope(body(CheckpointStrategy.Reliable(dir)))
    finally {
      val p = new Path(dir)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      fs.delete(p, true)
    }
  }
}
