package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.fuzzy.{FuzzyMapping, FuzzyMatcher, MatchOptions}

/** Stream-static fuzzy matching: match a stream of incoming records
  * against a static reference corpus.
  *
  * The matcher is a multi-pass batch algorithm (stable row ids,
  * checkpointed passes, value-level dedup) — none of which Structured
  * Streaming's incremental operators can express directly. The idiomatic
  * Spark shape is `foreachBatch`: every micro-batch runs the FULL batch
  * matcher against the (unchanging) reference side, so each batch's output
  * is exactly what the batch API would produce for those rows — identical
  * semantics, per-batch exactly-once through the sink the caller provides.
  *
  * Per-batch cost is the batch side only: the reference side is a
  * [[graft.fuzzy.FuzzyMatcher.PreparedRight]] built ONCE before the stream
  * starts — renames, row-id assignment, materialization under
  * `opts.checkpoint`, row count and per-column approx-distinct stats.
  * Each micro-batch re-derives only the batch side's statistics and scans
  * the reference exclusively through the materialized barrier.
  */
object FuzzyMatchStream {

  /** A `DataStreamWriter` running the fuzzy match per micro-batch and
    * handing each batch's matched frame to `sink`. The caller starts it
    * (`.start()`) and chooses trigger / checkpoint options as with any
    * streaming writer (e.g. `Trigger.AvailableNow()` for drain-and-stop,
    * the default processing-time trigger for a continuous stream).
    *
    * The prepared static side is built here, on the caller's thread, and
    * belongs to the MatchScopes active at this call: build the writer
    * inside a `withMatchScope` that spans `start()` to `stop()` (or the
    * query's termination), and closing that scope releases the side.
    * Built outside any scope, it stays persisted for the application's
    * lifetime, one static side per query. */
  def matchWriter(stream: DataFrame, reference: DataFrame,
                  maps: Seq[FuzzyMapping],
                  opts: MatchOptions = MatchOptions.default)
                 (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val prepared = FuzzyMatcher.prepareRight(stream.columns.toSeq, reference, maps, opts)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Per-batch MatchScope: foreachBatch runs on the stream-execution
        // thread, so a scope opened by the CALLER (thread-local) never sees
        // these barriers — without this, every micro-batch's barriers (left
        // row ids, value frames, the combine join) would live for the app
        // lifetime and an unbounded stream would accumulate executor blocks
        // without bound. The scope releases them when the sink returns; the
        // sink must CONSUME its frame (write/collect) before returning —
        // the standard MatchScope contract. The shared prepared side,
        // including the deduplicated variant a batch may build first,
        // belongs to the scopes active when the writer was built, never
        // to a batch's scope.
        graft.util.MatchScope.withMatchScope {
          sink(FuzzyMatcher.matchDfsWithPreparedRight(batch, prepared), batchId)
        }
      }
  }
}
