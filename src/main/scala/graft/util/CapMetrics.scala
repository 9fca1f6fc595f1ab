package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** The bucket cap shared by every blocked pair generator, with its
  * accounting.
  *
  * Every blocked pair generator in the engine caps bucket sizes so a
  * degenerate bucket cannot concentrate quadratic work on one reducer
  * (see [[graft.fuzzy.AnnJoin]]). [[gate]] is the one implementation:
  * the eleven LSH-style call sites (fuzzy LSH join, ANN LSH top-k, the
  * minhash, simhash/hamming, cosine and semantic dedup families) gate
  * (band, key) buckets, and Dedup's hot-shingle / hot-fingerprint gates
  * (n-gram, containment and winnow dedup, self, cross and stored forms)
  * gate a single key (band 0, key `__sh`). The cap trades recall for
  * boundedness — and that trade must never be silent. [[gate]] accounts
  * the drops from the per-bucket statistics frame (tiny: one row per
  * candidate bucket, already aggregated — the join needs it anyway) and
  * logs one line per capped stage:
  *
  *   [graft.cap] <stage>: dropped N of M buckets (~P candidate pairs)
  *
  * Synchronous by design: an earlier `Dataset.observe`-based version lost
  * its metrics whenever AQE wrapped the CollectMetrics node inside a
  * broadcast query stage, so tests (and operators) could not rely on the
  * numbers arriving. Tests read the same numbers via [[lastMetrics]].
  */
object CapMetrics {
  private val log = LoggerFactory.getLogger(getClass)

  /** `keptPairs` is the SUM over allowed buckets of their candidate-pair
    * counts (the `pairs` column the caller prices) — an upper bound on
    * unique surviving pairs (a pair colliding in b bands, or sharing b
    * shingles, counts b times). Callers use kept + dropped as the LSH
    * path's total planned volume (see AnnJoin's exact-fallback gate). */
  final case class CapStats(droppedBuckets: Long, totalBuckets: Long,
                            droppedPairs: Long, keptPairs: Long = 0L)

  /** Last accounted stats per stage name, refreshed on every build that
    * touches the stage. */
  private val last = new ConcurrentHashMap[String, CapStats]()

  def lastMetrics(stage: String): Option[CapStats] = Option(last.get(stage))

  private def record(stage: String, s: CapStats): Unit = {
    last.put(stage, s)
    if (s.droppedBuckets > 0)
      log.warn(s"[graft.cap] $stage: dropped ${s.droppedBuckets} of ${s.totalBuckets} buckets " +
        s"(~${s.droppedPairs} candidate pairs) — raise the bucket cap or dedup inputs first")
    else
      log.info(s"[graft.cap] $stage: no buckets dropped (total ${s.totalBuckets})")
  }

  /** Largest band count the blocked-key encoding [[bucketKey]] keeps apart:
    * past it, distinct (band, key) pairs alias and a healthy bucket could
    * be dropped with an over-cap one. */
  val MaxBands = 130

  /** The blocked-key encoding of a (band, key) bucket, shared with
    * [[graft.fuzzy.BucketAllowed]]. Wraps on overflow by design (Spark-side
    * long arithmetic would throw under ANSI instead). */
  def bucketKey(band: Int, key: Long): Long = key * 131L + band

  /** Reject a band count the blocked-key encoding cannot keep apart. Every
    * banded entry point calls this before its first Spark job. */
  def requireBands(n: Int, name: String = "numBands"): Unit =
    require(n >= 1 && n <= MaxBands,
      s"$name must be in [1, $MaxBands] (got $n): the bucket-cap " +
        s"blocked-key encoding (key*131+band) aliases band counts past $MaxBands")

  /** What [[gate]] decided: the accounted [[CapStats]] and [[keep]], which
    * removes the rows of dropped buckets from any frame keyed like the
    * statistics. Callers plan on `stats`, not on `lastMetrics(stage)`:
    * concurrent matches on different driver threads (a supported pattern —
    * MatchScope is per-thread) share the stage key. */
  final class BucketGate private[CapMetrics] (val stats: CapStats,
      bandCol: String, keyCol: String,
      blocked: Array[Long], allowed: Option[DataFrame]) {
    /** `df` without the rows of dropped buckets. `band` must be int-typed
      * and `key` long-typed; a single-key gate passes `band = lit(0)`. */
    def keep(df: DataFrame, band: Column = col(bandCol), key: Column = col(keyCol)): DataFrame =
      allowed match {
        case Some(a) =>
          df.join(a, band === col("__gate_band") && key === col("__gate_key"), "left_semi")
        case None if blocked.isEmpty => df
        case None => df.where(!graft.fuzzy.vectorFunctions.bucket_allowed(band, key, blocked))
      }
  }

  /** Bucket gate with accounting, three regimes (shared by every blocked
    * pair generator). The regime follows the real bucket count:
    *  - bucket count fits on the driver (up to `maxDriverBuckets`): ONE
    *    collect, driver-side drop accounting — no checkpoint, no extra
    *    action; [[BucketGate.keep]] filters out the dropped keys with a
    *    codegen'd membership test ([[graft.fuzzy.BucketAllowed]]);
    *  - more buckets than that, but drops fit (THE scale regime: drops are
    *    outliers by design, so a 100 TB corpus with billions of healthy
    *    buckets still lands here): stats materialize cluster-side, one
    *    4-scalar aggregate accounts the drops, and only the dropped keys
    *    ship to the driver — driver state is O(drops), not O(buckets), and
    *    the band frames never pay a join against the bucket list (measured
    *    at sf10: the allowed-frame join made LSH candidate generation grow
    *    18x at 10x values; the blocked-keys filter restored ~linear);
    *  - more DROPPED buckets than the driver cap (pathological — the
    *    volume-bail/exact-fallback territory): [[BucketGate.keep]]
    *    semi-joins the allowed-bucket frame.
    *
    * `bandCol` must be int-typed and `keyCol` long-typed, with at most
    * [[MaxBands]] bands ([[requireBands]]). A 64-bit hash collision between
    * a dropped and a kept bucket key drops the kept bucket too: a bounded
    * recall perturbation (same class as the cap itself, ~drops x buckets /
    * 2^64), never a wrong score. `maxDriverBuckets` is the test seam that
    * forces a regime. */
  def gate(bucketStats: DataFrame, stage: String, bandCol: String, keyCol: String,
           overCap: Column, pairs: Column, checkpoint: CheckpointStrategy,
           maxDriverBuckets: Int = 2_000_000): BucketGate = {
    val rows = bucketStats.select(col(bandCol).cast("int").as("__b"), col(keyCol).as("__k"),
        overCap.as("__over"), pairs.cast("long").as("__p"))
      .limit(maxDriverBuckets + 1).collect()
    if (rows.length <= maxDriverBuckets) {
      var dropped = 0L
      var droppedPairs = 0L
      var keptPairs = 0L
      val blocked = Array.newBuilder[Long]
      rows.foreach { r =>
        if (r.getBoolean(2)) {
          dropped += 1; droppedPairs += r.getLong(3)
          blocked += bucketKey(r.getInt(0), r.getLong(1))
        } else keptPairs += r.getLong(3)
      }
      val s = CapStats(dropped, rows.length.toLong, droppedPairs, keptPairs)
      record(stage, s)
      blockedGate(s, bandCol, keyCol, blocked.result())
    } else clusterSideGate(bucketStats, stage, bandCol, keyCol, overCap, pairs,
      checkpoint, maxDriverBuckets)
  }

  /** The cluster-side regimes of [[gate]]: materialize the stats, account
    * drops with one 4-scalar aggregate, ship only the dropped keys (or,
    * pathologically, keep the allowed-bucket frame). */
  private def clusterSideGate(bucketStats: DataFrame, stage: String,
      bandCol: String, keyCol: String, overCap: Column, pairs: Column,
      checkpoint: CheckpointStrategy, maxDriverBuckets: Int): BucketGate = {
    val stats = Materialize(bucketStats, checkpoint)
    val row = stats.agg(
      sum(when(overCap, 1L).otherwise(0L)).as("dropped_buckets"),
      count(lit(1)).as("total_buckets"),
      sum(when(overCap, pairs).otherwise(lit(0L))).cast("long").as("dropped_pairs"),
      sum(when(overCap, lit(0L)).otherwise(pairs)).cast("long").as("kept_pairs")).head()
    val s = CapStats(
      if (row.isNullAt(0)) 0L else row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) 0L else row.getLong(2),
      if (row.isNullAt(3)) 0L else row.getLong(3))
    record(stage, s)
    if (s.droppedBuckets <= maxDriverBuckets)
      blockedGate(s, bandCol, keyCol, stats.where(overCap)
        .select(col(bandCol).cast("int").as("__b"), col(keyCol).as("__k"))
        .collect().map(r => bucketKey(r.getInt(0), r.getLong(1))))
    else
      new BucketGate(s, bandCol, keyCol, Array.emptyLongArray, Some(stats.where(!overCap)
        .select(col(bandCol).as("__gate_band"), col(keyCol).as("__gate_key"))))
  }

  private def blockedGate(s: CapStats, bandCol: String, keyCol: String,
                          keys: Array[Long]): BucketGate = {
    java.util.Arrays.sort(keys)
    new BucketGate(s, bandCol, keyCol, keys, None)
  }
}
