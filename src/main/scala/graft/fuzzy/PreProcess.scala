package graft.fuzzy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit}
import org.slf4j.LoggerFactory

/** Driver-side planning statistics + heuristics.
  *
  * Re-expresses the reference's `pre_process.py` pipeline on Spark:
  * approx-distinct stats come from one `approx_count_distinct` scan per side
  * (HLL, same sketch family the reference uses via `approx_n_unique`,
  * pre_process.py:12-28), the uniqueness formula and the dedup heuristic use
  * the reference's exact constants (pre_process.py:45,149).
  *
  * Both fuzzy-join front doors ([[FuzzyMatcher.matchDfs]] via [[run]], and
  * the prepared-right path) preprocess through the same two steps: the
  * structural naming and renames ([[structural]]) and the pure decision
  * from statistics to planned mappings and dedup verdict ([[decide]]).
  * They differ only in where each side's statistics come from.
  */
object PreProcess {

  private val log = LoggerFactory.getLogger(getClass)

  final case class Plan(left: DataFrame, right: DataFrame, maps: Seq[FuzzyMapping])

  /** Log the processing order of the mappings with their uniqueness scores
    * (`report_on_order_of_fuzzy_maps`, pre_process.py:174-197): the most
    * selective mapping runs first, and this makes that decision visible. */
  def reportOnOrder(maps: Seq[FuzzyMapping]): Unit = {
    log.info("Fuzzy mappings sorted by uniqueness")
    maps.zipWithIndex.foreach { case (m, i) =>
      log.info(s"$i. Fuzzy mapping: ${m.leftCol} -> ${m.rightCol} Uniqueness: ${m.percUnique}")
    }
  }

  /** Fused planning-stats scan: exact row count + approx distinct per
    * mapping column in ONE aggregate job (the count rides the HLL scan
    * instead of a second pass over the side — guide §1.2: don't pay two
    * passes for values one pass produces). Same numbers as `df.count()`
    * plus one `approx_count_distinct` per column. */
  def statScan(df: DataFrame, cols: Seq[String]): (Long, Map[String, Long]) = {
    val distinctCols = cols.distinct
    val aggs = count(lit(1)).as("__n") +:
      distinctCols.map(c => approx_count_distinct(col(c)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    (row.getLong(0),
      distinctCols.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap)
  }

  /** Combined uniqueness score — exact formula from pre_process.py:45,
    * golden-tested against tests/test_pre_process.py:113-117. */
  def calculateUniqueness(a: Double, b: Double): Double =
    (math.pow(a + 0.5, 2) + math.pow(b + 0.5, 2)) / 2 - math.pow(0.5, 2) + 0.5 * math.abs(a - b)

  /** Uniqueness of every mapping from both sides' statistics (no Spark
    * action: the stream-static path scans the static side once and only
    * the batch side per call). */
  def fillPercUniqueFromStats(leftStats: Map[String, Long], rightStats: Map[String, Long],
                              maps: Seq[FuzzyMapping],
                              leftLen: Long, rightLen: Long): Seq[FuzzyMapping] =
    maps.map { m =>
      val a = if (leftLen == 0) 0.0 else leftStats(m.leftCol).toDouble / leftLen
      val b = if (rightLen == 0) 0.0 else rightStats(m.rightCol).toDouble / rightLen
      m.copy(percUnique = calculateUniqueness(a, b))
    }

  /** Most selective mapping first (pre_process.py:106-119). Stable sort. */
  def orderMaps(maps: Seq[FuzzyMapping]): Seq[FuzzyMapping] = maps.sortBy(-_.percUnique)

  def uniquenessRate(maps: Seq[FuzzyMapping]): Double = maps.map(_.percUnique).sum

  /** Dedup inputs iff the join keys are low-uniqueness AND the cartesian is
    * big enough to hurt (constants from pre_process.py:149). */
  def needsAggregation(rate: Double, cartesianSize: Double): Boolean =
    rate < 1.2 && cartesianSize > 1_000_000L

  /** The structural half of preprocessing, which runs whether or not the
    * statistics do: with `runStats` off the mid-level fallback score name
    * `fuzzy_score_{left}_{right}` is resolved from the ORIGINAL column
    * names — the reference's constructor default survives because
    * set_name_in_fuzzy_mappings only runs inside preprocessing
    * (models.py:87-89, pre_process.py:326) — and then right columns that
    * collide with `leftCols` get the `_right` suffix (pre_process.py:200-254).
    * Returns the renamed right side, the mappings pointing at it, and the
    * rename map. */
  private[fuzzy] def structural(
      leftCols: Seq[String], right: DataFrame, maps: Seq[FuzzyMapping],
      runStats: Boolean): (DataFrame, Seq[FuzzyMapping], Map[String, String]) = {
    val named =
      if (runStats) maps else maps.map(m => m.copy(outputColumnName = Some(m.resolvedOutputName)))
    val renames = NameUtils.renameRightColumns(leftCols, right.columns.toSeq)
    (renames.foldLeft(right) { case (df, (from, to)) => df.withColumnRenamed(from, to) },
      NameUtils.renameMappingRightCols(named, renames), renames)
  }

  /** The statistics half of preprocessing as a pure decision (no Spark
    * action): from each side's (row count, approx distinct per mapping
    * column), fill the uniqueness, order the mappings most selective first,
    * report the order, decide whether both sides are deduplicated on their
    * mapping columns before matching, and assign the output names. Returns
    * the planned mappings and the dedup verdict.
    *
    * Empty side: uniqueness, order and dedup are skipped but the names are
    * still assigned — deliberate deviation from pre_process.py:309-310,
    * which returns before naming, so the output schema is identical for
    * empty and non-empty inputs (SURVEY §8 deviation 5: polars
    * auto-suffixes colliding names at join time; Spark would emit
    * duplicate columns that fail on parquet write). */
  private[fuzzy] def decide(maps: Seq[FuzzyMapping], left: (Long, Map[String, Long]),
                            right: (Long, Map[String, Long])): (Seq[FuzzyMapping], Boolean) = {
    val ((leftLen, leftStats), (rightLen, rightStats)) = (left, right)
    val (ordered, dedupBoth) =
      if (leftLen <= 0 || rightLen <= 0) (maps, false)
      else {
        val ordered =
          orderMaps(fillPercUniqueFromStats(leftStats, rightStats, maps, leftLen, rightLen))
        reportOnOrder(ordered)
        val rate = uniquenessRate(ordered)
        val cartesian = leftLen.toDouble * rightLen.toDouble
        val dedupBoth = needsAggregation(rate, cartesian)
        if (dedupBoth)
          log.info(f"Low uniqueness rate ($rate%.3f) on a $cartesian%.3g cartesian — " +
            "deduplicating both sides on the mapping columns before matching")
        (ordered, dedupBoth)
      }
    (NameUtils.setNamesInMappings(ordered), dedupBoth)
  }

  /** Full preprocessing of two frames (pre_process.py:281-327): the
    * [[structural]] renames, then — when `runStats` is set — both sides'
    * [[statScan]]s, [[decide]], and the dedup it asks for. With `runStats`
    * off only the structural step runs: the mid-level API semantics of the
    * reference. */
  def run(left: DataFrame, right: DataFrame, maps: Seq[FuzzyMapping],
          runStats: Boolean = true): Plan = {
    val (r, named, _) = structural(left.columns.toSeq, right, maps, runStats)
    if (!runStats) return Plan(left, r, named)
    // Both sides' fused count+HLL scans run CONCURRENTLY (guide §2.6):
    // they are independent jobs, and serializing them only added their
    // fixed scheduling latencies.
    val (leftStats, rightStats) = graft.util.Par.run2(
      statScan(left, named.map(_.leftCol)), statScan(r, named.map(_.rightCol)))
    val (ms, dedupBoth) = decide(named, leftStats, rightStats)
    if (dedupBoth)
      Plan(left.dropDuplicates(ms.map(_.leftCol).distinct),
        r.dropDuplicates(ms.map(_.rightCol).distinct), ms)
    else Plan(left, r, ms)
  }
}
