package graft.fuzzy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.slf4j.LoggerFactory

/** Driver-side planning statistics + heuristics.
  *
  * Re-expresses the reference's `pre_process.py` pipeline on Spark: each
  * side's row count and approx-distinct stats come from one single-stage
  * sketch pass per side ([[statScan]]) on Spark's own HLL++ helper, with the
  * same estimates as `approx_count_distinct` (the reference reads them with
  * `approx_n_unique`, the same sketch family, pre_process.py:12-28), and
  * without that aggregate's shuffle and result stage. The uniqueness
  * formula and the dedup heuristic use the reference's exact constants
  * (pre_process.py:45,149).
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

  /** Relative standard deviation of the distinct-count sketch:
    * `approx_count_distinct`'s default. */
  private val RelativeSD = 0.05

  /** Planning statistics of one side: its exact row count and the approx
    * distinct count of each mapping column, in ONE single-stage job. Each
    * task counts its rows and folds every non-null value of each column
    * into its own register block of Spark's HLL++ sketch
    * ([[HyperLogLogPlusPlusHelper]], relative SD 0.05); the driver merges
    * the tasks' blocks and reads the estimates. Same helper, hash and
    * register layout as `approx_count_distinct`, so the numbers equal a
    * `count` + `approx_count_distinct` aggregate bit for bit (spec-pinned).
    *
    * Why not that aggregate: HLL++ is an imperative aggregate, so the
    * HashAggregate around it runs without whole-stage codegen over a
    * 52-word buffer per column, and Spark plans it as a shuffle-map job plus
    * a result job. In a Spark event log of a three-mapping match on 4 cores
    * (~400 rows per task) that cost 30–38 ms of task CPU and a 16 MB
    * execution-memory page per task, and 28–38 ms more to merge the buffers
    * in the single result task: about as much as all of the match's
    * scoring. The sketch pass has no aggregate, no exchange and no result
    * stage. */
  def statScan(df: DataFrame, cols: Seq[String]): (Long, Map[String, Long]) = {
    val distinctCols = cols.distinct
    val projected = df.select(distinctCols.map(col): _*)
    val types = projected.schema.fields.map(_.dataType)
    val helper = new HyperLogLogPlusPlusHelper(RelativeSD)
    val numWords = helper.numWords
    def registers(): SpecificInternalRow = {
      val r = new SpecificInternalRow(Seq.fill(types.length * numWords)(LongType))
      (0 until r.numFields).foreach(r.setLong(_, 0L))
      r
    }
    // one job: each task folds its rows into its own register block and the
    // driver merges every task's block as it arrives
    val (rows, merged) = projected.queryExecution.toRdd.aggregate((0L, registers()))(
      { case ((n, buf), row) =>
        var i = 0
        while (i < types.length) {
          if (!row.isNullAt(i)) helper.update(buf, i * numWords, row.get(i, types(i)), types(i))
          i += 1
        }
        (n + 1, buf)
      },
      { case ((n1, buf1), (n2, buf2)) =>
        types.indices.foreach(i => helper.merge(buf1, buf2, i * numWords, i * numWords))
        (n1 + n2, buf1)
      })
    (rows, distinctCols.zipWithIndex.map { case (c, i) => c -> helper.query(merged, i * numWords) }.toMap)
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
    // Both sides' sketch passes (one single-stage job each) run
    // CONCURRENTLY (guide §2.6): they are independent jobs, and serializing
    // them only added their fixed scheduling latencies.
    val (leftStats, rightStats) = graft.util.Par.run2(
      statScan(left, named.map(_.leftCol)), statScan(r, named.map(_.rightCol)))
    val (ms, dedupBoth) = decide(named, leftStats, rightStats)
    if (dedupBoth)
      Plan(left.dropDuplicates(ms.map(_.leftCol).distinct),
        r.dropDuplicates(ms.map(_.rightCol).distinct), ms)
    else Plan(left, r, ms)
  }
}
