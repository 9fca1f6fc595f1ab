package graft.fuzzy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.util.CapMetrics

/** Approximate candidate generation for huge cartesian spaces.
  *
  * The reference shells out to polars-simed (`ps.join_sim`,
  * matcher.py:99-161): collect both sides to the driver, chunk the left side
  * 10k rows at a time, take the top-N most similar right values per left
  * value. That design is single-node by construction. The Spark-native
  * re-expression is banded MinHash LSH over character n-gram sets:
  *
  *   distinct values -> char n-grams -> IDF stop-gram removal -> k minhashes
  *   (native codegen'd expressions) -> band keys -> capped bucket equi-join
  *   -> true n-gram-Jaccard verify -> per-left-value top-N.
  *
  * Implemented directly on DataFrames (not spark.ml's MinHashLSH) for one
  * load-bearing reason: BUCKET-SIZE CAPPING. On adversarial inputs where
  * many values share most n-grams (e.g. a common 13-char prefix), every
  * hash bucket contains nearly every value and an uncapped LSH join
  * degenerates to a skewed cartesian product on a single reducer —
  * measured as a >25-minute single-threaded stage at sf0.1. Buckets whose
  * candidate count exceeds `lshMaxBucketPairs` are dropped (the standard
  * web-scale LSH mitigation), bounding per-bucket work regardless of key
  * distribution. Drops are counted and logged per stage via
  * [[graft.util.CapMetrics]] — the cap is a recall trade, never a silent one.
  *
  * Auto mode additionally probes whether the corpus is LSH-friendly AT ALL:
  * when most values keep too few discriminative grams, bucket blocking
  * cannot separate them and the LSH path costs more than the exact cross
  * join while losing recall — [[candidatesOrExactFallback]] then returns
  * None so the caller runs exact (if the cartesian permits). The probe runs
  * on a ≤`lshProbeSampleSize` uniform sample: corpus-wide gram statistics
  * would cost more than the exact join the probe is trying to avoid
  * (measured: ~25 s of pure probe overhead at sf0.1 before sampling).
  */
object AnnJoin {

  /** The LSH top-N ranks through the BoundedTopK TypedImperativeAggregate
    * (ObjectHashAggregate). Its default sort-based fallback threshold (128
    * groups per partition) would demote the heap aggregate to exactly the
    * per-partition sort it exists to avoid (measured 56.0 -> 24.5 s on IVF
    * search at sf10 — SCALE.md). The conf is scoped around the execution
    * that contains the aggregate and restored afterwards, so the session
    * default (the memory safety valve for unbounded collect_list/set
    * buffers) stays in force everywhere else. Engine-owned since r20: a
    * production caller running the LSH path bare gets the same treatment
    * the bench rows used to configure by hand (VERDICT r19 item 4). */
  private val FallbackConf =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  private[graft] def withTopKHeapConf[T](
      spark: org.apache.spark.sql.SparkSession, scoped: Boolean)(body: => T): T = {
    if (!scoped) body
    else {
      val prev = spark.conf.getOption(FallbackConf)
      spark.conf.set(FallbackConf, "4194304")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(FallbackConf, v)
        case None => spark.conf.unset(FallbackConf)
      }
    }
  }

  /** Candidate generation with degenerate-input detection. Returns None
    * when the corpus is LSH-hostile and the cartesian is within
    * `lshExactFallbackCartesianCap` — the caller should run the exact
    * cross join instead.
    *
    * The probe estimates the degenerate-value fraction from a uniform
    * sample: gram document frequencies are proportional under uniform
    * sampling, so "gram present in more than `lshStopGramFraction` of all
    * values" is estimated by the same fraction of the sample, and the
    * per-value kept-gram counts follow. Total probe cost is O(sample), not
    * O(corpus) — auto-mode-with-fallback now costs ≈ the exact join. */
  def candidatesOrExactFallback(leftValues: DataFrame, rightValues: DataFrame,
                                leftCol: String, rightCol: String,
                                opts: MatchOptions, reversedThreshold: Double,
                                totalValues: Long, cartesian: Double): Option[DataFrame] = {
    CapMetrics.requireBands(opts.lshNumBands, "lshNumBands")
    val n = opts.lshNgramSize

    val probeApplies =
      cartesian <= opts.lshExactFallbackCartesianCap && opts.lshExactFallbackCartesianCap > 0

    // ONE Spark action: collect the ≤`lshProbeSampleSize` sampled values
    // (a few hundred KB) and run the whole probe — stop-gram estimation
    // and per-value kept-gram counts — in plain Scala on the driver.
    // Cluster-side aggregation would cost three jobs plus a barrier for
    // work that is microseconds at this size. Returns true when the corpus
    // is too degenerate for LSH.
    def probeDegenerate(): Boolean = {
      val frac = math.min(1.0, opts.lshProbeSampleSize.toDouble / math.max(totalValues, 1L))
      val sampled: Array[String] = leftValues.select(col(leftCol).as("__v"))
        .unionByName(rightValues.select(col(rightCol).as("__v")))
        .sample(withReplacement = false, frac, seed = 42L)
        .limit(2 * opts.lshProbeSampleSize)
        .collect().map(_.getString(0)).filter(_ != null).map(_.toLowerCase)
      val nSample = sampled.length
      if (nSample == 0) return false
      def gramsOf(v: String): Set[String] =
        if (v.length < n) Set(v)
        else (0 to v.length - n).map(i => v.substring(i, i + n)).toSet
      val gramSets = sampled.map(gramsOf)
      val docFreq = new java.util.HashMap[String, Int]()
      gramSets.foreach(_.foreach(g => docFreq.merge(g, 1, Integer.sum)))
      val stopBar = opts.lshStopGramFraction * nSample
      val ok = gramSets.count { gs =>
        gs.count(g => docFreq.get(g) <= stopBar) >= opts.lshMinKeptGrams
      }
      1.0 - ok.toDouble / nSample > opts.lshDegenerateFraction
    }

    // The probe collect and the stop-gram estimation job are independent
    // reads of the same value frames — overlap them (guide §2.6). When the
    // probe bails, the stop-gram sample job ran for nothing, but it was
    // concurrent with the probe and is sample-bounded (O(lshProbeSampleSize)
    // regardless of corpus size), so the bail case pays ~nothing while the
    // proceed case saves the whole serial stop-gram latency.
    val (isDegenerate, stopGrams) =
      if (probeApplies)
        graft.util.Par.run2(
          probeDegenerate(),
          estimateStopGrams(leftValues, rightValues, leftCol, rightCol, opts, totalValues))
      else
        (false, estimateStopGrams(leftValues, rightValues, leftCol, rightCol,
          opts, totalValues))
    if (isDegenerate) return None

    // Second, RUNTIME degeneracy gate (auto mode only): the sampled probe
    // cannot see MIXTURE degeneracy — K internally-degenerate sub-corpora
    // (multiple crawls, cipher-distinct sources) dilute every global gram
    // frequency below the stop bar while every bucket stays quadratic. The
    // banded bucket statistics the cap aggregates anyway give the exact
    // planned volume; if LSH is not actually pruning, fall back to exact.
    val bailBudget =
      if (probeApplies && opts.lshCandidateFractionForExact > 0)
        Some(opts.lshCandidateFractionForExact * cartesian)
      else None
    buildOrBail(leftValues, rightValues, leftCol, rightCol, opts, reversedThreshold,
      stopGrams, totalValues, bailVolume = bailBudget)
  }

  /** Approximate candidate pairs between two distinct-value frames (no
    * degeneracy probe, no volume bail — a user-forced LSH join must never
    * silently become an exact cross join). */
  def candidates(leftValues: DataFrame, rightValues: DataFrame,
                 leftCol: String, rightCol: String,
                 opts: MatchOptions, reversedThreshold: Double = 1.0,
                 totalValues: Long = -1L): DataFrame = {
    CapMetrics.requireBands(opts.lshNumBands, "lshNumBands")
    val total =
      if (totalValues > 0) totalValues
      else leftValues.count() + rightValues.count()
    val stopGrams = estimateStopGrams(leftValues, rightValues, leftCol, rightCol,
      opts, total)
    build(leftValues, rightValues, leftCol, rightCol, opts, reversedThreshold,
      stopGrams, total)
  }

  /** The stop grams are ESTIMATED from a uniform sample and COLLECTED to
    * the driver: gram document frequencies are proportional under uniform
    * sampling (same argument as the degeneracy probe), so "present in more
    * than `lshStopGramFraction` of all values" is tested against the
    * sample's expected size — a constant-cost step instead of a corpus
    * scan. The set itself is bounded by avgGramsPerValue /
    * lshStopGramFraction entries regardless of corpus size (~a hundred at
    * the defaults even at 100 TB), so it ships to executors as a literal
    * reference object and gram filtering becomes a narrow codegen
    * projection instead of three shuffles a side. */
  private def estimateStopGrams(leftValues: DataFrame, rightValues: DataFrame,
                                leftCol: String, rightCol: String,
                                opts: MatchOptions, total: Long): Array[String] = {
    val n = opts.lshNgramSize
    val sampleFrac = math.min(1.0, opts.lshProbeSampleSize.toDouble / math.max(total, 1L))
    leftValues.select(col(leftCol).as("__v"))
      .unionByName(rightValues.select(col(rightCol).as("__v")))
      .sample(withReplacement = false, sampleFrac, seed = 42L)
      .select(explode(array_distinct(
        vectorFunctions.char_ngrams(lower(col("__v")), n))).as("__g"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") > opts.lshStopGramFraction * (total * sampleFrac))
      .select(col("__g"))
      .collect().map(_.getString(0))
  }

  /** `valueId` is the narrow-payload id expression (xxhash64 in
    * production). private[fuzzy] + pluggable so AnnJoinSpec can FORCE id
    * collisions (naturally ~n²/2⁶⁵) and pin the documented degradation
    * mode: candidate-set perturbation only, never corrupted output rows. */
  private[fuzzy] def build(leftValues: DataFrame, rightValues: DataFrame,
                    leftCol: String, rightCol: String,
                    opts: MatchOptions, reversedThreshold: Double,
                    stopGrams: Array[String], totalValues: Long,
                    valueId: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                      c => xxhash64(c)): DataFrame =
    buildOrBail(leftValues, rightValues, leftCol, rightCol, opts, reversedThreshold,
      stopGrams, totalValues, bailVolume = None, valueId = valueId)
      .getOrElse(throw new IllegalStateException("unreachable: bail disabled"))

  private[fuzzy] def buildOrBail(leftValues: DataFrame, rightValues: DataFrame,
                    leftCol: String, rightCol: String,
                    opts: MatchOptions, reversedThreshold: Double,
                    stopGrams: Array[String], totalValues: Long,
                    bailVolume: Option[Double],
                    valueId: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                      c => xxhash64(c)): Option[DataFrame] = {
    val n = opts.lshNgramSize
    val bands = opts.lshNumBands
    val rows = opts.lshRowsPerBand
    val k = bands * rows

    // One narrow projection per side: kept grams (discriminative grams with
    // full-set fallback, the stop set inlined as a reference object) ->
    // minhash signature -> band keys, all inside WholeStageCodegen. No
    // shuffle and no materialization barrier — recomputing the projection
    // for the bucket statistics is cheaper than checkpointing the exploded
    // band rows.
    //
    // The band rows carry an 8-byte value id (xxhash64 of the value), NOT
    // the value string: each value explodes into `bands` rows and each
    // collision duplicates the pair, so a string payload would multiply
    // through the widest shuffles of the whole path (measured ~40% of
    // LSH wall time at sf0.1). Strings re-attach by id AFTER the pair
    // stream is deduplicated — from value frames that are `bands`x smaller
    // than the band rows, broadcast when small. An id collision (~n^2/2^64)
    // merges two values' candidate sets — at worst a topN/recall
    // perturbation, never a wrong result: every candidate is re-scored
    // exactly on the attached strings downstream.
    def bandedIds(df: DataFrame, vCol: String, vidName: String): DataFrame =
      df.select(
          valueId(col(vCol)).as(vidName),
          posexplode(
            vectorFunctions.lsh_band_keys(
              vectorFunctions.minhash_signature(
                vectorFunctions.kept_grams(lower(col(vCol)), n, stopGrams,
                  opts.lshMinKeptGrams),
                k),
              bands, rows)))
        .withColumnRenamed("pos", "__band")
        .withColumnRenamed("col", "__bkey")

    // Materialized: consumed twice (bucket statistics + the bucket join).
    // With string payloads this was a recompute-over-checkpoint call — the
    // exploded band rows were too wide to store; at 24 bytes/row the
    // checkpoint is bands x values x 24 B and saves a full second
    // kept-grams + minhash pass over every value. The two sides' banding
    // jobs are independent — submitted concurrently (guide §2.6), same
    // barriers either way.
    val (lb, rb) = graft.util.Par.run2(
      graft.util.Materialize(bandedIds(leftValues, leftCol, "__lvid"), opts.checkpoint),
      graft.util.Materialize(bandedIds(rightValues, rightCol, "__rvid"), opts.checkpoint))

    // Shuffle-partition advisory (SCALE.md round-9 A/B): the band join and
    // the pair distinct shuffle ~bands x values rows; partitions sized to
    // the core count leave multi-million-row sort partitions at corpus
    // scale (measured: 893 s -> 403 s candidate gen at sf10 purely from
    // resizing). Advise rather than override — the session conf is the
    // caller's contract with their cluster, and AQE coalesces an oversized
    // setting back down while an undersized one self-corrects nothing.
    val estBandRows = totalValues * bands
    val shufParts =
      try leftValues.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
      catch { case _: NumberFormatException => 200 }
    if (shufParts > 0 && estBandRows / shufParts > 1_000_000L)
      LoggerFactory.getLogger(getClass).warn(
        s"[graft.lsh] ~$estBandRows band rows over $shufParts shuffle partitions " +
          s"(~${estBandRows / shufParts} rows/partition) — raise " +
          s"spark.sql.shuffle.partitions toward ${estBandRows / 125_000L} " +
          "(target 125-250k band rows/partition; see TUNING.md)")
    val lLow = FuzzyMatcher.lowerName(leftCol)
    val rLow = FuzzyMatcher.lowerName(rightCol)

    // Value-id -> (value, lowered value) maps for the re-attach joins.
    // Broadcast while the combined value count is clearly broadcast-sized;
    // beyond that the attach is an equi-join on the 8-byte id — shuffle
    // volume = value frames + surviving pairs, still far below carrying
    // strings through the band explosion.
    val lMap = leftValues.select(valueId(col(leftCol)).as("__lvid"),
      col(leftCol), lower(col(leftCol)).as(lLow))
    val rMap = rightValues.select(valueId(col(rightCol)).as("__rvid"),
      col(rightCol), lower(col(rightCol)).as(rLow))
    val bcastMaps = totalValues > 0 && totalValues <= opts.broadcastDistinctLimit
    def attach(pairs: DataFrame, m: DataFrame, key: String): DataFrame =
      if (bcastMaps) pairs.join(broadcast(m), Seq(key)) else pairs.join(m, Seq(key))

    // Bucket capping: drop (band, key) buckets whose left x right candidate
    // count exceeds the cap — they are non-selective and would concentrate
    // quadratic work on single reducers. Drop counts are observed and
    // logged (CapMetrics), so capped recall loss is visible per stage.
    // Both sides' bucket sizes come from ONE union-aggregate (a single
    // shuffle) rather than two aggregations joined on the bucket key.
    val bucketStats = lb.select(col("__band"), col("__bkey"),
        lit(1L).as("__l"), lit(0L).as("__r"))
      .unionByName(rb.select(col("__band"), col("__bkey"),
        lit(0L).as("__l"), lit(1L).as("__r")))
      .groupBy(col("__band"), col("__bkey"))
      .agg(sum(col("__l")).as("__lc"), sum(col("__r")).as("__rc"))
      .where(col("__lc") > 0 && col("__rc") > 0)
    val overCap = col("__lc") * col("__rc") > opts.lshMaxBucketPairs
    val gate = CapMetrics.gate(bucketStats, "fuzzy_lsh",
      "__band", "__bkey", overCap, col("__lc") * col("__rc"), opts.checkpoint)

    // Volume bail (auto mode): plan on THIS gate call's returned stats —
    // `lastMetrics("fuzzy_lsh")` is a global keyed by stage name, so under
    // concurrent matches (MatchScope is per-thread by design) it may hold
    // another join's numbers.
    //
    // kept + dropped sums lc*rc PER BAND, counting a surviving pair once
    // per band it collides in — between 1x and `bands`x the unique-pair
    // volume, and the factor is corpus-dependent (measured: ~5.8 of 16
    // bands on a mixture-degenerate fixture, ~1-2 on healthy text). So:
    //  - raw/bands > budget: even the most-overcounted reading is over
    //    budget — bail immediately, no extra work;
    //  - raw <= budget: within budget even if every collision is unique —
    //    proceed with LSH, no extra work;
    //  - in between: estimate the true multiplicity from a bounded sample
    //    of left values (sampling whole values keeps pair multiplicity
    //    intact) and bail on the estimated unique volume. One extra job,
    //    capped at ~2M joined rows, paid only in the uncertain band.
    // The capped band join as a function of the left banded frame, so the
    // volume-bail estimator below can run it on a SAMPLE of left values
    // before the real join runs on all of them.
    val gatedJoin: DataFrame => DataFrame = lbIn =>
      gate.keep(lbIn).join(gate.keep(rb), Seq("__band", "__bkey"))

    bailVolume match {
      case Some(budget) =>
        val rawPlanned = (gate.stats.keptPairs + gate.stats.droppedPairs).toDouble
        val uniquePlanned =
          if (rawPlanned / bands > budget || rawPlanned <= budget) rawPlanned / bands
          else {
            val mod = math.max(1L, math.round(rawPlanned / 2e6))
            val sample = gatedJoin(lb.where(pmod(col("__lvid"), lit(mod)) === 0))
              .agg(count(lit(1)).cast("double").as("__raw"),
                approx_count_distinct(struct(col("__lvid"), col("__rvid"))).cast("double")
                  .as("__uniq")).head()
            val (rawS, uniqS) = (sample.getDouble(0), sample.getDouble(1))
            // empty/degenerate sample: fall back to the conservative raw
            // count (bail rather than run an un-pruned LSH join)
            if (rawS == 0 || uniqS == 0) rawPlanned
            else rawPlanned * (uniqS / rawS)
          }
        if (uniquePlanned > budget) {
          LoggerFactory.getLogger(getClass).warn(
            f"[graft.pass] LSH planned ~${uniquePlanned.toLong}%,d unique candidate " +
              f"pairs (band-multiplicity adjusted from ${rawPlanned.toLong}%,d) " +
              f"against a budget of ${budget.toLong}%,d (lshCandidateFractionForExact) " +
              "— blocking is not pruning this corpus; falling back to exact")
          return None
        }
      case None =>
    }

    // Jaccard gate: a single edit changes at most `n` grams, so a pair
    // within normalized edit distance f has gram-Jaccard distance at most
    // ~2nf/(1 + nf) (long-string limit; the exact worst case for length L
    // is 2nfL/(L-n+1+nfL), ~8% above the limit at L=30). Gate at 1.15x the
    // limit — enough margin for end effects while cutting the
    // mid-similarity pairs that dominate candidate volume on topical text
    // (a 1.4x margin admitted ~3x more candidates for zero extra recall).
    // Capped by the configured ceiling.
    val f = reversedThreshold
    val adaptiveGate = math.min(
      math.max(1.15 * (2.0 * n * f) / (1.0 + n * f), 0.25),
      opts.lshJaccardDistanceThreshold)

    // Candidate pipeline, narrow-payload end to end:
    //   band equi-join on id rows (16 B/pair) -> dropDuplicates on the id
    //   pair (band duplicates collapse BEFORE any per-pair compute, so the
    //   jaccard kernel runs once per unique pair) -> attach strings ->
    //   jaccard gate -> project back to (ids, jaccard) -> rank window over
    //   24 B rows -> final string attach on the topN survivors only.
    // Ranking on unique pairs keeps the topN boundary deterministic (ties
    // break on (jaccard, right-value id)); a pair surfacing from b bands
    // cannot eat b top-N slots.
    val joined = gatedJoin(lb)
    val pairIds = joined
      .select(col("__lvid"), col("__rvid"))
      .dropDuplicates("__lvid", "__rvid")

    val gated = attach(attach(pairIds, lMap, "__lvid"), rMap, "__rvid")
      .withColumn("__jaccard_dist",
        vectorFunctions.ngram_jaccard_dist(col(lLow), col(rLow), n))
      .where(col("__jaccard_dist") <= adaptiveGate)
      .select(col("__lvid"), col("__rvid"), col("__jaccard_dist"))

    // Top-N via the BoundedTopK heap aggregate, NOT a row_number window:
    // the window shuffles AND SORTS every gated pair per left value, while
    // the TypedImperativeAggregate partial-aggregates k*16-byte heaps
    // map-side before the exchange (the same swap that took IVF search
    // 56 -> 24.5 s at sf10 — SCALE.md). Order is identical: keep the k
    // best under (jaccard asc, rvid asc) == (score desc, id asc) with
    // score = -jaccard, so the surviving (lvid, rvid) SET is exactly the
    // window's `row_number <= k` set.
    val ranked = gated
      .groupBy(col("__lvid"))
      .agg(vectorFunctions.topk_pairs(negate(col("__jaccard_dist")), col("__rvid"),
        opts.topNForNewMatches).as("__top"))
      .select(col("__lvid"), explode(col("__top")).as("__e"))
      .select(col("__lvid"), col("__e.id").as("__rvid"))

    Some(attach(attach(ranked, lMap, "__lvid"), rMap, "__rvid")
      .select(col(leftCol), col(lLow), col(rightCol), col(rLow)))
  }
}
