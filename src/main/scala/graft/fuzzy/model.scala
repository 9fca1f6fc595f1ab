package graft.fuzzy

/** Fuzzy-join configuration model.
  *
  * Mirrors the semantics of the reference's config surface
  * (`/root/reference/pl_fuzzy_frame_match/models.py:4-102`) re-expressed as
  * idiomatic Scala case classes. No code is translated — only the observable
  * contract (field defaults, threshold conversion quirk) is preserved.
  */
sealed trait FuzzyAlgorithm extends Serializable {
  /** Stable id used for codegen dispatch in [[Kernels.dist]]. */
  def id: Int
  /** Reference algorithm name (models.py:4), used in score-column names. */
  def name: String
}

object FuzzyAlgorithm {
  case object Levenshtein        extends FuzzyAlgorithm { val id = 0; val name = "levenshtein" }
  case object Jaro               extends FuzzyAlgorithm { val id = 1; val name = "jaro" }
  case object JaroWinkler        extends FuzzyAlgorithm { val id = 2; val name = "jaro_winkler" }
  case object Hamming            extends FuzzyAlgorithm { val id = 3; val name = "hamming" }
  case object DamerauLevenshtein extends FuzzyAlgorithm { val id = 4; val name = "damerau_levenshtein" }
  case object Indel              extends FuzzyAlgorithm { val id = 5; val name = "indel" }

  val all: Seq[FuzzyAlgorithm] =
    Seq(Levenshtein, Jaro, JaroWinkler, Hamming, DamerauLevenshtein, Indel)

  def fromName(name: String): FuzzyAlgorithm =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"Unknown fuzzy algorithm '$name'; expected one of ${all.map(_.name).mkString(", ")}"))
}

/** One column-pair mapping of a fuzzy join (reference models.py:15-102).
  *
  * @param thresholdScore similarity threshold on a 0-100 scale (default 80).
  * @param percUnique combined uniqueness score filled in by preprocessing.
  * @param outputColumnName score column name; when None a default of
  *   `fuzzy_score_{left}_{right}` applies (models.py:87-89) unless
  *   preprocessing overwrites it with `{left}_vs_{right}_{algo}`
  *   (pre_process.py:326).
  */
final case class FuzzyMapping(
    leftCol: String,
    rightCol: String,
    thresholdScore: Double = 80.0,
    fuzzyType: FuzzyAlgorithm = FuzzyAlgorithm.Levenshtein,
    percUnique: Double = 0.0,
    outputColumnName: Option[String] = None,
    valid: Boolean = true) {

  /** similarity(0-100) -> normalized distance(0-1). The reference truncates
    * the threshold to an int first (models.py:102: `((int(t)-100)*-1)/100`),
    * so 80.5 behaves as 80 — replicated deliberately. */
  def reversedThresholdScore: Double = ((thresholdScore.toInt - 100) * -1).toDouble / 100.0

  /** Effective output name with the mid-level-API default applied. */
  def resolvedOutputName: String =
    outputColumnName.getOrElse(s"fuzzy_score_${leftCol}_${rightCol}")
}

object FuzzyMapping {
  /** Reference allows right_col=None meaning "same as left" (models.py:81-82). */
  def sameColumn(col: String,
                 thresholdScore: Double = 80.0,
                 fuzzyType: FuzzyAlgorithm = FuzzyAlgorithm.Levenshtein): FuzzyMapping =
    FuzzyMapping(col, col, thresholdScore, fuzzyType)
}

/** Strategy/tuning knobs. Defaults mirror the reference's operative constants
  * (matcher.py:250,286,322; top_n matcher.py:106).
  *
  * @param useApproxNearestNeighbor Some(true)=force LSH candidate join,
  *   Some(false)=force exact cross join, None=auto by cartesian estimate.
  * @param crossOverForApprox cartesian size (distinct-left × distinct-right)
  *   above which auto mode switches to the approximate path.
  * @param hardCartesianCap refuse to plan joins larger than this.
  * @param runPreprocess run uniqueness stats / mapping reorder / conditional
  *   input dedup (the reference's pre_process_for_fuzzy_matching). Disable
  *   for the mid-level API semantics.
  */
final case class MatchOptions(
    useApproxNearestNeighbor: Option[Boolean] = None,
    topNForNewMatches: Int = 500,
    crossOverForApprox: Double = 1e8,
    hardCartesianCap: Double = 1e14,
    runPreprocess: Boolean = true,
    // LSH (approximate path) tuning — Spark-side design, no reference analog:
    // the reference delegates to polars-simed (matcher.py:145-152); we use
    // banded char-ngram MinHash which scales horizontally on a cluster. The
    // gram size, the kept-gram floor and the census sample size are fixed
    // (AnnJoin.NgramSize / MinKeptGrams / ProbeSampleSize; TUNING.md §1).
    lshNumBands: Int = 16,
    lshRowsPerBand: Int = 2,
    lshJaccardDistanceThreshold: Double = 0.85,
    // drop LSH buckets whose leftCount*rightCount exceeds this (skew guard;
    // see AnnJoin scaladoc)
    lshMaxBucketPairs: Long = 4_000_000L,
    // n-grams present in more than this fraction of all values are excluded
    // from MinHash signatures (IDF-style stop grams; see AnnJoin scaladoc)
    lshStopGramFraction: Double = 0.25,
    // auto mode: when more than this fraction of values lack discriminative
    // grams, LSH cannot separate them -> fall back to the exact cross join
    // as long as the cartesian stays under the fallback cap (0 disables).
    // Cap default is calibrated from the sf1.0 scale run: the bounded
    // kernel scans ~1.1e8 pairs/s on ONE 32-core node (8e9 pairs in 70 s),
    // so 1e11 is ~15 min single-node worst case — while LSH on a
    // degenerate corpus at 2.25e10 pairs measured SLOWER than exact
    // (380 s vs ~200 s) with only ~66% recall after bucket caps. On a
    // degenerate corpus exact is better at any size a cluster can afford;
    // this cap is the safety valve against accidental planet-scale joins,
    // not a performance crossover. Lower it on small shared clusters.
    lshDegenerateFraction: Double = 0.5,
    lshExactFallbackCartesianCap: Double = 1e11,
    // auto mode, second (runtime) degeneracy gate: after banding, if the
    // planned candidate volume (kept + capped bucket pairs, from the SAME
    // stats frame the bucket cap already aggregates) exceeds this fraction
    // of the cartesian, LSH is not pruning — the exact kernel scan is
    // cheaper per pair AND lossless, so bail to it (cartesian permitting).
    // Catches MIXTURE degeneracy the sampled probe cannot see: a corpus of
    // K internally-degenerate sub-corpora (multiple crawls/sources) keeps
    // every global gram frequency below the stop bar while every bucket is
    // still quadratic — measured at sf1.0 as a 380 s / 66%-recall LSH run
    // vs ~200 s exact on 2.25e10 pairs. The per-band bucket sums count a
    // pair once per band it collides in (1x..lshNumBands x the unique
    // volume, corpus-dependent — measured ~5.8 of 16 bands on a mixture-
    // degenerate fixture, ~1-2 on healthy text), so the gate is two-
    // threshold: clearly over budget even at full discount -> bail;
    // clearly under at no discount -> proceed; in between, the true
    // multiplicity is estimated from a bounded (~2M joined rows) sample
    // of left values and the bail decision uses the estimated UNIQUE
    // volume. 0 disables.
    lshCandidateFractionForExact: Double = 0.2,
    // Broadcast the smaller value-level side of an exact cross join when it
    // has at most this many distinct values (driver-side hint; AQE may still
    // pick broadcast on its own).
    broadcastDistinctLimit: Long = 200_000L,
    // Materialization barrier for multi-consumer intermediates. Local is
    // fastest but dies with a lost executor; pass Reliable(dir) for
    // fault-tolerant multi-pass jobs on a real cluster (the reference's
    // caller-owned temp dir, matcher.py:580-658).
    checkpoint: graft.util.CheckpointStrategy = graft.util.CheckpointStrategy.Local)

object MatchOptions {
  val default: MatchOptions = MatchOptions()
  /** Exact-path-only options (used by correctness tests/oracle queries). */
  val exact: MatchOptions = MatchOptions(useApproxNearestNeighbor = Some(false))
}
