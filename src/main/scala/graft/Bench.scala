package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fuzzy.{FuzzyAlgorithm, FuzzyMapping, FuzzyMatcher, MatchOptions}
import graft.pipeline.{AnnSearch, Dedup}

/** Headline benchmarks mirroring BASELINE.md's measured rows.
  *
  * The reference's benchmark workload is a single levenshtein@75 mapping
  * over unique name strings (BASELINE.md); the comparable unique-string
  * columns in the driver testdata are customer/part names, subset by key
  * ranges to reproduce the baseline's cardinalities:
  *   - exact_80m  : 10k x 8k  forced cross join   (baseline 18.67 s)
  *   - exact_225m : 15k x 15k forced cross join   (baseline 40.82 s @150M)
  *   - auto_225m  : 15k x 15k auto (customer names are LSH-hostile — the
  *     sampled degeneracy probe must fall back to exact at ~exact cost)
  *   - annf_3g    : ~102k x ~31k diverse document-derived strings with
  *     injected typos (the reference's ANN scenario recipe,
  *     performance_test/generate_test_data.py:63-142) — a ~3.2e9 cartesian
  *     where the forced-LSH path must beat the _exact twin
  * plus the pipeline operators' scale demos on documents/embeddings.
  *
  * Methodology: every query runs `Iterations` times after a warmup pass at
  * sf0.001; the reported number is the MIN (run-to-run variance at sf0.1 on
  * this machine is +-40%, so single-shot numbers cannot support any
  * optimization claim). All samples are emitted alongside, each paired
  * 1:1 with an interleaved probe PAIR — [[probeOnce]] (CPU-bound) and
  * [[ioProbeOnce]] (I/O-bound) — so every sample carries the host
  * throughput of its own window on both axes and a cross-round swing is
  * attributable from the record alone (sample elevated AND a probe
  * elevated ⇒ host; sample elevated, probes healthy ⇒ code or a
  * whole-window degradation, which the cross-round family backstop
  * flags). Samples are probe-GATED against gates relative to the run's
  * best readings (floored at the idle calibration), a contaminated row
  * is re-run once against its committed family min, and the record is
  * written three ways (full detail line, BENCH_LOCAL.json after every
  * row, compact mins line last) so no truncation or mid-run kill can
  * lose it. SCALE.md "Bench self-certification" carries the
  * calibration sweeps and the dd-contention separation test.
  */
object Bench {

  val Iterations = 3
  val SlowQueryCutoffSec = 30.0

  /** Probe reading above which the host is too loaded to take a sample:
    * ~1.5x [[ProbeHealthySec]] — the healthy band tops out at 0.15 s and
    * real contention shows as 2x+, so the gate sits in the gap (r13's
    * contaminated window probed 0.26-1.22, every one past the gate;
    * every healthy r12/r13 probe was <= 0.155). */
  val ProbeGateSec = 0.20

  /** I/O probe gate (seconds for [[ioProbeOnce]]'s 64 MB parquet
    * write+read): the CPU probe is register-bound and was proven BLIND
    * to the r14 contamination (healthy 0.107-0.118 probes beside 3.3x
    * sample inflation on unchanged code — VERDICT r14); this second
    * reading exercises the filesystem + page cache + memory-bandwidth
    * path the queries actually share. Healthy band measured on this
    * host (idle, PSI~0, 24-reading sweep): min 0.58, p50 0.72,
    * p90 0.93 — wider-tailed than the CPU probe because it includes
    * real writeback; the gate sits at ~1.8x the idle p50 so the idle
    * tail passes and contention (measured 2x+ under dd — SCALE.md
    * "Bench self-certification") does not. */
  val IoProbeGateSec = 1.30

  /** A row whose healthy-window min exceeds its committed trailing
    * family min by this factor triggers ONE automatic same-process
    * re-run before the row is recorded (and is flagged `over_family`
    * if still above after the re-run) — the cross-round backstop for
    * contamination BOTH probes miss. */
  val FamilyRerunFactor = 1.5

  /** Absolute-delta floor under the family gate (VERDICT r16 item 5):
    * the ratio alone is twitchy for sub-second rows, where 200 ms of
    * scheduler noise is 40% of the runtime — three rounds running it
    * false-flagged an unchanged sub-second row (ann_topk_embeddings
    * r15, dedup_chunk_docs + decontaminate_docs r16), training readers
    * to ignore the one flag that matters. A row is over-family only
    * when BOTH hold: min > [[FamilyRerunFactor]] x family min AND
    * min - family min > this floor. */
  val FamilyAbsFloorSec = 0.5

  private def overFamilyGate(best: Double, familyMin: Double): Boolean =
    best > FamilyRerunFactor * familyMin &&
      best - familyMin > FamilyAbsFloorSec

  /** Adjudication rule for the committed family history (VERDICT r17
    * item 5): the min-based GATE is immune to one contaminated round's
    * entry, but any mean-based reading of the history is not (r17's
    * environment-attributed 82.2 s sat beside a 41.3 family min). At
    * save time, entries that are over-family RELATIVE TO THEIR OWN
    * LIST'S MIN move out of the row's list into a sibling
    * `~adjudicated_<row>` annotation list — raw values preserved with a
    * machine-readable marker, never silently dropped. Gate semantics
    * are unchanged (such entries could never lower the min). Two
    * deliberate consequences: (a) pre-improvement history moves out
    * after a genuine speedup (right for mean-readers — those values are
    * not comparable baseline mass either), and (b) a GENUINE sustained
    * regression now screams EVERY round instead of aging in after the
    * window rolled: its values keep adjudicating out, so the old min
    * never leaves. Accepting a new normal is a deliberate act (fix the
    * code or prune the row's family list in the same commit that
    * explains why), not a side effect of five quiet rounds. */
  val AdjudicatedPrefix = "~adjudicated_"

  private[graft] def splitAdjudicated(vs: Seq[Double]): (Seq[Double], Seq[Double]) =
    if (vs.isEmpty) (vs, Seq.empty)
    else { val m = vs.min; vs.partition(v => !overFamilyGate(v, m)) }

  /** The whole family-history update: prepend each row's new min
    * UNTRIMMED, adjudicate, THEN window-trim the kept list — in that
    * order, or a full list's over-family newcomer would evict the
    * oldest entry (often the protected min) via take() before
    * [[splitAdjudicated]] ever saw it, aging the regression in after
    * one round and dropping the evicted value unannotated. Returns the
    * updated history and the rows that adjudicated entries this pass. */
  private[graft] def updateFamilyHistory(
      prev: Map[String, Seq[Double]],
      mins: Seq[(String, Double)]): (Map[String, Seq[Double]], List[String]) = {
    var adjudicatedRows: List[String] = Nil
    val appended = mins.foldLeft(prev) { case (acc, (name, best)) =>
      acc.updated(name, best +: acc.getOrElse(name, Seq.empty))
    }
    val updated = appended.foldLeft(appended) { case (acc, (k, vs)) =>
      if (k.startsWith(AdjudicatedPrefix)) acc
      else {
        val (kept, adjudicated) = splitAdjudicated(vs)
        if (adjudicated.nonEmpty) adjudicatedRows ::= k
        val trimmed = acc.updated(k, kept.take(FamilyHistoryLen))
        if (adjudicated.isEmpty) trimmed
        else trimmed.updated(AdjudicatedPrefix + k,
          (adjudicated ++ acc.getOrElse(AdjudicatedPrefix + k, Seq.empty))
            .take(FamilyHistoryLen))
      }
    }
    (updated, adjudicatedRows)
  }

  /** Sick-probe backoff schedule (seconds) — escalating waits so a
    * transient (another round's verify run, a GC storm) passes without
    * burning the whole budget, while a persistently loaded host exhausts
    * in ~3.5 min per sample and the sample runs anyway, flagged. */
  val ProbeBackoffSec: IndexedSeq[Long] = IndexedSeq(5L, 15L, 30L, 60L, 90L)
  val MaxProbeRetries: Int = ProbeBackoffSec.length

  /** Per-query iteration tier: stable mid-cost rows whose min-of-3 has
    * been in family for 5+ rounds run min-of-2 — the saved wall-clock
    * funds the probe-gate retries on the rows that actually move.
    * Headline/contested rows keep the full budget. */
  val ReducedIterations: Map[String, Int] = Map(
    "fuzzy_exact_1g4" -> 2,       // 9 s/sample, 0.96-0.98x for 4 rounds
    "fuzzy_annf_3g_exact" -> 2,   // 47 s/sample — the single largest line item
    "asof_events" -> 2,
    "decontaminate_docs" -> 2,
    "dedup_chunk_docs" -> 2,
    "dedup_exact_docs" -> 2)
  private def iterationsFor(name: String): Int =
    ReducedIterations.getOrElse(name, Iterations)

  /** Queries that ALWAYS get the full min-of-N even past the slow-query
    * cutoff: the exact twin is the denominator of the headline LSH-win
    * ratio, and the auto rows are the headline crossover claims — a
    * single-shot sample (harness variance has measured +-40%, and one
    * loaded r4 run put auto_225m at 31 s vs its 3.3 s steady state)
    * cannot back those claims. Anything else that runs once is annotated
    * in the JSON output (`single_shot`). */
  val AlwaysFullIterations: Set[String] =
    Set("fuzzy_annf_3g_exact", "fuzzy_auto_225m", "fuzzy_annf_3g_auto",
      "fuzzy_exact_1g4")

  /** Single levenshtein mapping like the baseline workload. Threshold 90 on
    * the 18-char synthetic names means "differ in at most one character" —
    * ~0.4% match rate, comparable to the reference's typo'd-name corpora
    * (threshold 75 on this data degenerately matches EVERY pair). */
  private[graft] def lev90(left: DataFrame, right: DataFrame, lc: String, rc: String,
                    opts: MatchOptions): DataFrame =
    FuzzyMatcher.matchDfs(left, right,
      Seq(FuzzyMapping(lc, rc, 90.0, FuzzyAlgorithm.Levenshtein)), opts)

  /** Diverse value frame derived from document text: one `width`-char
    * substring per (doc, offset). Document text is word-diverse (unlike the
    * shared-prefix customer names), so char-ngram LSH can block on it —
    * the reference's "generated names" ANN benchmark shape. */
  private[graft] def docValues(s: SparkSession, sfDir: String, offsets: Seq[Int],
                        width: Int, out: String): DataFrame =
    s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), explode(array(offsets.map(lit): _*)).as("__off"),
        col("text"))
      .where(length(col("text")) >= col("__off") + width)
      .select(expr(s"substring(text, __off, $width)").as(out))
      .where(length(col(out)) === width)
      .distinct()

  /** Deterministic single-character deletion (the typo-injection recipe):
    * position derived from the value's own hash — reproducible without RNG
    * state, like generate_test_data.py's seeded typos. */
  private def injectTypo(df: DataFrame, in: String, out: String): DataFrame =
    df.select(expr(
      s"concat(substring($in, 1, cast(pmod(xxhash64($in), length($in) - 4) + 2 as int) - 1), " +
        s"substring($in, cast(pmod(xxhash64($in), length($in) - 4) + 2 as int) + 1, length($in)))"
    ).as(out)).distinct()

  /** LSH tuning for the ANN-friendly rows: 12 bands x 5 rows. Typo'd pairs
    * sit at gram-jaccard >= ~0.8 where P(>=1 band collision) = 1-(1-j^5)^12
    * >= 0.99, while mid-jaccard topic pairs (~0.45, abundant among document
    * substrings) collide ~3x less than at r=4 — band-join volume, not
    * banding, dominates the LSH path's cost. */
  private[graft] val annfOpts = MatchOptions(lshNumBands = 12, lshRowsPerBand = 5)

  /** The annf value frames are FIXTURES (the reference pre-generates its
    * perf corpora the same way, performance_test.py:58-86): built and
    * checkpointed once per scale factor so the timed region measures the
    * join operator, not test-data construction. */
  private val annfCache =
    scala.collection.mutable.Map.empty[String, (DataFrame, DataFrame)]
  /** Fixture cardinalities observed this run, emitted in the bench JSON:
    * the annf rows' cost is linear in these (LSH) or their product
    * (exact), and the driver REGENERATES testdata each round — a
    * cross-round wall-time trend on "unchanged" code is only
    * interpretable next to the fixture sizes it actually ran against
    * (VERDICT r14 item 3: fuzzy_annf_3g_exact's +31% creep since r12). */
  private[graft] val fixtureStats =
    scala.collection.mutable.SortedMap.empty[String, Long]
  private def annfValues(s: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    annfCache.getOrElseUpdate(sfDir, {
      val left = docValues(s, sfDir, 1 to 271 by 10, 30, "name").localCheckpoint()
      val right = injectTypo(docValues(s, sfDir, 1 to 211 by 30, 30, "src"), "src", "name_t")
        .localCheckpoint()
      val (nl, nr) = (left.count(), right.count())
      fixtureStats ++= Seq("annf_left" -> nl, "annf_right" -> nr,
        "annf_cartesian" -> nl * nr)
      System.err.println(s"[bench] annf fixture @$sfDir: left=$nl right=$nr " +
        s"cartesian=${nl * nr}")
      (left, right)
    })

  /** BASELINE.md's 40K x 30K forced-exact corpus (readme.md:50 — 1.2e9
    * pairs, 363.5 s single-node reference): ~44k x ~32k distinct 18-char
    * document-derived names, right side a deterministic single-char
    * deletion (fixed position 7 so the DuckDB oracle twin
    * `fuzzy_join_bench1g` reproduces it verbatim) = 1.4e9-pair cartesian
    * at sf0.1. */
  private val nameCache =
    scala.collection.mutable.Map.empty[String, (DataFrame, DataFrame)]
  private def companyNames(s: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    nameCache.getOrElseUpdate(sfDir, {
      val left = docValues(s, sfDir, 1 to 91 by 10, 18, "name").localCheckpoint()
      val right = docValues(s, sfDir, 3 to 63 by 10, 18, "src")
        .select(concat(substring(col("src"), 1, 6), substring(col("src"), 8, 11))
          .as("name_t"))
        .distinct().localCheckpoint()
      val (nl, nr) = (left.count(), right.count())
      fixtureStats ++= Seq("names_left" -> nl, "names_right" -> nr,
        "names_cartesian" -> nl * nr)
      System.err.println(s"[bench] names fixture @$sfDir: left=$nl right=$nr " +
        s"cartesian=${nl * nr}")
      (left, right)
    })

  /** Fit-once IVF index per scale factor: the quantizer is built and
    * PERSISTED outside the repeated samples (saveCentroids/loadCentroids
    * round trip, so the bench exercises the real index lifecycle), and
    * the headline `ann_ivf_embeddings` row measures SEARCH ONLY — the
    * per-job cost of a production index. `ann_ivf_fit_embeddings` times
    * the fit separately (once per corpus version in production). */
  private val ivfCache =
    scala.collection.mutable.Map.empty[String, (Array[Double], Int)]
  private def ivfIndexPath(sfDir: String): String =
    s"/tmp/graft_ivf_index_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
  private def ivfCentroids(s: SparkSession, sfDir: String): (Array[Double], Int) =
    ivfCache.getOrElseUpdate(sfDir, {
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      AnnSearch.fitIndex(emb, "embedding", dim = 64, nCells = 32, iters = 3,
        seed = 42L, path = ivfIndexPath(sfDir))
      AnnSearch.loadCentroids(s, ivfIndexPath(sfDir))
    })

  def benchQueries(sfDir: String): Map[String, SparkSession => DataFrame] = Map(
    "fuzzy_exact_80m" -> (s => {
      val c = s.read.parquet(s"$sfDir/customer.parquet").where(col("c_custkey") < 10000)
      val c2 = s.read.parquet(s"$sfDir/customer.parquet").where(col("c_custkey") < 8000)
      lev90(c, c2, "c_name", "c_name", MatchOptions(useApproxNearestNeighbor = Some(false)))
    }),
    // the 80M row re-run with CheckpointStrategy.Reliable into a real
    // directory: the fault-tolerant barrier a long multi-pass cluster job
    // uses; the delta vs fuzzy_exact_80m IS the documented overhead of
    // reliable checkpointing (TUNING.md)
    "fuzzy_exact_80m_reliable" -> (s => {
      val c = s.read.parquet(s"$sfDir/customer.parquet").where(col("c_custkey") < 10000)
      val c2 = s.read.parquet(s"$sfDir/customer.parquet").where(col("c_custkey") < 8000)
      lev90(c, c2, "c_name", "c_name",
        MatchOptions(useApproxNearestNeighbor = Some(false),
          checkpoint = graft.util.CheckpointStrategy.Reliable(
            s"/tmp/graft_bench_reliable_ckpt")))
    }),
    "fuzzy_exact_225m" -> (s => {
      val c = s.read.parquet(s"$sfDir/customer.parquet")
      lev90(c, c, "c_name", "c_name", MatchOptions(useApproxNearestNeighbor = Some(false)))
    }),
    "fuzzy_auto_225m" -> (s => {
      val c = s.read.parquet(s"$sfDir/customer.parquet")
      lev90(c, c, "c_name", "c_name", MatchOptions())
    }),
    // the MULTI-PASS fold at scale: the selective name mapping runs
    // first, the low-cardinality segment mapping scores only the
    // surviving pairs (cross_join_filter_existing path) — the reference's
    // multi-criteria scenario that exercises per-pass filtering
    "fuzzy_multi_225m" -> (s => {
      val c = s.read.parquet(s"$sfDir/customer.parquet")
      FuzzyMatcher.matchDfs(c, c, Seq(
          FuzzyMapping("c_name", "c_name", 90.0, FuzzyAlgorithm.Levenshtein),
          FuzzyMapping("c_mktsegment", "c_mktsegment", 80.0, FuzzyAlgorithm.JaroWinkler)),
        MatchOptions(useApproxNearestNeighbor = Some(false)))
    }),
    // ~102k x ~31k diverse values = ~3.2e9 pair cartesian at sf0.1 — the
    // scale where candidate generation beats brute force. LSH is FORCED
    // (Some(true)) so the row isolates the LSH path itself; the exact twin
    // measures the win. Row counts must agree (full recall on typo'd pairs).
    "fuzzy_annf_3g_lsh" -> (s => {
      val (left, right) = annfValues(s, sfDir)
      lev90(left, right, "name", "name_t",
        annfOpts.copy(useApproxNearestNeighbor = Some(true)))
    }),
    "fuzzy_annf_3g_exact" -> (s => {
      val (left, right) = annfValues(s, sfDir)
      lev90(left, right, "name", "name_t",
        annfOpts.copy(useApproxNearestNeighbor = Some(false)))
    }),
    // AUTO mode on the same LSH-friendly corpus — the reference's headline
    // scenario (auto crossover to ANN at 150M+ pairs): the sampled
    // degeneracy probe must CHOOSE the LSH path here and land at ~LSH cost,
    // not just fall back to exact on hostile data (fuzzy_auto_225m).
    "fuzzy_annf_3g_auto" -> (s => {
      val (left, right) = annfValues(s, sfDir)
      lev90(left, right, "name", "name_t", annfOpts)
    }),
    // the baseline table's 1.2 B forced-exact row (readme.md:50, 363.5 s
    // single-node): ~1.4e9-pair cross join, same corpus shape; oracle
    // twin `fuzzy_join_bench1g` checks this exact query at sf0.01
    "fuzzy_exact_1g4" -> (s => {
      val (l, r) = companyNames(s, sfDir)
      lev90(l, r, "name", "name_t", MatchOptions(useApproxNearestNeighbor = Some(false)))
    }),
    "dedup_minhash_docs" -> (s =>
      Dedup.minhashLshPairs(s.read.parquet(s"$sfDir/documents.parquet"),
        "text", "doc_id", shingleLen = 3, numBands = 16, rowsPerBand = 4, threshold = 0.4)),
    "dedup_exact_docs" -> (s =>
      Dedup.exactDedup(s.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id")),
    // SEARCH-ONLY against the persisted quantizer (fit happens once in
    // the fixture) — the per-job cost of a production IVF index
    "ann_ivf_embeddings" -> (s => {
      val (cents, dim) = ivfCentroids(s, sfDir)
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      AnnSearch.ivfTopKWithCentroids(emb, emb, "embedding", "vec_id", 10, dim,
        cents, nProbe = 4)
    }),
    // the fit side of the lifecycle, timed separately: k-means iterations
    // + persist (once per corpus version in production)
    "ann_ivf_fit_embeddings" -> (s => {
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      val flat = AnnSearch.fitIndex(emb, "embedding", dim = 64, nCells = 32,
        iters = 3, seed = 42L, path = ivfIndexPath(sfDir) + "_fitrow")
      s.range(flat.length / 64).toDF()
    }),
    "ann_topk_embeddings" -> (s => {
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      AnnSearch.bruteForceTopK(emb.where(col("vec_id") < 100), emb, "embedding", "vec_id", 10)
    }),
    // int8-quantized twin of ann_topk_embeddings: same plan shape over
    // 4x-compressed vectors + integer dot kernels
    "ann_int8_embeddings" -> (s => {
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      AnnSearch.int8TopK(emb.where(col("vec_id") < 100), emb, "embedding", "vec_id", 10)
    }),
    // PQ ADC twin of the same search: corpus scan carries m=16 code ints
    // per row (vs 64 floats), scoring is 16 LUT adds per pair + bounded
    // re-rank; md5 codebook so the row times pure search (no fit)
    "ann_pq_embeddings" -> (s => {
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      AnnSearch.pqTopKInt(emb.where(col("vec_id") < 100), emb, "embedding",
        "vec_id", 10, dim = 64, m = 16, ksub = 16, rerank = 40)
    }),
    // BM25 lexical retrieval: every 20th document's first 5 tokens as the
    // query set against the full corpus — postings build + token join +
    // BoundedTopK ranking (the sparse twin of the ANN search rows)
    "text_bm25_docs" -> (s => {
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
      val qs = docs.where(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("query_id"),
          expr("concat_ws(' ', slice(split(trim(lower(text)), '\\\\s+'), 1, 5))").as("qtext"))
      graft.pipeline.TextAnalysis.bm25TopK(docs, "text", "doc_id",
        qs, "qtext", "query_id", k = 10)
    }),
    // sub-document exact dedup: chunk projection + one digest-keyed agg
    "dedup_chunk_docs" -> (s =>
      Dedup.chunkDedup(s.read.parquet(s"$sfDir/documents.parquet"),
        "text", "doc_id", 16)),
    // round-5 pipeline operators at PRODUCTION defaults (caps on)
    "dedup_incremental_docs" -> (s => {
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
      val bkt = graft.pipeline.Curation.md5Bucket(col("doc_id"))
      Dedup.incrementalDedup(docs.where(bkt < 100000L),
        docs.where(bkt >= 100000L), "text", "doc_id")
    }),
    "decontaminate_docs" -> (s => {
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
      val bkt = graft.pipeline.Curation.md5Bucket(col("doc_id"))
      graft.pipeline.Decontaminate.contaminated(
        docs.where(bkt >= 100000L), docs.where(bkt < 100000L), "text", "doc_id", 5)
    }),
    "asof_events" -> (s => {
      val ev = graft.util.EventTs.loadEvents(s, sfDir).select(col("event_id"),
        col("user_id"), expr("ts div 1000").as("ts_us"), col("event_type"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_us").as("click_ts_us"))
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(org.apache.spark.sql.functions.max(col("event_id")).as("view_id"))
        .withColumnRenamed("ts_us", "view_ts_us")
      graft.pipeline.AsofJoin.backward(clicks, views, Seq("user_id"),
        "click_ts_us", "view_ts_us", Seq("view_id", "view_ts_us"))
    }),
  )

  /** Rows whose ranking runs through the BoundedTopK heap aggregate
    * (ObjectHashAggregate with fixed k*16-byte buffers): the default
    * fallback-to-sort threshold of 128 groups per partition would
    * re-introduce the per-partition sort the aggregate exists to avoid
    * (measured at sf10: 56.0 s -> 24.5 s IVF search — SCALE.md). The
    * conf is scoped PER QUERY via set/restore around each sample —
    * exactly the TUNING.md recipe — so the session default (and its
    * sort-based memory safety valve for unbounded collect_list/
    * collect_set buffers) is back in force for every other row. */
  private val HeapAggQueries = Set("ann_ivf_embeddings",
    "ann_ivf_fit_embeddings", "ann_topk_embeddings", "ann_int8_embeddings",
    "ann_pq_embeddings", "text_bm25_docs")
  // The LSH fuzzy rows no longer appear here: since r20 the ENGINE scopes
  // the fallback conf around each LSH pass's materialization
  // (FuzzyMatcher.processFuzzyMapping -> AnnJoin.withTopKHeapConf), so a
  // production caller gets the same treatment without bench-harness help
  // (VERDICT r19 item 4). The rows above share that one helper.

  /** One pre-sample host reading: CPU-bound probe + I/O-bound probe,
    * with the health verdict taken AT PROBE TIME against the run's
    * effective gates. A window is healthy only when BOTH axes pass —
    * r14 proved a CPU-only reading passes I/O/page-cache/memory-
    * bandwidth contamination as healthy. */
  final case class ProbeReading(cpu: Double, io: Double, healthy: Boolean) {
    override def toString: String = f"cpu=$cpu%.3f io=$io%.3f"
  }

  /** Within-run gates are RELATIVE to the run's best probe readings so
    * far (floored at the absolute idle-calibrated gates): this host's
    * throughput drifts 2-3.5x between windows with zero in-guest load
    * (SCALE.md — VM neighbor contention is invisible to every local
    * metric), so an absolute gate either back-off-deadlocks on a slow
    * day (the whole idle band sits past it) or waves contamination
    * through on a fast one. The layered design: the relative gate
    * catches TRANSIENT within-run contention; the cross-round family
    * check ([[FamilyRerunFactor]]) catches a WHOLE-RUN-degraded window
    * the relative gate is blind to by construction. */
  val CpuGateSlack = 1.75
  val IoGateSlack = 1.8

  private final case class RowResult(name: String, best: Double, rows: Long,
                                     samples: Seq[Double],
                                     probes: Seq[ProbeReading],
                                     discarded: Seq[ProbeReading],
                                     familyRerun: Boolean, overFamily: Boolean,
                                     sampleOk: Seq[Boolean]) {
    /** One sample both healthy-windowed AND successful — the bar for
      * entering the committed family history. */
    def familyEligible: Boolean =
      samples.indices.exists(i => sampleOk(i) && probes(i).healthy)
  }

  /** Trailing healthy-window minimum per row, committed as
    * `bench_family.json` so each round can check its samples against the
    * family BEFORE recording them (VERDICT r14 item 1b). Format:
    * `{"row": [min_r15, min_r14, ...]}` — newest first, last
    * [[FamilyHistoryLen]] rounds; the check threshold is
    * [[FamilyRerunFactor]] x the HISTORY MINIMUM, so one contaminated
    * round can never raise the bar, and a real regression ages in after
    * the window rolls. Only applied/updated at the driver's sf0.1. */
  val FamilyHistoryLen = 5
  // relative to the repo root: sbt forks `runMain` in the project directory
  private def familyPath: String =
    sys.env.getOrElse("SPARK_GRAFT_FAMILY", "bench_family.json")

  private[graft] def loadFamily(): Map[String, Seq[Double]] = {
    val f = new java.io.File(familyPath)
    if (!f.exists()) Map.empty
    else try {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // minimal parser for the flat {"k":[1.0,2.0],...} shape we write
      """"([^"]+)"\s*:\s*\[([0-9eE+.,\- ]*)\]""".r.findAllMatchIn(txt).map { m =>
        m.group(1) -> m.group(2).split(",").toSeq.map(_.trim)
          .filter(_.nonEmpty).map(_.toDouble)
      }.toMap
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] family file unreadable, ignoring: $e")
        Map.empty
    }
  }

  /** Whether a run may write the committed records (`BENCH_LOCAL.json`
    * and the family history): only a FULL run at the driver's scale
    * factor. A filtered dev loop or an sf0.001 sanity run must never
    * clobber the round's 24-row sf0.1 record or its family history. */
  private[graft] def writesCommittedRecords(sfDir: String,
                                            only: Option[Set[String]]): Boolean =
    only.isEmpty && sfDir.contains("sf0.1")

  private def saveFamily(hist: Map[String, Seq[Double]]): Unit = {
    val txt = hist.toSeq.sortBy(_._1).map { case (k, vs) =>
      "\"" + k + "\":" + vs.map(v => f"$v%.3f").mkString("[", ",", "]")
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(familyPath),
      txt.getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet stores TIMESTAMP(NANOS); read as raw long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JIT/codegen warmup at the smallest scale factor: identical plans and
    // generated code, negligible data — measured runs then reflect steady
    // state instead of first-query compilation noise.
    val warmOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    benchQueries("/root/testdata/sf0.001").toSeq.sortBy(_._1)
      .filter { case (name, _) => warmOnly.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try graft.util.MatchScope.withMatchScope {
          graft.fuzzy.AnnJoin.withTopKHeapConf(spark, HeapAggQueries.contains(name)) {
            fn(spark).count()
          }
        } catch { case _: Throwable => }
      }

    // dev filter: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run (the
    // driver never sets it, so round numbers always cover every row)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // JIT the interleaved probes themselves so query 1's probe isn't
    // measuring codegen compilation (the io probe also creates its
    // file), then seed the run's best-readings floor from two
    // post-JIT pairs — the relative gates need a baseline before the
    // first gated sample
    probeOnce(spark); ioProbeOnce(spark)
    var minCpu = Double.MaxValue
    var minIo = Double.MaxValue
    def cpuGate: Double = math.max(ProbeGateSec, CpuGateSlack * minCpu)
    def ioGate: Double = math.max(IoProbeGateSec, IoGateSlack * minIo)
    def takeProbe(): ProbeReading = {
      val c = probeOnce(spark)
      val o = ioProbeOnce(spark)
      minCpu = math.min(minCpu, c)
      minIo = math.min(minIo, o)
      ProbeReading(c, o, c <= cpuGate && o <= ioGate)
    }
    takeProbe(); takeProbe()

    // family thresholds only bind at the driver's scale factor — the
    // committed history is sf0.1 numbers
    val familyApplies = sfDir.contains("sf0.1")
    // ~adjudicated_<row> annotation lists are excluded: lookups are by row
    // name so they were inert, but any future iteration over this map must
    // never treat an annotation list as a real row (ADVICE r18)
    val family: Map[String, Double] =
      if (familyApplies) loadFamily().collect {
        case (k, vs) if vs.nonEmpty && !k.startsWith(AdjudicatedPrefix) =>
          k -> vs.min }
      else Map.empty
    val backoffSec = new java.util.concurrent.atomic.AtomicLong(0L)
    // sf1 corpus generation wall time (0.0 = already fresh) — declared
    // here so the detail record can carry it; set in the sf1 tier below
    var sf1GenSec = 0.0

    def arr(vs: Seq[Double]): String =
      vs.map(v => f"$v%.3f").mkString("[", ",", "]")
    def obj(parts: Seq[(String, String)]): String =
      parts.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def names(ns: Seq[String]): String =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")

    val acc = scala.collection.mutable.ArrayBuffer.empty[RowResult]

    /** The full self-describing record over `results` — rewritten to
      * BENCH_LOCAL.json after EVERY row, so a mid-run kill (driver
      * timeout, OOM) still leaves every completed row's samples on
      * disk instead of losing the whole run. */
    def buildDetail(results: Seq[RowResult], cal: String): String = obj(Seq(
      "metric" -> "\"total\"",
      "value" -> f"${results.map(_.best).sum}%.3f", "unit" -> "\"sec\"",
      "queries" -> obj(results.map(r => r.name -> f"${r.best}%.3f")),
      "samples" -> obj(results.map(r => r.name -> arr(r.samples))),
      "calibrations" -> obj(results.map(r => r.name -> arr(r.probes.map(_.cpu)))),
      "io_calibrations" -> obj(results.map(r => r.name -> arr(r.probes.map(_.io)))),
      "discarded_probes" -> obj(results.map(r =>
        r.name -> arr(r.discarded.flatMap(p => Seq(p.cpu, p.io))))),
      "rows" -> obj(results.map(r => r.name -> r.rows.toString)),
      "sick_min_rows" -> names(results.collect {
        case r if r.probes.forall(!_.healthy) => r.name }),
      "single_shot" -> names(results.collect {
        case r if r.samples.size == 1 => r.name }),
      "over_family" -> names(results.collect { case r if r.overFamily => r.name }),
      "family_reruns" -> names(results.collect { case r if r.familyRerun => r.name }),
      "failed_rows" -> names(results.collect {
        case r if !r.sampleOk.forall(identity) => r.name }),
      "backoff_sec" -> backoffSec.get.toString,
      "sf1_gen_sec" -> f"$sf1GenSec%.1f",
      "probe_healthy_sec" -> ProbeHealthySec.toString,
      "probe_gate_floor_sec" -> ProbeGateSec.toString,
      "io_probe_healthy_sec" -> IoProbeHealthySec.toString,
      "io_probe_gate_floor_sec" -> IoProbeGateSec.toString,
      "cpu_gate_effective" -> f"$cpuGate%.3f",
      "io_gate_effective" -> f"$ioGate%.3f",
      "probe_min_cpu" -> f"$minCpu%.3f",
      "probe_min_io" -> f"$minIo%.3f",
      "iterations" -> Iterations.toString,
      "reduced_iterations" -> obj(ReducedIterations.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.toString }),
      "fixtures" -> obj(fixtureStats.toSeq.map { case (k, v) => k -> v.toString }),
      "calibration" -> cal,
      "sf" -> ("\"" + sfDir + "\"")))

    val commitRecords = writesCommittedRecords(sfDir, only)
    val detailPath =
      if (commitRecords) "BENCH_LOCAL.json"
      else "/tmp/graft_bench_local_dev.json"
    def writeDetail(detail: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(detailPath),
        (detail + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $detailPath: $e") }

    // per-row runner, shared by the sf0.1 suite and the sf1.0 headline
    // rows; itersOverride=Some(1) = deliberate single shot (sf1 tier:
    // the effects under test are 10x/100x, far above sample noise)
    def runRow(name: String, fn: SparkSession => DataFrame,
               itersOverride: Option[Int]): RowResult = {
      var rows = -1L
      val probes = scala.collection.mutable.ArrayBuffer.empty[ProbeReading]
      val discarded = scala.collection.mutable.ArrayBuffer.empty[ProbeReading]
      // per-sample success, 1:1 with samples: a FAILED query returns in
      // near-zero wall time, and that bogus ~0.01 s must never become the
      // row's min or poison the family history (the family threshold is
      // the history MINIMUM — one poisoned entry flags every later round)
      val sampleOk = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      // interleaved calibration: ONE probe pair (CPU + I/O) immediately
      // before EVERY sample, emitted 1:1 with the samples — r8 proved a
      // single end-of-run probe misses transient mid-run contention, and
      // r14 proved a CPU-only probe misses I/O / page-cache / memory-
      // bandwidth contention entirely (healthy 0.11 probes beside 3.3x
      // sample inflation on unchanged code). Each sample carries BOTH
      // readings of its own window, so a swing is attributable from the
      // BENCH JSON alone (sample elevated AND a probe elevated => host;
      // sample elevated, both probes healthy => code or the family
      // backstop below).
      // PROBE-GATED: a sample whose pre-probe pair reads sick on EITHER
      // axis is NOT taken — the pair is recorded under
      // `discarded_probes`, the harness backs off (total seconds in
      // `backoff_sec`), and the sample retries under fresh probes, up to
      // [[MaxProbeRetries]] waits. If the host never comes back healthy
      // the sample runs anyway under the sick probes (recorded 1:1) — a
      // bench that can deadlock on a busy host is worse than a
      // contaminated row.
      def once(): Double = {
        var probe = takeProbe()
        var waits = 0
        while (!probe.healthy && waits < MaxProbeRetries) {
          discarded += probe
          System.err.println(
            f"[bench] $name: probe $probe > gate (cpu $cpuGate%.2f / io $ioGate%.2f) — host loaded, backing off ${ProbeBackoffSec(waits)}%d s (${waits + 1}/$MaxProbeRetries)")
          Thread.sleep(ProbeBackoffSec(waits) * 1000L)
          backoffSec.addAndGet(ProbeBackoffSec(waits))
          waits += 1
          probe = takeProbe()
        }
        probes += probe
        // Every barrier a sample materializes (pass checkpoints, index
        // frames) is released when its MatchScope closes — at the ROW
        // boundary, not at driver GC + ContextCleaner pace. Without this
        // the 24-row suite accumulated hundreds of localCheckpoint block
        // sets, and the sf1 tier's broadcast builds ran against that
        // backlog (the r19 run-#3 OOM; VERDICT r19 item 6). The release
        // itself happens AFTER the timed region: dt is captured inside
        // the scope, the unpersist storm is not part of the sample.
        // Fixture frames (annfValues/companyNames) use bare
        // localCheckpoint(), not Materialize, so they never register with
        // the scope and survive across samples.
        var dt = 0.0
        val got = try graft.util.MatchScope.withMatchScope {
          val t0 = System.nanoTime()
          val r = try Some(graft.fuzzy.AnnJoin.withTopKHeapConf(spark, HeapAggQueries.contains(name)) {
            fn(spark).count()
          }) catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              None
          }
          dt = (System.nanoTime() - t0) / 1e9
          r
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name scope release failed: ${e.getMessage}")
            None
        }
        got.foreach(rows = _)
        sampleOk += got.isDefined
        dt
      }
      // adaptive iteration budget: a query whose first sample exceeds the
      // cutoff runs once (per-sample variance is small relative to its
      // magnitude and the 3x wall-clock would dominate the whole suite);
      // everything else gets the full min-of-N against run-to-run noise
      val first = once()
      var samples =
        if (itersOverride.contains(1)) Vector(first)
        // an EXPLICIT override wins over the adaptive cutoff (the sf1 LSH
        // row is min-of-2 precisely because it is slow AND noisy)
        else if (itersOverride.isEmpty && first > SlowQueryCutoffSec &&
          !AlwaysFullIterations.contains(name))
          Vector(first)
        else first +: (2 to itersOverride.getOrElse(iterationsFor(name)))
          .map(_ => once()).toVector
      // ranked fallbacks, never a failed sample's wall time when any
      // successful one exists: healthy+ok > ok > all (all-failed rows
      // land in `failed_rows` and are excluded from the family update)
      def okMin: Option[Double] = {
        val ok = samples.zip(sampleOk).collect { case (s, true) => s }
        if (ok.nonEmpty) Some(ok.min) else None
      }
      def healthyMin: Option[Double] = {
        val h = samples.zip(probes).zip(sampleOk).collect {
          case ((s, p), ok) if p.healthy && ok => s }
        if (h.nonEmpty) Some(h.min) else okMin
      }
      // cross-round family backstop (VERDICT r14 item 1b): a healthy-
      // window min that still sits >1.5x its committed trailing family
      // min gets ONE automatic same-process re-run before the row is
      // recorded — the defense against whatever contamination BOTH
      // probes miss. Still above after the re-run => flagged
      // `over_family` (a real regression also lands here; the flag says
      // "adjudicate me", never silently records a 3x min as routine).
      val fam = family.get(name)
      val needsRerun = fam.exists(f =>
        overFamilyGate(healthyMin.getOrElse(samples.min), f))
      if (needsRerun) {
        System.err.println(
          f"[bench] $name: min ${healthyMin.getOrElse(samples.min)}%.2f s > " +
            f"$FamilyRerunFactor%.1fx family ${fam.get}%.2f s — automatic re-run")
        samples = samples :+ once()
      }
      val best = healthyMin.getOrElse(samples.min)
      val overFamily = fam.exists(f => overFamilyGate(best, f))
      System.err.println(
        f"[bench] $name%-24s min $best%8.2f s  rows=$rows  samples=${samples.map(v => f"$v%.2f").mkString("[", ",", "]")}  probes=${probes.map(p => f"${p.cpu}%.3f/${p.io}%.3f").mkString("[", ",", "]")}  discarded=${discarded.size}${if (overFamily) "  OVER-FAMILY" else ""}  cc=${codeCacheMb}MB")
      val rr = RowResult(name, best, rows, samples, probes.toSeq,
        discarded.toSeq, needsRerun, overFamily, sampleOk.toSeq)
      acc += rr
      writeDetail(buildDetail(acc.toSeq, "null"))
      rr
    }

    val mainResults = benchQueries(sfDir).toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => runRow(name, fn, None) }

    // ---- sf1.0 headline fuzzy rows (VERDICT r14 item 7): the 10x-scale
    // trend of the three headline claims, tracked per round instead of
    // spot-checked — the forced-exact control, auto's planner pick on
    // the LSH-hostile corpus at 2.25e10 pairs, and the forced-LSH row on
    // the ANN-friendly corpus (3.2e11 cartesian). Single shot each (the
    // effects under test are 10x/100x). Runs only at the driver's sf0.1
    // (the sf1 corpus is 10 cipher replicas of it — graft.tools.ScaleGen)
    // and regenerates the corpus when the driver's testdata is newer.
    // SPARK_GRAFT_BENCH_SF1=0 skips (dev loops).
    // sf1_annf_lsh is min-of-2 (VERDICT r15 item 5), and sf1_exact_8g
    // joined it in r17 (VERDICT r16 item 6: single-shot rows are what
    // poisoned r13/r14, and ~45 s/sample makes a second affordable);
    // the ~120 s sf1_auto_22g row stays the one deliberate single shot
    val sf1Rows = Seq(("sf1_exact_8g", "fuzzy_exact_8g", 2),
      ("sf1_auto_22g", "fuzzy_auto_22g", 1),
      ("sf1_annf_lsh", "fuzzy_annf_32g_lsh", 2))
      .filter { case (name, _, _) => only.forall(_.contains(name)) }
    // corpus generation time recorded separately (sf1_gen_sec, declared
    // above) so the tier's wall cost is attributable
    val sf1Results =
      if (!familyApplies || sf1Rows.isEmpty ||
        sys.env.get("SPARK_GRAFT_BENCH_SF1").contains("0")) Seq.empty
      else try {
        val sf1Dir = "/tmp/graft_sf1"
        val src = new java.io.File(s"$sfDir/documents.parquet")
        val dst = new java.io.File(s"$sf1Dir/documents.parquet")
        if (!dst.exists() || dst.lastModified() < src.lastModified()) {
          System.err.println(s"[bench] regenerating $sf1Dir from $sfDir (stale or missing)")
          val tg0 = System.nanoTime()
          graft.tools.ScaleGen.generate(spark, sfDir, sf1Dir, 10)
          sf1GenSec = (System.nanoTime() - tg0) / 1e9
        }
        val sf1 = ScaleBench.queries(sf1Dir).toMap
        sf1Rows.map { case (name, key, iters) =>
          runRow(name, sf1(key), Some(iters)) }
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] sf1 tier skipped: $e")
          Seq.empty
      }
    val results = mainResults ++ sf1Results

    val qs = obj(results.map(r => r.name -> f"${r.best}%.3f"))
    val total = results.map(_.best).sum
    val singleShot = names(results.collect {
      case r if r.samples.size == 1 => r.name })
    val sickMin = names(results.collect {
      case r if r.probes.forall(!_.healthy) => r.name })
    val overFamily = names(results.collect { case r if r.overFamily => r.name })
    val familyReruns = names(results.collect { case r if r.familyRerun => r.name })
    val cal = calibration(spark)

    // ---- detail record: everything, written to a committed file AND
    // printed first — the driver's capture keeps only the LAST 2000
    // stdout chars, which r14 proved loses the leading rows of a single
    // giant line, so the giant line goes first (sacrificial) and to disk
    val detail = buildDetail(results, cal)
    writeDetail(detail)
    println(detail)

    // update the committed family history: prepend this round's min for
    // rows that produced at least one fully-healthy sample (a sick-only
    // row must not poison the family), keep the trailing window, then
    // move entries that are over-family vs their own list's min into
    // ~adjudicated_<row> annotation lists (r17 item 5: the min-based
    // gate never read them, but a mean-based reading would)
    var adjudicatedRows: List[String] = Nil
    if (familyApplies) try {
      val prev = loadFamily()
      // only a min taken from a healthy-window SUCCESSFUL sample may
      // enter the history (a failed query's near-zero wall time would
      // poison the minimum-based threshold for FamilyHistoryLen rounds)
      val (updated, adjRows) = updateFamilyHistory(prev,
        results.collect { case r if r.familyEligible => r.name -> r.best })
      adjudicatedRows = adjRows
      if (commitRecords) saveFamily(updated)
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not update family file: $e") }

    // ---- compact record LAST: mins + flags only, sized well under the
    // 2000-char tail capture so every round's record survives truncation
    // and parses (full samples/probes live in BENCH_LOCAL.json)
    println(obj(Seq(
      "metric" -> "\"total\"", "value" -> f"$total%.3f", "unit" -> "\"sec\"",
      "queries" -> qs,
      "sick_min_rows" -> sickMin, "single_shot" -> singleShot,
      "over_family" -> overFamily, "family_reruns" -> familyReruns,
      // rows whose history entries moved to ~adjudicated_<row> this run
      // (the r17-item-5 annotation rule; raw values stay in the file)
      "family_adjudicated" -> names(adjudicatedRows.sorted),
      "failed_rows" -> names(results.collect {
        case r if !r.sampleOk.forall(identity) => r.name }),
      "backoff_sec" -> backoffSec.get.toString,
      "sf1_gen_sec" -> f"$sf1GenSec%.1f",
      // probe gates + the family rule (ratio AND absolute floor, r17)
      "gates" -> (f""""$cpuGate%.2f/$ioGate%.2f/""" +
        f"""fam>${FamilyRerunFactor}%.1fx+${FamilyAbsFloorSec}%.1fs""""),
      "fixtures" -> obj(fixtureStats.toSeq.map { case (k, v) => k -> v.toString }),
      "calibration" -> cal,
      "detail" -> ("\"" + detailPath + "\""),
      "sf" -> ("\"" + sfDir + "\""))))
    ioProbeCleanup()
    spark.stop()
  }

  /** Current JIT code-cache occupancy in MB, summed over the JDK 17
    * segmented CodeHeap pools, logged on every query row. Added while
    * investigating the r9-r11 cold-first-sample anomaly (fuzzy_exact_1g4
    * 76 s in r11 beside a HEALTHY interleaved probe): the hypothesis was
    * cache-flushing eviction of warmup-compiled kernels, and this
    * instrumentation REFUTED it — a full suite at an explicit 240 MB
    * ceiling peaked at 104 MB, no eviction pressure (SCALE.md
    * "Cold-first-sample anomaly", finding 2; the anomaly's actual
    * attribution is JIT warmup + a post-probe contention transient on a
    * then-1-shot row). The log line stays because the failure mode is
    * real for generated-code-heavy JVMs in general: if occupancy ever
    * pins at the ceiling next to a slow row, eviction names itself.
    * ReservedCodeCacheSize=1g in build.sbt is defensive headroom
    * (reserve ≠ commit; SPARK_GRAFT_CODECACHE overrides for A/B). */
  def codeCacheMb: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum >> 20
  }

  /** Reference cost of one [[probeOnce]] on this host when healthy
    * (measured unloaded at local[32]: 0.11-0.15 s, dominated by ~60 ms
    * of fixed job-scheduling overhead on top of the ~64 ms hash work);
    * emitted in the JSON so a reader can ratio each probe against it
    * without external context. Contention shows as 2x+, so the
    * 0.11-0.15 healthy band is comfortably below any real signal. */
  val ProbeHealthySec = 0.13

  /** ONE-SHOT fixed-work throughput probe (xxhash64 max over 5e8 ids,
    * ~[[ProbeHealthySec]] on a healthy host — 4x lighter than a
    * [[calibration]] rep): interleaved before every bench sample.
    * One shot, not min-of-N, deliberately: the probe's job is to
    * measure the contention of its OWN instant, and taking a min would
    * smooth away exactly the transient it exists to catch. */
  def probeOnce(spark: SparkSession, n: Long = 500_000_000L): Double = {
    val t0 = System.nanoTime()
    spark.range(n)
      .select(max(org.apache.spark.sql.functions.xxhash64(col("id")))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** Reference cost of one [[ioProbeOnce]] on this host when healthy
    * (idle-host 24-reading sweep p50 = 0.72 s — SCALE.md "Bench
    * self-certification"); emitted in the JSON so a reader can ratio
    * each io probe against it without external context. */
  val IoProbeHealthySec = 0.72

  /** ONE-SHOT fixed-work I/O probe: overwrite a ~64 MB two-long-column
    * parquet under /tmp (8 files, the bench queries' own write path:
    * fs allocation + page-cache dirtying + parquet encode), then read
    * it back with an aggregate. The CPU component is deliberately tiny
    * (xxhash64 over 8M rows ~ 1.6% of [[probeOnce]]'s work), so an
    * elevated reading beside a healthy CPU probe isolates the
    * I/O/memory axis — exactly the r14 contamination the CPU probe
    * was proven blind to. One shot, not min-of-N, for the same reason
    * as [[probeOnce]]: it measures the contention of its OWN instant. */
  private def ioProbeDir: String =
    s"/tmp/graft_bench_ioprobe_${ProcessHandle.current().pid()}"

  /** Remove the io probe's ~64 MB staging dir — PID-named, so every
    * fresh JVM would otherwise orphan one per run. Called at the end of
    * [[main]] and by ProbeSweep. */
  def ioProbeCleanup(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(ioProbeDir))
  }

  def ioProbeOnce(spark: SparkSession, n: Long = 8_000_000L): Double = {
    val dir = ioProbeDir
    val t0 = System.nanoTime()
    spark.range(0L, n, 1L, 8)
      .select(col("id"), org.apache.spark.sql.functions.xxhash64(col("id")).as("h"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).select(max(col("h"))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work host-throughput probe: min-of-3 of a deterministic
    * CPU-bound codegen job (2e9 xxhash64 max, no I/O, no shuffle).
    * Emitted in the bench JSON so cross-round totals can be read
    * against the box's throughput THAT day — this host drifts 2-3.5×
    * between measurement windows with no local load (SCALE.md
    * methodology note); a round-over-round "regression" that tracks
    * the calibration row is the machine, not the code. */
  def calibration(spark: SparkSession): String = {
    def once(): Double = {
      val t0 = System.nanoTime()
      // max, not sum: an ANSI-mode long sum of 2e9 hashes overflows
      spark.range(2_000_000_000L)
        .select(max(org.apache.spark.sql.functions.xxhash64(col("id")))).head()
      (System.nanoTime() - t0) / 1e9
    }
    f"${Seq(once(), once(), once()).min}%.3f"
  }
}
