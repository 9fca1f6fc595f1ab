package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Partitioning.spread

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers, mirroring the fuzzy matcher's exact/LSH split:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The (small) query set is broadcast against the corpus so the corpus
  *    never shuffles; ranking is a per-query-key window.
  *  - [[lshTopK]]: sign-LSH bucketed candidates re-ranked exactly — the
  *    scale path when the query set is large. Probes all buckets sharing
  *    any band with the query, so recall degrades gracefully with band
  *    count instead of falling off a cliff.
  */
object AnnSearch {

  /** Query-count ceiling for broadcasting the query side of the brute-force
    * path: above this, a broadcast would OOM the driver/executors and the
    * query x corpus product dwarfs an LSH probe — callers should use
    * [[lshTopK]]. [[topK]] routes automatically. */
  val BroadcastQueryLimit = 100_000L

  /** Rank scored (query_id, corpus_id, score) candidates down to the top k
    * per query via [[graft.fuzzy.BoundedTopK]] — a map-side-combining
    * bounded-heap aggregate, planned by [[graft.fuzzy.TopKStrategy]] with
    * no session setting to raise. Every ranking site in this file used to
    * be a `Window.partitionBy(query_id)` + `row_number`, which shuffles AND
    * sorts every scored candidate (the one measured super-linear plan at
    * sf10: 146.6 s, 19× cost for ~10× work — SCALE.md); the partial step
    * caps shuffle volume at queries × mapPartitions × k fixed-size buffers
    * instead. Emits (query_id, corpus_id, score, rank)
    * with rank 1-based by (score desc, corpus_id asc) — identical rows to
    * the window formulation (the comparator is a strict total order over
    * the deduped pairs, so the result is partitioning-independent).
    *
    * Null and NaN scores are un-rankable and are DROPPED (the row, never
    * the group; a query whose candidates are all null/NaN emits no rows).
    * This deliberately differs from the replaced window, which sorted
    * nulls last and NaN largest — a null "neighbor" was never a useful
    * answer, and NaN would poison the heap's total order. */
  private def rankTopK(scored: DataFrame, scoreName: String, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.fuzzy.vectorFunctions.topk_pairs(col(scoreName), col("corpus_id"), k)
        .as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")))
      .select(col("query_id"), col("col.id").as("corpus_id"),
        col("col.score").as(scoreName), (col("pos") + 1).cast("int").as("rank"))

  /** Materialize a derived corpus frame (quantized codes, signatures)
    * behind a NARROW exchange before it streams into a broadcast
    * nested-loop join. Without this, the derivation expression sits in
    * the same (non-codegen) stage as the join and its evaluation is
    * deferred to first USE — which is inside the per-build-row loop, so
    * an encode that should run once per corpus ROW runs once per PAIR
    * (measured at sf10: the PQ ADC scan went 29.9 s -> 1.9 s from this
    * one barrier; see PqDiag). The shuffled payload is the narrow
    * derived row (tens of bytes), so the exchange is cheap at any scale
    * — and it is exactly the "build the index state once" step a stored
    * index materializes anyway. */
  private def materializeNarrow(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Auto-routing top-k: brute-force (exact) while the query frame is small
    * enough to broadcast, LSH probing beyond. `dim` is required for the LSH
    * path's hyperplanes.
    *
    * `queryCount`: pass the query-frame row count when the caller already
    * knows it — routing then triggers NO Spark action. With `None` the
    * router runs one bounded probe (`limit(cap + 1).count()`), which
    * RECOMPUTES a lazy expensive upstream just to pick a branch —
    * materialize the frame first, or pass the count. The hint is trusted;
    * an understated count routes an over-limit frame to the broadcast
    * path, risking executor OOM. */
  def topK(queries: DataFrame, corpus: DataFrame,
           vecCol: String, idCol: String, k: Int, dim: Int,
           queryCount: Option[Long] = None): DataFrame = {
    val small = queryCount match {
      case Some(n) => n <= BroadcastQueryLimit
      case None =>
        queries.limit((BroadcastQueryLimit + 1).toInt).count() <= BroadcastQueryLimit
    }
    if (small) bruteForceTopK(queries, corpus, vecCol, idCol, k)
    else lshTopK(queries, corpus, vecCol, idCol, k, dim)
  }

  /** Exact top-k neighbors per query vector by cosine similarity.
    * Deterministic: ties broken by corpus id. The query side is broadcast —
    * use [[topK]] or [[lshTopK]] when it may exceed [[BroadcastQueryLimit]]. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // the corpus side drives the cross join's parallelism
    val c = spread(corpus).select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", Dedup.cosineSimilarity(col("__qv"), col("__cv")))
    rankTopK(scored, "cosine", k)
  }

  /** Exact top-k over int8-QUANTIZED vectors ([[Embeddings.quantizeInt8]]):
    * both sides quantize to `floor(v_i * 127 / max|v|)` and rank by the
    * quantized cosine `dot_q / sqrt(|q|^2 * |c|^2)` — every dot product is
    * exact LONG arithmetic, so the result is bit-reproducible under any
    * partitioning AND by an oracle engine (a float cosine is
    * summation-order-dependent).
    *
    * Why it matters at 100 TB: the corpus side that flows through the scan,
    * the broadcast and the window is 4x smaller than float32 (64 B vs 256 B
    * per 64-dim vector), and the kernel is integer multiply-adds. Recall vs
    * the float cosine is spec-gated (Int8AnnSpec); per-vector symmetric
    * scaling cancels in the cosine, so the only error is the floor step.
    * Zero vectors (quantized norm 0) have no defined angle and are excluded
    * on both sides. Same broadcast-query shape as [[bruteForceTopK]] —
    * route large query sets through [[lshTopK]] + int8 re-rank instead. */
  def int8TopK(queries: DataFrame, corpus: DataFrame,
               vecCol: String, idCol: String, k: Int,
               excludeSelf: Boolean = true): DataFrame = {
    import graft.fuzzy.vectorFunctions.{i8vec_dot, i8vec_quantize}
    def prep(df: DataFrame, idAs: String, q: String, n2: String) =
      df.select(col(idCol).as(idAs), i8vec_quantize(col(vecCol)).as(q))
        .withColumn(n2, i8vec_dot(col(q), col(q)))
        .where(col(n2) > 0)
    val q = prep(queries, "query_id", "__qq", "__qn")
    // narrow exchange: quantization must evaluate once per corpus row,
    // not once per pair inside the join loop (see materializeNarrow)
    val c = materializeNarrow(spread(prep(corpus, "corpus_id", "__cq", "__cn")))
    // excludeSelf drops the (i, i) pair — right for self-search over ONE
    // corpus, wrong for cross-corpus search where equal ids are distinct
    // rows (bitext mining passes false: two monolingual corpora that both
    // number their rows 0..N must be able to pair i with i)
    val paired = c.crossJoin(broadcast(q))
    val scored = (if (excludeSelf)
        paired.where(col("query_id") =!= col("corpus_id"))
      else paired)
      .withColumn("qcosine",
        i8vec_dot(col("__qq"), col("__cq")).cast("double")
          / sqrt(col("__qn").cast("double") * col("__cn").cast("double")))
    rankTopK(scored, "qcosine", k)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings"):
    * for every src vector, the tgt candidate maximizing
    * `margin(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)` —
    * the RATIO margin that discounts hubness (a y that is everyone's
    * neighbor scores a high penalty and stops winning every x). The
    * standard mining step for parallel-corpus extraction from two
    * monolingual embedding spaces.
    *
    * Arithmetic contract: cosines come from the exact-integer int8
    * kernel ([[int8TopK]] — bit-identical across engines), and the
    * penalty averages run over cosines SNAPPED TO THE 1e-6 GRID as
    * BIGINT sums — order-independent, so the margin (one double
    * expression over five integers) and its argmax reproduce exactly
    * in the DuckDB oracle; ties break to the smaller tgt id.
    *
    * Shape: two [[int8TopK]] passes (src→tgt and tgt→src), two
    * id-keyed penalty aggregates (k-bounded integer sums), the margin
    * join, and a k=1 [[rankTopK]] heap. At 100 TB swap the brute int8
    * passes for [[ivfTopK]]/[[lshTopK]] — the margin layer is
    * retrieval-agnostic. */
  def bitextMarginMine(src: DataFrame, tgt: DataFrame, vecCol: String,
                       idCol: String, k: Int = 4): DataFrame =
    // excludeSelf = false: src and tgt are DIFFERENT corpora, so equal
    // ids are distinct rows and (i, i) is often the true translation pair
    bitextMarginMineWith(src, tgt, k)((q, c, kk) =>
      int8TopK(q, c, vecCol, idCol, kk, excludeSelf = false))

  /** [[bitextMarginMine]] with IVF-routed retrieval — the corpus-scale
    * arm: each direction's kNN probes nProbe cells instead of scanning
    * all pairs, with the cell-local re-rank on int8 exact dots. Recall
    * of the underlying kNN (and thus of the mined pairs) is the IVF
    * recall (spec/SCALE-measured); a production pipeline pre-fits the
    * quantizers once per corpus version ([[fitIndex]]) rather than
    * per mine. Cross-corpus semantics match the brute arm: equal ids
    * are distinct rows and (i, i) is minable (excludeSelf = false
    * plumbed through the IVF path). */
  def bitextMarginMineIvf(src: DataFrame, tgt: DataFrame, vecCol: String,
                          idCol: String, k: Int, dim: Int,
                          nCells: Int = 64, nProbe: Int = 8): DataFrame =
    bitextMarginMineWith(src, tgt, k)((q, c, kk) =>
      ivfTopK(q, c, vecCol, idCol, kk, dim, nCells, nProbe,
        int8Rerank = true, excludeSelf = false))

  /** [[bitextMarginMineIvf]] with UNION re-ranking — the mitigation for
    * the measured margin-inflation failure mode (SCALE.md, round 10):
    * a partial-probe kNN list that missed close competitors
    * underestimates the Artetxe penalty mean and pushes pairs over the
    * margin bar that the exact arm rejects. Here each direction's
    * penalty list is the top-k BY COSINE of the union of BOTH
    * directions' retrieved edges incident to the vector — a competitor
    * found by either probe pattern depresses both sides' penalties, at
    * the cost of one edge-union + two heap top-k passes over candidate
    * edges (O(candidates·k), never n²). The margin layer itself is
    * unchanged ([[bitextMarginMineWith]] over a custom retrieve stage);
    * at nProbe = nCells both probes are exact, the union's top-k
    * collapses to the exact kNN list, and the whole path provably
    * equals [[bitextMarginMine]] — the oracle-checkable configuration.
    * Pair-level P/R gain at partial probe is measured in
    * `tools.BitextRecall` (SCALE.md). */
  def bitextMarginMineIvfRerank(src: DataFrame, tgt: DataFrame, vecCol: String,
                                idCol: String, k: Int, dim: Int,
                                nCells: Int = 64, nProbe: Int = 8): DataFrame = {
    val fwdE = ivfTopK(src, tgt, vecCol, idCol, k, dim, nCells, nProbe,
      int8Rerank = true, excludeSelf = false)
      .select(col("query_id"), col("corpus_id"), col("qcosine"))
    val bwdE = ivfTopK(tgt, src, vecCol, idCol, k, dim, nCells, nProbe,
      int8Rerank = true, excludeSelf = false)
      .select(col("corpus_id").as("query_id"), col("query_id").as("corpus_id"),
        col("qcosine"))
    // src→tgt-oriented union; the int8 cosine kernel is bitwise
    // direction-symmetric, so duplicate (s, t) edges carry equal
    // cosines and the dedup is value-stable
    val edges = fwdE.unionByName(bwdE)
      .dropDuplicates("query_id", "corpus_id")
      .transform(materializeNarrow) // feeds both directions' top-k
    bitextMarginMineWith(src, tgt, k) { (q, _, kk) =>
      val oriented =
        if (q eq src) edges
        else edges.select(col("corpus_id").as("query_id"),
          col("query_id").as("corpus_id"), col("qcosine"))
      rankTopK(oriented, "qcosine", kk).drop("rank")
    }
  }

  /** The margin layer over a caller-supplied retrieval stage:
    * `retrieve(queries, corpus, k)` must emit
    * (query_id, corpus_id, qcosine) rows — the layer is
    * retrieval-agnostic by construction (brute int8, IVF, LSH, a stored
    * index — anything with those columns). */
  def bitextMarginMineWith(src: DataFrame, tgt: DataFrame, k: Int)
      (retrieve: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val grid = lit(1e6)
    val fwd = retrieve(src, tgt, k)
      .select(col("query_id"), col("corpus_id"), col("qcosine"))
      .withColumn("__qc", round(col("qcosine") * grid).cast("long"))
      .transform(materializeNarrow) // feeds penalties, the margin join AND the re-attach
    val bwd = retrieve(tgt, src, k)
      .select(col("query_id"), col("corpus_id"), col("qcosine"))
      .withColumn("__qc", round(col("qcosine") * grid).cast("long"))
    val penX = fwd.groupBy(col("query_id"))
      .agg(sum(col("__qc")).as("__px"), count(lit(1)).as("__nx"))
    val penY = bwd.groupBy(col("query_id"))
      .agg(sum(col("__qc")).as("__py"), count(lit(1)).as("__ny"))
      .withColumnRenamed("query_id", "corpus_id")
    // denominator floored at +1 micro-unit: a zero/negative mean penalty
    // (all neighbors orthogonal or anti-aligned) would null the division
    // (rankTopK then silently DROPS the src) or invert the ranking; the
    // floor is the continuous penalty→0+ limit of the ratio margin, and
    // for any normal corpus (penalties >> 1e-6) it changes nothing
    val m = fwd.join(penX, Seq("query_id")).join(penY, Seq("corpus_id"))
      .withColumn("margin", col("__qc").cast("double") /
        greatest((col("__px").cast("double") / col("__nx") +
          col("__py").cast("double") / col("__ny")) / lit(2.0), lit(1.0)))
    rankTopK(m.select(col("query_id"), col("corpus_id"), col("margin")),
        "margin", 1)
      .join(fwd.select(col("query_id"), col("corpus_id"), col("qcosine")),
        Seq("query_id", "corpus_id"))
      .select(col("query_id").as("src_id"), col("corpus_id").as("tgt_id"),
        col("margin"), col("qcosine"))
  }

  /** Binary-quantized top-k: each vector packs to ONE long (bit j set iff
    * component j > 0 — [[graft.fuzzy.VectorKernels.signBits64]]), the
    * candidate scan ranks corpus signatures by Hamming distance to the
    * query signature (`bit_count(xor)` — codegen'd native integer ops on
    * 8-byte payloads, a 32x compression over float32 at dim 64), and the
    * top `rerank` Hamming candidates per query re-rank by exact float
    * cosine down to k.
    *
    * Why it matters at 100 TB: the scan that touches every corpus row
    * moves only (id, signature) = 16 bytes/vector and costs one XOR +
    * POPCNT per comparison; the float vectors are fetched — by an
    * equi-join on id against the candidate list, so only queries x rerank
    * rows — for the final exact re-rank. Hamming distance on sign bits is
    * a monotone proxy for angular distance (the sign pattern IS a 64-plane
    * axis-aligned LSH), so recall vs exact brute force is spec-gated
    * (BinaryAnnSpec); with `rerank` >= corpus size the result provably
    * EQUALS [[bruteForceTopK]] (every pair survives the candidate cut) —
    * the oracle-checkable configuration. Candidate ties break by
    * (hamming asc, corpus_id asc); both stages rank via the bounded-heap
    * aggregate, so no full sort anywhere. Requires dim <= 64 (one word);
    * `rerank` must be >= k. */
  def binaryTopK(queries: DataFrame, corpus: DataFrame,
                 vecCol: String, idCol: String, k: Int,
                 rerank: Int = 200): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    import graft.fuzzy.vectorFunctions.sign_bits64
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      sign_bits64(col(vecCol)).as("__qs"))
    // narrow corpus side: the per-row scan never carries the float vector;
    // the exchange materializes signatures once per row (materializeNarrow)
    val cs = materializeNarrow(spread(corpus).select(col(idCol).as("corpus_id"),
      sign_bits64(col(vecCol)).as("__cs")))
    val qs = q.select(col("query_id"), col("__qs"))
    val ham = cs.crossJoin(broadcast(qs))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        negate(bit_count(col("__qs").bitwiseXOR(col("__cs"))).cast("double")).as("__nham"))
    // stage 1: top-`rerank` by Hamming (score = -distance; ties -> min id)
    val cand = rankTopK(ham, "__nham", rerank).select(col("query_id"), col("corpus_id"))
    // stage 2: exact float re-rank — vectors re-attach by id, candidate
    // list is small (queries x rerank) so it broadcasts against the corpus
    val cv = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val scored = cv
      .join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(q.select(col("query_id"), col("__qv"))), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        Dedup.cosineSimilarity(col("__qv"), col("__cv")).as("cosine"))
    rankTopK(scored, "cosine", k)
  }

  /** Product-quantization top-k (Jegou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search") — the memory-scale tier below int8:
    * every corpus vector compresses to `m` codeword indices (m bytes at
    * ksub <= 256 — 32x over float32 at dim 64 / m 8), the scan ranks by
    * asymmetric distance (per-query lookup table, `m` adds per pair), and
    * the top `rerank` candidates re-rank by exact float cosine down to k.
    *
    * INTEGER/oracle variant: the codebook is md5-derived integer noise
    * ([[pqCodebookMd5Int]]) and vectors quantize to the 4096 grid, so
    * encode, LUT, ADC, and the shortlist are ALL exact integer arithmetic
    * a SQL oracle recomputes bit-for-bit — the same trick as the md5
    * LSH planes. Production swaps in k-means codebooks ([[pqTopK]] +
    * [[pqFitCodebook]]) for real recall; the search plumbing is shared.
    *
    * Scale shape mirrors [[binaryTopK]]: the corpus-wide scan carries
    * (id, m-int code) only, float vectors re-attach by equi-join for the
    * bounded re-rank, and both ranking stages are the bounded-heap
    * aggregate (no sort). */
  def pqTopKInt(queries: DataFrame, corpus: DataFrame,
                vecCol: String, idCol: String, k: Int, dim: Int,
                m: Int = 8, ksub: Int = 16, rerank: Int = 40): DataFrame = {
    import graft.fuzzy.vectorFunctions.{pq_adc_int, pq_encode_int, pq_lut_int}
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val cb = pqCodebookMd5Int(dim, m, ksub)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      pq_lut_int(col(vecCol), cb, m, ksub, dim).as("__lut"))
    val cs = materializeNarrow(spread(corpus).select(col(idCol).as("corpus_id"),
      pq_encode_int(col(vecCol), cb, m, ksub, dim).as("__codes")))
    pqSearch(q, cs, corpus, vecCol, idCol, k, rerank,
      pq_adc_int(col("__codes"), col("__lut"), ksub).cast("double"))
  }

  /** PQ top-k, float/production variant: pass a k-means codebook from
    * [[pqFitCodebook]] (fit once per corpus version, persisted like the
    * IVF centroids). Recall vs exact is spec-gated (PqSpec); with
    * `rerank` >= corpus size the result provably equals
    * [[bruteForceTopK]]. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             vecCol: String, idCol: String, k: Int, dim: Int,
             codebook: Array[Double], m: Int = 8, ksub: Int = 16,
             rerank: Int = 40): DataFrame =
    pqTopKFromCodes(queries,
      materializeNarrow(pqEncodeCorpus(corpus, vecCol, idCol, dim, codebook, m, ksub)),
      corpus, vecCol, idCol, k, dim, codebook, m, ksub, rerank)

  /** Encode a corpus under a float PQ codebook: (corpus_id, __codes) —
    * the persistent corpus-side state of a PQ index (m small ints per
    * row vs dim floats), produced once per corpus version and served by
    * [[pqTopKFromCodes]]. The encode is one codegen'd projection — no
    * shuffle; persist/checkpoint the result (the [[pqTopK]] convenience
    * wrapper does a narrow materialize). */
  def pqEncodeCorpus(corpus: DataFrame, vecCol: String, idCol: String,
                     dim: Int, codebook: Array[Double],
                     m: Int = 8, ksub: Int = 16): DataFrame = {
    import graft.fuzzy.vectorFunctions.pq_encode
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    require(codebook.length == m * ksub * (dim / m),
      s"codebook length ${codebook.length} != m*ksub*dsub = ${m * ksub * (dim / m)}")
    spread(corpus).select(col(idCol).as("corpus_id"),
      pq_encode(col(vecCol), codebook, m, ksub, dim).as("__codes"))
  }

  /** PQ top-k over PRECOMPUTED codes ([[pqEncodeCorpus]] of the same
    * `codebook` — mixing generations is a silent-recall-loss bug, which
    * is exactly what [[refitPqOnDrift]]'s atomic (codebook, codes) swap
    * exists to prevent). `corpus` must be the corpus the codes encode;
    * it is touched only to re-attach the shortlist's exact vectors. */
  def pqTopKFromCodes(queries: DataFrame, codes: DataFrame, corpus: DataFrame,
                      vecCol: String, idCol: String, k: Int, dim: Int,
                      codebook: Array[Double], m: Int = 8, ksub: Int = 16,
                      rerank: Int = 40): DataFrame = {
    import graft.fuzzy.vectorFunctions.{pq_adc, pq_lut}
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(codebook.length == m * ksub * (dim / m),
      s"codebook length ${codebook.length} != m*ksub*dsub = ${m * ksub * (dim / m)}")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      pq_lut(col(vecCol), codebook, m, ksub, dim).as("__lut"))
    pqSearch(q, codes, corpus, vecCol, idCol, k, rerank,
      pq_adc(col("__codes"), col("__lut"), ksub))
  }

  /** Shared PQ search tail: ADC scan over (id, code) rows -> bounded-heap
    * shortlist (ties -> min corpus_id) -> exact cosine re-rank with
    * vectors re-attached by id. */
  private def pqSearch(q: DataFrame, cs: DataFrame, corpus: DataFrame,
                       vecCol: String, idCol: String, k: Int, rerank: Int,
                       adcScore: org.apache.spark.sql.Column): DataFrame = {
    val adc = cs.crossJoin(broadcast(q.select(col("query_id"), col("__lut"))))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"), adcScore.as("__adc"))
    val cand = rankTopK(adc, "__adc", rerank)
      .select(col("query_id"), col("corpus_id"))
    val cv = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val scored = cv
      .join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(q.select(col("query_id"), col("__qv"))), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        Dedup.cosineSimilarity(col("__qv"), col("__cv")).as("cosine"))
    rankTopK(scored, "cosine", k)
  }

  /** IVF-PQ (the FAISS production composition): coarse k-means cells
    * bound WHICH corpus rows a query touches (nProbe of nCells), PQ codes
    * bound the BYTES each touched row costs (m indices vs dim floats),
    * and the top `rerank` ADC candidates re-rank by exact cosine. The
    * corpus-side state per row is (id, cell, m-int code) — at dim 64 /
    * m 16 that is ~1/8 of the float vector, and the probe join moves
    * only probed cells of it. At nProbe = nCells AND rerank >= corpus
    * size this provably equals [[bruteForceTopK]] (cell routing covers
    * every pair once, the shortlist keeps everything) — the
    * oracle-checkable configuration; recall at working settings is
    * spec-gated (PqSpec). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                vecCol: String, idCol: String, k: Int, dim: Int,
                centroids: Array[Double], nProbe: Int,
                codebook: Array[Double], m: Int = 16, ksub: Int = 16,
                rerank: Int = 40): DataFrame = {
    import graft.fuzzy.vectorFunctions.{pq_adc, pq_encode, pq_lut}
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      pq_lut(col(vecCol), codebook, m, ksub, dim).as("__lut"),
      explode(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), centroids, dim, nProbe))
        .as("__cell"))
    val cs = spread(corpus).select(col(idCol).as("corpus_id"),
      pq_encode(col(vecCol), codebook, m, ksub, dim).as("__codes"),
      element_at(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), centroids, dim, 1), 1)
        .as("__cell"))
    val adc = q.select(col("query_id"), col("__lut"), col("__cell"))
      .join(cs, Seq("__cell"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        pq_adc(col("__codes"), col("__lut"), ksub).as("__adc"))
    val cand = rankTopK(adc, "__adc", rerank)
      .select(col("query_id"), col("corpus_id"))
    val cv = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val scored = cv
      .join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        Dedup.cosineSimilarity(col("__qv"), col("__cv")).as("cosine"))
    rankTopK(scored, "cosine", k)
  }

  /** Deterministic md5-integer PQ codebook (the oracle-reproducible
    * stand-in for a trained one): component `[(s*ksub + j)*dsub + t]` =
    * `('0x' || substring(md5('pq_' || s || '_' || j || '_' || t), 1, 15))
    * ::BIGINT % 8193 - 4096` — uniform on the same ±4096 grid the
    * vectors quantize to. */
  private[graft] def pqCodebookMd5Int(dim: Int, m: Int, ksub: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dsub = dim / m
    val out = new Array[Long](m * ksub * dsub)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ksub) {
        var t = 0
        while (t < dsub) {
          val hex = md.digest(s"pq_${s}_${j}_$t".getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString.substring(0, 15)
          out((s * ksub + j) * dsub + t) =
            java.lang.Long.parseLong(hex, 16) % 8193L - 4096L
          t += 1
        }
        j += 1
      }
      s += 1
    }
    out
  }

  /** Fit a PQ codebook: per-subspace k-means over the sliced subvectors
    * (reusing [[kmeansFit]]'s sampled fit, so cost is m × (iters × sample
    * + corpus) — fit once per corpus version and persist, like the IVF
    * quantizer). A subspace fit that returns fewer than `ksub` centroids
    * (degenerate corpora) pads by repeating the last one: extra codewords
    * are then never argmin-unique, which is harmless. Layout matches
    * [[pqTopK]]: `[(s*ksub + j)*dsub + t]`. */
  def pqFitCodebook(corpus: DataFrame, vecCol: String, dim: Int,
                    m: Int = 8, ksub: Int = 16, iters: Int = 3,
                    seed: Long = 42L,
                    fitSampleCap: Long = 100_000L): Array[Double] = {
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    val dsub = dim / m
    val out = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      val sub = corpus.select(
        slice(col(vecCol), s * dsub + 1, dsub).as("__sub"))
      val cents = kmeansFit(sub, "__sub", dsub, ksub, iters, seed + s, fitSampleCap)
      var j = 0
      while (j < ksub) {
        val c = cents(math.min(j, cents.length - 1))
        var t = 0
        while (t < dsub) {
          out((s * ksub + j) * dsub + t) = if (t < c.length) c(t) else 0.0
          t += 1
        }
        j += 1
      }
      s += 1
    }
    out
  }

  /** Lloyd's k-means over an embedding column, expressed relationally:
    * assignment is a codegen'd nearest-centroid projection, the update is
    * one `posexplode` + per-(cell, dimension) average — one aggregate
    * shuffle per iteration, centroids (k x dim doubles) live on the
    * driver like [[Dedup.hyperplanes]]. Deterministic init: the k vectors
    * with the smallest vector hash. Returns UN-normalized centroids.
    *
    * Fit cost at corpus scale: each Lloyd iteration is a full-corpus scan,
    * so beyond `fitSampleCap` vectors the init and iterations run on a
    * deterministic hash-threshold SAMPLE (~fitSampleCap rows, cached across
    * iterations) and ONE final update pass re-centers every cell's mean
    * over the FULL corpus. Cell quality is statistically unchanged (means
    * converge on samples; IvfSpec gates recall parity) while fit cost drops
    * from O(iters × corpus) to O(iters × sample + corpus) — the measured
    * sf10 fit went 66 s → see TUNING.md. At or below the cap the behavior
    * is bit-identical to the unsampled fit. */
  def kmeansFit(corpus: DataFrame, vecCol: String, dim: Int,
                k: Int = 64, iters: Int = 4, seed: Long = 42L,
                fitSampleCap: Long = 100_000L): Array[Array[Double]] = {
    val vecs = corpus.select(col(vecCol))
    // metadata-cheap: the projection prunes to a count-only parquet scan
    val total = vecs.count()
    val sampledDown = total > fitSampleCap
    val fitFrame =
      if (!sampledDown) vecs
      else {
        // deterministic hash-threshold filter: ~fitSampleCap rows kept, no
        // shuffle, reproducible under any partitioning (1e9 granularity so
        // the fraction stays representable at 100 TB corpus counts)
        val keepPerBillion = math.max(1L, fitSampleCap * 1_000_000_000L / total)
        vecs.where(pmod(xxhash64(col(vecCol), lit(seed + 1)), lit(1_000_000_000L))
          < lit(keepPerBillion))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }

    def updateStep(df: DataFrame, cents: Array[Array[Double]]): Array[Array[Double]] = {
      val means = df
        .select(element_at(
            graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), normFlat(cents), dim, 1),
            1).as("__cell"),
          posexplode(col(vecCol)))
        .groupBy(col("__cell"), col("pos"))
        .agg(avg(col("col")).as("__m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        val cell = r.getInt(0)
        if (cell < next.length && r.getInt(1) < dim) next(cell)(r.getInt(1)) = r.getDouble(2)
      }
      next
    }

    try {
      var cents: Array[Array[Double]] = fitFrame
        .withColumn("__h", xxhash64(col(vecCol), lit(seed)))
        .orderBy(col("__h")).limit(k)
        .collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      require(cents.nonEmpty, "k-means needs a non-empty corpus")
      var it = 0
      while (it < iters) { cents = updateStep(fitFrame, cents); it += 1 }
      // the one full-corpus pass: every vector votes in its cell's final mean
      if (sampledDown) cents = updateStep(vecs, cents)
      cents
    } finally if (sampledDown) fitFrame.unpersist(blocking = false)
  }

  private def normFlat(cents: Array[Array[Double]]): Array[Double] =
    cents.flatMap { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }

  /** Public face of the centroid normalize-and-flatten step ([[kmeansFit]]
    * output → the flat array every `WithCentroids`/`FromPostings` API
    * takes). Zero-norm cells pass through unscaled. */
  def normalizeCentroids(cents: Array[Array[Double]]): Array[Double] =
    normFlat(cents)

  // ----------------------------------------------------- index lifecycle

  /** Persist a fitted (normalized, flattened) centroid array as a tiny
    * parquet dataset at `path` — one row per cell. Parquet rather than a
    * driver-local file so the index lives wherever the data does (HDFS,
    * S3) and any later job on any cluster can [[loadCentroids]] it: the
    * fit-once / search-many lifecycle across JOBS, not just within one. */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession, path: String,
                    centroids: Array[Double], dim: Int): Unit = {
    require(centroids.nonEmpty && centroids.length % dim == 0,
      s"centroids length ${centroids.length} must be a positive multiple of dim=$dim")
    import spark.implicits._
    centroids.grouped(dim).zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The whole "build the index" job in one call: fit the coarse
    * quantizer, normalize, persist at `path`, and return the flattened
    * normalized centroids ready for [[ivfTopKWithCentroids]]. Run once
    * per corpus version; every search job thereafter pays only
    * [[loadCentroids]] + the probe join (the fit-once / search-many
    * lifecycle the bench's headline IVF row measures). */
  def fitIndex(corpus: DataFrame, vecCol: String, dim: Int, nCells: Int,
               iters: Int, seed: Long, path: String,
               fitSampleCap: Long = 100_000L): Array[Double] = {
    val flat = normFlat(kmeansFit(corpus, vecCol, dim, nCells, iters, seed, fitSampleCap))
    saveCentroids(corpus.sparkSession, path, flat, dim)
    flat
  }

  /** Load a persisted quantizer: returns (flattened centroids, dim) ready
    * for [[ivfTopKWithCentroids]]. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): (Array[Double], Int) = {
    val rows = spark.read.parquet(path)
      .orderBy(col("cell")).collect()
    require(rows.nonEmpty, s"no centroids at $path")
    val cents = rows.map(_.getSeq[Double](1).toArray)
    val dim = cents.head.length
    require(cents.forall(_.length == dim), s"ragged centroid rows at $path")
    (cents.flatten, dim)
  }

  /** IVF (inverted-file) top-k: a k-means coarse quantizer partitions the
    * corpus into cells; each query probes its `nProbe` nearest cells and
    * re-ranks candidates with the exact cosine. The classic ANN scale path
    * next to [[lshTopK]]: corpus-side work is one cell assignment, query
    * cost is bounded by the probed cells' population. With
    * `nProbe = nCells` the result is EXACTLY [[bruteForceTopK]] (every
    * pair meets once — a corpus row lives in one cell), which is the
    * oracle-checkable configuration; recall at small nProbe is spec-gated. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              vecCol: String, idCol: String, k: Int, dim: Int,
              nCells: Int = 64, nProbe: Int = 8, iters: Int = 4,
              seed: Long = 42L, int8Rerank: Boolean = false,
              excludeSelf: Boolean = true): DataFrame =
    ivfTopKWithCentroids(queries, corpus, vecCol, idCol, k, dim,
      normFlat(kmeansFit(corpus, vecCol, dim, nCells, iters, seed)), nProbe,
      int8Rerank, excludeSelf)

  /** [[ivfTopK]] against an already-fitted quantizer — the fit-once /
    * search-many shape of a production index: `kmeansFit` + [[normFlat]]
    * run once per corpus version (driver-held k x dim doubles, shippable
    * to any number of search jobs), and each search pays only the cell
    * assignment + probed-cell re-rank. `centroids` is the flattened
    * row-major NORMALIZED centroid array (`normFlat(kmeansFit(...))`). */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame,
                           vecCol: String, idCol: String, k: Int, dim: Int,
                           centroids: Array[Double], nProbe: Int,
                           int8Rerank: Boolean = false,
                           excludeSelf: Boolean = true): DataFrame = {
    require(centroids.nonEmpty && centroids.length % dim == 0,
      s"centroids length ${centroids.length} must be a positive multiple of dim=$dim")
    val flat = centroids
    // same contract as int8TopK's knob: self-pair exclusion is right for
    // self-search over ONE corpus, wrong for cross-corpus search where
    // equal ids are distinct rows (bitext mining passes false)
    def dropSelf(df: DataFrame): DataFrame =
      if (excludeSelf) df.where(col("query_id") =!= col("corpus_id")) else df
    if (!int8Rerank) {
      val c = spread(corpus).select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
        element_at(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), flat, dim, 1), 1)
          .as("__cell"))
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), flat, dim, nProbe))
          .as("__cell"))
      val scored = dropSelf(q.join(c, Seq("__cell")))
        .select(col("query_id"), col("corpus_id"),
          Dedup.cosineSimilarity(col("__qv"), col("__cv")).as("cosine"))
      rankTopK(scored, "cosine", k)
    } else {
      // the production combo: float centroids route (cells are fit on
      // floats), the cell-local re-rank runs on 4x-compressed int8
      // vectors with exact integer dots — only the quantized corpus
      // flows through the probe join. At nProbe = nCells this provably
      // equals [[int8TopK]] (each pair meets once), the oracle-checkable
      // configuration; zero-norm vectors are excluded like int8TopK.
      import graft.fuzzy.vectorFunctions.{i8vec_dot, i8vec_quantize}
      val c = spread(corpus).select(col(idCol).as("corpus_id"),
          i8vec_quantize(col(vecCol)).as("__cq"),
          element_at(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), flat, dim, 1), 1)
            .as("__cell"))
        .withColumn("__cn", i8vec_dot(col("__cq"), col("__cq")))
        .where(col("__cn") > 0)
      val q = queries.select(col(idCol).as("query_id"),
          i8vec_quantize(col(vecCol)).as("__qq"),
          explode(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), flat, dim, nProbe))
            .as("__cell"))
        .withColumn("__qn", i8vec_dot(col("__qq"), col("__qq")))
        .where(col("__qn") > 0)
      val scored = dropSelf(q.join(c, Seq("__cell")))
        .select(col("query_id"), col("corpus_id"),
          (i8vec_dot(col("__qq"), col("__cq")).cast("double")
            / sqrt(col("__qn").cast("double") * col("__cn").cast("double"))).as("qcosine"))
      rankTopK(scored, "qcosine", k)
    }
  }

  /** Materialized IVF postings: (id, cell, vector) rows — the stored form
    * of an IVF index. Assignment runs ONCE per corpus version; persist
    * this frame (ideally bucketed/partitioned by `cell`) next to the
    * centroids from [[saveCentroids]] and the nightly pipeline never
    * re-assigns old rows. */
  def ivfPostings(corpus: DataFrame, vecCol: String, idCol: String,
                  dim: Int, centroids: Array[Double]): DataFrame =
    spread(corpus).select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
      element_at(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), centroids, dim, 1), 1)
        .as("__cell"))

  /** Incremental index maintenance (the nightly shape, like
    * [[Dedup.incrementalDedup]] for digests): assign ONLY the new batch
    * to the EXISTING centroids and union it onto the stored postings —
    * cost O(batch), zero old-corpus work, and the quantizer stays frozen
    * so yesterday's cell routing (and any cached probe plans) remain
    * valid. Re-fit on drift is a deliberate, separate event
    * ([[fitIndex]] + full [[ivfPostings]] rebuild), not something an
    * append should silently trigger. */
  def ivfAppendPostings(postings: DataFrame, batch: DataFrame,
                        vecCol: String, idCol: String,
                        dim: Int, centroids: Array[Double]): DataFrame =
    postings.unionByName(ivfPostings(batch, vecCol, idCol, dim, centroids))

  /** Right-to-be-forgotten for the stored vector index — the ANN leg of
    * the forget cascade next to [[graft.pipeline.TextAnalysis.bm25Forget]]
    * and [[graft.pipeline.Dedup.semDedupForget]]: drop the forgotten ids'
    * postings rows. Unlike BM25 there is NO derived statistic to correct —
    * under a frozen quantizer each postings row is an independent
    * (id, cell, vector) fact — so one broadcast anti-join IS the whole
    * operation, and the result equals [[ivfPostings]] of the kept corpus
    * exactly (spec-pinned). The corpus never shuffles; on the
    * cell-partitioned stored form ([[savePostings]]) a rewrite touches
    * only partitions that actually contain forgotten rows. Re-fitting
    * the quantizer after heavy forgetting is a deliberate separate event
    * (same policy as [[ivfAppendPostings]] re-fit on drift). */
  def ivfForgetPostings(postings: DataFrame, forgetIds: DataFrame,
                        idCol: String = "corpus_id"): DataFrame = {
    val fids = org.apache.spark.sql.functions.broadcast(
      forgetIds.select(col(idCol).as("corpus_id")).distinct())
    postings.join(fids, Seq("corpus_id"), "left_anti")
  }

  /** Outcome of one [[refitOnDrift]] evaluation. `centroids`/`postings`
    * are the state to SERVE after the cycle: the refit state when the
    * swap was accepted, the caller's current state otherwise.
    * `gateRecall` is -1.0 when the monitor did not trip (the gate never
    * ran). */
  final case class DriftRefitOutcome(
      l2Move: Double, drifted: Boolean, gateRecall: Double, swapped: Boolean,
      centroids: Array[Double], postings: DataFrame)

  /** The "re-fit on drift is a deliberate separate event" policy
    * ([[ivfAppendPostings]]/[[ivfForgetPostings]] scaladoc), wired into
    * one monitored cycle: drift monitor → refit + postings rebuild →
    * ranking-quality gate → swap-or-keep.
    *
    *  1. MONITOR: [[Embeddings.centroidDrift]] between the corpus the
    *     serving quantizer was fitted on (`oldCorpus`) and the current
    *     corpus (`newCorpus`), grouped by `groupCols`; the trigger is
    *     max `l2_move` > `driftTau`. Exact quantized-integer arithmetic,
    *     one scan per side. LIMITATION: the drift join is INNER on the
    *     group key, so a group present in only one snapshot — e.g. a
    *     brand-new dominant language, arguably maximal drift — emits no
    *     `l2_move` row and cannot trip the monitor; pair this with
    *     [[graft.pipeline.Profile.drift]] on the group column to catch
    *     appear/disappear, or refit unconditionally on a schedule.
    *  2. REFIT (only when tripped): [[kmeansFit]] + [[ivfPostings]] on
    *     `newCorpus` — the full rebuild the append/forget scaladocs
    *     defer to, run at most once per monitor trip instead of per
    *     batch.
    *  3. GATE: the refit index must EARN the swap — [[evalRanking]] of
    *     its `gateNProbe`-probe search against the exact
    *     [[bruteForceTopK]] truth on `gateQueries`; mean recall@k below
    *     `minMeanRecall` keeps the serving state (a refit that chased a
    *     drifted corpus into degenerate cells must not replace a working
    *     index).
    *
    * Scale: the monitor is two centroid scans; the gate costs k·|gate
    * queries| — both tiny next to the rebuild they guard. The rebuild
    * itself is the documented fit-once cost ([[fitIndex]], SCALE.md
    * "IVF fit cost at sf10"). Nothing here runs per-batch: call this
    * from the nightly/weekly maintenance job, keep
    * [[ivfAppendPostings]] on the ingest path. */
  def refitOnDrift(servingCentroids: Array[Double], servingPostings: DataFrame,
                   oldCorpus: DataFrame, newCorpus: DataFrame,
                   vecCol: String, idCol: String, dim: Int, nCells: Int,
                   iters: Int, groupCols: Seq[String], driftTau: Double,
                   gateQueries: DataFrame, gateK: Int, gateNProbe: Int,
                   minMeanRecall: Double, seed: Long = 42L,
                   checkpoint: graft.util.CheckpointStrategy =
                     graft.util.CheckpointStrategy.Local): DriftRefitOutcome = {
    val drift = Embeddings.centroidDrift(oldCorpus, newCorpus, groupCols, vecCol)
      .agg(coalesce(max(col("l2_move")), lit(0.0)).as("m")).head().getDouble(0)
    if (drift <= driftTau)
      return DriftRefitOutcome(drift, drifted = false, gateRecall = -1.0,
        swapped = false, servingCentroids, servingPostings)
    // an empty gate set would score avg(recall) = 0 and reject EVERY
    // refit forever — the one failure mode worse than no monitor. Hard
    // error instead (the check costs one limit-1 scan, once per trip).
    require(!gateQueries.isEmpty,
      "refitOnDrift: gateQueries is empty — the ranking gate cannot " +
        "score the refit index, and scoring it 0 would reject every " +
        "swap silently. Pass a non-empty gate query sample.")
    val flat = normFlat(kmeansFit(newCorpus, vecCol, dim, nCells, iters, seed))
    // barrier: the gate search AND every post-swap consumer read these
    // postings — without it the full-corpus cell assignment recomputes
    // per consumer (the single most expensive step of the cycle)
    val posts = graft.util.Materialize(
      ivfPostings(newCorpus, vecCol, idCol, dim, flat), checkpoint)
    val result = ivfTopKFromPostings(gateQueries, posts, vecCol, idCol,
      gateK, dim, flat, gateNProbe)
    val truth = bruteForceTopK(gateQueries, newCorpus, vecCol, idCol, gateK)
    val recall = evalRanking(result, truth, gateK)
      .agg(coalesce(avg(col("recall")), lit(0.0)).as("r")).head().getDouble(0)
    if (recall >= minMeanRecall)
      DriftRefitOutcome(drift, drifted = true, recall, swapped = true, flat, posts)
    else {
      // the rejected refit's postings barrier has no consumer after the
      // gate — release it now, or repeated rejected cycles in a
      // long-lived driver accumulate checkpoint blocks until GC
      graft.util.Materialize.release(posts)
      DriftRefitOutcome(drift, drifted = true, recall, swapped = false,
        servingCentroids, servingPostings)
    }
  }

  /** Outcome of one [[refitPqOnDrift]] evaluation: `codebook`/`codes`
    * are the PQ state to SERVE after the cycle (via
    * [[pqTopKFromCodes]]) — the refit pair when the swap was accepted,
    * the caller's serving pair otherwise. The two always travel
    * together: codes are meaningless under any other generation's
    * codebook. `gateRecall` is -1.0 when the monitor did not trip. */
  final case class PqDriftRefitOutcome(
      l2Move: Double, drifted: Boolean, gateRecall: Double, swapped: Boolean,
      codebook: Array[Double], codes: DataFrame)

  /** [[refitOnDrift]] for the PQ families: a served codebook drifts
    * SILENTLY — reconstruction error grows as the corpus moves away from
    * the subspace centroids it was trained on, ADC ordering degrades,
    * and nothing in the search path errors — so the quantized arms need
    * the same monitor → refit → gate → swap-or-keep cycle the IVF
    * quantizer has.
    *
    *  1. MONITOR: [[Embeddings.centroidDrift]] between the codebook's
    *     training corpus and the current one; trigger is max `l2_move`
    *     > `driftTau`. Same inner-join appear/disappear limitation as
    *     [[refitOnDrift]] — pair with [[graft.pipeline.Profile.drift]].
    *  2. REFIT (only when tripped): [[pqFitCodebook]] on `newCorpus` +
    *     [[pqEncodeCorpus]] of the full corpus under the new codebook —
    *     codebook and codes swap ATOMICALLY (an old-codebook LUT against
    *     new-codebook codes scores garbage, silently).
    *  3. GATE: [[evalRanking]] of the refit state's `gateRerank`
    *     shortlist search against exact [[bruteForceTopK]] truth on
    *     `gateQueries`; mean recall@k below `minMeanRecall` keeps the
    *     serving pair (and releases the rejected encode's barrier).
    *
    * Cost mirrors [[refitOnDrift]]: two centroid scans for the monitor;
    * refit is m sampled subspace k-means fits + one full-corpus encode
    * projection (the documented fit-once cost), run per monitor trip,
    * never per batch. For IVF-PQ ([[ivfPqTopK]]) run this cycle for the
    * codebook and [[refitOnDrift]] for the coarse quantizer — their
    * monitors share the same drift frame. */
  def refitPqOnDrift(servingCodebook: Array[Double], servingCodes: DataFrame,
                     oldCorpus: DataFrame, newCorpus: DataFrame,
                     vecCol: String, idCol: String, dim: Int,
                     m: Int, ksub: Int, iters: Int,
                     groupCols: Seq[String], driftTau: Double,
                     gateQueries: DataFrame, gateK: Int, gateRerank: Int,
                     minMeanRecall: Double, seed: Long = 42L,
                     checkpoint: graft.util.CheckpointStrategy =
                       graft.util.CheckpointStrategy.Local): PqDriftRefitOutcome = {
    val drift = Embeddings.centroidDrift(oldCorpus, newCorpus, groupCols, vecCol)
      .agg(coalesce(max(col("l2_move")), lit(0.0)).as("m")).head().getDouble(0)
    if (drift <= driftTau)
      return PqDriftRefitOutcome(drift, drifted = false, gateRecall = -1.0,
        swapped = false, servingCodebook, servingCodes)
    require(!gateQueries.isEmpty,
      "refitPqOnDrift: gateQueries is empty — the ranking gate cannot " +
        "score the refit codebook, and scoring it 0 would reject every " +
        "swap silently. Pass a non-empty gate query sample.")
    val cb = pqFitCodebook(newCorpus, vecCol, dim, m, ksub, iters, seed)
    // barrier: the gate search AND every post-swap consumer read these
    // codes — without it the full-corpus encode recomputes per consumer
    val codes = graft.util.Materialize(
      pqEncodeCorpus(newCorpus, vecCol, idCol, dim, cb, m, ksub), checkpoint)
    val result = pqTopKFromCodes(gateQueries, codes, newCorpus, vecCol, idCol,
      gateK, dim, cb, m, ksub, gateRerank)
    val truth = bruteForceTopK(gateQueries, newCorpus, vecCol, idCol, gateK)
    val recall = evalRanking(result, truth, gateK)
      .agg(coalesce(avg(col("recall")), lit(0.0)).as("r")).head().getDouble(0)
    if (recall >= minMeanRecall)
      PqDriftRefitOutcome(drift, drifted = true, recall, swapped = true, cb, codes)
    else {
      graft.util.Materialize.release(codes)
      PqDriftRefitOutcome(drift, drifted = true, recall, swapped = false,
        servingCodebook, servingCodes)
    }
  }

  /** Persist postings CELL-PARTITIONED (`.../cell=N/` parquet dirs): a
    * probe that touches nProbe cells then reads ONLY those directories —
    * partition pruning does the index lookup at the storage layer, which
    * is the on-disk shape of an inverted file. [[loadPostings]] restores
    * the (corpus_id, __cv, __cell) contract; PqSpec asserts the probe
    * filter actually prunes (PartitionFilters on the scan). */
  def savePostings(postings: DataFrame, path: String): Unit =
    postings.withColumnRenamed("__cell", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  def loadPostings(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("corpus_id"), col("__cv"), col("cell").cast("int").as("__cell"))

  /** Top-k against stored postings: probe-cell equi-join + exact cosine,
    * the query half of the [[ivfPostings]]/[[ivfAppendPostings]]
    * lifecycle. At nProbe = nCells this provably equals
    * [[bruteForceTopK]] over the postings' vectors (every pair meets
    * exactly once) — the oracle-checkable configuration. */
  def ivfTopKFromPostings(queries: DataFrame, postings: DataFrame,
                          vecCol: String, idCol: String, k: Int, dim: Int,
                          centroids: Array[Double], nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      explode(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), centroids, dim, nProbe))
        .as("__cell"))
    val scored = q.join(postings, Seq("__cell"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        Dedup.cosineSimilarity(col("__qv"), col("__cv")).as("cosine"))
    rankTopK(scored, "cosine", k)
  }

  /** Metadata-filtered exact top-k ("find the k nearest documents WHERE
    * lang = 'en' AND license = permissive"): the predicate is applied to
    * the corpus BEFORE any scoring, so Catalyst pushes it into the corpus
    * scan (partition pruning / PushedFilters when the corpus is stored
    * partitioned or sorted by the filter columns) and the cross join,
    * the kernel evaluations and the heap ranking all see only surviving
    * rows. Exact by construction: pre-filtering a brute-force search
    * cannot lose results, unlike post-filtering an ANN candidate list.
    * A query whose entire neighborhood fails the predicate simply
    * returns fewer than k rows. */
  def filteredTopK(queries: DataFrame, corpus: DataFrame,
                   vecCol: String, idCol: String, k: Int,
                   corpusPredicate: Column): DataFrame =
    bruteForceTopK(queries, corpus.where(corpusPredicate), vecCol, idCol, k)

  /** Filtered search against a STORED IVF index (the production shape:
    * the index is built once over the full corpus, the predicate changes
    * per request, so it cannot be baked into the postings): probe nProbe
    * cells, drop candidates not in `allowedIds` (left semi join — compute
    * it from the metadata predicate; it broadcasts when the selection is
    * small), then rank. The filter runs BEFORE the k-cut, so the k
    * survivors are the true filtered top-k OF THE PROBED CELLS — overall
    * recall is plain IVF probe recall, not additionally degraded by the
    * filter. For highly selective predicates raise nProbe (the classic
    * filtered-ANN trade: a cell may contain no allowed rows); at
    * nProbe = nCells this provably equals [[filteredTopK]] over the
    * postings' vectors — the oracle-checkable configuration. */
  def ivfTopKFromPostingsFiltered(queries: DataFrame, postings: DataFrame,
                                  vecCol: String, idCol: String, k: Int, dim: Int,
                                  centroids: Array[Double], nProbe: Int,
                                  allowedIds: DataFrame): DataFrame = {
    require(allowedIds.columns.length == 1,
      "allowedIds must be a single-column id frame (got " +
        s"${allowedIds.columns.mkString(", ")}) — select the id column " +
        "explicitly so a metadata frame's first column is never " +
        "silently treated as the id")
    val allowed = allowedIds.select(col(allowedIds.columns.head).as("corpus_id"))
    ivfTopKFromPostings(queries,
      postings.join(allowed, Seq("corpus_id"), "left_semi"),
      vecCol, idCol, k, dim, centroids, nProbe)
  }

  /** Hard-negative mining for contrastive / embedding-model training:
    * for each anchor, the k most cosine-similar corpus rows whose label
    * DIFFERS from the anchor's — the "confusable but wrong" examples a
    * triplet or InfoNCE loss learns most from (random negatives are
    * trivially separable; these are not). Label inequality is applied
    * BEFORE the k-cut (the [[filteredTopK]] argument: post-filtering a
    * ranked list loses negatives), by scoring against the full corpus
    * and filtering on the joined label pair. The broadcast side is the
    * FULL anchor frame — vectors and labels, so size anchor sets by the
    * vector payload (dim × 4 B each), the same
    * [[BroadcastQueryLimit]]-class bound as [[bruteForceTopK]]; swap the
    * scorer for [[lshTopK]]-style candidates at corpus scale. Emits
    * (query_id, corpus_id, cosine, rank) with rank 1-based per anchor. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
                    vecCol: String, idCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val q = anchors.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      col(labelCol).as("__ql"))
    val c = spread(corpus).select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
      col(labelCol).as("__cl"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id") && col("__ql") =!= col("__cl"))
      .withColumn("cosine", Dedup.cosineSimilarity(col("__qv"), col("__cv")))
    rankTopK(scored, "cosine", k)
  }

  /** k-NN label propagation: classify each query vector by the MAJORITY
    * label among its exact top-k cosine neighbors (ties -> most votes,
    * then smallest label) — the semantic-labeling shape used to extend
    * a small labeled seed set over an unlabeled corpus. Composes
    * [[bruteForceTopK]] (swap in any topK operator for scale) with a
    * broadcast label join and one tiny per-query aggregate; emits
    * (query_id, label_pred, votes). */
  def knnLabel(queries: DataFrame, corpus: DataFrame,
               vecCol: String, idCol: String, labelCol: String,
               k: Int): DataFrame =
    knnLabelFrom(bruteForceTopK(queries, corpus, vecCol, idCol, k),
      corpus.select(col(idCol).as("corpus_id"),
        col(labelCol).cast("long").as("__label")))

  /** The vote half of [[knnLabel]], decomposed so ANY neighbor frame
    * plugs in — [[lshTopK]]/[[ivfPqTopK]] output at corpus scale, or a
    * persisted neighbor table. `nn` needs (query_id, corpus_id);
    * `labels` needs (corpus_id, __label). */
  def knnLabelFrom(nn: DataFrame, labels: DataFrame): DataFrame = {
    val votes = nn.select(col("query_id"), col("corpus_id"))
      .join(broadcast(labels), Seq("corpus_id"))
      .groupBy(col("query_id"), col("__label"))
      .agg(count(lit(1)).as("votes"))
    // the window runs over (queries x labels) vote rows — tiny relative
    // to the search that produced nn
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("__label"))
    votes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("query_id"), col("__label").as("label_pred"),
        col("votes").cast("long").as("votes"))
  }

  /** Label-noise candidates (confident-learning's k-NN form): rows whose
    * k nearest neighbors vote for a DIFFERENT label than their own — the
    * dataset-QA sweep that surfaces mislabeled examples before a
    * training run. Composes [[knnLabel]] (self-search, own row excluded
    * by the standard query!=corpus guard) with the row's actual label;
    * emits only the disagreements: (idCol, label, label_pred, votes) —
    * `votes` is the winning (disagreeing) label's neighbor count, so
    * callers triage by vote strength. Exact-search shape; swap LSH/IVF
    * candidates in via [[knnLabelFrom]] at corpus scale. */
  def labelNoise(df: DataFrame, vecCol: String, idCol: String,
                 labelCol: String, k: Int): DataFrame = {
    val pred = knnLabel(df, df, vecCol, idCol, labelCol, k)
    pred.join(df.select(col(idCol).as("query_id"),
        col(labelCol).cast("long").as("label")), Seq("query_id"))
      .where(col("label") =!= col("label_pred"))
      .select(col("query_id").as(idCol), col("label"), col("label_pred"),
        col("votes"))
  }

  /** Nearest-centroid (Rocchio) label assignment: per-label centroids on
    * the exact quantized-sum grid ([[Embeddings.centroids]]), each then
    * quantized to the engine-wide 4096 integer grid, and every vector
    * assigned by EXACT INTEGER L2 argmin — which is literally
    * [[graft.fuzzy.VectorKernels.pqEncodeInt]] with one subspace and
    * `ksub` = #labels, so the assignment (ties -> smallest label index)
    * is bit-reproducible by a SQL oracle. The centroid table is tiny
    * (labels × dim) and rides the plan as a literal; the corpus never
    * shuffles. Returns (id, label_pred). */
  def nearestCentroidLabel(df: DataFrame, vecCol: String, idCol: String,
                           labelCol: String, dim: Int): DataFrame = {
    import graft.fuzzy.vectorFunctions.pq_encode_int
    val cents = Embeddings.centroids(df, Seq(labelCol), vecCol)
      .select(col(labelCol).cast("long").as("__l"), col("dim"), col("centroid"))
      .collect()
    val labels = cents.map(_.getLong(0)).distinct.sorted
    val byLabel = cents.groupBy(_.getLong(0))
    val flat = new Array[Long](labels.length * dim)
    labels.zipWithIndex.foreach { case (l, li) =>
      byLabel(l).foreach { r =>
        val d = r.getLong(1).toInt - 1
        if (d < dim) flat(li * dim + d) =
          math.floor(r.getDouble(2) * 4096.0).toLong
      }
    }
    // codes are BINARY (one byte at m = 1): first byte = label index
    val codes = pq_encode_int(col(vecCol), flat, 1, labels.length, dim)
    val idx = conv(hex(substring(codes, 1, 1)), 16, 10).cast("int")
    val labelLit = array(labels.map(lit): _*)
    df.select(col(idCol), element_at(labelLit, idx + 1).as("label_pred"))
  }

  /** Ranking-quality evaluation of an approximate search against a
    * ground-truth top-k — the recall/MRR report every ANN rollout gates
    * on before swapping index configurations. Both inputs are
    * (query_id, corpus_id, rank) frames (any of the topK operators'
    * output). Per truth query: `n_hits` (truth pairs the result found),
    * `recall` = n_hits / k, and `mrr` = 1 / (best result rank holding a
    * truth pair), 0 when nothing was found. Queries present in truth but
    * absent from the result report zeros rather than vanishing.
    *
    * Scale: one equi-join on (query, id) pairs + one aggregate — both
    * sides are k rows per query, so this is tiny next to the searches
    * it scores. */
  def evalRanking(result: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    val hits = result.select(col("query_id"), col("corpus_id"), col("rank"))
      .join(truth.select(col("query_id"), col("corpus_id")),
        Seq("query_id", "corpus_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("__hits"), min(col("rank")).as("__best"))
    truth.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__hits"), lit(0L)).cast("long").as("n_hits"),
        (coalesce(col("__hits"), lit(0L)).cast("double") / k).as("recall"),
        coalesce(lit(1.0) / col("__best").cast("double"), lit(0.0)).as("mrr"))
  }

  /** Sign-LSH bucketed top-k: candidates = corpus vectors sharing at least
    * one of `bands` signature bands with the query; exact cosine re-rank.
    * Bounded work per query even against a 100 TB corpus. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              vecCol: String, idCol: String, k: Int,
              dim: Int, planes: Int = 16, bands: Int = 4, seed: Long = 42L,
              maxBucketPairs: Long = 4_000_000L,
              checkpoint: graft.util.CheckpointStrategy =
                graft.util.CheckpointStrategy.Local,
              md5IntPlanes: Boolean = false): DataFrame =
    rankTopK(lshScoredCandidates(queries, corpus, vecCol, idCol, dim, planes,
      bands, seed, maxBucketPairs, checkpoint, md5IntPlanes), "cosine", k)

  /** Auto-routing radius search, mirroring [[topK]]: brute-force (exact)
    * while the query frame is small enough to broadcast, LSH probing
    * beyond. Same `queryCount` contract as [[topK]]: pass the known count
    * to keep routing action-free; the hint is trusted. */
  def radius(queries: DataFrame, corpus: DataFrame,
             vecCol: String, idCol: String, tau: Double, dim: Int,
             queryCount: Option[Long] = None): DataFrame = {
    val small = queryCount match {
      case Some(n) => n <= BroadcastQueryLimit
      case None =>
        queries.limit((BroadcastQueryLimit + 1).toInt).count() <= BroadcastQueryLimit
    }
    if (small) bruteForceRadius(queries, corpus, vecCol, idCol, tau)
    else lshRadius(queries, corpus, vecCol, idCol, tau, dim)
  }

  /** Exact radius search: EVERY corpus neighbor with cosine >= `tau`, per
    * query — the "all near-duplicates of these documents" / "everything
    * semantically close to this eval set" query, where top-k's fixed
    * cutoff either truncates dense neighborhoods or pads sparse ones.
    * Same broadcast-query shape (and [[BroadcastQueryLimit]] caveat) as
    * [[bruteForceTopK]]; output is a pure filter, so no ranking state at
    * all — the scan stays in one codegen stage. Zero-norm vectors score
    * 0.0 (never NaN — [[graft.fuzzy.VectorKernels.cosineF]]), so any
    * positive `tau` excludes them deterministically. */
  def bruteForceRadius(queries: DataFrame, corpus: DataFrame,
                       vecCol: String, idCol: String, tau: Double): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = spread(corpus).select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        Dedup.cosineSimilarity(col("__qv"), col("__cv")).as("cosine"))
      .where(col("cosine") >= tau)
  }

  /** LSH-bucketed radius search: [[bruteForceRadius]]'s semantics on
    * [[lshTopK]]'s scale path — banded sign-LSH candidates, exact cosine
    * verify, `>= tau` filter. Recall follows the band collision curve
    * exactly as for top-k (a >= tau neighbor missing every band is
    * missed); for radius work the bands should be tuned so the collision
    * probability at `tau` is near 1 (more/narrower bands than a top-k
    * probe of the same corpus). */
  def lshRadius(queries: DataFrame, corpus: DataFrame,
                vecCol: String, idCol: String, tau: Double,
                dim: Int, planes: Int = 16, bands: Int = 4, seed: Long = 42L,
                maxBucketPairs: Long = 4_000_000L,
                checkpoint: graft.util.CheckpointStrategy =
                  graft.util.CheckpointStrategy.Local,
                md5IntPlanes: Boolean = false): DataFrame =
    lshScoredCandidates(queries, corpus, vecCol, idCol, dim, planes, bands,
      seed, maxBucketPairs, checkpoint, md5IntPlanes)
      .where(col("cosine") >= tau)

  /** IVF radius search: [[bruteForceRadius]]'s semantics through the
    * coarse quantizer — each query probes its `nProbe` nearest cells and
    * keeps probed candidates at cosine >= `tau`. With `nProbe = nCells`
    * this provably equals [[bruteForceRadius]] (every pair meets exactly
    * once — a corpus row lives in one cell), the oracle-checkable
    * configuration; at small `nProbe`, recall follows the same probed-cell
    * geometry as [[ivfTopKWithCentroids]]. `centroids` is the flattened
    * NORMALIZED array from `fitIndex`/`loadCentroids`. */
  def ivfRadiusWithCentroids(queries: DataFrame, corpus: DataFrame,
                             vecCol: String, idCol: String, tau: Double,
                             dim: Int, centroids: Array[Double],
                             nProbe: Int): DataFrame = {
    require(centroids.nonEmpty && centroids.length % dim == 0,
      s"centroids length ${centroids.length} must be a positive multiple of dim=$dim")
    val c = spread(corpus).select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
      element_at(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), centroids, dim, 1), 1)
        .as("__cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      explode(graft.fuzzy.vectorFunctions.nearest_cells(col(vecCol), centroids, dim, nProbe))
        .as("__cell"))
    q.join(c, Seq("__cell"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        Dedup.cosineSimilarity(col("__qv"), col("__cv")).as("cosine"))
      .where(col("cosine") >= tau)
  }

  /** Shared LSH candidate stage: exact-cosine-scored unique
    * (query_id, corpus_id, cosine) candidate rows from the banded bucket
    * join — [[lshTopK]] ranks them, [[lshRadius]] range-filters them. */
  private def lshScoredCandidates(
      queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String,
      dim: Int, planes: Int, bands: Int, seed: Long,
      maxBucketPairs: Long,
      checkpoint: graft.util.CheckpointStrategy,
      md5IntPlanes: Boolean): DataFrame = {
    graft.util.Blocking.requirePlaneBands(planes, bands)
    // md5IntPlanes: integer-quantized planes/dots (exact, order-independent
    // arithmetic) that a SQL oracle recomputes bit-for-bit — the seeded
    // gaussian default stays the production path (one shared site: Dedup)
    def bits(v: org.apache.spark.sql.Column) =
      Dedup.lshBitsCol(v, dim, planes, seed, md5IntPlanes)

    // Band rows carry only (id, band, bkey); vectors re-attach by id after
    // pair dedup so they never multiply through the band explode/bucket join
    // (same narrow-payload shape as AnnJoin/Dedup LSH stages). The
    // (id, vector, bits) frames are materialized under the checkpoint
    // strategy: they feed the bucket statistics, the bucket join AND the
    // re-attach, so an unmaterialized plan would rescan each input and
    // recompute the hyperplane projection three times.
    val qh = graft.util.Materialize(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
        .withColumn("__bits", bits(col("__qv"))), checkpoint)
    val ch = graft.util.Materialize(
      spread(corpus).select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
        .withColumn("__bits", bits(col("__cv"))), checkpoint)

    def banded(df: DataFrame, id: String) =
      graft.util.Blocking.bitBands(df, col("__bits"), planes, bands, "__band", "__bkey", col(id))

    val qv = qh.select(col("query_id"), col("__qv"))
    val cv = ch.select(col("corpus_id"), col("__cv"))
    val qb = banded(qh, "query_id")
    val cb = banded(ch, "corpus_id")

    // skew guard: drop degenerate buckets (same rationale as the fuzzy
    // LSH join - an uncapped bucket join concentrates quadratic work on
    // single reducers); drops are counted and logged (Blocking.cross)
    val gate = graft.util.Blocking.cross(qb, cb, "ann_lsh_topk", Some("__band"), "__bkey",
      maxBucketPairs, checkpoint)

    // 16-byte id pairs through the bucket join and the dedup; the exact
    // cosine runs once per unique pair after both vectors re-attach by id
    val pairIds = gate.keep(qb).join(gate.keep(cb), Seq("__band", "__bkey"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"))
      .dropDuplicates("query_id", "corpus_id")
    pairIds
      .join(qv, Seq("query_id"))
      .join(cv, Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        Dedup.cosineSimilarity(col("__qv"), col("__cv")).as("cosine"))
  }
}
