package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, concat, concat_ws, count, decode, encode, explode, expr, get_json_object, length, lit, lower, lpad, max, min, posexplode, round => sround, slice, split, substring, sum, transform, trim, when}

import graft.fuzzy.{FuzzyAlgorithm, FuzzyMapping, FuzzyMatcher, MatchOptions}
import graft.pipeline.{AnnSearch, AsofJoin, Curation, Decontaminate, Dedup, Multimodal, NearDupCluster, Profile, QualityModel, RangeJoin, Sessionize, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query here must be mirrored by an `oracleSql` entry (same column
  * names, same rounding) unless the operator is not SQL-expressible in
  * DuckDB, in which case it gets a rows-only check.
  */
object SparkEntry {

  /** Fixed demo merge table for `text_bpe_apply` (ranks = position):
    * common-English pairs, NOT learned — a fixed table is what lets the
    * SQL oracle replay the merge loop; the learned path is
    * `TextAnalysis.bpeLearn` (spec-gated, data-dependent by nature). */
  val DemoBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "r" -> "e", "o" -> "n", "e" -> "n", "o" -> "r", "in" -> "g")

  /** Fixed demo blocklist for `text_blocklist` (phrases over the driver
    * corpus's vocabulary so hits are non-vacuous; a production list —
    * C4's badwords file, a policy blocklist — drops in the same way).
    * Single-sourced into the query AND the generated oracle. */
  val DemoBlockPhrases: Seq[String] = Seq(
    "hash join", "stream", "window merge", "small table",
    "group agg stream", "spark")

  /** Shared α for `curate_temperature_sample` — query and generated
    * oracle both read it, so the exponent cannot drift. */
  val DemoTemperatureAlpha: Double = 0.5

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` encoding varies across testdata generations
    * (TIMESTAMP(NANOS)-as-long vs TIMESTAMP_NTZ micros); every events
    * query here works on epoch-nano longs, so the shared loader
    * ([[graft.util.EventTs]]) normalizes on read.
    *
    * The session must be built with
    * `spark.sql.legacy.parquet.nanosAsLong=true` (every in-repo main sets
    * it): the returned frame is lazy and parquet schema conversion
    * consults the setting through execution. The loader fails fast when
    * it is missing and never changes the caller's session. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.util.EventTs.loadEvents(s, dir)

  import FuzzyAlgorithm._

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full fuzzy join customer x supplier on name, levenshtein@70. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    FuzzyMatcher.matchDfs(
      t(spark, dir, "customer"), t(spark, dir, "supplier"),
      Seq(FuzzyMapping("c_name", "s_name", thresholdScore = 70.0, fuzzyType = Levenshtein)))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- fuzzy join, one mapping per algorithm (exact path, oracle-checked)
    "fuzzy_join_levenshtein" -> ((s, dir) => {
      val res = FuzzyMatcher.matchDfs(
        t(s, dir, "customer"), t(s, dir, "supplier"),
        Seq(FuzzyMapping("c_name", "s_name", 70.0, Levenshtein)))
      res.select(col("c_custkey"), col("s_suppkey"),
        sround(col("c_name_vs_s_name_levenshtein"), 6).as("score"))
    }),
    // same join as fuzzy_join_levenshtein but through the pure-SQL surface:
    // the fuzzy_match TVF (plans/FuzzyMatchTable, injected by
    // GraftExtensions) — shares that query's oracle verbatim, so a
    // mismatch between the Scala and SQL front doors would show as a
    // hash diff between the two rows
    "fuzzy_join_sql" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("fuzzy_sql_customer")
      t(s, dir, "supplier").createOrReplaceTempView("fuzzy_sql_supplier")
      s.sql(
        """SELECT c_custkey, s_suppkey,
                  round(c_name_vs_s_name_levenshtein, 6) AS score
           FROM fuzzy_match('fuzzy_sql_customer', 'fuzzy_sql_supplier',
                            'c_name', 's_name', 70.0, 'levenshtein')""")
    }),
    "fuzzy_join_damerau" -> ((s, dir) => {
      val res = FuzzyMatcher.matchDfs(
        t(s, dir, "customer"), t(s, dir, "supplier"),
        Seq(FuzzyMapping("c_name", "s_name", 70.0, DamerauLevenshtein)))
      res.select(col("c_custkey"), col("s_suppkey"),
        sround(col("c_name_vs_s_name_damerau_levenshtein"), 6).as("score"))
    }),
    "fuzzy_join_jaro" -> ((s, dir) => {
      val res = FuzzyMatcher.matchDfs(
        t(s, dir, "customer"), t(s, dir, "supplier"),
        Seq(FuzzyMapping("c_name", "s_name", 80.0, Jaro)))
      res.select(col("c_custkey"), col("s_suppkey"),
        sround(col("c_name_vs_s_name_jaro"), 6).as("score"))
    }),
    "fuzzy_join_jaro_winkler" -> ((s, dir) => {
      val res = FuzzyMatcher.matchDfs(
        t(s, dir, "customer"), t(s, dir, "customer"),
        Seq(FuzzyMapping("c_name", "c_name", 90.0, JaroWinkler)))
      res.select(col("c_custkey"), col("c_custkey_right"),
        sround(col("c_name_vs_c_name_right_jaro_winkler"), 6).as("score"))
    }),
    "fuzzy_join_hamming" -> ((s, dir) => {
      val res = FuzzyMatcher.matchDfs(
        t(s, dir, "customer"), t(s, dir, "customer"),
        Seq(FuzzyMapping("c_name", "c_name", 80.0, Hamming)))
      res.select(col("c_custkey"), col("c_custkey_right"),
        sround(col("c_name_vs_c_name_right_hamming"), 6).as("score"))
    }),
    // indel has no native DuckDB analog; the oracle computes LCS with an
    // anti-diagonal DP as a recursive CTE (indel = la + lb - 2*LCS)
    "fuzzy_join_indel" -> ((s, dir) => {
      val res = FuzzyMatcher.matchDfs(
        t(s, dir, "customer"), t(s, dir, "supplier"),
        Seq(FuzzyMapping("c_name", "s_name", 70.0, Indel)))
      res.select(col("c_custkey"), col("s_suppkey"),
        sround(col("c_name_vs_s_name_indel"), 6).as("score"))
    }),
    // ---- multi-pass fuzzy join: two mappings, intersection semantics
    "fuzzy_join_multi" -> ((s, dir) => {
      val res = FuzzyMatcher.matchDfs(
        t(s, dir, "customer"), t(s, dir, "customer"),
        Seq(
          FuzzyMapping("c_name", "c_name", 80.0, Levenshtein),
          FuzzyMapping("c_mktsegment", "c_mktsegment", 80.0, JaroWinkler)))
      res.select(col("c_custkey"), col("c_custkey_right"),
        sround(col("c_name_vs_c_name_right_levenshtein"), 6).as("score_name"),
        sround(col("c_mktsegment_vs_c_mktsegment_right_jaro_winkler"), 6).as("score_seg"))
    }),
    // multi-mapping join through the SQL TVF (mapping ORDER differs from
    // the Scala twin on purpose: preprocessing's uniqueness reorder must
    // make the fold order-insensitive); shares fuzzy_join_multi's oracle
    // verbatim, plus exercises the trailing strategy-option pairs
    "fuzzy_join_multi_sql" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("fuzzy_sql_customer2")
      s.sql(
        """SELECT c_custkey, c_custkey_right,
                  round(c_name_vs_c_name_right_levenshtein, 6) AS score_name,
                  round(c_mktsegment_vs_c_mktsegment_right_jaro_winkler, 6) AS score_seg
           FROM fuzzy_match('fuzzy_sql_customer2', 'fuzzy_sql_customer2',
                            'c_mktsegment', 'c_mktsegment', 80.0, 'jaro_winkler',
                            'c_name', 'c_name', 80.0, 'levenshtein',
                            'use_approx', false)""")
    }),
    // ---- fuzzy self-dedup: matchDfs(df, df) minus identity pairs
    "fuzzy_self_dedup" -> ((s, dir) => {
      val res = FuzzyMatcher.matchDfs(
        t(s, dir, "customer"), t(s, dir, "customer"),
        Seq(FuzzyMapping("c_name", "c_name", 90.0, Levenshtein)))
      res.where(col("c_custkey") < col("c_custkey_right"))
        .select(col("c_custkey"), col("c_custkey_right"),
          sround(col("c_name_vs_c_name_right_levenshtein"), 6).as("score"))
    }),

    // ---- oracle twin of the Bench `fuzzy_exact_1g4` row (BASELINE.md's
    // 40K x 30K forced-exact workload): same corpus construction —
    // 18-char document substrings, right side a fixed-position char
    // deletion — at the verify scale factor, forced down the exact path
    "fuzzy_join_bench1g" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def values(offsets: Seq[Int], out: String) = docs
        .select(explode(array(offsets.map(lit): _*)).as("__off"), col("text"))
        .where(length(col("text")) >= col("__off") + 18)
        .select(expr(s"substring(text, __off, 18)").as(out))
        .where(length(col(out)) === 18)
        .distinct()
      val left = values(1 to 91 by 10, "name")
      val right = values(3 to 63 by 10, "src")
        .select(concat(substring(col("src"), 1, 6), substring(col("src"), 8, 11))
          .as("name_t"))
        .distinct()
      FuzzyMatcher.matchDfs(left, right,
          Seq(FuzzyMapping("name", "name_t", 90.0, Levenshtein)),
          MatchOptions(useApproxNearestNeighbor = Some(false)))
        .select(col("name"), col("name_t"),
          sround(col("name_vs_name_t_levenshtein"), 6).as("score"))
    }),

    // ---- deduplication suite over `documents`
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")),
    // sub-document (16-token chunk) exact dedup: keep-first per distinct
    // chunk; dup_count > 1 rows are the corpus's repeated passages
    "dedup_chunk_exact" -> ((s, dir) =>
      Dedup.chunkDedup(t(s, dir, "documents"), "text", "doc_id", 16)),
    // nightly-ingest chunk dedup: batch keep-first + corpus-digest anti
    // join (incrementalDedup's exact arm at chunk granularity)
    "dedup_chunk_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      Dedup.incrementalChunkDedup(docs.where(bkt < 100000L),
        Dedup.chunkDigests(docs.where(bkt >= 100000L), "text", "doc_id", 16),
        "text", "doc_id", 16)
    }),
    // dataset-mixture overlap matrix: pairwise source shingle jaccard
    // (fan-out bounded by sources^2, uncapped-safe at any corpus size)
    "corpus_overlap" -> ((s, dir) =>
      Dedup.groupOverlap(t(s, dir, "documents"), "text", "source", 3)
        .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
          col("n_common"), sround(col("jaccard"), 6).as("jaccard"))),
    // the corpus-rewrite side: pruned documents re-assembled from their
    // surviving chunks (md5 of the rebuilt text for hash stability)
    "dedup_chunk_rebuild" -> ((s, dir) =>
      Dedup.chunkDedupRebuild(t(s, dir, "documents"), "text", "doc_id", 16)
        .select(col("doc_id"), col("n_total"), col("n_kept"),
          org.apache.spark.sql.functions.md5(encode(col("text_rebuilt"), "UTF-8"))
            .as("rebuilt_md5"))),
    // Hot-shingle gate disabled (Long.MaxValue): the exact SQL oracle joins
    // every shared shingle unconditionally, so parity must not depend on no
    // shingle exceeding the default document-frequency cap at a larger
    // scale factor. Production callers keep the default gate.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val p = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", 3, 0.5,
        maxShinglePairs = Long.MaxValue)
      p.select(col("id_a"), col("id_b"), sround(col("jaccard"), 6).as("jaccard"))
    }),
    // containment = common / min(|A|,|B|): the subset/quote-inclusion
    // signal jaccard misses (a doc fully embedded in a larger one scores
    // 1.0 here, ~|A|/|B| there). Gate disabled like every oracled pair
    // family; production callers keep the default cap.
    "dedup_containment" -> ((s, dir) => {
      val p = Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id", 3, 0.6,
        maxShinglePairs = Long.MaxValue)
      p.select(col("id_a"), col("id_b"), sround(col("containment"), 6).as("containment"))
    }),
    // nightly containment check: the batch's asymmetric-overlap pairs
    // against the corpus — cross-side blocking only (the decontamination
    // shape: a quoted passage scores 1.0 where jaccard dilutes to ~0)
    "dedup_containment_inc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      Dedup.containmentCrossPairs(batch, corpus, "text", "doc_id", 3, 0.6,
          maxShinglePairs = Long.MaxValue)
        .select(col("id_a"), col("id_b"),
          sround(col("containment"), 6).as("containment"))
    }),
    // the same nightly flags through the STORED containment state
    // (saveContainmentState: shingle-bucketed rows + per-shingle stats +
    // id-bucketed hsets, all three reads pruned to the batch's touched
    // buckets) — shares dedup_containment_inc's oracle verbatim
    "dedup_containment_inc_stored" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val store = "/tmp/graft_sql_containment_store_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.saveContainmentState(corpus, "text", "doc_id", store, n = 3,
        nBuckets = 16)
      Dedup.containmentPairsAgainstStored(batch, "text", "doc_id",
          Dedup.loadContainmentState(s, store), threshold = 0.6,
          maxShinglePairs = Long.MaxValue)
        .select(col("id_a"), col("id_b"),
          sround(col("containment"), 6).as("containment"))
    }),
    // the self-join containment family's SQL front door (dedup_pairs
    // TVF, method 'containment') — shares dedup_containment's oracle
    "dedup_containment_sql" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("dcp_sql_docs")
      s.sql(
        s"""SELECT id_a, id_b, round(containment, 6) AS containment
            FROM dedup_pairs('dcp_sql_docs', 'text', 'doc_id',
                             'method', 'containment', 'ngram_n', 3,
                             'threshold', 0.6,
                             'max_bucket_pairs', ${Long.MaxValue}L)""")
    }),
    // MinHash LSH candidates + exact shingle-jaccard verify: the candidate
    // generation is sub-quadratic LSH, the verify makes the output ground
    // truth -> oracled against the same SQL family as dedup_ngram_jaccard.
    // Band shape 24x1 puts the threshold in the high-recall regime:
    // P(miss a pair at jaccard = 0.5) = 0.5^24 ~ 6e-8, so parity with the
    // uncapped exact oracle cannot hinge on the corpus lacking
    // near-threshold pairs (16x4 had P(candidate) ~ 0.64 at j = 0.5).
    // Cap disabled (Long.MaxValue) like every oracled LSH entry: the SQL
    // joins all buckets unconditionally. Production callers keep defaults.
    "dedup_minhash_lsh" -> ((s, dir) => {
      val p = Dedup.minhashLshVerifiedPairs(t(s, dir, "documents"), "text", "doc_id",
        shingleLen = 3, numBands = 24, rowsPerBand = 1, threshold = 0.5,
        maxBucketPairs = Long.MaxValue)
      p.select(col("id_a"), col("id_b"), sround(col("jaccard"), 6).as("jaccard"))
    }),
    // MD5 token hash (useMd5): DuckDB recomputes the identical simhash
    // bit-for-bit, so the pigeonhole-blocked pairs are fully oracled.
    // Cap disabled (Long.MaxValue): the oracle joins all chunk buckets, so
    // parity must not depend on no bucket exceeding the default cap at a
    // larger scale factor (same convention as dedup_cosine_lsh).
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
          maxBucketPairs = Long.MaxValue, useMd5 = true)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    // the same simhash pair generation through the dedup_pairs SQL TVF
    // front door (plans/DedupPairsTable) — pure-SQL clients get the
    // identical plan, so the two queries share one oracle verbatim
    "dedup_simhash_sql" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("dedup_sql_docs")
      s.sql(
        s"""SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
            FROM dedup_pairs('dedup_sql_docs', 'text', 'doc_id',
                             'max_hamming', 8, 'use_md5', true,
                             'max_bucket_pairs', ${Long.MaxValue}L)""")
    }),
    // dedup-config rollout gate: micro P/R/F1 of the cheap simhash
    // detector against the exact-jaccard ground truth — both pair
    // pipelines are themselves oracled entries, so this oracles the EVAL
    // arithmetic on a real, non-trivial confusion
    "dedup_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 8,
        maxBucketPairs = Long.MaxValue, useMd5 = true)
        .select(col("id_a"), col("id_b"))
      val truth = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5,
        maxShinglePairs = Long.MaxValue).select(col("id_a"), col("id_b"))
      Dedup.evalPairs(pred, truth)
    }),
    // pair list -> connected components -> keep one representative/cluster
    "dedup_near_cluster" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5,
        maxShinglePairs = Long.MaxValue)
      NearDupCluster.dedupByPairs(docs, pairs, "doc_id", maxIterations = 20)
        .select(col("doc_id"))
    }),
    // label propagation instead of dropping: every doc learns its dup
    // family's id, size, best length, and the representative's lang
    "dedup_cluster_labels" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5,
        maxShinglePairs = Long.MaxValue)
      NearDupCluster.clusterLabels(docs, pairs, "doc_id", "n_chars",
          Seq("lang"), maxIterations = 20)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("best_n_chars"), col("rep_lang"))
    }),
    // quality-aware keep rule: the representative is the LONGEST cluster
    // member (exact integer score), ties to min id
    "dedup_cluster_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5,
        maxShinglePairs = Long.MaxValue)
      NearDupCluster.dedupByPairsKeepBest(docs, pairs, "doc_id",
          col("n_chars"), maxIterations = 20)
        .select(col("doc_id"))
    }),
    // cosine pairs -> connected components -> keep-one: semantic near-dup
    // dedup end to end (same resolver as the text families)
    "dedup_cosine_cluster" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Dedup.embeddingCosinePairs(emb, "embedding", "vec_id", 0.4)
        .select(col("id_a"), col("id_b"))
      NearDupCluster.dedupByPairs(emb, pairs, "vec_id", maxIterations = 20)
        .select(col("vec_id"))
    }),
    "dedup_embedding_cosine" -> ((s, dir) => {
      val p = Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "embedding", "vec_id", 0.4)
      p.select(col("id_a"), col("id_b"), sround(col("cosine"), 6).as("cosine"))
    }),
    // sign-LSH near-dup pairs (the 100 TB path) with integer-quantized
    // planes — candidate buckets reproduce exactly in SQL, so the
    // approximate dedup path is fully oracled too
    // The bucket-cap skew gate is DISABLED here (Long.MaxValue): the SQL
    // oracle joins all buckets unconditionally, so parity must not depend
    // on no bucket happening to exceed the default cap at a larger scale
    // factor. Production callers keep the default gate.
    "dedup_cosine_lsh" -> ((s, dir) => {
      val p = Dedup.cosineLshPairs(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.4, dim = 64, planes = 16, bands = 4,
        maxBucketPairs = Long.MaxValue, md5IntPlanes = true)
      p.select(col("id_a"), col("id_b"), sround(col("cosine"), 6).as("cosine"))
    }),
    // SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup.
    // Assignment + keep-rank ride PINNED micro-grid centroids (exact
    // BIGINT dots — the embed_pca_apply arithmetic); the pair gate is the
    // dedup_cosine float idiom; keep-low-centroid-similarity policy. Cap
    // disabled for oracle parity (see dedup_cosine_lsh).
    "dedup_semantic" -> ((s, dir) =>
      Dedup.semDedup(t(s, dir, "embeddings"), "embedding", "vec_id",
        graft.pipeline.DemoModels.SemCentroids, dim = 64, nCells = 8,
        threshold = 0.35, maxCellPairs = Long.MaxValue)),
    // nightly semantic dedup: every-10th embedding arrives as the batch,
    // flagged against the STORED assignment state of the rest — the
    // minhash_inc cross-side shape on the cell key, corpus wins
    "dedup_semantic_inc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = Dedup.semDedupState(emb.where(col("vec_id") % 10 =!= 0),
        "embedding", "vec_id", graft.pipeline.DemoModels.SemCentroids,
        dim = 64, nCells = 8)
      Dedup.semDedupIncrementalPairs(emb.where(col("vec_id") % 10 === 0),
          corpus, "embedding", "vec_id", graft.pipeline.DemoModels.SemCentroids,
          dim = 64, nCells = 8, threshold = 0.35, maxCellPairs = Long.MaxValue)
        .select(col("id_a"), col("id_b"), sround(col("cosine"), 6).as("cosine"))
    }),
    // the same nightly flags through the STORED SemDeDup state
    // (saveSemDedupState: cell-partitioned vectors + per-cell stats, the
    // corpus vector scan pruned to the batch's touched cells; centroids
    // ride the store's metadata) — output identical to the in-memory
    // form, one oracle. The save re-runs unconditionally (generation-
    // flipped) so a stale /tmp store can never shadow this run's data.
    "dedup_semantic_inc_stored" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val store = "/tmp/graft_sql_semdedup_store_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.saveSemDedupState(emb.where(col("vec_id") % 10 =!= 0),
        "embedding", "vec_id", store, graft.pipeline.DemoModels.SemCentroids,
        dim = 64, nCells = 8)
      Dedup.semDedupPairsAgainstStored(emb.where(col("vec_id") % 10 === 0),
          "embedding", "vec_id", Dedup.loadSemDedupState(s, store),
          threshold = 0.35, maxCellPairs = Long.MaxValue)
        .select(col("id_a"), col("id_b"), sround(col("cosine"), 6).as("cosine"))
    }),
    // the stored form's SQL front door (plans/SemDedupPairsStoredTable):
    // a pure-SQL client flags a batch against the saved store
    "dedup_semantic_stored_sql" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val store = "/tmp/graft_sql_semdedup_store_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.saveSemDedupState(emb.where(col("vec_id") % 10 =!= 0),
        "embedding", "vec_id", store, graft.pipeline.DemoModels.SemCentroids,
        dim = 64, nCells = 8)
      emb.where(col("vec_id") % 10 === 0).createOrReplaceTempView("sdps_sql_batch")
      s.sql(
        s"""SELECT id_a, id_b, round(cosine, 6) AS cosine
            FROM semdedup_pairs_stored('sdps_sql_batch', 'embedding', 'vec_id',
                                       '$store', 0.35,
                                       'max_cell_pairs', ${Long.MaxValue}L)""")
    }),

    // ---- similarity search over `embeddings`
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.bruteForceTopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // the same brute-force retrieval through the ann_topk SQL TVF front
    // door (plans/AnnTopKTable) — pure-SQL clients get the identical
    // plan, so the two queries share one oracle verbatim
    "ann_topk_sql" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      emb.where(col("vec_id") < 10).createOrReplaceTempView("ann_sql_queries")
      emb.createOrReplaceTempView("ann_sql_corpus")
      s.sql(
        """SELECT query_id, corpus_id, round(cosine, 6) AS cosine,
                  CAST(rank AS BIGINT) AS rank
           FROM ann_topk('ann_sql_queries', 'ann_sql_corpus',
                         'embedding', 'vec_id', 10)""")
    }),
    // int8-quantized variant: per-vector symmetric quantization (exact
    // floor arithmetic) + integer dot products — the 4x-compressed corpus
    // path, fully oracled because every step is exact integer or
    // deterministic IEEE arithmetic
    "ann_cosine_int8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.int8TopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("qcosine"), 6).as("qcosine"), col("rank").cast("long").as("rank"))
    }),
    // IVF routing + int8 re-rank (the production compression combo): at
    // nProbe = nCells this provably equals int8TopK, so it shares that
    // query's exact-integer oracle
    "ann_cosine_ivf_int8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.ivfTopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10, dim = 64, nCells = 16, nProbe = 16, iters = 3,
        int8Rerank = true)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("qcosine"), 6).as("qcosine"), col("rank").cast("long").as("rank"))
    }),
    // ---- margin-based bitext mining (Artetxe & Schwenk ratio margin):
    // split the embedding table into two synthetic "languages" (even/odd
    // vec_id), mine each even vector's best odd partner by
    // cos / mean-of-kNN-penalties. Exact int8 cosines + 1e-6-grid
    // integer penalty sums make the margin argmax engine-deterministic;
    // the oracle replays the full two-direction kNN + margin in SQL.
    "embed_bitext_margin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      AnnSearch.bitextMarginMine(emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1), "embedding", "vec_id", k = 4)
        .select(col("src_id"), col("tgt_id"),
          sround(col("margin"), 6).as("margin"),
          sround(col("qcosine"), 6).as("qcosine"))
    }),
    // union-rerank IVF arm (the margin-inflation mitigation, SCALE.md
    // round 10) at nProbe = nCells: exact probes + union top-k collapse
    // to the exact kNN lists, so the whole path provably equals the
    // brute arm and shares its oracle; partial-probe P/R gain is
    // measured in tools.BitextRecall
    "embed_bitext_margin_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      AnnSearch.bitextMarginMineIvfRerank(emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1), "embedding", "vec_id", k = 4,
          dim = 64, nCells = 8, nProbe = 8)
        .select(col("src_id"), col("tgt_id"),
          sround(col("margin"), 6).as("margin"),
          sround(col("qcosine"), 6).as("qcosine"))
    }),
    // IVF (k-means coarse quantizer) variant: at nProbe = nCells the cell
    // routing provably reproduces brute force, so the plumbing (trainer,
    // assignment, probing, re-rank) is oracled exactly; recall at partial
    // probe is spec-gated (IvfSpec)
    "ann_cosine_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.ivfTopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10, dim = 64, nCells = 16, nProbe = 16, iters = 3)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // LSH-bucketed variant (scale path). md5IntPlanes: integer-quantized
    // hyperplanes/dots — exact order-independent arithmetic a SQL oracle
    // recomputes bit-for-bit, so even the approximate path is fully oracled
    "ann_cosine_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.lshTopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10, dim = 64, planes = 16, bands = 8,
        maxBucketPairs = Long.MaxValue, // oracle has no cap gate; see dedup_cosine_lsh
        md5IntPlanes = true)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // binary (1-bit) quantization path: sign-bit signatures (one long per
    // vector), Hamming candidate cut, exact float re-rank. The signature
    // is a pure function of the component signs, so the candidate set —
    // and therefore the whole partial-rerank search — reproduces in SQL
    "ann_cosine_binary" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.binaryTopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10, rerank = 40)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // incremental IVF lifecycle: base postings assigned once, a new batch
    // appended against the FROZEN quantizer (no old-corpus rescan), then
    // queried at full probe — which provably equals brute force over the
    // union, so the whole append path shares the exact-cosine oracle
    "ann_ivf_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = AnnSearch.kmeansFit(emb.where(col("vec_id") >= 250), "embedding",
        dim = 64, k = 8, iters = 2)
      val flat = AnnSearch.normalizeCentroids(cents)
      val base = AnnSearch.ivfPostings(emb.where(col("vec_id") >= 250),
        "embedding", "vec_id", 64, flat)
      val appended = AnnSearch.ivfAppendPostings(base,
        emb.where(col("vec_id") < 250), "embedding", "vec_id", 64, flat)
      val res = AnnSearch.ivfTopKFromPostings(emb.where(col("vec_id") < 10),
        appended, "embedding", "vec_id", 10, dim = 64, flat, nProbe = 8)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // right-to-be-forgotten on the stored vector index: forget-list
    // postings dropped by ONE broadcast anti-join (no derived stats to
    // correct, unlike bm25Forget); full probe over the surviving
    // postings provably equals brute force over the KEPT corpus, so the
    // oracle is the exhaustive scan plus the forget filter
    "ann_ivf_forget" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = AnnSearch.kmeansFit(emb, "embedding", dim = 64, k = 8, iters = 2)
      val flat = AnnSearch.normalizeCentroids(cents)
      val posts = AnnSearch.ivfPostings(emb, "embedding", "vec_id", 64, flat)
      val kept = AnnSearch.ivfForgetPostings(posts,
        emb.where(col("vec_id") % 7 === 0).select(col("vec_id")), "vec_id")
      val res = AnnSearch.ivfTopKFromPostings(emb.where(col("vec_id") < 10),
        kept, "embedding", "vec_id", 10, dim = 64, flat, nProbe = 8)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // drift-triggered refit, the full monitor -> refit -> gate -> swap
    // cycle (AnnSearch.refitOnDrift): the corpus is re-encoded with a
    // planted covariate shift (+0.25 on every component — EXACT float
    // arithmetic both engines reproduce bit-for-bit, so the drift is
    // ~2.0 at ANY scale factor, decisively over tau=1.0 yet never
    // flaky). The monitor trips, the index refits on the new corpus,
    // and the full-probe gate provably scores recall 1.0 (full probe ==
    // brute force), so the swap is accepted and the served result
    // equals brute force over the SHIFTED corpus. The oracle REPLAYS
    // the decision: it computes the quantized-integer drift, and emits
    // the shifted-corpus ranking when it exceeds tau, the old-corpus
    // ranking otherwise — so a monitor, threshold, or swap-plumbing bug
    // all surface as a hash diff.
    "ann_drift_refit" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val shifted = emb.withColumn("embedding",
        transform(col("embedding"), v => v + lit(0.25f)))
      val servingFlat = AnnSearch.normalizeCentroids(
        AnnSearch.kmeansFit(emb, "embedding", dim = 64, k = 8, iters = 2))
      val servingPosts = AnnSearch.ivfPostings(emb, "embedding", "vec_id", 64, servingFlat)
      val out = AnnSearch.refitOnDrift(servingFlat, servingPosts,
        emb, shifted, "embedding", "vec_id", dim = 64, nCells = 8, iters = 2,
        groupCols = Seq("label"), driftTau = 1.0,
        gateQueries = shifted.where(col("vec_id") < 10), gateK = 10,
        gateNProbe = 8, minMeanRecall = 0.99)
      AnnSearch.ivfTopKFromPostings(shifted.where(col("vec_id") < 10),
          out.postings, "embedding", "vec_id", 10, dim = 64, out.centroids, nProbe = 8)
        .select(col("query_id"), col("corpus_id"),
          sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .withColumn("l2_move", sround(lit(out.l2Move), 6))
        .withColumn("swapped", lit(out.swapped))
    }),

    // the same monitored cycle for the PQ codebook (refitPqOnDrift):
    // drift trips -> refit codebook + atomic re-encode -> exhaustive
    // gate (full rerank == brute force, recall 1.0) -> swap; the served
    // search then runs over the swapped (codebook, codes) pair against
    // the corpus those codes encode. Decision-replay oracle shared with
    // ann_drift_refit.
    "ann_drift_refit_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val shifted = emb.withColumn("embedding",
        transform(col("embedding"), v => v + lit(0.25f)))
      val servingCb = AnnSearch.pqFitCodebook(emb, "embedding", dim = 64,
        m = 8, ksub = 16, iters = 2)
      val servingCodes = AnnSearch.pqEncodeCorpus(emb, "embedding", "vec_id",
        64, servingCb, 8, 16)
      val out = AnnSearch.refitPqOnDrift(servingCb, servingCodes, emb, shifted,
        "embedding", "vec_id", dim = 64, m = 8, ksub = 16, iters = 2,
        groupCols = Seq("label"), driftTau = 1.0,
        gateQueries = shifted.where(col("vec_id") < 10), gateK = 10,
        gateRerank = 1000000, minMeanRecall = 0.99)
      val served = if (out.swapped) shifted else emb
      AnnSearch.pqTopKFromCodes(shifted.where(col("vec_id") < 10), out.codes,
          served, "embedding", "vec_id", 10, dim = 64, out.codebook,
          m = 8, ksub = 16, rerank = 1000000)
        .select(col("query_id"), col("corpus_id"),
          sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .withColumn("l2_move", sround(lit(out.l2Move), 6))
        .withColumn("swapped", lit(out.swapped))
    }),

    // metadata-filtered exact search: predicate pushed into the corpus
    // scan BEFORE scoring — pre-filter semantics, no recall loss
    "ann_cosine_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.filteredTopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10, col("label") % 3 === 1)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // filtered search against a STORED index (predicate at search time,
    // index built unfiltered); full probe => provably equals the filtered
    // brute force, so the same SQL oracles the whole semi-join path
    "ann_filtered_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = AnnSearch.kmeansFit(emb, "embedding", dim = 64, k = 8, iters = 2)
      val flat = AnnSearch.normalizeCentroids(cents)
      val posts = AnnSearch.ivfPostings(emb, "embedding", "vec_id", 64, flat)
      val res = AnnSearch.ivfTopKFromPostingsFiltered(emb.where(col("vec_id") < 10),
        posts, "embedding", "vec_id", 10, dim = 64, flat, nProbe = 8,
        emb.where(col("label") % 3 === 1).select(col("vec_id")))
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // label-noise sweep: rows whose neighborhood out-votes their own label
    "ann_label_noise" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      AnnSearch.labelNoise(emb.where(col("vec_id") < 100), "embedding",
        "vec_id", "label", 10)
    }),
    // hard-negative mining: most-similar corpus rows with a DIFFERENT
    // label, inequality applied before the k-cut
    "ann_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.hardNegatives(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", "label", 5)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // k-NN label propagation: majority label among exact top-10
    // neighbors, ties by most votes then smallest label
    "ann_knn_label" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      AnnSearch.knnLabel(emb.where(col("vec_id") < 50), emb,
        "embedding", "vec_id", "label", 10)
    }),
    // nearest-centroid assignment on the exact integer grid: per-label
    // centroids (quantized-sum arithmetic) floored to the 4096 grid,
    // argmin integer L2 via the PQ encode kernel at m = 1 — the whole
    // classifier reproduces in SQL
    "ann_centroid_label" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      AnnSearch.nearestCentroidLabel(emb, "embedding", "vec_id", "label", 64)
    }),
    // IVF-PQ composition at the oracle-checkable configuration (full
    // probe + full rerank == brute force): exercises cell routing, PQ
    // encode, per-cell ADC, shortlist, and exact re-rank end-to-end;
    // working-setting recall is PqSpec's business
    "ann_cosine_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = AnnSearch.kmeansFit(emb, "embedding", dim = 64, k = 8, iters = 2)
      val flat = AnnSearch.normalizeCentroids(cents)
      val cb = AnnSearch.pqFitCodebook(emb, "embedding", dim = 64, m = 16,
        ksub = 16, iters = 2)
      val res = AnnSearch.ivfPqTopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10, dim = 64, flat, nProbe = 8,
        codebook = cb, m = 16, ksub = 16, rerank = 1000000)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // product-quantization path (Jegou et al. ADC): md5-integer codebook
    // + 4096-grid vectors make encode/LUT/ADC exact integer arithmetic,
    // so even the approximate shortlist reproduces in SQL (the production
    // k-means-codebook variant is spec-gated in PqSpec)
    "ann_cosine_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.pqTopKInt(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10, dim = 64, m = 8, ksub = 16, rerank = 40)
      res.select(col("query_id"), col("corpus_id"),
        sround(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
    }),
    // radius (range) search: every neighbor at cosine >= tau, exact arm
    "ann_radius" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.bruteForceRadius(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 0.4)
      res.select(col("query_id"), col("corpus_id"), sround(col("cosine"), 6).as("cosine"))
    }),
    // radius through the IVF quantizer at full probe == brute force by
    // construction (every pair meets exactly once) — the oracle-checkable
    // configuration, like ann_cosine_ivf
    "ann_radius_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = AnnSearch.kmeansFit(emb, "embedding", dim = 64, k = 8, iters = 2)
      val flat = AnnSearch.normalizeCentroids(cents)
      val res = AnnSearch.ivfRadiusWithCentroids(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 0.4, dim = 64, flat, nProbe = 8)
      res.select(col("query_id"), col("corpus_id"), sround(col("cosine"), 6).as("cosine"))
    }),
    // radius search on the LSH scale path — md5-integer planes so the
    // bucket assignment (and the candidate set) reproduces in SQL; cap
    // disabled like every oracled LSH entry (see dedup_cosine_lsh)
    "ann_radius_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val res = AnnSearch.lshRadius(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 0.4, dim = 64, planes = 16, bands = 8,
        maxBucketPairs = Long.MaxValue, md5IntPlanes = true)
      res.select(col("query_id"), col("corpus_id"), sround(col("cosine"), 6).as("cosine"))
    }),

    // ---- text analysis over `documents`
    "text_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.subwordCountEstimate(col("text")).cast("long").as("n_subwords"))),
    "text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        sround(TextAnalysis.qualityScore(col("text")), 6).as("quality"))),
    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),
    // prediction + confidence margin (best minus runner-up marker hits,
    // 0 on ties) — the "classified, but barely" filter knob
    "text_langid_margin" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.langIdMargin(col("text")).as("margin"))),
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))),
    // Gopher-style repetition filters: duplicate-line / duplicate-token
    // fractions per document
    "text_repetition" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        sround(TextAnalysis.dupLineFraction(col("text")), 6).as("dup_line_frac"),
        sround(TextAnalysis.dupTokenFraction(col("text")), 6).as("dup_token_frac"))),
    // winnowing sketch: exploded to (doc_id, fingerprint) scalar rows; the
    // MD5 gram hash (useMd5) is recomputable in SQL, so the sketch is
    // oracled bit-for-bit
    "text_winnow" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        explode(TextAnalysis.winnowFingerprints(col("text"), useMd5 = true)).as("fp"))),

    // ---- corpus curation: deterministic sampling / selection / vocab /
    // packing (graft.pipeline.Curation). Sampling keys off md5 so the
    // oracle reproduces the exact row set.
    "curate_sample" -> ((s, dir) =>
      Curation.hashSample(t(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id"))),
    // exact-N deterministic sample: smallest 200 md5 order keys via the
    // BoundedTopK heap (executor-side merge, never a driver TakeOrdered)
    "curate_sample_exact" -> ((s, dir) =>
      Curation.sampleExactN(t(s, dir, "documents"), "doc_id", 200)
        .select(col("doc_id"), col("sample_rank"))),
    // per-stratum exact-N quota sample (balanced eval sets): the heap
    // keyed by the stratum — n entries per stratum of aggregate state,
    // unbounded stratum cardinality, never a window sort
    "curate_sample_exact_stratum" -> ((s, dir) =>
      Curation.sampleExactNPerStratum(t(s, dir, "documents"), "doc_id",
          "source", 20)
        .select(col("doc_id"), col("source"), col("sample_rank"))),
    // soft dedup: every copy kept at 1/n weight (duplicated content
    // contributes once in expectation; provenance survives)
    "curate_dup_weights" -> ((s, dir) =>
      Curation.dupWeights(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_copies"), col("weight"))),
    // XLM-R-style temperature (α=0.5) resampling across languages: the
    // rarest language keeps everything, dominant ones downsample toward
    // the flattened α-distribution — rates snap to the 1e-6 md5 grid so
    // the filter is the same pure-filter shape as every sampler here
    "curate_temperature_sample" -> ((s, dir) =>
      Curation.temperatureSample(t(s, dir, "documents"), "doc_id", "lang",
        SparkEntry.DemoTemperatureAlpha)
        .select(col("doc_id"), col("lang"),
          sround(col("keep_rate"), 6).as("keep_rate"))),
    // ---- Efraimidis-Spirakis weighted exact-n sample: probability
    // proportional to doc length, via the ln(u)/w key through the heap
    "curate_weighted_sample_exact" -> ((s, dir) =>
      Curation.weightedSampleExactN(t(s, dir, "documents"), "doc_id",
          col("n_chars").cast("double"), n = 100)
        .select(col("doc_id"), col("n_chars"), col("sample_rank"))),

    // ---- UniMax budget allocation: equal shares per language except
    // epoch-capped small ones (water-filling closed form in exact
    // integers); each doc's copy count is deterministic in its key.
    // budget=700 rows / maxEpochs=2 puts fr+de capped and es/zh/en at
    // the θ share on this corpus — both branches exercised
    "curate_unimax" -> ((s, dir) =>
      Curation.unimaxSample(t(s, dir, "documents"), "doc_id", "lang",
          budget = 700L, maxEpochs = 2)
        .select(col("doc_id"), col("lang"), col("budget_alloc"),
          col("n_copies"))),

    // ---- the size-unit UniMax: the same water-filling allocation with
    // the budget in CHARACTERS (the paper's own accounting) — strata
    // capacities are char sums, copy counts make each stratum's expected
    // char total equal its allocation
    "curate_unimax_chars" -> ((s, dir) =>
      Curation.unimaxSampleBySize(t(s, dir, "documents"), "doc_id", "lang",
          "n_chars", budget = 200000L, maxEpochs = 2)
        .select(col("doc_id"), col("lang"), col("budget_alloc"),
          col("n_copies"))),

    // ---- composed clean-mix: blocklist gate THEN temperature resampling
    // over the survivors — the rates derive from the FILTERED corpus
    // (the seam a per-stage oracle never sees: filter-then-rate, not
    // rate-then-filter). Oracled as the same composition in SQL.
    "curate_clean_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clean = TextAnalysis.blocklistFlags(docs, "text", "doc_id",
          SparkEntry.DemoBlockPhrases)
        .where(col("blocked") === 0).select("doc_id")
      // materialized: temperatureSample consumes its input TWICE (the
      // stratum-count collect, then the output job) — without the
      // barrier the n-gram blocklist scan and join re-execute in full
      // (the repo's multi-consumer re-execution trap)
      val cleanDocs = graft.util.Materialize(docs.join(clean, Seq("doc_id")),
        graft.util.CheckpointStrategy.Local)
      Curation.temperatureSample(cleanDocs,
          "doc_id", "lang", SparkEntry.DemoTemperatureAlpha)
        .select(col("doc_id"), col("lang"),
          sround(col("keep_rate"), 6).as("keep_rate"))
    }),
    // deterministic global shuffle + shard assignment for training export
    "curate_shard" -> ((s, dir) =>
      Curation.shuffleShard(t(s, dir, "documents"), "doc_id", 8)
        .select(col("doc_id"), col("shard"), col("shard_pos"))),
    // weighted mixture interleave: src0 at 3x the rate of src1, per shard
    "curate_interleave" -> ((s, dir) =>
      Curation.interleaveShards(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 3.0, "src1" -> 1.0), 4)
        .select(col("doc_id"), col("shard"), col("interleave_pos"))),
    // corpus n-gram census: trigrams shared by >= 2 documents
    "text_ngram_freq" -> ((s, dir) =>
      Dedup.ngramFrequency(t(s, dir, "documents"), "text", "doc_id", 3, 2L)
        .select(col("ngram"), col("doc_count"), col("first_doc"))),
    // per-document boilerplate exposure against that census
    "dedup_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateFlags(t(s, dir, "documents"), "text", "doc_id", 3, 2L)
        .select(col("doc_id"), col("hot_ngrams"), col("boiler_frac"))),
    // incremental shape: odd-id batch flagged against the even-id
    // corpus's census, corpus never rescanned per batch
    "dedup_boilerplate_inc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val census = Dedup.ngramFrequency(docs.where(col("doc_id") % 2 === 0),
        "text", "doc_id", 3, 2L)
      Dedup.boilerplateFlagsAgainst(docs.where(col("doc_id") % 2 === 1),
          census, "text", "doc_id", 3)
        .select(col("doc_id"), col("hot_ngrams"), col("boiler_frac"))
    }),
    // Lee-et-al duplicated-span REMOVAL: the rewrite stage on top of the
    // census — non-first occurrences of duplicated 5-word windows are cut
    // from the text, overlaps merged through the covered-position set
    "dedup_span_rewrite" -> ((s, dir) =>
      Dedup.spanRewrite(t(s, dir, "documents"), "text", "doc_id", 5, 2L)),
    // C4-style LINE dedup rewrite on a synthesized multi-line corpus
    // (the driver corpus is single-line, which would make this oracle
    // vacuous): each doc becomes 4 deterministic lines — two shared
    // boilerplate templates keyed off doc_id mod 7/3 plus two text
    // segments — then non-first occurrences of each (case-folded) line
    // are cut, original line bytes preserved. The oracle rebuilds the
    // same fixture and replays census -> first-occurrence rank -> cut
    "dedup_line_rewrite" -> ((s, dir) => {
      // coalesce: a NULL-text doc must yield EMPTY segment lines in both
      // engines (Spark's concat_ws would keep '' lines while the oracle's
      // string_agg silently drops NULL ones — symmetric coalesce removes
      // the divergence before it exists)
      val toks = split(trim(coalesce(col("text"), lit(""))), "\\s+")
      val multi = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(lit("header "), (col("doc_id") % 7).cast("string")),
          concat_ws(" ", slice(toks, 1, 5)),
          concat(lit("footer "), (col("doc_id") % 3).cast("string")),
          concat_ws(" ", slice(toks, 6, 5))).as("text"))
      Dedup.lineDedupRewrite(multi, "text", "doc_id")
    }),
    // triage evidence: both docs' 3-gram sets side by side
    "dedup_explain_pair" -> ((s, dir) =>
      Dedup.explainPair(t(s, dir, "documents"), "text", "doc_id", 0L, 1L, 3)),
    // nightly shape: odd-id batch rewritten against the even-id corpus's
    // stored census — every batch occurrence of a corpus window is cut,
    // the corpus is never rescanned per batch
    "dedup_span_inc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val census = Dedup.ngramFrequency(docs.where(col("doc_id") % 2 === 0),
        "text", "doc_id", 5, 1L)
      Dedup.spanRewriteAgainst(docs.where(col("doc_id") % 2 === 1), census,
        "text", "doc_id", 5)
    }),
    // ---- the composed nightly-ingest path, oracled ACROSS stage seams:
    // batch docs are span-rewritten against the corpus census, then
    // exact-deduped against the corpus's canonicalized text digests, then
    // in-batch deduped (min id per digest), then length-gated. Catches
    // canonicalization drift between the rewrite and the digest stages
    // that no per-stage oracle sees.
    "nightly_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 2 === 0)
      val batch = docs.where(col("doc_id") % 2 === 1)
      val census = Dedup.ngramFrequency(corpus, "text", "doc_id", 5, 1L)
      val rewritten = Dedup.spanRewriteAgainst(batch, census, "text", "doc_id", 5)
        .withColumn("__d", org.apache.spark.sql.functions.md5(col("text_clean")))
      // corpus digests over the SAME canonicalization the rewrite emits
      val corpusD = corpus.select(org.apache.spark.sql.functions.md5(
          concat_ws(" ", org.apache.spark.sql.functions.filter(
            split(trim(col("text")), "\\s+"), w => w =!= ""))).as("__d"))
        .distinct()
      val fresh = rewritten.join(corpusD, Seq("__d"), "left_anti")
      val keep = fresh.groupBy(col("__d")).agg(min(col("doc_id")).as("doc_id"))
      fresh.join(keep, Seq("__d", "doc_id"))
        .where(length(col("text_clean")) > 0 &&
          org.apache.spark.sql.functions.size(split(col("text_clean"), " ")) >= 10)
        .select(col("doc_id"), col("__d").as("text_md5"), col("n_removed"))
    }),
    "curate_stratified" -> ((s, dir) =>
      Curation.stratifiedHashSample(t(s, dir, "documents"), "doc_id", "source",
        Map("web" -> 0.1, "books" -> 1.0), defaultRate = 0.5)
        .select(col("doc_id"), col("source"))),
    // deterministic 80/10/10 split assignment (pure projection, no RNG)
    "curate_split" -> ((s, dir) =>
      Curation.splitByHash(t(s, dir, "documents"), "doc_id",
        Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("split"))),
    // content-defined chunking: boundaries after hash-divisible tokens,
    // edit-stable (no downstream boundary shifts) — the dedup-friendly
    // alternative to fixed windows
    "curate_cdc_chunks" -> ((s, dir) =>
      Curation.cdcChunkDocs(t(s, dir, "documents"), "text", "doc_id", 16)),
    // LEAKAGE-SAFE split: duplicate docs hash by their GROUP key (min id
    // per text digest) so copies can never straddle train/test — the
    // split column to use when eval integrity matters
    "curate_split_leakfree" -> ((s, dir) =>
      Curation.splitByDupGroup(t(s, dir, "documents"), "text", "doc_id",
        Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("split"))),
    // length-bucketed batch assignment (padding-bounded inference batches)
    "curate_batches" -> ((s, dir) =>
      Curation.lengthBucketBatches(t(s, dir, "documents"), "doc_id", "text", 32, 16)
        .select(col("doc_id"), col("n_tokens"), col("length_bucket"),
          col("batch_index"))),
    "curate_topk_per_group" -> ((s, dir) =>
      Curation.topKPerGroup(t(s, dir, "documents"), "source",
        sround(TextAnalysis.qualityScore(col("text")), 6), 20, col("doc_id"))
        .select(col("doc_id"), col("source"),
          sround(TextAnalysis.qualityScore(col("text")), 6).as("quality"),
          col("rank").cast("long").as("rank"))),
    "curate_vocab" -> ((s, dir) =>
      Curation.vocabulary(t(s, dir, "documents"), "text", minCount = 50L)),
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdf(t(s, dir, "documents"), "text", "doc_id", minDf = 50L)),
    "curate_pack" -> ((s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budgetTokens = 2048L, numShards = 8)
        .select(col("doc_id"), col("shard"), col("pack_off"), col("pack_id"))),

    // ---- event sessionization (gap-based, 30-min) over `events`.
    // Timestamps read as raw nanos (legacy.parquet.nanosAsLong) and kept as
    // integer epoch-micros; the value sum is in integer cents — all
    // arithmetic exact, so the DuckDB compare is bit-stable.
    "events_sessionize" -> ((s, dir) => {
      val ev = events(s, dir).select(
        col("user_id"),
        expr("ts div 1000").as("ts_us"),
        col("event_id"),
        expr("cast(round(value * 100) as long)").as("__cents"))
      Sessionize.sessionStats(ev, "user_id", "ts_us", "event_id", "__cents",
          gapMicros = 30L * 60 * 1000000)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("session_start_us"), col("session_end_us"),
          col("sum_value").as("sum_value_cents"))
    }),

    // ---- streaming operators in batch mode (same code path the streams
    // run; watermarks are no-ops on batch frames). Integer-micros window
    // arithmetic and cent-valued sums keep the compare exact.
    "events_windowed" -> ((s, dir) => {
      val ev = events(s, dir).select(
        org.apache.spark.sql.functions.timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"),
        expr("cast(round(value * 100) as double)").as("value"))
      graft.streaming.EventStreams.windowedCounts(ev)
        .select(org.apache.spark.sql.functions.unix_micros(col("window_start")).as("window_start_us"),
          org.apache.spark.sql.functions.unix_micros(col("window_end")).as("window_end_us"),
          col("event_type"), col("n_events"),
          col("total_value").cast("long").as("total_cents"))
    }),
    "events_attribution" -> ((s, dir) => {
      val ev = events(s, dir).select(
        col("event_id"),
        org.apache.spark.sql.functions.timestamp_micros(expr("ts div 1000")).as("ts"),
        col("user_id"), col("event_type"))
      val res = graft.streaming.EventStreams.impressionClickJoin(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "click"))
      res.select(col("user_id"), col("imp_id"), col("click_id"),
        org.apache.spark.sql.functions.unix_micros(col("imp_ts")).as("imp_ts_us"),
        org.apache.spark.sql.functions.unix_micros(col("click_ts")).as("click_ts_us"))
    }),

    // ---- semi-structured metadata: parse the JSON `props` column and
    // aggregate an extracted field per event type (integer-exact compare)
    "events_json_agg" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("__k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("__k")).as("sum_k"),
          min(col("__k")).as("min_k"),
          max(col("__k")).as("max_k"))),

    // ---- multimodal binary plumbing (documents' text bytes as payload)
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.binaryMeta(
        t(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "payload").select(col("doc_id"), col("n_bytes"), col("magic_hex"))),
    "multimodal_chunks" -> ((s, dir) =>
      Multimodal.chunkBinary(
        t(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "payload", "doc_id", 128)
        .select(col("doc_id"), col("chunk_index").cast("long").as("chunk_index"),
          col("chunk_bytes").cast("long").as("chunk_bytes"))),
    // REAL inter-frame video decode (GDV1 — this library's open minimal
    // delta format, spec in Multimodal): a deterministic 8x8 4-frame
    // clip per doc, decoded with true cross-frame block state (skip ops
    // copy the previous frame, transitively). Exact integer per-frame
    // pixel sums + op counts; the oracle recomputes the generator
    // formulas AND the canonical encoder rules (skip iff unchanged,
    // solid iff uniform), so a mis-parse, a dropped skip-chain, or a
    // payload-offset bug breaks the hash. The decoder alone is pinned
    // byte-level in PipelineSpec (hand-assembled payloads). Replaces the
    // retired decodeBatch stub — no stand-in decode remains.
    "multimodal_video_delta" -> ((s, dir) =>
      Multimodal.decodeGdvFrames(
        Multimodal.encodeGdvDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id")
        .select(col("id").as("doc_id"),
          col("frame_index").cast("long").as("frame_index"), col("luma_sum"),
          col("n_skip").cast("long").as("n_skip"),
          col("n_solid").cast("long").as("n_solid"),
          col("n_literal").cast("long").as("n_literal"))),
    // REAL image decode: one deterministic RGB PNG per doc (dimensions a
    // pure function of doc_id), decoded by the JDK's actual PNG reader
    // (javax.imageio) inside the mapPartitions batch boundary. The oracle
    // recomputes the dimension formulas — a header mis-parse, channel
    // mix-up, or encode/decode disagreement breaks the hash. Byte size is
    // NOT oracled (PNG encoder output may vary across JVMs).
    "multimodal_decode_png" -> ((s, dir) =>
      Multimodal.decodeImageMeta(
        Multimodal.encodePngDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id")
        .select(col("id").as("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"))),

    // REAL audio decode: one deterministic 16-bit PCM WAV per doc (format
    // parameters pure functions of doc_id), parsed by the JDK's actual WAV
    // reader (javax.sound.sampled) inside the mapPartitions batch boundary.
    // The oracle recomputes the parameter formulas — a header mis-parse or
    // encode/decode disagreement breaks the hash. Byte size is NOT oracled
    // (container header size is the writer's business).
    "multimodal_decode_wav" -> ((s, dir) =>
      Multimodal.decodeWavMeta(
        Multimodal.encodeWavDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id")
        .select(col("id").as("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("frames").as("frames"))),
    // VIDEO container metadata: real RIFF/AVI chunk-walk over real
    // container bytes (round-trip oracle like the PNG/WAV modalities)
    "multimodal_decode_avi" -> ((s, dir) =>
      Multimodal.decodeAviMeta(
        Multimodal.encodeAviDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id")
        .select(col("id").as("doc_id"), col("usec_per_frame"),
          col("total_frames"), col("width"), col("height"),
          col("n_streams"), col("n_bytes"))),
    // IMAGE at pixel depth: the full raster through the real JDK
    // decoder, reduced to exact integer channel sums + max luma; the
    // oracle recomputes the fixture's pixel formula ((id*31 + x*7 +
    // y*131) mod 2^24 split into channels) — a channel-order or raster
    // mis-read breaks the hash
    "multimodal_image_stats" -> ((s, dir) =>
      Multimodal.decodeImagePixels(
        Multimodal.encodePngDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id")
        .select(col("id").as("doc_id"), col("n_pixels"), col("sum_r"),
          col("sum_g"), col("sum_b"), col("max_luma"))),
    // AUDIO at sample depth: the JDK decoder pulls the real PCM frames
    // and reduces them to exact integer stats; the oracle recomputes the
    // fixture's sample formula (bytes (id*31 + i*7) mod 256 read as
    // little-endian signed 16-bit) — an endianness or sign mistake in the
    // decode breaks the hash
    // ---- spectral-energy profile: the first FREQUENCY-domain feature —
    // exact quantized-DFT basis sums over the first 64 PCM samples, 8
    // bins per clip; the basis grid is single-sourced with the oracle
    "multimodal_spectral" -> ((s, dir) =>
      Multimodal.wavSpectralProfile(
        Multimodal.encodeWavDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id", bins = 8, window = 64)
        .select(col("id").as("doc_id"), col("bin"), col("re_q"), col("im_q"),
          col("energy"))),

    "multimodal_audio_stats" -> ((s, dir) =>
      Multimodal.decodeWavSamples(
        Multimodal.encodeWavDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id")
        .select(col("id").as("doc_id"), col("n_samples"), col("sum_abs"),
          col("peak"), col("sum_sq"))),
    // VIDEO at pixel depth: raw-DIB frames sampled every 2nd, decoded
    // honoring stride padding and bottom-up row order; top_row_sum pins
    // the orientation (image row 0 = LAST stored row), n_pixels pins the
    // stride strip (w·h, not stride·h)
    "multimodal_frame_pixels" -> ((s, dir) =>
      Multimodal.decodeAviFrames(
        Multimodal.encodeAviFramesDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id", every = 2)
        .select(col("id").as("doc_id"), col("frame_index"), col("n_pixels"),
          col("pix_sum"), col("pix_max"), col("top_row_sum"))),
    // ---- perceptual image hash (dHash) over a larger PNG fixture: the
    // raw-byte image near-dup primitive — 9×8 luminance grid, 64
    // adjacent-mean comparison bits (cross-multiplied, division-free).
    // Hash emitted as fixed-width hex so signed-vs-unsigned 64-bit
    // representations never differ across engines; images smaller than
    // the grid sentinel with n_pixels = -1 (both paths exercised: the
    // fixture spans 1..24 × 1..20)
    "multimodal_dhash" -> ((s, dir) =>
      Multimodal.imageDHash(
        Multimodal.encodePngDemo(t(s, dir, "documents").select(col("doc_id")),
          "doc_id", maxW = 24, maxH = 20),
        "payload", "doc_id")
        .select(col("id").as("doc_id"),
          expr("lpad(hex(dhash), 16, '0')").as("dhash_hex"),
          col("n_pixels"))),
    // ---- real image RESIZE (area-average ÷2 thumbnail over the PNG
    // fixture): every resized pixel is integer arithmetic over decoded
    // bytes, so the oracle replays the whole downscale — block sums,
    // integer-division means, resized-raster statistics
    "multimodal_resize" -> ((s, dir) =>
      Multimodal.resizeImageStats(
        Multimodal.encodePngDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id", factor = 2)
        .select(col("id").as("doc_id"), col("out_w"), col("out_h"),
          col("sum_r"), col("sum_g"), col("sum_b"), col("max_luma"))),
    // ---- COMPRESSED-audio decode (G.711 µ-law/A-law WAV): the codec is
    // exact integer arithmetic, so unlike JPEG the oracle replays the
    // ENTIRE decompression — payload bytes, both CCITT expansion
    // formulas, and the sample statistics. Even ids are µ-law, odd
    // A-law; G711Spec pins all 256 codes of each law against the JDK's
    // own converters.
    "multimodal_g711_decode" -> ((s, dir) =>
      Multimodal.decodeG711Samples(
        Multimodal.encodeG711Demo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id")
        .select(col("id").as("doc_id"), col("codec"), col("n_samples"),
          col("sum_abs"), col("peak"), col("sum_sq"))),
    // ---- STATEFUL compressed-audio decode (IMA/DVI ADPCM, WAV format
    // 0x11): each nibble updates a (predictor, step index) state
    // machine; the oracle replays the full state machine as a recursive
    // CTE generated from the SAME table constants as the decoder
    "multimodal_adpcm_decode" -> ((s, dir) =>
      Multimodal.decodeImaAdpcmSamples(
        Multimodal.encodeImaAdpcmDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id")
        .select(col("id").as("doc_id"), col("codec"), col("n_samples"),
          col("sum_abs"), col("peak"), col("sum_sq"))),
    // ---- COMPRESSED-frame video decode (MJPEG-in-AVI): every sampled
    // 00dc chunk runs through the JDK's real JPEG codec; the oracle
    // checks the STRUCTURAL half (sampled index + DECODED dimensions —
    // matching w/h proves each frame actually decoded, since they come
    // from the JPEG raster, not the container header). Pixel fidelity is
    // spec-gated (JPEG is lossy — no analytic replay exists; MjpegSpec
    // pins uniform-frame round trips within 3 gray levels).
    "multimodal_mjpeg_frames" -> ((s, dir) =>
      Multimodal.decodeMjpegFrames(
        Multimodal.encodeMjpegAviDemo(t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "payload", "doc_id", every = 2)
        .select(col("id").as("doc_id"), col("frame_index"), col("width"),
          col("height"), col("n_pixels"))),

    // ---- composed multimodal curation (VERDICT r11 stretch item): one
    // seam-tested decode → quality-gate → perceptual-near-dup → keep
    // pipeline, oracled as a COMPOSITION (each stage had per-stage oracles;
    // this pins the seams). The image fixture is keyed by doc_id % 97 —
    // the same image recrawled under many doc_ids — so all pixel work
    // (decode, gate stats, dHash) runs on the 97-row DISTINCT side and
    // broadcasts back; the full-corpus side is only a key join + a
    // hash-bucket group-by. That shape is the 100 TB contract: decode
    // cost ∝ distinct assets, never ∝ corpus rows. Images smaller than
    // the 9×8 dHash grid are dropped as un-curatable (sentinel n_pixels
    // = -1); gate max_luma >= 34 splits the fixture 28/39 (measured).
    "multimodal_curate" -> ((s, dir) =>
      Multimodal.curateByDHash(
        t(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 97).as("img_key")),
        "doc_id", "img_key")),

    // ---- hamming-radius pair generation over a PRECOMPUTED hash column
    // (Dedup.hashPairs): the pigeonhole blocking + bit_count(xor) verify,
    // previously simhash-only, applied to the perceptual image dHash —
    // pairs of distinct assets whose 64-bit dHashes differ in <= 8 bits.
    // Cap disabled (Long.MaxValue): the oracle brute-forces all valid
    // asset pairs, so parity must not depend on bucket caps.
    "multimodal_dhash_pairs" -> ((s, dir) => {
      val keys = t(s, dir, "documents")
        .select((col("doc_id") % 97).as("img_key")).distinct()
      val hashed = Multimodal.imageDHash(
        Multimodal.encodePngDemo(keys, "img_key", maxW = 24, maxH = 20),
        "payload", "img_key")
        .where(col("n_pixels") =!= -1L)
        .select(col("id").as("img_key"), col("dhash"))
      Dedup.hashPairs(hashed, col("dhash"), "img_key", maxHamming = 8,
          maxBucketPairs = Long.MaxValue)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    // ---- INCREMENTAL hamming pairs (hashPairsAgainst — the nightly /
    // streaming batch-vs-corpus shape): a "re-crawl batch" (every 5th
    // asset key) matched against the full stored asset hashes at hamming
    // <= 8. Self pairs (same key both sides) are dropped; orientation is
    // batch-side (id_a always the batch row), so (a,b) and (b,a) both
    // appear when both keys are in the batch — the oracle replays exactly
    // that asymmetry. Cap disabled like every oracled blocking entry.
    "multimodal_dhash_pairs_incr" -> ((s, dir) => {
      val keys = t(s, dir, "documents")
        .select((col("doc_id") % 97).as("img_key")).distinct()
      val corpus = Multimodal.imageDHash(
        Multimodal.encodePngDemo(keys, "img_key", maxW = 24, maxH = 20),
        "payload", "img_key")
        .where(col("n_pixels") =!= -1L)
        .select(col("id").as("img_key"), col("dhash"))
      // the batch is a FILTER of the hashed corpus (dHash is
      // deterministic per key) — no second decode pass
      val batch = corpus.where(col("img_key") % 5 === 0)
      Dedup.hashPairsAgainst(batch, col("dhash"), "img_key",
          corpus, col("dhash"), "img_key",
          maxHamming = 8, maxBucketPairs = Long.MaxValue)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),
    // the same batch-vs-corpus pairs through the STORED form's SQL front
    // door (plans/HammingPairsStoredTable): the corpus is SAVED as the
    // bucket-partitioned generation-flipped store, then the batch queries
    // it from pure SQL with partition-pruned reads — output identical to
    // the in-memory form, so the two queries share one oracle verbatim
    "multimodal_dhash_pairs_stored_sql" -> ((s, dir) => {
      val keys = t(s, dir, "documents")
        .select((col("doc_id") % 97).as("img_key")).distinct()
      val corpus = Multimodal.imageDHash(
        Multimodal.encodePngDemo(keys, "img_key", maxW = 24, maxH = 20),
        "payload", "img_key")
        .where(col("n_pixels") =!= -1L)
        .select(col("id").as("img_key"), col("dhash"))
      val store = "/tmp/graft_sql_hamming_store_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.saveHammingState(corpus, col("dhash"), "img_key", store,
        maxHamming = 8, nBuckets = 16)
      corpus.where(col("img_key") % 5 === 0)
        .createOrReplaceTempView("hps_sql_batch")
      s.sql(
        s"""SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
            FROM hamming_pairs_stored('hps_sql_batch', 'dhash', 'img_key',
                                      '$store',
                                      'max_bucket_pairs', ${Long.MaxValue}L)""")
    }),

    // ---- perceptual-CLUSTER curation (hamming <= 2 instead of exact hash
    // equality): re-encoded/resized copies whose dHash moved a few bits
    // land in their original's bucket, and chains merge TRANSITIVELY via
    // connected components — at r=2 the fixture contains a 3-asset cluster
    // {37,58,87} where 37~58 is > 2 bits apart but both are <= 2 from 87,
    // so the output pins the closure, not just the pair list. Oracle
    // replays dHash + gate + brute-force pairs + a recursive-CTE reach.
    "multimodal_curate_hamming" -> ((s, dir) =>
      Multimodal.curateByDHash(
        t(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 97).as("img_key")),
        "doc_id", "img_key", maxHamming = 2)),

    // the same curation THROUGH THE SQL FRONT DOOR (curate_dhash TVF,
    // plans/CurateDHashTable, injected by GraftExtensions) — shares the
    // Scala path's oracle verbatim, so a pure-SQL client provably gets
    // the identical decode -> gate -> dHash -> cluster -> keep-min
    // result. Only the demo-image ENCODE stays Scala-side (it is the
    // fixture, not the operator): the images view carries raw bytes
    // exactly as a crawled corpus would.
    "multimodal_curate_hamming_sql" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 97).as("img_key"))
      docs.createOrReplaceTempView("curate_sql_docs")
      Multimodal.encodePngDemo(docs.select(col("img_key")).distinct(),
          "img_key", 24, 20)
        .createOrReplaceTempView("curate_sql_images")
      s.sql(
        """SELECT keep_doc_id, dhash_hex, n_in_bucket
           FROM curate_dhash('curate_sql_docs', 'curate_sql_images',
                             'doc_id', 'img_key', 'payload',
                             'max_hamming', 2)""")
    }),

    // ---- as-of join over events: each click attaches the most recent
    // view by the same user at or before the click. Views dedup to one
    // row per (user, ts) first (max event_id) — the determinism contract.
    "events_asof" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_type"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_us").as("click_ts_us"))
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_id"))
        .withColumnRenamed("ts_us", "view_ts_us")
      AsofJoin.backward(clicks, views, Seq("user_id"),
        "click_ts_us", "view_ts_us", Seq("view_id", "view_ts_us"))
        // left-join nulls -> -1 sentinels: float NaN/null renderings differ
        // across engines, and the driver hash must stay value-stable
        .select(col("user_id"), col("click_id"), col("click_ts_us"),
          expr("coalesce(view_id, -1)").as("view_id"),
          expr("coalesce(view_ts_us, -1)").as("view_ts_us"))
    }),

    // ---- one-row corpus-duplication health report (doc + chunk tiers)
    "corpus_dup_stats" -> ((s, dir) =>
      Dedup.duplicationStats(t(s, dir, "documents"), "text", "doc_id", 16)),

    // ---- one-pass column census of documents: row/null/distinct counts
    // and min/max per column, as rows. Exact multi-distinct (Expand plan);
    // the approx variant is the wide-table path (spec-checked).
    "profile_documents" -> ((s, dir) =>
      Profile.columns(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))),
    // column-stats drift between two snapshots (rows answered by
    // corpus_diff; this answers "did the shape move")
    "profile_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Profile.drift(d.where(col("doc_id") % 10 =!= 0),
        d.where(col("doc_id") % 11 =!= 3), Seq("doc_id", "lang", "n_chars"))
    }),
    // Pearson matrix from exact quantized integer sums (one agg pass);
    // cents grid on the TPC-H money/ratio columns
    "profile_correlations" -> ((s, dir) =>
      Profile.correlations(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"), scale = 100L)),
    // ---- declarative expectation suite: every check folds into ONE
    // aggregate scan (violations counted per check, report exploded from
    // the single agg row). values_in deliberately excludes src5/src15 so
    // a real violation count flows through the hash
    "profile_expectations" -> ((s, dir) =>
      Profile.expectations(t(s, dir, "documents"), Seq(
        Profile.ExpectNotNull("text"),
        Profile.ExpectUnique("doc_id"),
        Profile.ExpectValuesIn("source",
          (0 until 20).filter(i => i != 5 && i != 15).map(i => s"src$i")),
        Profile.ExpectMinGe("n_chars", 1L),
        Profile.ExpectMaxLe("n_chars", 400L),
        Profile.ExpectRowCount(1L, 1000000000L),
        Profile.ExpectRegex("lang", "^[a-z]{2}$")))),

    // ---- ranking-quality eval: binary-signature search scored against
    // the exact top-10 (recall@10 + MRR per query) — both searches and
    // the metric arithmetic reproduce in SQL
    "ann_eval_binary" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val truth = AnnSearch.bruteForceTopK(queries, emb, "embedding", "vec_id", 10)
      val result = AnnSearch.binaryTopK(queries, emb, "embedding", "vec_id", 10,
        rerank = 40)
      AnnSearch.evalRanking(result, truth, 10)
        .select(col("query_id"), col("n_hits"),
          sround(col("recall"), 6).as("recall"), sround(col("mrr"), 6).as("mrr"))
    }),

    // exact interpolated quantiles (percentile == quantile_cont: index
    // p*(n-1), linear between sorted neighbors); rounded to 6 to absorb
    // engine float-summation differences in the interpolation arithmetic
    "profile_quantiles" -> ((s, dir) =>
      Profile.numericQuantiles(t(s, dir, "documents"),
          Seq("n_chars", "doc_id"), Seq(0.25, 0.5, 0.9, 0.99))
        .select(col("col_name"), sround(col("p"), 6).as("p"),
          sround(col("q"), 6).as("q"))),

    // ---- skew census: top-5 hottest values per column with counts —
    // the pre-join salting/broadcast decision input. Ties cut by value
    // ascending so top-k is deterministic in any engine.
    "profile_heavy_hitters" -> ((s, dir) =>
      Profile.heavyHitters(t(s, dir, "documents"),
        Seq("lang", "source", "n_chars"), k = 5)),

    // ---- mergeable HLL distinct sketch: register build is one map-side
    // combined hash-agg (≤ 4096 rows per group, shippable per shard);
    // the merge-then-estimate == estimate-whole contract is spec-pinned.
    // Every step integer (md5 bucket + leading-zero rank from bin()),
    // scaled harmonic sum an exact BIGINT — replayed verbatim by DuckDB
    "profile_hll_distinct" -> ((s, dir) =>
      Profile.hllDistinct(graft.util.EventTs.loadEvents(s, dir), "user_id",
        Seq("event_type"), p = 12)),

    // ---- KMV bottom-k sketch pair overlap: per-group sketches are k
    // 52-bit keys through the BoundedTopK heap; pairwise |A|,|B|,J,|A∪B|,
    // |A∩B| estimated from the sketches alone (no raw-value join)
    "profile_kmv_overlap" -> ((s, dir) =>
      Profile.kmvPairStats(
        Profile.kmvSketch(graft.util.EventTs.loadEvents(s, dir), "user_id",
          Seq("event_type"), k = 128),
        "event_type", k = 128)),

    // ---- PSI distribution drift between the two id-parity halves:
    // categorical over lang, numeric over HDR length buckets; add-one
    // smoothing over the union key set, contributions on the 1e-9 grid
    "profile_psi_lang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Profile.psiCategorical(docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "lang")
        .select(col("lang"), col("n_old"), col("n_new"),
          sround(col("psi_contrib"), 9).as("psi_contrib"))
    }),
    "profile_psi_nchars" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Profile.psiHdr(docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "n_chars", subBits = 5)
        .select(col("bucket"), col("n_old"), col("n_new"),
          sround(col("psi_contrib"), 9).as("psi_contrib"))
    }),

    // ---- MAD robust outliers: per-language doc-length flags off the
    // median/MAD pair (two tiny percentile aggregates, null-safe group
    // joins) — the flagging twin of curate_winsorize
    "profile_mad_outliers" -> ((s, dir) =>
      Profile.madOutliers(t(s, dir, "documents"), "lang", "n_chars", k = 3.0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          sround(col("med"), 6).as("med"), sround(col("mad"), 6).as("mad"),
          col("is_outlier"))),

    // ---- HDR-histogram quantile sketch: p50/p90/p99 of doc length per
    // language from a mergeable power-of-two/linear-sub-bucket histogram
    // — pure integer bucketing (bit-length + shifts), window over the
    // HISTOGRAM, never a corpus sort
    "profile_hdr_quantiles" -> ((s, dir) =>
      Profile.hdrQuantiles(
        Profile.hdrBuckets(t(s, dir, "documents"), "n_chars", Seq("lang"),
          subBits = 5),
        Seq("lang"), Seq(500000L, 900000L, 990000L))),

    // ---- count-min sketch: token-frequency estimates for a query set
    // from d x w counters of the whole corpus's token stream — the
    // mergeable frequency sketch (sum-merge spec-pinned exact); every
    // arithmetic step integer, replayed verbatim
    "profile_cms_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def toks(src: org.apache.spark.sql.DataFrame) = src
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .where(length(col("token")) > 0)
      Profile.cmsLookup(
        Profile.cmsCounters(toks(docs), "token", d = 4, w = 2048),
        toks(docs.where(col("doc_id") % 50 === 0)), "token", d = 4, w = 2048)
    }),

    // ---- KEYLESS interval join: error events open 60 s global incident
    // windows; every click inside any window attaches to it. Vanilla
    // Spark plans this as BroadcastNestedLoopJoin (no equi-key); the
    // binned RangeJoin makes it an ordinary shuffle join on the time tile
    // (spec asserts no nested loop).
    "events_range_join" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"),
        expr("ts div 1000").as("tu"), col("event_type"))
      val incidents = ev.where(col("event_type") === "error")
        .select(col("event_id").as("incident_id"), col("tu").as("w_start"),
          (col("tu") + 60000000L).as("w_end"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("tu"))
      RangeJoin.pointInInterval(clicks, incidents, Seq.empty, "tu",
          "w_start", "w_end", Seq("incident_id", "w_start"),
          binWidth = 60000000L)
        .select(col("click_id"), col("incident_id"),
          (col("tu") - col("w_start")).as("delay_us"))
    }),

    // ---- keyed interval-overlap join at two time scales: each user's
    // whole view-activity span (one multi-day interval) vs their per-day
    // click spans — which click-days fall inside the viewing lifetime.
    // Same tiling plan, both sides replicated into day bins, pair kept in
    // the first shared bin only (no dedup shuffle).
    "events_interval_overlap" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("ts div 1000").as("tu"), col("event_type"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(col("tu")).as("v0"), max(col("tu")).as("v1"))
      val c = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), expr("tu div 86400000000").as("cd"))
        .agg(min(col("tu")).as("c0"), max(col("tu")).as("c1"))
      RangeJoin.intervalOverlap(v, c, Seq("user_id"), "v0", "v1", "c0", "c1",
          Seq("cd"), binWidth = 86400000000L)
        .select(col("user_id"), col("cd"))
    }),

    // ---- benchmark decontamination: a 10% md5-bucket slice of documents
    // plays the held-out eval set; flag the remaining 90% on any shared
    // word 5-gram. Broadcast semi-join — no corpus shuffle on the gram.
    "text_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSide = Curation.md5Bucket(col("doc_id")) < 100000L
      Decontaminate.contaminated(
        docs.where(!evalSide), docs.where(evalSide), "text", "doc_id", 5)
        .select(col("doc_id"), col("n_hits"))
    }),
    // span-level audit of the same split: which eval doc leaked into
    // which corpus doc, how many shared 5-grams, earliest token offset
    "text_contamination_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSide = Curation.md5Bucket(col("doc_id")) < 100000L
      Decontaminate.contaminationSpans(
        docs.where(!evalSide), docs.where(evalSide), "text", "doc_id", 5)
        .select(col("doc_id"), col("eval_id"), col("n_matched"), col("first_pos"))
    }),
    // bloom-prefiltered arm: identical semantics (the bloom only prunes,
    // the exact semi-join decides), so it shares the exact oracle — run
    // at a deliberately coarse fpp so false positives genuinely flow
    // through the confirm join at this scale factor
    "text_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSide = Curation.md5Bucket(col("doc_id")) < 100000L
      Decontaminate.contaminatedBloom(
        docs.where(!evalSide), docs.where(evalSide), "text", "doc_id", 5,
        fpp = 0.1)
        .select(col("doc_id"), col("n_hits"))
    }),

    // ---- PII redaction: the corpus has no contact strings, so each doc
    // gets a deterministic doc_id-derived contact blurb appended (same
    // concat in the oracle SQL) — the patterns then genuinely fire.
    "text_redact" -> ((s, dir) => {
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        expr("""concat(text, ' contact user', doc_id, '@example.com or http://site', doc_id,
                '.example/a?b=1 from 10.0.', doc_id % 256, '.7')""").as("text"))
      TextAnalysis.redactionCounts(withPii, "text")
        .select(col("doc_id"),
          org.apache.spark.sql.functions.md5(encode(TextAnalysis.redact(col("text")), "UTF-8"))
            .as("redacted_md5"),
          col("n_urls").cast("long").as("n_urls"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_ips").cast("long").as("n_ips"))
    }),

    // ---- per-(lang, source) corpus profile with EXACT percentiles
    "corpus_stats" -> ((s, dir) =>
      Curation.corpusStats(t(s, dir, "documents"), Seq("lang", "source"), "n_chars")),

    // ---- hierarchical rollup: leaf + per-lang subtotal + grand total in
    // ONE Expand + hash-agg pass (level = grouping_id bitmask)
    "corpus_rollup" -> ((s, dir) =>
      graft.pipeline.Olap.rollupProfile(t(s, dir, "documents"),
        Seq("lang", "source"), "n_chars")),
    // full cube (every subset of the group columns) in the same
    // one-Expand-one-shuffle plan
    "corpus_cube" -> ((s, dir) =>
      graft.pipeline.Olap.cubeProfile(t(s, dir, "documents"),
        Seq("lang", "source"), "n_chars")),

    // ---- incremental (nightly-ingest) dedup: a 10% md5-bucket slice
    // plays today's batch; the corpus is the other 90% PLUS re-ingested
    // copies of half the batch under offset ids (the synthetic corpus has
    // no duplicate texts of its own, so this is what makes the exact arm
    // fire in the gate, not just in specs). Hot-shingle gate disabled
    // like every oracled shingle entry; production callers keep it.
    // nightly MinHash against a STORED signature state (no corpus text
    // rescan). 24x1 bands: candidate recall ~1 at jaccard >= 0.5 (same
    // rationale as dedup_minhash_lsh), so the exact cross-side jaccard is
    // the oracle; cap disabled like every oracled LSH entry
    "dedup_minhash_inc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val state = Dedup.minhashState(corpus, "text", "doc_id",
        shingleLen = 3, k = 24)
      Dedup.minhashIncrementalPairs(batch, state, "text", "doc_id",
          shingleLen = 3, numBands = 24, rowsPerBand = 1, threshold = 0.5,
          maxBucketPairs = Long.MaxValue)
        .select(col("id_a"), col("id_b"), sround(col("jaccard"), 6).as("jaccard"))
    }),
    // the same nightly flags through the STORED minhash state
    // (saveMinhashState: band-bucket-partitioned signatures + id-bucketed
    // shingle sets, both reads partition-pruned to the batch's touched
    // buckets) — output identical to the in-memory form, one oracle
    "dedup_minhash_inc_stored" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val store = "/tmp/graft_sql_minhash_store_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.saveMinhashState(corpus, "text", "doc_id", store, shingleLen = 3,
        numBands = 24, rowsPerBand = 1, nBuckets = 16)
      Dedup.minhashPairsAgainstStored(batch, "text", "doc_id",
          Dedup.loadMinhashState(s, store), threshold = 0.5,
          maxBucketPairs = Long.MaxValue)
        .select(col("id_a"), col("id_b"), sround(col("jaccard"), 6).as("jaccard"))
    }),
    // the stored form's SQL front door (plans/MinhashPairsStoredTable):
    // a pure-SQL client flags a batch against the saved store. The save
    // re-runs unconditionally (generation-flipped) so a stale /tmp store
    // from an earlier corpus version can never shadow this run's data.
    "dedup_minhash_stored_sql" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val store = "/tmp/graft_sql_minhash_store_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.saveMinhashState(corpus, "text", "doc_id", store, shingleLen = 3,
        numBands = 24, rowsPerBand = 1, nBuckets = 16)
      batch.createOrReplaceTempView("mps_sql_batch")
      s.sql(
        s"""SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM minhash_pairs_stored('mps_sql_batch', 'text', 'doc_id',
                                      '$store', 'threshold', 0.5,
                                      'max_bucket_pairs', ${Long.MaxValue}L)""")
    }),
    // ---- file-format connectors (graft.sources): the pipeline's ingest
    // and export ends. Round-trip through REAL files on disk — the
    // oracle sees only the decoded content, so these pin end-to-end
    // byte fidelity of the connectors against the raw table.
    "source_tfrecord_roundtrip" -> ((s, dir) => {
      val out = "/tmp/graft_src_tfrecord_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      t(s, dir, "documents")
        .select(encode(concat(lpad(col("doc_id").cast("string"), 20, "0"),
          col("text")), "UTF-8").as("record"))
        .write.format("tfrecord").mode("overwrite").save(out)
      s.read.format("tfrecord").load(out)
        .select(decode(col("record"), "UTF-8").as("s"))
        .select(substring(col("s"), 1, 20).cast("long").as("doc_id"),
          expr("substr(s, 21)").as("text"))
    }),
    "source_warc_roundtrip" -> ((s, dir) => warcRoundtrip(s, dir, gz = false)),
    "source_warc_gz" -> ((s, dir) => warcRoundtrip(s, dir, gz = true)),
    // the HTTP layer inside response records: documents re-framed as
    // real HTTP/1.1 messages (status/reason/Content-Type varying by
    // doc_id, every third document chunked-transfer-coded), written as
    // WARC response records, split back by the reader's http_* columns.
    // The oracle rebuilds the same raw head in SQL and re-parses status
    // and content-type out of it with string ops; body equality pins the
    // chunk decoder (concatenated chunks must restore the exact text).
    "source_warc_http" -> ((s, dir) => {
      val warcDir = httpWarcFixture(s, dir, "http", col("text"))
      // no null filter: a record that failed the HTTP split surfaces as
      // a null-vs-value mismatch against the oracle instead of hiding
      s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          col("http_status"),
          col("http_content_type"),
          decode(col("http_body"), "UTF-8").as("body"))
    }),
    // the full header map: element_at over http_headers recovers the
    // doc-derived X-Doc-Parity value, the ", "-combined repeated
    // Content-Language field, and the HTTP Content-Type — the oracle
    // recomputes all three from doc_id
    "source_warc_http_headers" -> ((s, dir) => {
      val warcDir = httpWarcFixture(s, dir, "http", col("text"))
      s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          expr("element_at(http_headers, 'x-doc-parity')").as("parity"),
          expr("element_at(http_headers, 'content-language')").as("lang"),
          expr("element_at(http_headers, 'content-type')").as("ctype"))
    }),
    // charset-aware text decode over a MIXED-CHARSET crawl fixture
    // ([[charsetWarcFixture]]): six arms per doc_id%6 — declared utf-8,
    // declared iso-8859-1 with cp1252 bytes, UTF-8 BOM, <meta
    // charset=windows-1252>, UTF-16LE BOM, unknown-charset fallback. The
    // oracle rebuilds the expected text from doc_id; each arm's marker
    // only decodes correctly under the RIGHT charset
    "source_warc_http_text" -> ((s, dir) => {
      val warcDir = charsetWarcFixture(s, dir)
      s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          graft.sources.HttpText.decode(
            col("http_body"), col("http_content_type")).as("http_text"))
    }),
    // the same decode through the SQL front door (http_text registered by
    // GraftExtensions) — pure-SQL clients share the oracle verbatim
    "source_warc_http_text_sql" -> ((s, dir) => {
      val warcDir = charsetWarcFixture(s, dir)
      s.read.format("warc").load(warcDir)
        .createOrReplaceTempView("warc_charset_sql")
      s.sql("""SELECT CAST(substr(record_id, 9) AS BIGINT) AS doc_id,
        http_text(http_body, http_content_type) AS http_text
        FROM warc_charset_sql""")
    }),
    // WET-style text extraction: the connector-to-TextAnalysis seam as
    // one lazy plan — warc response records (every third one chunked) ->
    // http_body -> markup strip -> normalize (hashed) -> language id ->
    // Gopher quality flags. The oracle rebuilds the page wrap in SQL and
    // replays each stage with the families' existing SQL mirrors (the
    // langId arm is GENERATED from the same marker table via
    // langIdOracleSqlOver, so it cannot drift).
    "warc_to_text" -> ((s, dir) => {
      val page = concat(lit("<p class=\"x\">"), col("text"),
        lit("</p> &amp;gt; <b>bold</b> &lt;tag&gt; a&#39;b &quot;q&quot;"))
      val warcDir = httpWarcFixture(s, dir, "wet", page)
      // ONE pass, no shuffle: warc scan -> strip -> (langId, normalize,
      // gopher flags) as a single row-wise projection — the plan a 100 TB
      // extraction job needs (scan speed, no self-join by id)
      val enriched = s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          // charset-aware decode (VERDICT r16 item 1): the fixture's pages
          // are UTF-8 (declared for even docs, default for odd), so the
          // oracle is unchanged — but a real crawl's legacy-charset pages
          // now decode by their declared charset instead of mojibaking
          TextAnalysis.stripMarkup(graft.sources.HttpText.decode(
            col("http_body"), col("http_content_type"))).as("clean"))
        .select(col("doc_id"), col("clean"),
          TextAnalysis.langId(col("clean")).as("lang_pred"),
          org.apache.spark.sql.functions.md5(
            encode(TextAnalysis.normalizeText(col("clean")), "UTF-8")).as("norm_md5"))
      TextAnalysis.gopherFlags(enriched, "clean", "doc_id",
          keep = Seq("lang_pred", "norm_md5"))
        .select(col("doc_id"), col("lang_pred"), col("norm_md5"),
          col("n_words"), col("pass"))
    }),
    // outlink extraction (VERDICT r16 stretch 7): href/src values from
    // the decoded HTTP body, absolute http(s) only, normalized (scheme/
    // authority lowercase, default port strip, fragment drop) and
    // per-doc deduped — scan -> project -> explode, zero exchanges. The
    // fixture's links exercise every normalization arm: uppercase
    // scheme+host, :80 and :443 strips, a KEPT non-default port, a
    // fragment whose drop makes two raw links one, and skipped
    // relative/mailto links
    "warc_links" -> ((s, dir) => {
      val warcDir = httpWarcFixture(s, dir, "links", linksPage)
      s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          explode(TextAnalysis.outlinks(graft.sources.HttpText.decode(
            col("http_body"), col("http_content_type")))).as("link"))
    }),
    // the RESOLVED variant: real pages carry mostly relative links, so
    // every quoted href/src resolves against the page's own target_uri
    // (RFC 3986 §5, spec-pinned against the RFC's own §5.4 vectors in
    // UrlResolveSpec) before the http(s) filter + normalization. The
    // fixture's arms cover sibling/parent/rooted/query-only/protocol-
    // relative references and dot-segment collapse; the oracle
    // reconstructs the expected resolutions from doc_id (the resolution
    // algorithm itself is not SQL-replayable — the RFC vectors pin it)
    "warc_links_resolved" -> ((s, dir) => {
      val base = concat(lit("https://example.com/a/"), col("doc_id"),
        lit("/page.html"))
      val warcDir = httpWarcFixture(s, dir, "rlinks", resolvedLinksPage, base)
      s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          explode(TextAnalysis.outlinksResolved(
            graft.sources.HttpText.decode(
              col("http_body"), col("http_content_type")),
            col("target_uri"))).as("link"))
    }),
    // the URL-graph rollup one step up: links per target domain — the
    // domain-frequency signal a crawl-curation pipeline ranks on
    "warc_link_domains" -> ((s, dir) => {
      val warcDir = httpWarcFixture(s, dir, "links", linksPage)
      s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          explode(TextAnalysis.outlinks(graft.sources.HttpText.decode(
            col("http_body"), col("http_content_type")))).as("link"))
        .groupBy(org.apache.spark.sql.functions.regexp_extract(
          col("link"), "^https?://([^/:?]+)", 1).as("domain"))
        .agg(count(lit(1)).as("n_links"),
          org.apache.spark.sql.functions.countDistinct(col("doc_id")).as("n_docs"))
    }),
    // frontier canonicalization: extraction + normalization + tracking-
    // param strip + post-strip dedup — the URL-dedup key pipeline. The
    // fixture's arms: params surviving around stripped ones (order
    // kept), all-params-stripped (the '?' goes too), an untouched
    // query, and two raw links that UNIFY only after the strip. The
    // oracle replays the identical chain with the SQL mirrors
    "warc_frontier" -> ((s, dir) => {
      val warcDir = httpWarcFixture(s, dir, "frontier", frontierPage)
      s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          explode(org.apache.spark.sql.functions.array_distinct(
            transform(
              TextAnalysis.outlinks(graft.sources.HttpText.decode(
                col("http_body"), col("http_content_type"))),
              u => TextAnalysis.stripTrackingParams(u)))).as("link"))
    }),
    // per-domain frontier politeness schedule (VERDICT r17 stretch 8):
    // the composed query a crawl scheduler runs — outlink extraction ->
    // domain rollup (distinct URL counts) -> join each domain's
    // robots.txt crawl-delay (group-scoped: the cdn domain's selected
    // group declares none -> the 1s default, NOT the * group's 9) ->
    // estimated drain seconds. Pure composition of existing operators;
    // the oracle replays the extraction chain and reconstructs the
    // domain-derived delays
    "curate_frontier_schedule" -> ((s, dir) => {
      val warcDir = httpWarcFixture(s, dir, "links", linksPage)
      val links = s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          explode(TextAnalysis.outlinks(graft.sources.HttpText.decode(
            col("http_body"), col("http_content_type")))).as("link"))
      val byDomain = links.groupBy(
          org.apache.spark.sql.functions.regexp_extract(col("link"),
            "^https?://([^/:?]+)", 1).as("domain"))
        .agg(org.apache.spark.sql.functions.countDistinct(col("link"))
          .as("n_urls"))
      val robots = byDomain.select(col("domain"),
        when(col("domain").startsWith("cdn"),
          lit("User-agent: graftbot\nDisallow: /private/\n\n" +
            "User-agent: *\nCrawl-delay: 9"))
          .otherwise(concat(lit("User-agent: graftbot\nCrawl-delay: "),
            (length(col("domain")) % 7).cast("string"))).as("robots_txt"))
      val delay = coalesce(
        graft.pipeline.Robots.crawlDelay(col("robots_txt"), lit("GraftBot")),
        lit(1.0))
      byDomain.join(robots, Seq("domain"))
        .select(col("domain"), col("n_urls"), delay.as("delay_sec"),
          (col("n_urls").cast("double") * delay).as("est_sec"))
    }),
    // sitemap parsing (sitemaps.org): <urlset>/<sitemapindex> entries ->
    // (loc, lastmod) rows — the hop after Robots.sitemaps in the robots
    // -> sitemaps -> frontier discovery chain. The fixture's arms: a
    // urlset with an entity-escaped URL + lastmod, a lastmod-less entry,
    // a non-http loc the filter drops, a sitemapindex child with
    // whitespace-padded loc, and a newline-formatted urlset. The oracle
    // REPLAYS the same block/loc/lastmod regex chain and entity decode
    "curate_sitemaps" -> ((s, dir) => {
      val d = col("doc_id").cast("string")
      val arm0 = concat(
        lit("<?xml version=\"1.0\"?><urlset " +
          "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<url><loc>https://ex.com/"), d,
        lit("?a=1&amp;b=2</loc><lastmod>2026-01-0"),
        expr("CAST(doc_id % 9 + 1 AS STRING)"),
        lit("</lastmod></url><url><loc>https://ex.com/plain/"), d,
        lit("</loc></url><url><loc>ftp://ex.com/skip</loc></url></urlset>"))
      val arm1 = concat(
        lit("<sitemapindex><sitemap><loc>\n https://ex.com/maps/"), d,
        lit(".xml \n</loc><lastmod>2025-12-31</lastmod></sitemap>" +
          "</sitemapindex>"))
      val arm2 = concat(lit("<urlset><url>\n<loc>\nhttps://ex.com/ws/"), d,
        lit("\n</loc>\n</url></urlset>"))
      t(s, dir, "documents").select(col("doc_id"),
          when(expr("doc_id % 3 = 0"), arm0)
            .when(expr("doc_id % 3 = 1"), arm1)
            .otherwise(arm2).as("xml"))
        .select(col("doc_id"),
          explode(TextAnalysis.sitemapEntries(col("xml"))).as("e"))
        .select(col("doc_id"), col("e.loc").as("loc"),
          col("e.lastmod").as("lastmod"))
    }),
    // rel=canonical extraction: the page-identity signal URL-level dedup
    // collapses on. Arms: absolute canonical (uppercase host + fragment
    // the normalization must fix), RELATIVE canonical (resolved against
    // the page URI), and no-canonical with two decoys (a stylesheet link
    // and 'rel=canonical' inside an href VALUE — the attribute walk must
    // ignore it) falling back to self. Reconstruction oracle (the walk
    // is pinned by HtmlAttrSpec)
    "warc_canonical" -> ((s, dir) => {
      val page = expr("""CASE CAST(doc_id % 3 AS INT)
        WHEN 0 THEN concat('<html><head><link rel="canonical" href="HTTPS://Example.COM/c', doc_id, '#frag"></head><body>x</body></html>')
        WHEN 1 THEN concat('<head><link rel=stylesheet href=/s.css><link rel=canonical href=/canon/', doc_id, '></head>')
        ELSE '<head><link rel="stylesheet" href="/s.css"><link href="/x?rel=canonical"></head>'
        END""")
      val warcDir = httpWarcFixture(s, dir, "canon", page)
      s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          coalesce(
            TextAnalysis.canonicalUrl(graft.sources.HttpText.decode(
              col("http_body"), col("http_content_type")), col("target_uri")),
            TextAnalysis.normalizeUrl(col("target_uri"))).as("canonical"))
    }),
    // redirect following: 3xx responses' Location headers (exposed by
    // the warc reader's http_headers map) resolve against the request
    // URI and normalize — the frontier must chase these or lose every
    // moved page. Relative and absolute Location arms; reconstruction
    // oracle (resolution pinned by the RFC 3986 vectors)
    "warc_redirects" -> ((s, dir) => {
      val loc = expr("CASE WHEN doc_id % 2 = 0 THEN concat('/moved/', doc_id) " +
        "ELSE concat('https://other.example.com/m', doc_id) END")
      val warcDir = httpWarcFixture(s, dir, "redir", col("text"), null,
        when(expr("doc_id % 3 = 1"),
          concat(lit("Location: "), loc, lit("\r\n"))).otherwise(lit("")))
      s.read.format("warc").load(warcDir)
        .where(col("http_status").between(300, 399))
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          TextAnalysis.normalizeUrl(graft.pipeline.UrlResolve.resolve(
            col("target_uri"),
            expr("element_at(http_headers, 'location')"))).as("redirect_to"))
    }),
    // nofollow-aware outlink extraction: frontier/PageRank edges must
    // respect the per-anchor rel=nofollow opt-out. The fixture's arms:
    // a plain followed link, rel="nofollow", unquoted rel=nofollow,
    // nofollow inside a rel token LIST, an unquoted href on a followed
    // anchor, and an <img> (outside follow scope by design). The oracle
    // REPLAYS the same anchor-filter + href + normalization chain
    "warc_links_follow" -> ((s, dir) => {
      val warcDir = httpWarcFixture(s, dir, "flinks", followLinksPage)
      s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          explode(TextAnalysis.outlinksFollow(graft.sources.HttpText.decode(
            col("http_body"), col("http_content_type")))).as("link"))
    }),
    // page-level robots directives (<meta name=robots>): the HTML side
    // of the compliance gate, attribute values read with the html_attr
    // WALK. Arms: noindex+nofollow, nofollow-only single-quoted,
    // NOINDEX uppercase-unquoted-name, a decoy QUARTET that must NOT
    // gate (description meta with 'noindex' in its content,
    // name="robotsx", 'name=robots noindex' inside another attribute's
    // quoted VALUE, and a robots meta whose only 'none' is inside the
    // max-image-preview:none directive value — token compare, never
    // substring), and content="none" (= noindex,nofollow by
    // convention). Reconstruction oracle; the walk is pinned by
    // HtmlAttrSpec's vectors
    "curate_robots_meta" -> ((s, dir) => {
      val page = expr("""CASE CAST(doc_id % 5 AS INT)
        WHEN 0 THEN '<html><head><meta name="robots" content="noindex, nofollow"></head><body>x</body></html>'
        WHEN 1 THEN concat('<meta charset=utf-8><meta name=', chr(39), 'robots', chr(39), ' content=', chr(39), 'nofollow', chr(39), '>')
        WHEN 2 THEN '<META NAME=ROBOTS CONTENT="NOINDEX">'
        WHEN 3 THEN '<meta name="description" content="noindex decoy"><meta name="robotsx" content="noindex"><meta content="see name=robots noindex docs"><meta name="robots" content="max-image-preview:none, max-snippet:20">'
        ELSE '<meta name="robots" content="none">'
        END""")
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.robotsMeta(page).as("m"))
        .select(col("doc_id"), col("m.noindex").as("noindex"),
          col("m.nofollow").as("nofollow"))
    }),
    // frontier loop closure: newly discovered URLs = the canonicalized
    // frontier ANTI-joined against the already-visited set (broadcast —
    // in production the visited side is the crawl log, bucketed by URL).
    // The fixture's visited set is exactly the post-strip 'track' links,
    // so every doc contributes its other two canonical links
    "curate_frontier_new" -> ((s, dir) => {
      val warcDir = httpWarcFixture(s, dir, "frontier", frontierPage)
      val frontier = s.read.format("warc").load(warcDir)
        .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
          explode(org.apache.spark.sql.functions.array_distinct(
            transform(
              TextAnalysis.outlinks(graft.sources.HttpText.decode(
                col("http_body"), col("http_content_type"))),
              u => TextAnalysis.stripTrackingParams(u)))).as("link"))
      val visited = t(s, dir, "documents").select(
        concat(lit("https://example.com/track"), col("doc_id"),
          lit(".html?id="), col("doc_id")).as("link"))
      frontier.join(org.apache.spark.sql.functions.broadcast(visited),
        Seq("link"), "left_anti")
        .select(col("doc_id"), col("link"))
    }),
    // robots.txt compliance gate (RFC 9309): group selection by longest
    // product-token prefix with * fallback, longest-pattern rule
    // precedence with allow-on-tie, */$ patterns — the filter a
    // responsible crawl corpus applies before keeping a page. The
    // matching algorithm is pinned by RobotsSpec's RFC vectors; this
    // oracle pins the PLUMBING over doc-derived rules and path arms
    // (expected verdicts reconstructed from doc_id)
    "curate_robots" -> ((s, dir) => {
      val txt = concat(
        lit("Sitemap: https://example.com/sm"), col("doc_id"),
        lit(".xml\nUser-agent: graftbot\nCrawl-delay: 2.5\nDisallow: /private"),
        col("doc_id"),
        lit("/\nAllow: /private"), col("doc_id"),
        lit("/ok\nDisallow: *.bin$\n\nUser-agent: *\nDisallow: /\n"))
      val path = expr("CASE CAST(doc_id % 4 AS INT) " +
        "WHEN 0 THEN concat('/private', doc_id, '/secret.html') " +
        "WHEN 1 THEN concat('/private', doc_id, '/ok/page') " +
        "WHEN 2 THEN concat('/data', doc_id, '.bin') " +
        "ELSE concat('/public/', doc_id) END")
      t(s, dir, "documents").select(col("doc_id"),
        graft.pipeline.Robots.allowed(txt, lit("GraftBot"), path)
          .as("allowed"),
        // an unlisted crawler falls to the * group's Disallow: /
        graft.pipeline.Robots.allowed(txt, lit("strangerbot"), path)
          .as("allowed_other"),
        // group-scoped crawl-delay; the * group declares none -> -1
        // sentinel (the oracle compare treats NaN != NaN, nulls avoided)
        coalesce(graft.pipeline.Robots.crawlDelay(txt, lit("GraftBot")),
          lit(-1.0)).as("delay"),
        coalesce(graft.pipeline.Robots.crawlDelay(txt, lit("strangerbot")),
          lit(-1.0)).as("delay_other"),
        // file-wide sitemap list (not group-scoped per spec)
        org.apache.spark.sql.functions.element_at(
          graft.pipeline.Robots.sitemaps(txt), 1).as("sitemap"))
    }),
    // the domain-granular robots gate (VERDICT r17 item 1): the
    // production shape — many paths per domain, each domain's robots.txt
    // parsed ONCE (robots_rules on the deduplicated domain side of a
    // broadcast join) and the pre-parsed rules walked per page. The
    // fixture spreads the documents over 5 domains (one serving no
    // robots.txt -> allow-all) with the same four path arms as
    // curate_robots; the matching algorithm is pinned by RobotsSpec's
    // RFC vectors + the gate==per-row-expression differential spec, so
    // this oracle pins the PLUMBING (dedup, broadcast join, null-rules
    // allow-all, verdict per (domain, path) arm)
    "curate_robots_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val domain = concat(lit("d"), expr("CAST(doc_id % 5 AS STRING)"))
      val pages = docs.select(col("doc_id"), domain.as("domain"),
        expr("CASE CAST(doc_id % 4 AS INT) " +
          "WHEN 0 THEN concat('/private/', doc_id, '/secret.html') " +
          "WHEN 1 THEN concat('/private/ok/', doc_id) " +
          "WHEN 2 THEN concat('/data', doc_id, '.bin') " +
          "ELSE concat('/public/', doc_id) END").as("path"))
      // many fetches of the same domain's robots.txt -> the gate dedups;
      // domain d4 serves none (absent from the frame entirely)
      val robots = docs.where(expr("doc_id % 5 < 4")).select(
        domain.as("domain"),
        lit("User-agent: graftbot\nDisallow: /private/\n" +
          "Allow: /private/ok/\nDisallow: *.bin$\n\n" +
          "User-agent: *\nDisallow: /").as("robots_txt"))
      Curation.robotsGate(pages, robots, "GraftBot")
        .select(col("doc_id"), col("domain"), col("allowed"))
    }),
    // the same gate composed in PURE SQL from the registered halves
    // (robots_rules on the grouped domain side, robots_rules_allowed on
    // the page stream) — a Thrift/Connect client needs no driver code;
    // shares curate_robots_gate's oracle verbatim
    "curate_robots_gate_sql" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val domain = concat(lit("d"), expr("CAST(doc_id % 5 AS STRING)"))
      docs.select(col("doc_id"), domain.as("domain"),
          expr("CASE CAST(doc_id % 4 AS INT) " +
            "WHEN 0 THEN concat('/private/', doc_id, '/secret.html') " +
            "WHEN 1 THEN concat('/private/ok/', doc_id) " +
            "WHEN 2 THEN concat('/data', doc_id, '.bin') " +
            "ELSE concat('/public/', doc_id) END").as("path"))
        .createOrReplaceTempView("robots_gate_pages_sql")
      docs.where(expr("doc_id % 5 < 4")).select(domain.as("domain"),
          lit("User-agent: graftbot\nDisallow: /private/\n" +
            "Allow: /private/ok/\nDisallow: *.bin$\n\n" +
            "User-agent: *\nDisallow: /").as("robots_txt"))
        .createOrReplaceTempView("robots_gate_robots_sql")
      s.sql("""SELECT /*+ BROADCAST(r) */ p.doc_id, p.domain,
          robots_rules_allowed(r.rules, p.path) AS allowed
        FROM robots_gate_pages_sql p
        LEFT JOIN (SELECT domain,
            robots_rules(max(robots_txt), 'GraftBot') AS rules
          FROM robots_gate_robots_sql GROUP BY domain) r
        USING (domain)""")
    }),
    // PageRank-ish authority weighting over the URL graph (the step
    // after outlink extraction): simplified PageRank, 8 fixed
    // iterations, damping 85/100, EXACT fixed-point arithmetic so the
    // oracle replays the identical loop as 8 unrolled CTEs. The edge
    // list is a doc-derived 211-node digraph (the operator is generic
    // over any (src, dst) frame — warc_link_domains feeds it in
    // production)
    "graph_pagerank" -> ((s, dir) =>
      graft.pipeline.WebGraph.pageRank(
        t(s, dir, "documents").select(
          expr("doc_id % 211").as("src"),
          expr("(doc_id * 31 + 7) % 211").as("dst")),
        "src", "dst", iterations = 8)),
    // the same walk through the pagerank TVF — pure-SQL clients share
    // the generated oracle verbatim
    "graph_pagerank_sql" -> ((s, dir) => {
      t(s, dir, "documents").select(
          expr("doc_id % 211").as("src"),
          expr("(doc_id * 31 + 7) % 211").as("dst"))
        .createOrReplaceTempView("pagerank_edges_sql")
      s.sql(
        "SELECT * FROM pagerank('pagerank_edges_sql','src','dst','iterations',8)")
    }),
    // the string-keyed front door: the production link graph is keyed
    // by domain STRINGS — pageRankKeys builds the dense-id dictionary
    // (sorted distinct keys + zipWithIndex), walks, and maps back. The
    // oracle generates the same dictionary + walk; rank values are
    // id-assignment-invariant (PageRank is graph-isomorphic), so the
    // mapping only has to be a bijection on each engine
    "graph_pagerank_keys" -> ((s, dir) =>
      graft.pipeline.WebGraph.pageRankKeys(
        t(s, dir, "documents").select(
          concat(lit("d"), expr("CAST(doc_id % 89 AS STRING)"),
            lit(".example")).as("src"),
          concat(lit("d"), expr("CAST((doc_id * 31 + 7) % 89 AS STRING)"),
            lit(".example")).as("dst")),
        "src", "dst", iterations = 6)),
    // the conserved-mass arm (VERDICT r17 stretch 7) over a graph that's
    // ~half dangling (dst residues 97..210 never emit), through the
    // TVF's dangling option — each iteration's dangling sum is shared
    // back on the same fixed-point grid, and the generated oracle
    // unrolls the same d1..dK aggregates beside the rank CTEs
    "graph_pagerank_conserved" -> ((s, dir) => {
      t(s, dir, "documents").select(
          expr("doc_id % 97").as("src"),
          expr("(doc_id * 13 + 5) % 211").as("dst"))
        .createOrReplaceTempView("pagerank_conserved_edges")
      s.sql("SELECT * FROM pagerank('pagerank_conserved_edges'," +
        "'src','dst','iterations',6,'dangling','redistribute')")
    }),
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      Dedup.incrementalDedup(batch, corpus,
        "text", "doc_id", n = 3, threshold = 0.5, maxShinglePairs = Long.MaxValue)
        .select(col("doc_id"), col("dup_kind"), col("match_id"),
          sround(col("jaccard"), 6).as("jaccard"))
    }),

    // ---- the cross-side pair generator oracled DIRECTLY (the primitive
    // under dedup_incremental's near arm, previously exercised only
    // through that composition): same batch/corpus split and seeded
    // cross-side copies, full (id_a, id_b, jaccard) pair set. Gate
    // disabled like every oracled shingle entry; the gate's hot-on-one-
    // side vs hot-on-both behavior is spec-pinned (CrossPairsSpec).
    "dedup_cross_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      Dedup.ngramJaccardCrossPairs(batch, corpus, "text", "doc_id", 3, 0.5,
        maxShinglePairs = Long.MaxValue)
        .select(col("id_a"), col("id_b"), sround(col("jaccard"), 6).as("jaccard"))
    }),

    // ---- winnow-overlap pairs: lifted-passage detection (docs sharing
    // >= 50 winnow fingerprints). MD5 fingerprint hashing + no cap, like
    // every oracled blocking entry; production keeps xxhash + the gate.
    "dedup_winnow" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(t(s, dir, "documents"), "text", "doc_id",
        k = 5, window = 4, minShared = 50L,
        maxFingerprintPairs = Long.MaxValue, useMd5 = true)),
    // the same lifted-passage pairs through the dedup_pairs TVF's winnow
    // method — pure-SQL clients get the identical plan, one oracle
    "dedup_winnow_sql" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("dwp_sql_docs")
      s.sql(
        s"""SELECT id_a, id_b, n_shared
            FROM dedup_pairs('dwp_sql_docs', 'text', 'doc_id',
                             'method', 'winnow', 'winnow_k', 5,
                             'winnow_window', 4, 'min_shared', 50,
                             'use_md5', true,
                             'max_bucket_pairs', ${Long.MaxValue}L)""")
    }),
    // nightly lifted-passage check: the batch flags against the STORED
    // winnow fingerprint state of the corpus — cross-side pairs only, no
    // corpus text read (the minhash_inc shape on the fingerprint key)
    "dedup_winnow_inc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      Dedup.winnowCrossPairs(batch,
        Dedup.winnowState(corpus, "text", "doc_id", k = 5, window = 4,
          useMd5 = true),
        "text", "doc_id", k = 5, window = 4, minShared = 50L,
        maxFingerprintPairs = Long.MaxValue, useMd5 = true)
    }),
    // the same nightly flags through the STORED winnow state
    // (saveWinnowState: fingerprint-bucketed rows + per-fp stats, both
    // reads pruned to the batch's touched buckets) — one oracle
    "dedup_winnow_inc_stored" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val store = "/tmp/graft_sql_winnow_store_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.saveWinnowState(corpus, "text", "doc_id", store, k = 5,
        window = 4, useMd5 = true, nBuckets = 16)
      Dedup.winnowPairsAgainstStored(batch, "text", "doc_id",
        Dedup.loadWinnowState(s, store), minShared = 50L,
        maxFingerprintPairs = Long.MaxValue)
    }),
    // the stored form's SQL front door (plans/WinnowPairsStoredTable)
    "dedup_winnow_stored_sql" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Curation.md5Bucket(col("doc_id"))
      val batch = docs.where(bkt < 100000L).select(col("doc_id"), col("text"))
      val corpus = docs.where(bkt >= 100000L).select(col("doc_id"), col("text"))
        .unionByName(docs.where(bkt < 50000L)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val store = "/tmp/graft_sql_winnow_store_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.saveWinnowState(corpus, "text", "doc_id", store, k = 5,
        window = 4, useMd5 = true, nBuckets = 16)
      batch.createOrReplaceTempView("wps_sql_batch")
      s.sql(
        s"""SELECT id_a, id_b, n_shared
            FROM winnow_pairs_stored('wps_sql_batch', 'text', 'doc_id',
                                     '$store', 'min_shared', 50,
                                     'max_fingerprint_pairs', ${Long.MaxValue}L)""")
    }),

    // ---- winnow pairs -> connected components -> keep-one: the
    // lifted-passage dedup pipeline end to end (pair generator and
    // cluster resolver compose across families)
    "dedup_winnow_cluster" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.winnowOverlapPairs(docs, "text", "doc_id",
          k = 5, window = 4, minShared = 50L,
          maxFingerprintPairs = Long.MaxValue, useMd5 = true)
        .select(col("id_a"), col("id_b"))
      NearDupCluster.dedupByPairs(docs, pairs, "doc_id", maxIterations = 20)
        .select(col("doc_id"))
    }),

    // ---- common-token quality ratio vs the corpus top-100 vocabulary
    "text_common_ratio" -> ((s, dir) =>
      TextAnalysis.commonTokenRatio(t(s, dir, "documents"), "text", "doc_id", 100)
        .select(col("doc_id"), col("n_tokens"), col("n_common"),
          sround(col("common_ratio"), 6).as("common_ratio"))),
    // tokenizer/vocab QA: odd docs scored against the even docs' vocab
    "text_oov" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val vocab = Curation.vocabulary(d.where(col("doc_id") % 2 === 0), "text", 2L)
      TextAnalysis.oovRate(d.where(col("doc_id") % 2 === 1), "text", "doc_id", vocab)
    }),

    // ---- ingest normalization: control-strip + whitespace-collapse +
    // lowercase, hashed for a narrow compare. The doc_id-derived tail
    // (same concat in the oracle) plants controls/tabs/double spaces so
    // the normalization genuinely fires on the clean synthetic corpus.
    // markup strip over synthetic tag-wrapped text (built identically in
    // the oracle): tags, five entities in decode order, double-escapes
    "text_strip_markup" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.stripMarkup(concat(
          lit("<p class=\"x\">"), col("text"),
          lit("</p> &amp;gt; <b>bold</b> &lt;tag&gt; a&#39;b &quot;q&quot;")))
          .as("clean"))),
    "text_clean" -> ((s, dir) => {
      val dirty = t(s, dir, "documents").select(col("doc_id"),
        expr("""concat(text, '\t tail  ', char(7), 'of doc ', doc_id, '  .')""").as("text"))
      dirty.select(col("doc_id"),
        org.apache.spark.sql.functions.md5(
          encode(TextAnalysis.normalizeText(col("text")), "UTF-8")).as("clean_md5"),
        org.apache.spark.sql.functions.length(TextAnalysis.normalizeText(col("text")))
          .cast("long").as("clean_len"))
    }),

    // ---- contamination fraction: hits over the doc's distinct grams
    "text_contamination_frac" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSide = Curation.md5Bucket(col("doc_id")) < 100000L
      Decontaminate.contaminationStats(
        docs.where(!evalSide), docs.where(evalSide), "text", "doc_id", 5)
        .select(col("doc_id"), col("n_hits"), col("n_grams"),
          sround(col("contaminated_frac"), 6).as("contaminated_frac"))
    }),

    // ---- unigram-LM quality score (quantized exact-sum log-probs)
    "text_unigram_lp" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          sround(col("logprob"), 6).as("logprob"),
          sround(col("avg_logprob"), 6).as("avg_logprob"))),

    // ---- bigram-LM quality score (same quantized-exact-sum family)
    "text_bigram_lp" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"),
          sround(col("logprob"), 6).as("logprob"),
          sround(col("avg_logprob"), 6).as("avg_logprob"))),

    // ---- interpolated Kneser-Ney bigram LM: fit on the even-id train
    // split, score ALL docs — unseen bigrams smooth through the
    // continuation distribution; unseen continuations skip + count
    "text_kn_lp" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.knBigramLogProb(docs, "text", "doc_id",
          docs.where(col("doc_id") % 2 === 0), "text")
        .select(col("doc_id"), col("n_bigrams"), col("n_scored"),
          sround(col("logprob"), 6).as("logprob"),
          sround(col("avg_logprob"), 6).as("avg_logprob"))
    }),

    // ---- Moore-Lewis cross-entropy-difference selection: in-domain LM
    // fit on the English split, general LM on the whole corpus; exact
    // integer-grid score sums; OOV-to-domain tokens contribute 0 and
    // are counted (n_tokens - n_scored), not smoothed
    "text_moore_lewis" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.mooreLewisScore(docs, "text", "doc_id",
          docs.where(col("lang") === "en"), "text")
        .select(col("doc_id"), col("n_tokens"), col("n_scored"),
          sround(col("score"), 6).as("score"),
          sround(col("avg_score"), 6).as("avg_score"))
    }),

    // ---- DSIR importance resampling: hashed unigram+bigram models
    // (target = the English split), exact integer-grid importance
    // weights, deterministic Gumbel-top-k selection through the
    // BoundedTopK heap
    "curate_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.dsirSelect(docs, "text", "doc_id",
        docs.where(col("lang") === "en"), "text", k = 100, buckets = 4096)
    }),

    // ---- learned quality classifier, exported APPLY half: a real
    // L-BFGS fit pinned as 1e-6-grid integer constants (DemoModels,
    // provenance in its scaladoc), applied by a pure codegen scan whose
    // dot products are exact BIGINT sums. FULLY DuckDB-oracled — the
    // oracle replays HashingTF's murmur3_x86_32 featurization in a
    // recursive CTE (ModelExport.tfSlotCtes) and the identical integer
    // dot + sigmoid. The fit LIFECYCLE on live corpora stays spec-gated
    // (QualityModelSpec: L-BFGS is not SQL-expressible).
    "text_quality_apply" -> ((s, dir) =>
      graft.pipeline.ModelExport.applyQuantized(
          t(s, dir, "documents"), "text", "doc_id",
          graft.pipeline.DemoModels.Quality)
        .select(col("doc_id"), sround(col("quality_prob"), 6).as("quality_prob"))),

    // ---- Okapi BM25 top-k lexical retrieval (quantized-exact-sum family,
    // BoundedTopK ranking). Queries = every 50th document's first 5 tokens.
    "text_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 5)).as("qtext"))
      TextAnalysis.bm25TopK(docs, "text", "doc_id", qs, "qtext", "query_id", k = 10)
        .select(col("query_id"), col("doc_id"),
          sround(col("score"), 6).as("score"), col("rank"))
    }),
    // the same one-shot BM25 search through the bm25_topk SQL TVF front
    // door (plans/Bm25TopKTable) — shares text_bm25's oracle verbatim
    "text_bm25_sql" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.createOrReplaceTempView("bm25_sql_corpus")
      docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 5)).as("qtext"))
        .createOrReplaceTempView("bm25_sql_queries")
      s.sql(
        """SELECT query_id, doc_id, round(score, 6) AS score, rank
           FROM bm25_topk('bm25_sql_corpus', 'bm25_sql_queries',
                          'text', 'doc_id', 'qtext', 'query_id', 10)""")
    }),

    // the TOKEN-BUCKETED stored-index lifecycle end-to-end: build, save
    // under bucket=pmod(xxhash64(token),64)/ partitions, reload, search
    // with the partition-pruned scan (bm25TopKStored) — storage layout
    // must be invisible to the ranking, so the oracle is the SAME SQL as
    // text_bm25 (pruning-correctness is also spec-asserted:
    // PartitionFilters + strict bucket subset, RetrievalStreamSpec)
    "text_bm25_stored" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 5)).as("qtext"))
      val path = java.nio.file.Files.createTempDirectory("graft_bm25_stored").toString
      TextAnalysis.saveBm25Index(
        TextAnalysis.bm25Index(docs, "text", "doc_id"), path)
      val six = TextAnalysis.loadBm25StoredIndex(s, path)
      TextAnalysis.bm25TopKStored(six, qs, "qtext", "query_id", k = 10)
        .select(col("query_id"), col("doc_id"),
          sround(col("score"), 6).as("score"), col("rank"))
    }),

    // incremental append on the stored index: build on doc_id % 13 != 0,
    // fold in the % 13 == 0 batch against the stored postings (no
    // old-corpus re-tokenize), search — must equal a full-corpus build,
    // so it shares text_bm25's oracle verbatim
    "text_bm25_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 5)).as("qtext"))
      val ix = TextAnalysis.bm25Append(
        TextAnalysis.bm25Index(docs.where(col("doc_id") % 13 =!= 0), "text", "doc_id"),
        docs.where(col("doc_id") % 13 === 0), "text")
      TextAnalysis.bm25TopKWithIndex(ix, qs, "qtext", "query_id", k = 10)
        .select(col("query_id"), col("doc_id"),
          sround(col("score"), 6).as("score"), col("rank"))
    }),

    // decremental forget on the stored index: build on the full corpus,
    // forget doc_id % 13 == 0, search — must equal a kept-corpus rebuild,
    // which is what the oracle computes
    "text_bm25_forget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 5)).as("qtext"))
      val ix = TextAnalysis.bm25Forget(
        TextAnalysis.bm25Index(docs, "text", "doc_id"),
        docs.where(col("doc_id") % 13 === 0).select("doc_id"))
      TextAnalysis.bm25TopKWithIndex(ix, qs, "qtext", "query_id", k = 10)
        .select(col("query_id"), col("doc_id"),
          sround(col("score"), 6).as("score"), col("rank"))
    }),

    // ---- CCNet-style head/middle/tail triage over the bigram-LM score:
    // integer milli-grid average + histogram order statistics — zero
    // floats anywhere near a bucket boundary
    "text_ppl_buckets" -> ((s, dir) =>
      TextAnalysis.pplBuckets(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"), col("avg_lp_milli"),
          col("bucket"))),

    // ---- Gopher rule flags (published crawl-filter heuristics, all
    // integer-count thresholds)
    "text_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherFlags(t(s, dir, "documents"), "text", "doc_id")),
    // ---- C4-style blocklist gate over multi-word phrases: word-n-gram
    // membership against a broadcast phrase set, one codegen projection;
    // the oracle is GENERATED from the same DemoBlockPhrases list
    // ---- Shannon entropy of the char/token distributions (gibberish /
    // base64-spill / template detector): per-symbol c*ln(c) terms landed
    // on the 1e-6 BIGINT grid before the per-doc sum (the LM/BM25 float
    // discipline), id-spine left join so every doc emits exactly one row
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.entropyProfile(t(s, dir, "documents"), "text", "doc_id")),
    // ---- code-likeness (prose/code routing): bracket/semicolon density
    // + indented-line structure, exact integer counts, transparent fixed
    // weights, one codegen projection
    // corpus + one synthetic vertical-tab row: proves the engine/oracle
    // explicit-whitespace-class agreement ([ \t\n\x0B\f\r], NOT \s — RE2's
    // \s excludes \x0B) AT the oracle, not just in a spec
    "text_code_score" -> ((s, dir) =>
      TextAnalysis.codeScore(
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .unionAll(s.range(1).select(lit(-11L).as("doc_id"),
            lit("x=1;\u000By=2;").as("text"))),
        "text", "doc_id")),
    // ---- Unicode-script profile: per-doc character counts over
    // explicit code-point ranges (NOT \p{script=...}, whose member sets
    // drift with each engine's Unicode tables), dominant letter script
    // with alphabetical tie-break. One codegen projection; oracle
    // GENERATED from the same scriptRanges table, ranges mechanically
    // translated \uXXXX -> \x{XXXX} for RE2
    "text_script_profile" -> ((s, dir) =>
      TextAnalysis.scriptProfile(t(s, dir, "documents"), "text", "doc_id")),
    "text_blocklist" -> ((s, dir) =>
      TextAnalysis.blocklistFlags(t(s, dir, "documents"), "text", "doc_id",
        SparkEntry.DemoBlockPhrases)),

    // ---- feature-hashed linear classifier: integer weight accumulation
    // (exact), sigmoid squash (round-6)
    "text_quality_lr" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(t(s, dir, "documents"), "text", "doc_id")),
    // learned MULTICLASS langid (fastText shape: multinomial LR over
    // hashed char-3-gram counts), exported APPLY half: the pinned
    // DemoModels.LangId fit (5 classes, char-3-grams) scored with exact
    // BIGINT per-class dots and an INTEGER argmax (bit-stable
    // prediction; only the softmax probability is floating point).
    // DuckDB-oracled end to end like text_quality_apply; the fit stays
    // spec-gated (QualityModelSpec).
    "text_langid_apply" -> ((s, dir) =>
      graft.pipeline.ModelExport.applyLangIdQuantized(
          t(s, dir, "documents"), "text", "doc_id",
          graft.pipeline.DemoModels.LangId)
        .select(col("doc_id"), col("lang_pred"),
          sround(col("lang_prob"), 6).as("lang_prob"))),

    // ---- REAL greedy BPE apply (native kernel) over a fixed merge
    // table, counted as a subword vocabulary. The encode runs once per
    // DISTINCT word (tokenizer cache, expressed relationally); the
    // oracle replays the merge loop with a recursive CTE
    "text_bpe_apply" -> ((s, dir) =>
      TextAnalysis.bpeVocab(t(s, dir, "documents"), "text",
        SparkEntry.DemoBpeMerges, minCount = 200L)),

    // ---- per-label embedding centroids (exact quantized-sum arithmetic)
    "embed_centroid" -> ((s, dir) =>
      graft.pipeline.Embeddings.centroids(t(s, dir, "embeddings"),
        Seq("label"), "embedding")
        .select(col("label").cast("long").as("label"), col("dim"),
          col("n_vectors"), sround(col("centroid"), 6).as("centroid"))),
    // per-label prototype movement between two membership snapshots —
    // exact integer arithmetic end to end (quantized deltas, long squares)
    "embed_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.pipeline.Embeddings.centroidDrift(
          e.where(col("vec_id") % 10 =!= 0), e.where(col("vec_id") % 7 =!= 2),
          Seq("label"), "embedding")
        .select(col("label").cast("long").as("label"), col("n_old"),
          col("n_new"), col("n_dims"), col("l2_move"))
    }),

    // ---- JL random projection (md5-int variant: exact BIGINT component
    // sums both engines compute identically; gaussian is the production
    // path — see RandomProjectSpec for the search composition)
    // ---- PCA, exported APPLY half: the fit (MLlib eigendecomposition)
    // is not SQL-expressible and stays spec-gated (PcaSpec:
    // orthonormality, variance capture, recall composition); the
    // projection onto the PINNED fitted directions
    // (DemoModels.PcaDirections, 1e-6 grid, provenance in
    // FitPcaDirections) is exact BIGINT arithmetic — floor(v*4096)
    // vectors x micro-grid directions — fully DuckDB-oracled like the
    // classifier applies. Same split as text_quality_apply.
    "embed_pca_apply" -> ((s, dir) =>
      graft.pipeline.Embeddings.projectQuantized(
          t(s, dir, "embeddings"), "embedding",
          graft.pipeline.DemoModels.PcaDirections, 64, 8)
        .select(col("vec_id"), posexplode(col("pvecq")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("pc_dim"),
          col("col").as("component"))),
    "embed_rp" -> ((s, dir) =>
      graft.pipeline.Embeddings.randomProjectMd5Int(
          t(s, dir, "embeddings").where(col("vec_id") < 100), "embedding", 64, 8)
        .select(col("vec_id"), posexplode(col("rpq")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("rp_dim"),
          col("col").as("component"))),

    // ---- end-to-end curation composition: deterministic 50% sample ->
    // quality gate (rounded score, so the threshold compare is
    // boundary-stable across engines) -> exact dedup keep-min-id ->
    // token counts. One pipeline, zero driver actions.
    "curate_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sampled = Curation.hashSample(docs, "doc_id", 0.5)
      val qual = sampled.where(sround(TextAnalysis.qualityScore(col("text")), 6) >= 0.5)
      Dedup.exactDedupRows(qual, "text", "doc_id")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          sround(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
    }),

    // ---- the FULL training-set build, one lazy plan: deterministic 50%
    // sample -> quality gate -> exact dedup -> 80% train split -> token
    // budget (8k over 8 shards) -> sequence packing. Every stage is an
    // individually-oracled operator; this query oracles their
    // COMPOSITION (stage-boundary bugs — wrong column scoping, filters
    // applied to the wrong side — break the hash even when each stage
    // passes alone)
    "curate_training_set" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sampled = Curation.hashSample(docs, "doc_id", 0.5)
      val qual = sampled.where(sround(TextAnalysis.qualityScore(col("text")), 6) >= 0.5)
      val deduped = Dedup.exactDedupRows(qual, "text", "doc_id")
      val train = Curation.splitByHash(deduped, "doc_id",
          Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)))
        .where(col("split") === "train")
      val budgeted = Curation.sampleToTokenBudget(train, "text", "doc_id",
        budgetTokens = 8000L, shards = 8)
      Curation.packSequences(budgeted, "doc_id",
          TextAnalysis.tokenCount(col("text")), budgetTokens = 2048L, numShards = 8)
        .select(col("doc_id"), col("token_budget_shard"), col("shard"),
          col("pack_off"), col("pack_id"))
    }),

    // ---- relative statistical filter: keep docs at/above their
    // language's median length (exact interpolated percentile)
    "curate_above_median" -> ((s, dir) =>
      Curation.aboveGroupPercentile(t(s, dir, "documents"), "lang", "n_chars", 0.5)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // ---- quality-weighted sampling: each row keeps with probability =
    // its own (rounded, boundary-stable) quality score
    "curate_weighted_sample" -> ((s, dir) =>
      Curation.weightedHashSample(t(s, dir, "documents"), "doc_id",
          sround(TextAnalysis.qualityScore(col("text")), 6))
        .select(col("doc_id"))),

    // ---- per-language winsorized lengths (clamp to [p05, p95] exact
    // interpolated percentiles; row count preserved)
    "curate_winsorize" -> ((s, dir) =>
      Curation.winsorize(t(s, dir, "documents"), "lang", "n_chars", 0.05, 0.95)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          sround(col("winsorized"), 4).as("winsorized"))),

    // ---- per-language length histogram (10 fixed buckets over [0, 1000),
    // edges clamp; exact integer bucketing)
    "corpus_histogram" -> ((s, dir) =>
      Curation.histogram(t(s, dir, "documents"), "lang", "n_chars", 10, 0.0, 1000.0)),

    // ---- cross-modal cartography: documents joined to their embedding
    // rows (aligned id spaces), profiled per (cluster label, language)
    "embed_doc_map" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings").select(col("vec_id").as("doc_id"), col("label"))
      d.join(e, Seq("doc_id"))
        .groupBy(col("label").cast("long").as("label"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sround(org.apache.spark.sql.functions.avg(
            sround(TextAnalysis.qualityScore(col("text")), 6)), 6).as("avg_quality"))
    }),

    // ---- BPE-step pair counts (occurrences, not distinct-per-doc)
    "curate_bpe_pairs" -> ((s, dir) =>
      Curation.bpePairCounts(t(s, dir, "documents"), "text", minCount = 25L)),

    // ---- exactly-N-per-group deterministic quota sampling
    "curate_sample_n" -> ((s, dir) =>
      Curation.hashSampleN(t(s, dir, "documents"), "doc_id", "source", 20)
        .select(col("doc_id"), col("source"))),

    // ---- overlapping token-window chunking (64-token chunks, 16 overlap)
    "curate_chunks" -> ((s, dir) =>
      Curation.chunkTokens(t(s, dir, "documents"), "text", "doc_id", 64, 16)
        .select(col("doc_id"), col("chunk_index"), col("n_chunk_tokens"),
          org.apache.spark.sql.functions.md5(encode(col("chunk_text"), "UTF-8"))
            .as("chunk_md5"))),

    // ---- corpus version diff: status per id between two snapshots,
    // judged on (id, digest) rows — the payload never crosses the join
    "corpus_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val oldV = d.where(col("doc_id") % 10 =!= 0)
      val newV = d.where(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")).as("text"),
          col("source"))
      Curation.corpusDiff(oldV, newV, "doc_id", Seq("text", "source"))
    }),

    // ---- right-to-be-forgotten cascade audit: per-artifact delete /
    // remain counts + the orphan check (must be 0 on a consistent cascade)
    "curate_forget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val chunks = Curation.chunkTokens(d, "text", "doc_id", 40, 0)
      val emb = t(s, dir, "embeddings").select(col("vec_id").as("doc_id"))
      val forget = d.where(col("doc_id") % 13 === 0).select("doc_id")
      Curation.forgetAudit(d, "doc_id", forget,
        Seq(("chunks", chunks, "doc_id"), ("embeddings", emb, "doc_id")))
    }),

    // ---- ordered funnel: view -> click -> purchase, earliest-achievable
    // step times, -1 sentinels for unreached steps
    "events_funnel" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_type"))
      graft.pipeline.Funnels.funnelSteps(ev, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"))
    }),

    // ---- per-language heavy hitters: token frequencies + deterministic
    // top-5 window (the per-group variant of curate_vocab)
    "text_top_tokens" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          explode(org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.lower(col("text"))), "\\s+")).as("token"))
        .where(org.apache.spark.sql.functions.length(col("token")) > 0)
      val counts = toks.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      Curation.topKPerGroup(counts, "lang", col("n"), 5, col("token"))
        .select(col("lang"), col("token"), col("n"), col("rank").cast("long").as("rank"))
    }),

    // ---- range anti-join: views with NO same-user purchase in the
    // following hour (the unconverted-impression shape; one shuffle keyed
    // by user, the range bound rides the join condition)
    "events_unconverted" -> ((s, dir) => {
      val ev = events(s, dir)
      val views = ev.where(col("event_type") === lit("view"))
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      val buys = ev.where(col("event_type") === lit("purchase"))
        .select(col("user_id").as("b_user"), expr("ts div 1000").as("b_ts_us"))
      views.join(buys,
        col("user_id") === col("b_user") &&
          col("b_ts_us") >= col("ts_us") &&
          col("b_ts_us") <= col("ts_us") + lit(3600L * 1000000L),
        "left_anti")
    }),

    // ---- per-user value anomaly z-scores, batch form: running
    // mean/variance from EXACT integer window sums over preceding events
    // (the window-function restatement of streaming.Anomaly's Welford
    // fold; every division/sqrt is a deterministic IEEE op on the same
    // integers in both engines)
    "events_anomaly" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"),
        expr("cast(round(value * 100) as long)").as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      ev.withColumn("n", count(lit(1)).over(w))
        .withColumn("s", sum(col("c")).over(w))
        .withColumn("q", sum(col("c") * col("c")).over(w))
        .where(col("n") >= 10)
        .withColumn("var",
          (col("q").cast("double") - col("s").cast("double") * col("s").cast("double")
            / col("n").cast("double")) / (col("n") - 1).cast("double"))
        .where(col("var") > 0)
        .select(col("event_id"), col("user_id"),
          sround((col("c").cast("double") - col("s").cast("double") / col("n").cast("double"))
            / org.apache.spark.sql.functions.sqrt(col("var")), 6).as("zscore"))
    }),

    // ---- Morton z-values (the 2-D clustering sort key; exact bit
    // arithmetic — see util.ZOrder for the layout writer)
    "events_zvalue" -> ((s, dir) =>
      events(s, dir).select(col("event_id"), col("user_id"),
          expr("ts div 1000000000").as("tsec"))
        .withColumn("zvalue",
          graft.util.ZOrder.zValue(col("user_id"), col("tsec")))),

    // ---- wide daily behavior matrix: one aggregate pass (explicit
    // category list — no discovery job), empty cells 0
    "events_pivot" -> ((s, dir) => {
      val ev = events(s, dir).select(
        expr("ts div 86400000000000").as("day"), col("event_type"))
      graft.pipeline.Olap.pivotCounts(ev, "day", "event_type",
        Seq("click", "error", "purchase", "signup", "view"))
    }),

    // ---- event-type transition matrix (per-user consecutive pairs)
    "events_transitions" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_type"), col("event_id"))
      graft.pipeline.Funnels.transitionCounts(ev, "user_id", "ts_us",
        "event_type", "event_id")
    }),

    // ---- top 3-step behavior paths (user-time order, two leads, tiny
    // ranked aggregate)
    "events_trigrams" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_type"), col("event_id"))
      graft.pipeline.Funnels.pathTrigrams(ev, "user_id", "ts_us",
        "event_type", "event_id", 25)
    }),

    // ---- deterministic token-budget sampling: md5 order within md5
    // shards, per-shard running total — budget respected to ± one doc
    // per shard, no global sort
    "curate_token_budget" -> ((s, dir) =>
      Curation.sampleToTokenBudget(t(s, dir, "documents"), "text", "doc_id",
        budgetTokens = 16000L, shards = 8)
        .select(col("doc_id"), col("token_budget_shard"))),

    // ---- weekly cohort retention (7-day periods of raw epoch micros)
    "events_retention" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("ts div 1000").as("ts_us"))
      graft.pipeline.Funnels.cohortRetention(ev, "user_id", "ts_us",
        7L * 86400L * 1000000L)
    }),

    // ---- NATIVE session_window sessionization in batch mode (the same
    // code path the watermarked stream runs). Integer-exact like
    // events_sessionize; native boundary semantics (merge iff diff <= gap
    // — the session window is end-inclusive, spec-pinned).
    "events_session_window" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        org.apache.spark.sql.functions.timestamp_micros(expr("ts div 1000")).as("ts"),
        expr("cast(round(value * 100) as long)").as("cents"))
      graft.streaming.EventStreams.sessionWindowStats(ev, "user_id", "ts", "cents",
          gap = "30 minutes")
        .select(col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("session_start")).as("session_start_us"),
          org.apache.spark.sql.functions.unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"), col("sum_value").as("sum_value_cents"))
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  // one definition for both filtered-search entries: the exact pre-filter
  // and the full-probe stored-index run provably produce the same rows,
  // and sharing the string keeps the two oracles from silently diverging
  private val filteredAnnOracle =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       s AS (SELECT query_id, c.vec_id AS corpus_id,
                    list_cosine_similarity(qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
             FROM q CROSS JOIN embeddings c
             WHERE c.vec_id != query_id AND c.label % 3 = 1),
       r AS (SELECT query_id, corpus_id, cos,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
             FROM s)
       SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 10"""

  private val BitextMarginOracle: String =
      """WITH z AS (SELECT vec_id, embedding,
                list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
              FROM embeddings),
         qz AS (SELECT vec_id,
                  CASE WHEN ma > 0
                       THEN list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma) AS BIGINT))
                       ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
                FROM z),
         n AS (SELECT vec_id, q,
                 CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM qz),
         src AS (SELECT vec_id AS sid, q AS sq, n2 AS sn FROM n
                 WHERE vec_id % 2 = 0 AND n2 > 0),
         tgt AS (SELECT vec_id AS tid, q AS tq, n2 AS tn FROM n
                 WHERE vec_id % 2 = 1 AND n2 > 0),
         cosab AS (SELECT sid, tid,
                     CAST(CAST(list_sum(list_transform(range(1, 65), i -> sq[i] * tq[i])) AS BIGINT) AS DOUBLE)
                       / sqrt(CAST(sn AS DOUBLE) * CAST(tn AS DOUBLE)) AS qc
                   FROM src CROSS JOIN tgt),
         g AS (SELECT sid, tid, qc, CAST(round(qc * 1000000) AS BIGINT) AS qci FROM cosab),
         fk AS (SELECT * FROM (SELECT sid, tid, qc, qci,
                  row_number() OVER (PARTITION BY sid ORDER BY qc DESC, tid) AS r FROM g)
                WHERE r <= 4),
         bk AS (SELECT * FROM (SELECT sid, tid, qci,
                  row_number() OVER (PARTITION BY tid ORDER BY qc DESC, sid) AS r FROM g)
                WHERE r <= 4),
         px AS (SELECT sid, sum(qci) AS pxs, count(*) AS nx FROM fk GROUP BY sid),
         py AS (SELECT tid, sum(qci) AS pys, count(*) AS ny FROM bk GROUP BY tid),
         m AS (SELECT f.sid, f.tid, f.qc,
                 CAST(f.qci AS DOUBLE) /
                   greatest((CAST(pxs AS DOUBLE) / nx + CAST(pys AS DOUBLE) / ny) / 2.0,
                            1.0) AS margin
               FROM fk f JOIN px USING (sid) JOIN py USING (tid)),
         best AS (SELECT sid, tid, margin, qc,
                    row_number() OVER (PARTITION BY sid ORDER BY margin DESC, tid) AS rn
                  FROM m)
         SELECT sid AS src_id, tid AS tgt_id, round(margin, 6) AS margin,
                round(qc, 6) AS qcosine
         FROM best WHERE rn = 1"""

  // shared verbatim by text_bm25 (one-shot), text_bm25_stored (the
  // token-bucketed stored index: storage layout must be invisible to
  // the ranking) and text_bm25_append (ungated append == unioned
  // rebuild): one BM25 oracle
  private val bm25FullOracle =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         tok AS (SELECT doc_id, unnest(w) AS tk FROM t),
         tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok WHERE length(tk) > 0 GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS nd, sum(dl) AS tt FROM dl),
         df AS (SELECT tk, count(*) AS df FROM tf GROUP BY 1),
         q AS (SELECT doc_id AS query_id, unnest(list_distinct(w[1:5])) AS qtk FROM t WHERE doc_id % 50 = 0),
         sc AS (SELECT q.query_id, tf.doc_id,
                  CAST(round(ln((nd - df.df + 0.5) / (df.df + 0.5) + 1.0)
                    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * ((CAST(dl.dl AS DOUBLE) * CAST(st.nd AS DOUBLE)) / CAST(st.tt AS DOUBLE))))
                    * 1000000.0) AS BIGINT) AS c
                FROM q JOIN tf ON q.qtk = tf.tk
                  JOIN dl ON tf.doc_id = dl.doc_id
                  JOIN df ON tf.tk = df.tk
                  CROSS JOIN st
                WHERE length(q.qtk) > 0),
         agg AS (SELECT query_id, doc_id, sum(c) AS sq FROM sc GROUP BY 1, 2),
         rk AS (SELECT query_id, doc_id, sq,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sq DESC, doc_id) AS INT) AS rank
                FROM agg)
         SELECT query_id, doc_id, round(sq / 1000000.0, 6) AS score, rank
         FROM rk WHERE rank <= 10"""

  // shared verbatim by fuzzy_join_multi (Scala front door) and
  // fuzzy_join_multi_sql (fuzzy_match TVF, mappings listed in the
  // OPPOSITE order): identical semantics, one oracle
  private val multiJoinOracle =
    """SELECT a.c_custkey AS c_custkey, b.c_custkey AS c_custkey_right,
       round(1.0 - levenshtein(lower(a.c_name), lower(b.c_name)) / greatest(length(a.c_name), length(b.c_name)), 6) AS score_name,
       round(jaro_winkler_similarity(lower(a.c_mktsegment), lower(b.c_mktsegment)), 6) AS score_seg
       FROM customer a CROSS JOIN customer b
       WHERE levenshtein(lower(a.c_name), lower(b.c_name)) / greatest(length(a.c_name), length(b.c_name)) <= 0.2
         AND 1.0 - jaro_winkler_similarity(lower(a.c_mktsegment), lower(b.c_mktsegment)) <= 0.2"""

  // shared verbatim by fuzzy_join_levenshtein (Scala front door) and
  // dedup_simhash and its dedup_pairs-TVF twin share this oracle
  private val simhashPairsOracle =
    """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
       h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS th FROM t),
       b AS (SELECT doc_id, bit, sum(CASE WHEN (th >> bit::INT) & 1 = 1 THEN 1 ELSE -1 END) AS vote
             FROM h, range(64) r(bit) GROUP BY doc_id, bit),
       s AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::UBIGINT << bit::INT) ELSE 0::UBIGINT END)::UBIGINT AS sh
             FROM b GROUP BY doc_id)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       FROM s a JOIN s b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.sh, b.sh)) <= 8"""

  // ann_cosine_topk and its ann_topk-TVF twin share this oracle
  private val bruteTopKOracle =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       s AS (SELECT query_id, c.vec_id AS corpus_id,
                    list_cosine_similarity(qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
             FROM q CROSS JOIN embeddings c WHERE c.vec_id != query_id),
       r AS (SELECT query_id, corpus_id, cos,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
             FROM s)
       SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 10"""

  // fuzzy_join_sql (fuzzy_match TVF front door): identical semantics,
  // one oracle
  private val levenshteinJoinOracle =
    """SELECT c.c_custkey AS c_custkey, s.s_suppkey AS s_suppkey,
       round(1.0 - levenshtein(lower(c.c_name), lower(s.s_name)) / greatest(length(c.c_name), length(s.s_name)), 6) AS score
       FROM customer c CROSS JOIN supplier s
       WHERE levenshtein(lower(c.c_name), lower(s.s_name)) / greatest(length(c.c_name), length(s.s_name)) <= 0.3"""

  /** Drift-refit POLICY replay shared by ann_drift_refit (IVF) and
    * ann_drift_refit_pq (PQ): both arms' served searches are provably
    * exhaustive in the oracled configuration (full probe / full rerank
    * == brute force), so the SQL replays the DECISION — quantized-
    * integer centroid drift over old vs shifted, shifted-corpus brute
    * force when max l2_move > tau (the exhaustive gate passes by
    * construction), old-corpus brute force otherwise. */
  private val driftRefitDecisionOracle: String =
    """WITH sh AS (SELECT vec_id, label,
                list_transform(embedding,
                  v -> CAST(CAST(v AS DOUBLE) + 0.25 AS FLOAT)) AS embedding
              FROM embeddings),
         o AS (SELECT label, i AS dim,
                 sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) / 1000000.0 / count(*) AS co
               FROM (SELECT label, unnest(embedding) AS v,
                       generate_subscripts(embedding, 1) AS i FROM embeddings)
               GROUP BY 1, 2),
         n AS (SELECT label, i AS dim,
                 sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) / 1000000.0 / count(*) AS cn
               FROM (SELECT label, unnest(embedding) AS v,
                       generate_subscripts(embedding, 1) AS i FROM sh)
               GROUP BY 1, 2),
         mv AS (SELECT o.label,
                  round(sqrt(CAST(sum(CAST(round((cn - co) * 1000000) AS BIGINT)
                    * CAST(round((cn - co) * 1000000) AS BIGINT)) AS DOUBLE)) / 1000000.0, 6) AS l2
                FROM o JOIN n ON o.label = n.label AND o.dim = n.dim GROUP BY o.label),
         dm AS (SELECT max(l2) AS dm FROM mv),
         qn AS (SELECT vec_id AS query_id, embedding AS qv FROM sh WHERE vec_id < 10),
         sn AS (SELECT query_id, c.vec_id AS corpus_id,
                  list_cosine_similarity(qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM qn CROSS JOIN sh c WHERE c.vec_id != query_id),
         rn AS (SELECT query_id, corpus_id, cos,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
                FROM sn),
         qo AS (SELECT vec_id AS query_id, embedding AS qv FROM sh WHERE vec_id < 10),
         so AS (SELECT query_id, c.vec_id AS corpus_id,
                  list_cosine_similarity(qo.qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM qo CROSS JOIN embeddings c WHERE c.vec_id != query_id),
         ro AS (SELECT query_id, corpus_id, cos,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
                FROM so),
         pick AS (SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
                  FROM rn WHERE rank <= 10 AND (SELECT dm FROM dm) > 1.0
                  UNION ALL
                  SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
                  FROM ro WHERE rank <= 10 AND (SELECT dm FROM dm) <= 1.0)
         SELECT query_id, corpus_id, cosine, CAST(rank AS BIGINT) AS rank,
           round((SELECT dm FROM dm), 6) AS l2_move,
           (SELECT dm FROM dm) > 1.0 AS swapped
         FROM pick"""

  /** Perceptual hamming-cluster curation replay, shared by the Scala
    * path (multimodal_curate_hamming) and the curate_dhash TVF
    * (multimodal_curate_hamming_sql). */
  private val curateHammingOracle: String =
    """WITH RECURSIVE d AS (SELECT doc_id, doc_id % 97 AS k FROM documents),
         ks AS (SELECT DISTINCT k FROM d),
         p AS (SELECT k, (k % 24) + 1 AS w, (k % 20) + 1 AS h FROM ks),
         fx AS (SELECT k, h, unnest(range(0, w)) AS x FROM p),
         fy AS (SELECT k, x, unnest(range(0, h)) AS y FROM fx),
         vv AS (SELECT k, (k*31 + x*7 + y*131) % 16777216 AS v FROM fy),
         gate AS (SELECT k FROM vv GROUP BY k
                  HAVING max((299*(v//65536) + 587*((v//256)%256) + 114*(v%256))//1000) >= 34),
         v2 AS (SELECT * FROM p WHERE w >= 9 AND h >= 8),
         px AS (SELECT k, w, h, x.x, y.y FROM v2,
                LATERAL (SELECT unnest(range(0, w)) AS x) x,
                LATERAL (SELECT unnest(range(0, h)) AS y) y),
         lum AS (SELECT k,
                   least((x * 9) // w, 8) AS c, least((y * 8) // h, 7) AS r,
                   (299 * (((k*31 + x*7 + y*131) % 16777216) // 65536)
                    + 587 * ((((k*31 + x*7 + y*131) % 16777216) // 256) % 256)
                    + 114 * (((k*31 + x*7 + y*131) % 16777216) % 256)) // 1000 AS l
                 FROM px),
         cells AS (SELECT k, r, c, sum(l) AS s, count(*) AS n
                   FROM lum GROUP BY k, r, c),
         bits AS (SELECT a.k, (a.r * 8 + a.c) AS bk,
                    CASE WHEN a.s * b.n < b.s * a.n THEN 1 ELSE 0 END AS bit
                  FROM cells a JOIN cells b
                    ON a.k = b.k AND a.r = b.r AND b.c = a.c + 1),
         hsh AS (SELECT k,
                   sum(CASE WHEN bit = 1 THEN (1::UBIGINT << bk::INT)
                       ELSE 0::UBIGINT END)::UBIGINT AS dh
                 FROM bits GROUP BY k),
         sa AS (SELECT v2.k, coalesce(dh, 0::UBIGINT) AS dh,
                  lpad(hex(coalesce(dh, 0::UBIGINT)), 16, '0') AS dhash_hex
                FROM v2 LEFT JOIN hsh ON v2.k = hsh.k
                WHERE v2.k IN (SELECT k FROM gate)),
         prs AS (SELECT a.k AS ka, b.k AS kb FROM sa a JOIN sa b ON a.k < b.k
                 WHERE bit_count(xor(a.dh, b.dh)) <= 2),
         edges AS (SELECT ka AS ea, kb AS eb FROM prs
                   UNION SELECT kb, ka FROM prs),
         reach(k, r) AS (SELECT k, k FROM sa
                         UNION SELECT e.eb, reach.r FROM reach
                               JOIN edges e ON e.ea = reach.k),
         comp AS (SELECT k, min(r) AS cid FROM reach GROUP BY k),
         survivors AS (SELECT d.doc_id, comp.cid FROM d JOIN comp ON d.k = comp.k),
         reph AS (SELECT k AS cid, dhash_hex FROM sa)
         SELECT CAST(min(s.doc_id) AS BIGINT) AS keep_doc_id, r.dhash_hex,
           CAST(count(*) AS BIGINT) AS n_in_bucket
         FROM survivors s JOIN reph r ON s.cid = r.cid
         GROUP BY s.cid, r.dhash_hex"""

  /** Export `documents` as real WARC files (plain or gzip member-per-
    * partition), read them back through the warc DataSource, recover
    * (doc_id, text, content_length). Shared by the two `source_warc_*`
    * queries — they differ only in the compression arm. The export dir
    * is wiped first so stale task files from an earlier corpus version
    * can never double the read. */
  private def warcRoundtrip(s: SparkSession, dir: String, gz: Boolean): DataFrame = {
    val out = "/tmp/graft_src_warc_" + (if (gz) "gz_" else "") +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    val p = new org.apache.hadoop.fs.Path(out)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    graft.sources.Warc.write(t(s, dir, "documents").select(
      concat(lit("urn:doc:"), col("doc_id")).as("record_id"),
      lit("resource").as("warc_type"),
      concat(lit("https://example.com/"), col("doc_id")).as("target_uri"),
      lit("2026-01-01T00:00:00Z").as("date"),
      lit("text/plain").as("content_type"),
      encode(col("text"), "UTF-8").as("payload")), out, gzip = gz)
    s.read.format("warc").load(out)
      .select(expr("CAST(substr(record_id, 9) AS BIGINT)").as("doc_id"),
        decode(col("payload"), "UTF-8").as("text"),
        col("content_length"))
  }

  /** Export `documents` as WARC `response` records whose payloads are
    * real HTTP/1.1 messages over `body` (a STRING column): status and
    * reason (200/301/404) and Content-Type (text/html vs text/plain)
    * vary by doc_id, and every third document's body is
    * chunked-transfer-coded — 64-CHAR chunks whose hex sizes are the
    * chunk's OCTET length, so multibyte text frames correctly. Returns
    * the export dir (wiped first). Shared by `source_warc_http` and
    * `warc_to_text` (distinct `tag`s keep their fixtures apart). */
  private def httpWarcFixture(s: SparkSession, dir: String, tag: String,
                              body: org.apache.spark.sql.Column,
                              targetUri: org.apache.spark.sql.Column = null,
                              // each value must end with CRLF; null = none
                              extraHeaders: org.apache.spark.sql.Column = null): String = {
    val out = s"/tmp/graft_src_warc_${tag}_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val p = new org.apache.hadoop.fs.Path(out)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val docs = t(s, dir, "documents").withColumn("__body", body)
    val statusLine = expr(
      "CASE WHEN doc_id % 3 = 1 THEN 'HTTP/1.1 301 Moved Permanently' " +
        "WHEN doc_id % 3 = 2 THEN 'HTTP/1.1 404 Not Found' " +
        "ELSE 'HTTP/1.1 200 OK' END")
    val ctype = expr("CASE WHEN doc_id % 2 = 0 THEN " +
      "'text/html; charset=utf-8' ELSE 'text/plain' END")
    val chunkedBody = expr(
      """concat(array_join(transform(
           sequence(0, CAST(ceil(char_length(__body) / 64.0) AS INT) - 1),
           i -> concat(lower(hex(octet_length(substring(__body, i * 64 + 1, 64)))),
                       '\r\n', substring(__body, i * 64 + 1, 64), '\r\n')), ''),
         '0\r\n\r\n')""")
    val payloadStr = concat(statusLine, lit("\r\nContent-Type: "), ctype, lit("\r\n"),
      // extra headers exercise the http_headers map: a doc-derived value
      // and a REPEATED field (RFC 9110 ", "-combine on read)
      lit("X-Doc-Parity: "), expr("CAST(doc_id % 2 AS STRING)"),
      lit("\r\nContent-Language: en\r\nContent-Language: mul\r\n"),
      Option(extraHeaders).getOrElse(lit("")),
      when(expr("doc_id % 3 = 0 AND char_length(__body) > 0"),
        concat(lit("Transfer-Encoding: chunked\r\n\r\n"), chunkedBody))
        .otherwise(concat(lit("Content-Length: "),
          expr("CAST(octet_length(__body) AS STRING)"),
          lit("\r\n\r\n"), col("__body"))))
    graft.sources.Warc.write(docs.select(
      concat(lit("urn:doc:"), col("doc_id")).as("record_id"),
      lit("response").as("warc_type"),
      Option(targetUri)
        .getOrElse(concat(lit("https://example.com/"), col("doc_id")))
        .as("target_uri"),
      lit("2026-01-01T00:00:00Z").as("date"),
      lit("application/http; msgtype=response").as("content_type"),
      encode(payloadStr, "UTF-8").as("payload")), out)
    out
  }

  /** Charset arms of the mixed-charset HTTP fixture (index = doc_id % 6):
    * the marker appended to each document's text contains characters only
    * the RIGHT charset recovers, so the oracle comparison pins the whole
    * sniffing ladder — transport charset, latin-1→cp1252 superset mapping
    * (€ is 0x80, curly quotes 0x93/0x94: cp1252-only bytes), BOM consumption
    * (UTF-8 and UTF-16LE), `<meta charset>` prescan, unknown-name fallback. */
  private[graft] val CharsetMarks: Array[String] = Array(
    " — café",                       // 0: charset=utf-8 declared
    " “déjà vu €”",   // 1: declared iso-8859-1, bytes cp1252
    " BOMé",                              // 2: UTF-8 BOM, nothing declared
    " méta",                              // 3: <meta charset="windows-1252">
    " utf16世界",                      // 4: UTF-16LE BOM
    " fallback")                               // 5: charset=x-unknown-999 → UTF-8
  private[graft] val CharsetMetaPrefix =
    "<head><meta charset=\"windows-1252\"></head>"

  /** One HTTP/1.1 response payload for [[charsetWarcFixture]]: body text =
    * (meta prefix for arm 3) + document text + arm marker, ENCODED in the
    * arm's charset, framed with Content-Length over the byte count. */
  private[graft] def charsetHttpPayload(docId: Long, text: String): Array[Byte] = {
    val arm = (docId % 6).toInt
    val bodyText =
      (if (arm == 3) CharsetMetaPrefix else "") + text + CharsetMarks(arm)
    val bodyBytes: Array[Byte] = arm match {
      case 0 | 5 => bodyText.getBytes("UTF-8")
      case 1 | 3 => bodyText.getBytes("windows-1252")
      case 2 =>
        val b = bodyText.getBytes("UTF-8")
        val out = new Array[Byte](b.length + 3)
        out(0) = 0xef.toByte; out(1) = 0xbb.toByte; out(2) = 0xbf.toByte
        System.arraycopy(b, 0, out, 3, b.length); out
      case _ =>
        val b = bodyText.getBytes("UTF-16LE")
        val out = new Array[Byte](b.length + 2)
        out(0) = 0xff.toByte; out(1) = 0xfe.toByte
        System.arraycopy(b, 0, out, 2, b.length); out
    }
    val ctype = arm match {
      case 0 => "text/html; charset=utf-8"
      case 1 => "text/html; charset=iso-8859-1"
      case 5 => "text/html; charset=x-unknown-999"
      case _ => "text/html"
    }
    val head = s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n" +
      s"Content-Length: ${bodyBytes.length}\r\n\r\n"
    val hb = head.getBytes("ISO-8859-1")
    val out = new Array[Byte](hb.length + bodyBytes.length)
    System.arraycopy(hb, 0, out, 0, hb.length)
    System.arraycopy(bodyBytes, 0, out, hb.length, bodyBytes.length)
    out
  }

  /** Export `documents` as WARC response records over the six charset arms
    * of [[charsetHttpPayload]] — the fixture behind `source_warc_http_text`.
    * Returns the export dir (wiped first). */
  private def charsetWarcFixture(s: SparkSession, dir: String): String = {
    val out = "/tmp/graft_src_warc_charset_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val p = new org.apache.hadoop.fs.Path(out)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    // fixture-side UDF by necessity: builtins cannot ENCODE cp1252/UTF-16
    // (Spark's encode() whitelists the standard charsets); the query under
    // test only DECODES, through the codegen'd http_text expression
    val payload = org.apache.spark.sql.functions.udf(
      (docId: Long, text: String) => charsetHttpPayload(docId, text))
    graft.sources.Warc.write(t(s, dir, "documents").select(
      concat(lit("urn:doc:"), col("doc_id")).as("record_id"),
      lit("response").as("warc_type"),
      concat(lit("https://example.com/"), col("doc_id")).as("target_uri"),
      lit("2026-01-01T00:00:00Z").as("date"),
      lit("application/http; msgtype=response").as("content_type"),
      payload(col("doc_id"), col("text")).as("payload")), out)
    out
  }

  /** The link-bearing page behind `warc_links` — each doc carries three
    * normalizable absolute links (uppercase scheme+host with :80, a :443
    * CDN link, a kept non-default :8443 port), one duplicate that only
    * the fragment drop unifies, relative/mailto links the filter must
    * skip, and (r17 item 2) legacy UNQUOTED attribute arms: an absolute
    * `href=URL` that must extract and normalize, and an unquoted
    * relative the filter must skip. */
  private def linksPage: org.apache.spark.sql.Column = concat(
    lit("<html><body><a href=\"HTTP://Example.COM:80/path/"), col("doc_id"),
    lit("?q=1#frag\">x</a> <img src='https://CDN.example.com:443/img/"),
    col("doc_id"),
    lit(".png'/> <a href=\"https://other.example.com:8443/keep?id="),
    col("doc_id"),
    lit("#s\">y</a> <a href=\"/relative/skip\">z</a> " +
      "<a href=\"mailto:a@b.c\">m</a> <a href=\"HTTP://Example.COM:80/path/"),
    col("doc_id"),
    lit("?q=1\">dup</a> <a href=HTTP://Example.COM:80/unq/"), col("doc_id"),
    lit("?u=1>uq</a> <a href=/rel/unq>ru</a> "),
    col("text"), lit("</body></html>"))

  /** The relative-link page behind `warc_links_resolved`: sibling,
    * parent, rooted, query-only, protocol-relative and dot-segment
    * references that only a real RFC 3986 resolver maps to the right
    * absolute URLs, plus skipped mailto. */
  private def resolvedLinksPage: org.apache.spark.sql.Column = concat(
    lit("<html><a href=\"img"), col("doc_id"),
    lit(".png\">i</a> <a href=\"../up.html\">u</a> <a href=\"/rooted?x="),
    col("doc_id"),
    lit("\">r</a> <a href=\"?q=2\">q</a> <img src='//cdn.example.com/c"),
    col("doc_id"),
    lit(".js'/> <a href=\"./x/.././sib.html\">s</a> " +
      "<a href=\"mailto:a@b.c\">m</a> <a href=unq"),
    col("doc_id"), lit(".html>u2</a> "),
    col("text"), lit("</html>"))

  /** Verdicts by (domain, path) arm, shared by the Scala robots gate and
    * its pure-SQL composition: the no-robots domain (d4) allows all;
    * elsewhere the same truth table as curate_robots (disallowed
    * /private/ subtree, its longer-Allow /private/ok/ carve-out, the
    * $-anchored *.bin rule, unmatched public paths). */
  private val robotsGateOracle =
    """SELECT doc_id, 'd' || CAST(doc_id % 5 AS VARCHAR) AS domain,
       CASE WHEN doc_id % 5 = 4 THEN true
            WHEN doc_id % 4 IN (1, 3) THEN true
            ELSE false END AS allowed
       FROM documents"""

  // warc_links_resolved: expected resolutions reconstructed from doc_id
  // (see the query comment; resolution itself is pinned by the RFC
  // vectors, this pins the PLUMBING — base from target_uri, filter,
  // normalize, dedup, explode)
  private val warcLinksResolvedOracle =
    """SELECT doc_id, unnest([
         'https://example.com/a/' || doc_id || '/img' || doc_id || '.png',
         'https://example.com/a/up.html',
         'https://example.com/rooted?x=' || doc_id,
         'https://example.com/a/' || doc_id || '/page.html?q=2',
         'https://cdn.example.com/c' || doc_id || '.js',
         'https://example.com/a/' || doc_id || '/sib.html',
         'https://example.com/a/' || doc_id || '/unq' || doc_id || '.html']) AS link
       FROM documents"""

  // the SQL mirror of the extraction + normalization chain (outlinks):
  // DuckDB RE2 twins of the Java-regex ∩ RE2 common-subset patterns,
  // parameterized on the rebuilt page so every link query's oracle
  // REPLAYS the same chain over its own fixture
  private def linkExtractCtes(pageSql: String): String =
    s"""WITH raw AS (SELECT doc_id, $pageSql AS page FROM documents),
       ex AS (SELECT doc_id, list_distinct(list_transform(
           list_filter(
             regexp_extract_all(page,
               '(?i)\\b(?:href|src)\\s*=\\s*["'']([^"'']+)["'']', 1) ||
             regexp_extract_all(page,
               '(?i)\\b(?:href|src)[\\s\\x0B]*=[\\s\\x0B]*([^\\s\\x0B"''<>`]+)', 1),
             u -> regexp_matches(u, '(?i)^https?://')),
           u -> ${normalizeUrlSql("u")})) AS links
         FROM raw)"""

  // warc_links: the page rebuilt in SQL, then the SAME extraction and
  // normalization chain replayed
  private val warcLinksExtractSql = linkExtractCtes(
    """'<html><body><a href="HTTP://Example.COM:80/path/' || doc_id ||
       '?q=1#frag">x</a> <img src=''https://CDN.example.com:443/img/' ||
       doc_id || '.png''/> <a href="https://other.example.com:8443/keep?id=' ||
       doc_id || '#s">y</a> <a href="/relative/skip">z</a> ' ||
       '<a href="mailto:a@b.c">m</a> <a href="HTTP://Example.COM:80/path/' ||
       doc_id || '?q=1">dup</a> <a href=HTTP://Example.COM:80/unq/' ||
       doc_id || '?u=1>uq</a> <a href=/rel/unq>ru</a> ' ||
       text || '</body></html>'""")

  private val warcLinksOracle = warcLinksExtractSql +
    " SELECT doc_id, unnest(links) AS link FROM ex"

  /** The anchor page behind `warc_links_follow`: followed, nofollow'd
    * (quoted, unquoted, token-list), unquoted-href-followed, an img
    * outside the anchor scope, and the two ADVERSARIAL arms the
    * attribute walk exists for — `rel=nofollow` INSIDE the href value
    * (must stay followed) and an unquoted non-nofollow rel beside an
    * href containing the letters 'nofollow' (must stay followed). */
  private def followLinksPage: org.apache.spark.sql.Column = concat(
    lit("<html><a href=\"https://ex.com/keep"), col("doc_id"),
    lit("\">k</a> <a rel=\"nofollow\" href=\"https://ex.com/nf"),
    col("doc_id"),
    lit("\">n</a> <a href=\"https://ex.com/nf2"), col("doc_id"),
    lit("\" rel=nofollow>n2</a> " +
      "<a rel=\"external nofollow\" href=\"https://ex.com/nf3"), col("doc_id"),
    lit("\">n3</a> <a href=https://ex.com/unq"), col("doc_id"),
    lit(" rel=\"me\">u</a> <img src=\"https://ex.com/img"), col("doc_id"),
    lit(".png\"> <a href=\"https://ex.com/q"), col("doc_id"),
    lit("?rel=nofollow\">adv1</a> <a rel=me href=https://ex.com/adv"),
    col("doc_id"),
    lit("-nofollow>adv2</a> "), col("text"), lit("</html>"))

  /** The normalizeUrl chain as DuckDB SQL over expression `u` — shared
    * by every link-oracle replay. */
  private def normalizeUrlSql(u: String): String =
    s"""regexp_replace(regexp_replace(
       lower(regexp_extract(split_part($u, '#', 1),
         '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)) ||
       regexp_replace(split_part($u, '#', 1),
         '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', ''),
       '^(http://[^/:?]*):80($$|[/?])', '\\1\\2'),
       '^(https://[^/:?]*):443($$|[/?])', '\\1\\2')"""

  // warc_links_follow: RECONSTRUCTION oracle — the attribute-walk
  // semantics ([[graft.pipeline.HtmlAttr]]) are not SQL-replayable (a
  // regex replay would share the exact false-match modes the walk
  // exists to fix), so HtmlAttrSpec's adversarial vectors pin the
  // algorithm and this pins the plumbing: anchors-only scope, nofollow
  // drop, href walk, filter, normalization, dedup, explode
  private val warcLinksFollowOracle =
    """SELECT doc_id, unnest([
         'https://ex.com/keep' || doc_id,
         'https://ex.com/unq' || doc_id,
         'https://ex.com/q' || doc_id || '?rel=nofollow',
         'https://ex.com/adv' || doc_id || '-nofollow']) AS link
       FROM documents"""

  // curate_robots_meta: reconstruction oracle (same rationale), arms:
  // noindex+nofollow / nofollow-only / unquoted NOINDEX / decoys incl.
  // name=robots inside another attribute's VALUE (never gates) / none
  private val robotsMetaOracle =
    """SELECT doc_id,
       CASE CAST(doc_id % 5 AS INTEGER)
         WHEN 0 THEN true WHEN 2 THEN true WHEN 4 THEN true
         ELSE false END AS noindex,
       CASE CAST(doc_id % 5 AS INTEGER)
         WHEN 0 THEN true WHEN 1 THEN true WHEN 4 THEN true
         ELSE false END AS nofollow
       FROM documents"""

  /** The tracking-param page behind `warc_frontier`: params surviving
    * around stripped ones, an all-stripped query, an untouched query,
    * and two links that unify only post-strip. Absolute links, so the
    * oracle replays the WHOLE chain. */
  private def frontierPage: org.apache.spark.sql.Column = concat(
    lit("<html><a href=\"https://Example.COM/track"), col("doc_id"),
    lit(".html?utm_source=x&id="), col("doc_id"),
    lit("&fbclid=z\">a</a> <a href=\"https://example.com/all"), col("doc_id"),
    lit(".html?utm_campaign=c&gclid=g\">b</a> " +
      "<a href=\"https://example.com/keep.html?a=1&b="), col("doc_id"),
    lit("\">c</a> <a href=\"https://example.com/track"), col("doc_id"),
    lit(".html?id="), col("doc_id"),
    lit("&utm_medium=m\">d</a> <a href=\"/rel\">r</a> "),
    col("text"), lit("</html>"))

  // warc_frontier: the same extraction chain, then the strip replayed
  // with DuckDB list functions (filter params, keep order, drop the '?'
  // when nothing survives), then the post-strip dedup
  private val warcFrontierOracle = linkExtractCtes(
    """'<html><a href="https://Example.COM/track' || doc_id ||
       '.html?utm_source=x&id=' || doc_id ||
       '&fbclid=z">a</a> <a href="https://example.com/all' || doc_id ||
       '.html?utm_campaign=c&gclid=g">b</a> <a href="https://example.com/keep.html?a=1&b=' ||
       doc_id || '">c</a> <a href="https://example.com/track' || doc_id ||
       '.html?id=' || doc_id ||
       '&utm_medium=m">d</a> <a href="/rel">r</a> ' || text || '</html>'""") +
    """, st AS (SELECT doc_id, list_distinct(list_transform(links, u ->
         CASE WHEN strpos(u, '?') = 0 THEN u
              WHEN len(list_filter(string_split(substr(u, strpos(u, '?') + 1), '&'),
                     p -> NOT regexp_matches(p, '(?i)^(utm_[a-z0-9_]*|gclid|fbclid|msclkid)='))) > 0
                THEN split_part(u, '?', 1) || '?' ||
                  array_to_string(list_filter(string_split(substr(u, strpos(u, '?') + 1), '&'),
                    p -> NOT regexp_matches(p, '(?i)^(utm_[a-z0-9_]*|gclid|fbclid|msclkid)=')), '&')
              ELSE split_part(u, '?', 1) END)) AS links FROM ex)
       SELECT doc_id, unnest(links) AS link FROM st"""

  // the frontier oracle wrapped as a subquery, anti-filtered by the
  // reconstructed visited set — the same loop-closure the Spark query
  // expresses as a broadcast left_anti join
  private def warcFrontierNewOracle =
    s"""SELECT f.doc_id, f.link FROM ($warcFrontierOracle) f
       WHERE f.link NOT IN (
         SELECT 'https://example.com/track' || doc_id || '.html?id=' || doc_id
         FROM documents)"""

  private val warcLinkDomainsOracle = warcLinksExtractSql +
    """, l AS (SELECT doc_id, unnest(links) AS link FROM ex)
       SELECT regexp_extract(link, '^https?://([^/:?]+)', 1) AS domain,
         count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
       FROM l GROUP BY 1"""

  // source_warc_http_text and its SQL twin share this oracle, GENERATED
  // from the same marker table the fixture encodes — only the right
  // charset ladder (transport param, cp1252 superset, BOM consumption,
  // meta prescan, unknown fallback) reproduces these strings
  private val warcHttpTextOracle = {
    def sq(s: String) = s.replace("'", "''")
    s"""SELECT doc_id,
       CASE CAST(doc_id % 6 AS INTEGER)
         WHEN 0 THEN text || '${sq(CharsetMarks(0))}'
         WHEN 1 THEN text || '${sq(CharsetMarks(1))}'
         WHEN 2 THEN text || '${sq(CharsetMarks(2))}'
         WHEN 3 THEN '${sq(CharsetMetaPrefix)}' || text || '${sq(CharsetMarks(3))}'
         WHEN 4 THEN text || '${sq(CharsetMarks(4))}'
         ELSE text || '${sq(CharsetMarks(5))}' END AS http_text
       FROM documents"""
  }

  // source_warc_http: the oracle rebuilds the raw HTTP head with the
  // same doc_id-derived variation and RE-PARSES status and content-type
  // out of it with string ops; body = text pins the chunk decoder
  // (concatenated chunks must restore the exact document)
  private val warcHttpOracle =
    """WITH raw AS (SELECT doc_id, text,
         CASE WHEN doc_id % 3 = 1 THEN 'HTTP/1.1 301 Moved Permanently'
              WHEN doc_id % 3 = 2 THEN 'HTTP/1.1 404 Not Found'
              ELSE 'HTTP/1.1 200 OK' END || chr(13) || chr(10) ||
         'Content-Type: ' ||
         CASE WHEN doc_id % 2 = 0 THEN 'text/html; charset=utf-8'
              ELSE 'text/plain' END || chr(13) || chr(10) AS head
       FROM documents)
       SELECT doc_id,
         CAST(split_part(head, ' ', 2) AS INTEGER) AS http_status,
         split_part(split_part(head, 'Content-Type: ', 2), chr(13), 1)
           AS http_content_type,
         text AS body
       FROM raw"""

  // dedup_containment and its dedup_pairs-TVF twin share this oracle
  private val containmentPairsOracle =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
       s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
       e AS (SELECT doc_id, unnest(sh) AS g FROM s),
       sz AS (SELECT doc_id, len(sh) AS sz FROM s),
       c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT id_a, id_b, round(common / least(sa.sz, sb.sz), 6) AS containment
       FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
       WHERE common / least(sa.sz, sb.sz) >= 0.6"""

  // dedup_containment_inc and its stored-state twin share this oracle
  private val containmentIncOracle =
    """WITH d AS (SELECT doc_id, text,
            ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
          FROM documents),
       ba AS (SELECT doc_id, text FROM d WHERE bkt < 100000),
       co AS (SELECT doc_id, text FROM d WHERE bkt >= 100000
              UNION ALL SELECT doc_id + 10000000, text FROM d WHERE bkt < 50000),
       ta AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM ba),
       tc AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM co),
       sa AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM ta),
       sc AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM tc),
       ea AS (SELECT doc_id, unnest(sh) AS g FROM sa),
       ec AS (SELECT doc_id, unnest(sh) AS g FROM sc),
       za AS (SELECT doc_id, len(sh) AS sz FROM sa),
       zc AS (SELECT doc_id, len(sh) AS sz FROM sc),
       c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             FROM ea a JOIN ec b ON a.g = b.g GROUP BY 1, 2)
       SELECT id_a, id_b, round(common / least(za.sz, zc.sz), 6) AS containment
       FROM c JOIN za ON c.id_a = za.doc_id JOIN zc ON c.id_b = zc.doc_id
       WHERE common / least(za.sz, zc.sz) >= 0.6"""

  // warc_to_text: page wrap rebuilt in SQL, then every stage replayed
  // with its family's existing mirror — strip (text_strip_markup's
  // expression), normalize (text_clean's), langId (generated from the
  // marker table over the derived `cl` CTE), Gopher (text_gopher_rules'
  // integer-threshold arithmetic over the STRIPPED text)
  private val warcToTextOracle = {
    val langSql = TextAnalysis.langIdOracleSqlOver("cl", "clean")
    s"""WITH raw AS (SELECT doc_id,
         '<p class="x">' || text || '</p> &amp;gt; <b>bold</b> &lt;tag&gt; a&#39;b &quot;q&quot;' AS page
       FROM documents),
       cl AS (SELECT doc_id, trim(regexp_replace(
           replace(replace(replace(replace(replace(
             regexp_replace(page, '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS clean FROM raw),
       nrm AS (SELECT doc_id, md5(lower(trim(regexp_replace(
           regexp_replace(clean, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
           '\\s+', ' ', 'g')))) AS norm_md5 FROM cl),
       lang AS ($langSql),
       gw AS (SELECT doc_id,
           list_filter(string_split_regex(trim(clean), '\\s+'), x -> len(x) > 0) AS words,
           string_split(clean, chr(10)) AS lines,
           len(regexp_extract_all(clean, '#')) + len(regexp_extract_all(clean, '\\.\\.\\.'))
             + len(regexp_extract_all(clean, '…')) AS sym
         FROM cl),
       gc AS (SELECT doc_id, len(words) AS nw, len(lines) AS nl, sym,
           COALESCE(CAST(list_sum(list_transform(words, x -> len(x))) AS BIGINT), 0) AS chars,
           len(list_filter(lines, l -> regexp_matches(trim(l), '^[-•*]'))) AS bul,
           len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS ell,
           len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
           len(list_intersect(list_distinct(list_transform(words, x -> lower(x))),
             ['the','be','to','of','and','that','have','with'])) AS sw
         FROM gw),
       gf AS (SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
           CAST(CASE WHEN nw >= 50 AND nw <= 100000 AND chars >= nw * 3 AND chars <= nw * 10
                      AND sym * 10 <= nw AND bul * 10 <= nl * 9 AND ell * 10 <= nl * 3
                      AND alpha * 5 >= nw * 4 AND sw >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass
         FROM gc)
       SELECT cl.doc_id AS doc_id, lang.lang_pred, nrm.norm_md5, gf.n_words, gf.pass
       FROM cl JOIN lang USING (doc_id) JOIN nrm USING (doc_id) JOIN gf USING (doc_id)"""
  }

  // dedup_semantic_inc and its stored-state/TVF twins share this oracle
  private val semDedupIncOracle = Dedup.semDedupIncOracleSql("embeddings",
    "vec_id", "embedding", graft.pipeline.DemoModels.SemCentroids, 64, 8, 0.35,
    "vec_id % 10 = 0")

  // the two source_warc_* queries (plain / gzip) share this oracle:
  // content_length is the UTF-8 byte length the connector framed
  private val warcRoundtripOracle =
    """SELECT doc_id, text,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_length
       FROM documents"""

  // dedup_winnow_inc and its stored-state/TVF twins share this oracle:
  // the winnow sketch replayed over both sides of the batch/corpus
  // split, cross-side shared-fingerprint counts only
  private val winnowCrossOracle =
    """WITH d AS (SELECT doc_id, text,
              ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
            FROM documents),
       ba AS (SELECT doc_id, lower(trim(text)) AS t FROM d WHERE bkt < 100000),
       co AS (SELECT doc_id, lower(trim(text)) AS t FROM d WHERE bkt >= 100000
              UNION ALL SELECT doc_id + 10000000, lower(trim(text)) FROM d WHERE bkt < 50000),
       gb AS (SELECT doc_id,
                list_transform(range(0, greatest(length(t) - 5 + 1, 1)),
                  i -> ('0x' || substring(md5(substring(t, i::INT + 1, 5)), 1, 15))::BIGINT) AS hs
              FROM ba),
       gc AS (SELECT doc_id,
                list_transform(range(0, greatest(length(t) - 5 + 1, 1)),
                  i -> ('0x' || substring(md5(substring(t, i::INT + 1, 5)), 1, 15))::BIGINT) AS hs
              FROM co),
       fb AS (SELECT doc_id,
                unnest(list_distinct(list_transform(range(0, greatest(len(hs) - 4 + 1, 1)),
                  w -> list_min(hs[w::INT + 1 : w::INT + 4])))) AS fp
              FROM gb),
       fc AS (SELECT doc_id,
                unnest(list_distinct(list_transform(range(0, greatest(len(hs) - 4 + 1, 1)),
                  w -> list_min(hs[w::INT + 1 : w::INT + 4])))) AS fp
              FROM gc)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       FROM fb a JOIN fc b ON a.fp = b.fp
       GROUP BY 1, 2 HAVING count(*) >= 50"""

  // dedup_winnow and its dedup_pairs-TVF twin share this oracle
  private val winnowPairsOracle =
    """WITH p AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
       g AS (SELECT doc_id,
               list_transform(range(0, greatest(length(t) - 5 + 1, 1)),
                 i -> ('0x' || substring(md5(substring(t, i::INT + 1, 5)), 1, 15))::BIGINT) AS hs
             FROM p),
       f AS (SELECT doc_id,
               unnest(list_distinct(list_transform(range(0, greatest(len(hs) - 4 + 1, 1)),
                 w -> list_min(hs[w::INT + 1 : w::INT + 4])))) AS fp
             FROM g)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= 50"""

  // dedup_minhash_inc and its stored-state twin share this oracle
  private val minhashIncOracle =
      """WITH d AS (SELECT doc_id, text,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
              FROM documents),
         ba AS (SELECT doc_id, text FROM d WHERE bkt < 100000),
         co AS (SELECT doc_id, text FROM d WHERE bkt >= 100000
                UNION ALL SELECT doc_id + 10000000, text FROM d WHERE bkt < 50000),
         ta AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM ba),
         tc AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM co),
         sa AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM ta),
         sc AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM tc),
         ea AS (SELECT doc_id, unnest(sh) AS g FROM sa),
         ec AS (SELECT doc_id, unnest(sh) AS g FROM sc),
         za AS (SELECT doc_id, len(sh) AS sz FROM sa),
         zc AS (SELECT doc_id, len(sh) AS sz FROM sc),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM ea a JOIN ec b ON a.g = b.g GROUP BY 1, 2)
         SELECT id_a, id_b, round(common / (x.sz + y.sz - common), 6) AS jaccard
         FROM c JOIN za x ON c.id_a = x.doc_id JOIN zc y ON c.id_b = y.doc_id
         WHERE common / (x.sz + y.sz - common) >= 0.5"""

  // multimodal_dhash_pairs_incr and its hamming_pairs_stored-TVF
  // twin share this oracle
  private val dhashPairsIncrOracle =
      """WITH ks AS (SELECT DISTINCT doc_id % 97 AS k FROM documents),
         p AS (SELECT k, (k % 24) + 1 AS w, (k % 20) + 1 AS h FROM ks),
         v AS (SELECT * FROM p WHERE w >= 9 AND h >= 8),
         px AS (SELECT k, w, h, x.x, y.y FROM v,
                LATERAL (SELECT unnest(range(0, w)) AS x) x,
                LATERAL (SELECT unnest(range(0, h)) AS y) y),
         lum AS (SELECT k,
                   least((x * 9) // w, 8) AS c, least((y * 8) // h, 7) AS r,
                   (299 * (((k*31 + x*7 + y*131) % 16777216) // 65536)
                    + 587 * ((((k*31 + x*7 + y*131) % 16777216) // 256) % 256)
                    + 114 * (((k*31 + x*7 + y*131) % 16777216) % 256)) // 1000 AS l
                 FROM px),
         cells AS (SELECT k, r, c, sum(l) AS s, count(*) AS n
                   FROM lum GROUP BY k, r, c),
         bits AS (SELECT a.k, (a.r * 8 + a.c) AS bk,
                    CASE WHEN a.s * b.n < b.s * a.n THEN 1 ELSE 0 END AS bit
                  FROM cells a JOIN cells b
                    ON a.k = b.k AND a.r = b.r AND b.c = a.c + 1),
         hsh AS (SELECT k,
                   sum(CASE WHEN bit = 1 THEN (1::UBIGINT << bk::INT)
                       ELSE 0::UBIGINT END)::UBIGINT AS dh
                 FROM bits GROUP BY k),
         hh AS (SELECT v.k, coalesce(dh, 0::UBIGINT) AS dh
                FROM v LEFT JOIN hsh ON v.k = hsh.k)
         SELECT CAST(a.k AS BIGINT) AS id_a, CAST(b.k AS BIGINT) AS id_b,
           CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
         FROM hh a JOIN hh b ON a.k % 5 = 0 AND a.k != b.k
         WHERE bit_count(xor(a.dh, b.dh)) <= 8"""

  def oracleSql: Map[String, String] = Map(
    "fuzzy_join_levenshtein" -> levenshteinJoinOracle,
    "fuzzy_join_sql" -> levenshteinJoinOracle,
    // same substring + fixed-position-deletion corpus as the bench's
    // 1.4e9-pair forced-exact row, at the verify scale factor
    "fuzzy_join_bench1g" ->
      """WITH lefts AS (
           SELECT DISTINCT substring(text, off, 18) AS name
           FROM documents, (SELECT unnest([1,11,21,31,41,51,61,71,81,91]) AS off)
           WHERE length(text) >= off + 18 AND length(substring(text, off, 18)) = 18),
         rights AS (
           SELECT DISTINCT concat(substring(v, 1, 6), substring(v, 8)) AS name_t FROM (
             SELECT DISTINCT substring(text, off, 18) AS v
             FROM documents, (SELECT unnest([3,13,23,33,43,53,63]) AS off)
             WHERE length(text) >= off + 18 AND length(substring(text, off, 18)) = 18))
         SELECT name, name_t,
           round(1.0 - levenshtein(lower(name), lower(name_t)) / greatest(length(name), length(name_t)), 6) AS score
         FROM lefts CROSS JOIN rights
         WHERE levenshtein(lower(name), lower(name_t)) / greatest(length(name), length(name_t)) <= 0.1""",
    "fuzzy_join_damerau" ->
      """SELECT c.c_custkey AS c_custkey, s.s_suppkey AS s_suppkey,
         round(1.0 - damerau_levenshtein(lower(c.c_name), lower(s.s_name)) / greatest(length(c.c_name), length(s.s_name)), 6) AS score
         FROM customer c CROSS JOIN supplier s
         WHERE damerau_levenshtein(lower(c.c_name), lower(s.s_name)) / greatest(length(c.c_name), length(s.s_name)) <= 0.3""",
    "fuzzy_join_jaro" ->
      """SELECT c.c_custkey AS c_custkey, s.s_suppkey AS s_suppkey,
         round(jaro_similarity(lower(c.c_name), lower(s.s_name)), 6) AS score
         FROM customer c CROSS JOIN supplier s
         WHERE 1.0 - jaro_similarity(lower(c.c_name), lower(s.s_name)) <= 0.2""",
    "fuzzy_join_jaro_winkler" ->
      """SELECT a.c_custkey AS c_custkey, b.c_custkey AS c_custkey_right,
         round(jaro_winkler_similarity(lower(a.c_name), lower(b.c_name)), 6) AS score
         FROM customer a CROSS JOIN customer b
         WHERE 1.0 - jaro_winkler_similarity(lower(a.c_name), lower(b.c_name)) <= 0.1""",
    "fuzzy_join_hamming" ->
      """SELECT a.c_custkey AS c_custkey, b.c_custkey AS c_custkey_right,
         round(1.0 - hamming(lower(a.c_name), lower(b.c_name)) / greatest(length(a.c_name), length(b.c_name)), 6) AS score
         FROM customer a CROSS JOIN customer b
         WHERE hamming(lower(a.c_name), lower(b.c_name)) / greatest(length(a.c_name), length(b.c_name)) <= 0.2""",
    // LCS via an anti-diagonal DP: diagonal d holds dp(i, j) for i + j = d;
    // each cell needs only the previous two diagonals, so one recursion
    // step computes a whole diagonal with independent list lambdas (the
    // row-major DP would need an in-row prefix dependency). indel distance
    // = la + lb - 2*LCS, normalized by (la + lb) like the kernel.
    "fuzzy_join_indel" ->
      """WITH p AS (SELECT c.c_custkey, s.s_suppkey, lower(c.c_name) AS a, lower(s.s_name) AS b,
                length(c.c_name) AS la, length(s.s_name) AS lb
              FROM customer c CROSS JOIN supplier s),
         rec AS (
           WITH RECURSIVE dp(c_custkey, s_suppkey, a, b, la, lb, d, prev2, prev1) AS (
             SELECT c_custkey, s_suppkey, a, b, la, lb, 0,
               list_transform(range(0, lb + 1), j -> 0),
               list_transform(range(0, lb + 1), j -> 0)
             FROM p
             UNION ALL
             SELECT c_custkey, s_suppkey, a, b, la, lb, d + 1, prev1,
               list_transform(range(0, lb + 1), j ->
                 CASE WHEN d + 1 - j BETWEEN 1 AND la AND j >= 1 THEN
                   greatest(prev1[j + 1], prev1[j],
                     prev2[j] + CASE WHEN substring(a, (d + 1 - j)::INT, 1) = substring(b, j::INT, 1) THEN 1 ELSE 0 END)
                 ELSE 0 END)
             FROM dp WHERE d < la + lb)
           SELECT c_custkey, s_suppkey, la, lb, prev1[lb + 1] AS lcs FROM dp WHERE d = la + lb)
         SELECT c_custkey, s_suppkey,
           round(1.0 - (la + lb - 2.0*lcs) / (la + lb), 6) AS score
         FROM rec WHERE (la + lb - 2.0*lcs) / (la + lb) <= 0.3""",
    "fuzzy_join_multi" -> multiJoinOracle,
    "fuzzy_join_multi_sql" -> multiJoinOracle,
    "fuzzy_self_dedup" ->
      """SELECT a.c_custkey AS c_custkey, b.c_custkey AS c_custkey_right,
         round(1.0 - levenshtein(lower(a.c_name), lower(b.c_name)) / greatest(length(a.c_name), length(b.c_name)), 6) AS score
         FROM customer a CROSS JOIN customer b
         WHERE a.c_custkey < b.c_custkey
           AND levenshtein(lower(a.c_name), lower(b.c_name)) / greatest(length(a.c_name), length(b.c_name)) <= 0.1""",
    "dedup_exact" ->
      """SELECT text, min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY text""",
    // same chunk construction as curate_chunks at stride = width = 16
    // (non-overlapping); keep-first = arg-min over the packed
    // (doc_id, chunk_index) long
    "dedup_chunk_exact" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         c AS (SELECT doc_id, unnest(list_transform(range(0, CAST(floor((len(w)-1)/16) AS INT) + 1),
                 i -> struct_pack(idx := i, txt := array_to_string(w[(i*16+1)::INT : (i*16+16)::INT], ' ')))) AS ch
               FROM t)
         SELECT arg_min(doc_id, doc_id * 1000000 + ch.idx) AS doc_id,
                CAST(arg_min(ch.idx, doc_id * 1000000 + ch.idx) AS BIGINT) AS chunk_index,
                md5(ch.txt) AS chunk_md5,
                count(*) AS dup_count
         FROM c GROUP BY md5(ch.txt)""",
    "dedup_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         sz AS (SELECT doc_id, len(sh) AS sz FROM s),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT id_a, id_b, round(common / (sa.sz + sb.sz - common), 6) AS jaccard
         FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
         WHERE common / (sa.sz + sb.sz - common) >= 0.5""",
    // identical shingle family; score divides by the SMALLER set instead of
    // the union, so subset inclusions surface at high thresholds
    "dedup_containment" -> containmentPairsOracle,
    // the TVF twin shares it verbatim
    "dedup_containment_sql" -> containmentPairsOracle,
    // the cross-side containment twin: same shingle construction over
    // the batch/corpus split, batch-x-corpus pairs only; the
    // stored-state twin shares it verbatim
    "dedup_containment_inc" -> containmentIncOracle,
    "dedup_containment_inc_stored" -> containmentIncOracle,
    // ground truth for the LSH-candidates + exact-verify pipeline: identical
    // shingle construction, threshold 0.5 (recall of the candidate stage is
    // ~1 for the high-jaccard near-dups this detects; the AnnJoin/Dedup
    // specs assert the recall bound independently)
    "dedup_minhash_lsh" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         sz AS (SELECT doc_id, len(sh) AS sz FROM s),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT id_a, id_b, round(common / (sa.sz + sb.sz - common), 6) AS jaccard
         FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
         WHERE common / (sa.sz + sb.sz - common) >= 0.5""",
    // MD5-token simhash recomputed bit-for-bit, then brute-force hamming
    // pairs (the Spark side's pigeonhole blocking is exact when uncapped)
    "dedup_simhash" -> simhashPairsOracle,
    // the dedup_pairs TVF front door: identical semantics, one oracle
    "dedup_simhash_sql" -> simhashPairsOracle,
    // predicted = the simhash CTE family, truth = the jaccard family
    // (both individually oracled above); the eval row checks the exact
    // integer counts and the three rounded micro ratios
    "dedup_eval" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         sz AS (SELECT doc_id, len(sh) AS sz FROM s),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
         truth AS (SELECT id_a, id_b
               FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
               WHERE common / (sa.sz + sb.sz - common) >= 0.5),
         tk AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
         h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS th FROM tk),
         bt AS (SELECT doc_id, bit, sum(CASE WHEN (th >> bit::INT) & 1 = 1 THEN 1 ELSE -1 END) AS vote
               FROM h, range(64) r(bit) GROUP BY doc_id, bit),
         sg AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::UBIGINT << bit::INT) ELSE 0::UBIGINT END)::UBIGINT AS sh
               FROM bt GROUP BY doc_id),
         pred AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM sg a JOIN sg b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.sh, b.sh)) <= 8),
         st AS (SELECT (SELECT count(*) FROM pred) AS n_pred,
                       (SELECT count(*) FROM truth) AS n_truth,
                       (SELECT count(*) FROM pred p JOIN truth tr
                          ON p.id_a = tr.id_a AND p.id_b = tr.id_b) AS n_hit)
         SELECT n_pred, n_truth, n_hit,
           CASE WHEN n_pred > 0 THEN round(n_hit / n_pred, 6) ELSE 0.0 END AS precision,
           CASE WHEN n_truth > 0 THEN round(n_hit / n_truth, 6) ELSE 0.0 END AS recall,
           CASE WHEN n_pred + n_truth > 0 THEN round(2.0 * n_hit / (n_pred + n_truth), 6) ELSE 0.0 END AS f1
         FROM st""",
    "dedup_near_cluster" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         sz AS (SELECT doc_id, len(sh) AS sz FROM s),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
         p AS (SELECT id_a, id_b FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
               WHERE common / (sa.sz + sb.sz - common) >= 0.5),
         edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
         SELECT d.doc_id AS doc_id FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
         WHERE comp.id IS NULL OR comp.comp = d.doc_id""",
    // same component resolution, then the family rollup + the min-id
    // representative's label attached to every member
    "dedup_cluster_labels" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         sz AS (SELECT doc_id, len(sh) AS sz FROM s),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
         p AS (SELECT id_a, id_b FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
               WHERE common / (sa.sz + sb.sz - common) >= 0.5),
         edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a),
         cl AS (SELECT d.doc_id, d.lang, d.n_chars,
                  COALESCE(c2.comp, d.doc_id) AS cluster_id
                FROM documents d LEFT JOIN comp c2 ON d.doc_id = c2.id),
         st AS (SELECT cluster_id, count(*) AS cluster_size,
                  max(n_chars) AS best_n_chars, min(doc_id) AS rep
                FROM cl GROUP BY 1)
         SELECT cl.doc_id, cl.cluster_id, st.cluster_size, st.best_n_chars,
           r.lang AS rep_lang
         FROM cl JOIN st USING (cluster_id) JOIN documents r ON st.rep = r.doc_id""",
    // same component resolution; representative = arg-max n_chars per
    // component (ties to min id) instead of min id
    "dedup_cluster_best" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         sz AS (SELECT doc_id, len(sh) AS sz FROM s),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
         p AS (SELECT id_a, id_b FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
               WHERE common / (sa.sz + sb.sz - common) >= 0.5),
         edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a),
         j AS (SELECT comp.comp AS cmp, comp.id AS id, d.n_chars AS n_chars
               FROM comp JOIN documents d ON comp.id = d.doc_id),
         r AS (SELECT cmp, id, row_number() OVER (PARTITION BY cmp ORDER BY n_chars DESC, id) AS rk FROM j)
         SELECT d.doc_id AS doc_id FROM documents d
         WHERE d.doc_id NOT IN (SELECT id FROM r WHERE rk != 1)""",
    // cosine-pair edges through the recursive component resolution
    "dedup_cosine_cluster" ->
      """WITH RECURSIVE
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
               FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
               WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
         edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
         SELECT e.vec_id AS vec_id FROM embeddings e LEFT JOIN comp ON e.vec_id = comp.id
         WHERE comp.id IS NULL OR comp.comp = e.vec_id""",
    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""",
    // single-sourced replay: the oracle SQL is GENERATED from the same
    // pinned centroid array the Spark plan consumes
    "dedup_semantic" -> Dedup.semDedupOracleSql("embeddings", "vec_id", "embedding",
      graft.pipeline.DemoModels.SemCentroids, 64, 8, 0.35),
    "dedup_semantic_inc" -> semDedupIncOracle,
    // the stored SemDeDup state and its semdedup_pairs_stored TVF front
    // door flag the same batch against the same corpus: one oracle
    "dedup_semantic_inc_stored" -> semDedupIncOracle,
    "dedup_semantic_stored_sql" -> semDedupIncOracle,
    // same integer-quantized bucketing as ann_cosine_lsh; bands = 4 of
    // 4 bits (perBand = planes / bands = 4, mask 15)
    "dedup_cosine_lsh" ->
      """WITH pl AS (SELECT p, d,
                (('0x' || substring(md5(p || '_' || d), 1, 15))::BIGINT % 2097152) - 1048576 AS comp
              FROM range(16) tp(p), range(64) td(d)),
         pv AS (SELECT p, list(comp ORDER BY d) AS pc FROM pl GROUP BY p),
         qn AS (SELECT vec_id,
                  list_transform(range(1, 65), i -> CAST(floor(embedding[i]::DOUBLE * 4096) AS BIGINT)) AS qv
                FROM embeddings),
         db AS (SELECT vec_id,
                  CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> qv[i] * pc[i])) > 0
                        THEN (1::BIGINT << p::INT) ELSE 0::BIGINT END) AS BIGINT) AS bits
                FROM qn CROSS JOIN pv GROUP BY vec_id),
         bd AS (SELECT vec_id, c AS band, (bits >> (4*c)::INT) & 15 AS bkey FROM db, range(4) rc(c)),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM bd a JOIN bd b ON a.band = b.band AND a.bkey = b.bkey
                  WHERE a.vec_id < b.vec_id)
         SELECT id_a, id_b,
           round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6) AS cosine
         FROM cand JOIN embeddings x ON cand.id_a = x.vec_id
                   JOIN embeddings y ON cand.id_b = y.vec_id
         WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.4""",
    // full-probe IVF == brute force by construction -> same ground truth
    "ann_cosine_ivf" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         s AS (SELECT query_id, c.vec_id AS corpus_id,
                      list_cosine_similarity(qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
               FROM q CROSS JOIN embeddings c WHERE c.vec_id != query_id),
         r AS (SELECT query_id, corpus_id, cos,
                      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
               FROM s)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 10""",
    "ann_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id < 10),
         s AS (SELECT query_id, c.vec_id AS corpus_id,
                      list_cosine_similarity(qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
               FROM q CROSS JOIN embeddings c
               WHERE c.vec_id != query_id AND c.label != ql),
         r AS (SELECT query_id, corpus_id, cos,
                      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
               FROM s)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 5""",
    // both filtered variants reduce to the same exact filtered brute
    // force (pre-filter is exact; the IVF run probes all cells)
    "ann_cosine_filtered" -> filteredAnnOracle,
    "ann_filtered_ivf" -> filteredAnnOracle,
    "ann_cosine_topk" -> bruteTopKOracle,
    // the ann_topk TVF front door: identical semantics, one oracle
    "ann_topk_sql" -> bruteTopKOracle,
    // full-probe IVF + int8 re-rank provably equals the brute-force int8
    // search (a corpus row lives in exactly one cell), so the same
    // exact-integer SQL is its oracle
    "ann_cosine_ivf_int8" ->
      """WITH z AS (SELECT vec_id, embedding,
                list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
              FROM embeddings),
         qz AS (SELECT vec_id,
                  CASE WHEN ma > 0
                       THEN list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma) AS BIGINT))
                       ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
                FROM z),
         n AS (SELECT vec_id, q,
                 CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM qz),
         qs AS (SELECT vec_id AS query_id, q AS qq, n2 AS qn FROM n
                WHERE vec_id < 10 AND n2 > 0),
         cs AS (SELECT vec_id AS corpus_id, q AS cq, n2 AS cn FROM n WHERE n2 > 0),
         s AS (SELECT query_id, corpus_id,
                      CAST(list_sum(list_transform(range(1, 65), i -> qq[i] * cq[i])) AS BIGINT) AS dot,
                      qn, cn
               FROM qs CROSS JOIN cs WHERE corpus_id != query_id),
         r AS (SELECT query_id, corpus_id,
                      CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS qc,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
                                 corpus_id) AS rank
               FROM s)
         SELECT query_id, corpus_id, round(qc, 6) AS qcosine, rank FROM r WHERE rank <= 10""",
    // int8 quantization: q = floor(v * 127 / max|v|) — float->double
    // widening is exact and floor avoids cross-engine round-tie rules; the
    // quantized dots/norms are exact BIGINT arithmetic, and the final
    // divide/sqrt are single correctly-rounded IEEE ops both engines
    // reproduce bit-for-bit
    "ann_cosine_int8" ->
      """WITH z AS (SELECT vec_id, embedding,
                list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
              FROM embeddings),
         qz AS (SELECT vec_id,
                  CASE WHEN ma > 0
                       THEN list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma) AS BIGINT))
                       ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
                FROM z),
         n AS (SELECT vec_id, q,
                 CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM qz),
         qs AS (SELECT vec_id AS query_id, q AS qq, n2 AS qn FROM n
                WHERE vec_id < 10 AND n2 > 0),
         cs AS (SELECT vec_id AS corpus_id, q AS cq, n2 AS cn FROM n WHERE n2 > 0),
         s AS (SELECT query_id, corpus_id,
                      CAST(list_sum(list_transform(range(1, 65), i -> qq[i] * cq[i])) AS BIGINT) AS dot,
                      qn, cn
               FROM qs CROSS JOIN cs WHERE corpus_id != query_id),
         r AS (SELECT query_id, corpus_id,
                      CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS qc,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
                                 corpus_id) AS rank
               FROM s)
         SELECT query_id, corpus_id, round(qc, 6) AS qcosine, rank FROM r WHERE rank <= 10""",
    // full margin-mining replay: int8-exact cosines both directions,
    // top-4 penalties as 1e-6-grid BIGINT sums (order-independent), the
    // ratio margin as one double expression over five integers, argmax
    // per src with ties to the smaller tgt id
    "embed_bitext_margin" -> BitextMarginOracle,
    // the union-rerank arm at nProbe = nCells: both probes are exact,
    // the union top-k collapses to the exact kNN lists, and the whole
    // path provably equals the brute arm — ONE oracle, single-sourced
    "embed_bitext_margin_rerank" -> BitextMarginOracle,
    // sign-LSH with md5-derived INTEGER planes and floor(v * 4096)
    // quantization: every dot product is exact integer arithmetic, so the
    // bucket assignment — and therefore the candidate set and the ranked
    // top-k — reproduces bit-for-bit across engines
    "ann_cosine_lsh" ->
      """WITH pl AS (SELECT p, d,
                (('0x' || substring(md5(p || '_' || d), 1, 15))::BIGINT % 2097152) - 1048576 AS comp
              FROM range(16) tp(p), range(64) td(d)),
         pv AS (SELECT p, list(comp ORDER BY d) AS pc FROM pl GROUP BY p),
         qn AS (SELECT vec_id,
                  list_transform(range(1, 65), i -> CAST(floor(embedding[i]::DOUBLE * 4096) AS BIGINT)) AS qv
                FROM embeddings),
         db AS (SELECT vec_id,
                  CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> qv[i] * pc[i])) > 0
                        THEN (1::BIGINT << p::INT) ELSE 0::BIGINT END) AS BIGINT) AS bits
                FROM qn CROSS JOIN pv GROUP BY vec_id),
         bd AS (SELECT vec_id, c AS band, (bits >> (2*c)::INT) & 3 AS bkey FROM db, range(8) rc(c)),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
                  FROM bd q JOIN bd c ON q.band = c.band AND q.bkey = c.bkey
                  WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
         sc AS (SELECT query_id, corpus_id,
                  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
                FROM cand JOIN embeddings a ON cand.query_id = a.vec_id
                          JOIN embeddings b ON cand.corpus_id = b.vec_id),
         r AS (SELECT query_id, corpus_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
               FROM sc)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 10""",
    // binary quantization: the Hamming candidate cut is a pure function of
    // the float sign pattern (bit j = v[j] > 0), so the top-`rerank`
    // selection (ties: hamming asc, corpus_id asc) reproduces exactly; the
    // survivors re-rank by float cosine like the brute-force oracle
    "ann_cosine_binary" ->
      """WITH h AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> CASE WHEN (q.embedding[i] > 0) <> (c.embedding[i] > 0)
                       THEN 1 ELSE 0 END)) AS BIGINT) AS ham
              FROM embeddings q CROSS JOIN embeddings c
              WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
         cand AS (SELECT query_id, corpus_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY ham ASC, corpus_id) AS hrank
                  FROM h),
         sc AS (SELECT query_id, corpus_id,
                  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
                FROM cand JOIN embeddings a ON cand.query_id = a.vec_id
                          JOIN embeddings b ON cand.corpus_id = b.vec_id
                WHERE hrank <= 40),
         r AS (SELECT query_id, corpus_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
               FROM sc)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 10""",
    // exact top-10 by cosine, labels joined, majority with (votes desc,
    // label asc) tie-break — the full label-propagation pipeline in SQL
    // self-kNN vote within the filtered subset, keep only disagreements
    "ann_label_noise" ->
      """WITH nn AS (SELECT query_id, corpus_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rank
             FROM embeddings q CROSS JOIN embeddings c
             WHERE q.vec_id < 100 AND c.vec_id < 100 AND q.vec_id != c.vec_id)
           WHERE rank <= 10),
         v AS (SELECT nn.query_id, CAST(e.label AS BIGINT) AS label,
                 count(*) AS votes
               FROM nn JOIN embeddings e ON nn.corpus_id = e.vec_id
               GROUP BY 1, 2),
         r AS (SELECT query_id, label, votes,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY votes DESC, label) AS rn FROM v)
         SELECT r.query_id AS vec_id, CAST(e.label AS BIGINT) AS label,
                r.label AS label_pred, CAST(r.votes AS BIGINT) AS votes
         FROM r JOIN embeddings e ON r.query_id = e.vec_id
         WHERE rn = 1 AND r.label != e.label""",
    "ann_knn_label" ->
      """WITH nn AS (SELECT query_id, corpus_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rank
             FROM embeddings q CROSS JOIN embeddings c
             WHERE q.vec_id < 50 AND q.vec_id != c.vec_id)
           WHERE rank <= 10),
         v AS (SELECT nn.query_id, CAST(e.label AS BIGINT) AS label,
                 count(*) AS votes
               FROM nn JOIN embeddings e ON nn.corpus_id = e.vec_id
               GROUP BY 1, 2),
         r AS (SELECT query_id, label, votes,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY votes DESC, label) AS rn FROM v)
         SELECT query_id, label AS label_pred, CAST(votes AS BIGINT) AS votes
         FROM r WHERE rn = 1""",
    // centroids via the exact quantized-sum arithmetic (embed_centroid),
    // floored onto the 4096 grid; per-vector integer L2 argmin with
    // (distance, label) tie-break — bit-identical to the PQ encode kernel
    "ann_centroid_label" ->
      """WITH cs AS (SELECT CAST(label AS BIGINT) AS label, i AS dim,
                sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) / 1000000.0 / count(*) AS centroid
              FROM (SELECT label, unnest(embedding) AS v,
                      generate_subscripts(embedding, 1) AS i FROM embeddings)
              GROUP BY 1, 2),
         cq AS (SELECT label, dim, CAST(floor(centroid * 4096) AS BIGINT) AS c FROM cs),
         qv AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                  CAST(floor(unnest(embedding)::DOUBLE * 4096) AS BIGINT) AS v
                FROM embeddings),
         d AS (SELECT qv.vec_id, cq.label,
                 sum((qv.v - cq.c) * (qv.v - cq.c)) AS dist
               FROM qv JOIN cq ON qv.dim = cq.dim GROUP BY 1, 2),
         r AS (SELECT vec_id, label,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, label) AS rn
               FROM d)
         SELECT vec_id, label AS label_pred FROM r WHERE rn = 1""",
    // chunk construction mirrors dedup_chunk_exact; exact counts at the
    // doc and chunk tiers
    "corpus_dup_stats" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         c AS (SELECT doc_id, unnest(list_transform(range(0, CAST(floor((len(w)-1)/16) AS INT) + 1),
                 i -> struct_pack(idx := i, txt := array_to_string(w[(i*16+1)::INT : (i*16+16)::INT], ' ')))) AS ch
               FROM t),
         cc AS (SELECT md5(ch.txt) AS d, count(*) AS cnt FROM c GROUP BY 1),
         ds AS (SELECT count(*) AS n_docs,
                  count(DISTINCT md5(text)) AS n_distinct_texts FROM documents)
         SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_distinct_texts AS BIGINT) AS n_distinct_texts,
           CAST(n_docs - n_distinct_texts AS BIGINT) AS dup_doc_rows,
           (SELECT CAST(sum(cnt) AS BIGINT) FROM cc) AS n_chunk_instances,
           (SELECT CAST(count(*) AS BIGINT) FROM cc) AS n_distinct_chunks,
           (SELECT CAST(COALESCE(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) AS BIGINT) FROM cc) AS dup_chunk_instances
         FROM ds""",
    // base (>= 250) plus appended batch (< 250) covers the whole table,
    // and full probe == brute force by construction — so the oracle is
    // plain exhaustive cosine top-k over embeddings
    "ann_ivf_append" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                WHERE vec_id < 10),
         s AS (SELECT query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
               FROM q CROSS JOIN embeddings c WHERE c.vec_id != query_id),
         r AS (SELECT query_id, corpus_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
               FROM s)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 10""",
    // surviving postings == kept corpus, full probe == brute force: the
    // forget oracle is the exhaustive scan with the forget filter added
    "ann_ivf_forget" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                WHERE vec_id < 10),
         s AS (SELECT query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
               FROM q CROSS JOIN embeddings c
               WHERE c.vec_id != query_id AND c.vec_id % 7 != 0),
         r AS (SELECT query_id, corpus_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
               FROM s)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 10""",
    // drift-refit POLICY replay: the shifted corpus (exact float +0.25,
    // CAST(double + 0.25 AS FLOAT) == IEEE float add), the
    // quantized-integer centroid drift (embed_drift's CTEs over old vs
    // shifted), and the served ranking CHOSEN BY the computed decision —
    // shifted-corpus brute force when max l2_move > tau (the full-probe
    // gate passes by construction: full probe == brute force => recall
    // 1.0), old-corpus brute force otherwise
    "ann_drift_refit" -> driftRefitDecisionOracle,
    // same decision replay for the PQ codebook cycle: full-rerank
    // pqTopKFromCodes == brute force over whichever corpus the served
    // codes encode, so the swap decision is the only degree of freedom
    "ann_drift_refit_pq" -> driftRefitDecisionOracle,
    // full probe + full rerank make IVF-PQ provably exhaustive, so the
    // oracle is the same brute-force cosine top-k as ann_ivf_append
    "ann_cosine_ivfpq" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                WHERE vec_id < 10),
         s AS (SELECT query_id, c.vec_id AS corpus_id,
                 list_cosine_similarity(qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
               FROM q CROSS JOIN embeddings c WHERE c.vec_id != query_id),
         r AS (SELECT query_id, corpus_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
               FROM s)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 10""",
    // the full PQ pipeline in SQL: md5 codebook -> integer encode
    // (argmin L2, ties smallest j) -> per-query LUT -> ADC sum ->
    // shortlist (adc DESC, id ASC) -> exact cosine re-rank. Every step
    // before the final cosine is BIGINT arithmetic.
    "ann_cosine_pq" ->
      """WITH cb AS (SELECT s, j, t,
                ('0x' || substring(md5('pq_' || s || '_' || j || '_' || t), 1, 15))::BIGINT % 8193 - 4096 AS comp
              FROM range(8) ts(s), range(16) tj(j), range(8) tt(t)),
         cw AS (SELECT s, j, list(comp ORDER BY t) AS cv FROM cb GROUP BY s, j),
         qv AS (SELECT vec_id,
                  list_transform(range(1, 65), i -> CAST(floor(embedding[i]::DOUBLE * 4096) AS BIGINT)) AS q
                FROM embeddings),
         dist AS (SELECT v.vec_id, w.s, w.j,
                    list_sum(list_transform(range(0, 8), t ->
                      (q[CAST(w.s*8 + t + 1 AS INT)] - cv[CAST(t + 1 AS INT)])
                      * (q[CAST(w.s*8 + t + 1 AS INT)] - cv[CAST(t + 1 AS INT)]))) AS d
                  FROM qv v CROSS JOIN cw w),
         codes AS (SELECT vec_id, s, j AS code FROM (
                     SELECT vec_id, s, j,
                       row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
                     FROM dist) WHERE rn = 1),
         lut AS (SELECT v.vec_id AS query_id, w.s, w.j,
                   CAST(list_sum(list_transform(range(0, 8), t ->
                     q[CAST(w.s*8 + t + 1 AS INT)] * cv[CAST(t + 1 AS INT)])) AS BIGINT) AS dot
                 FROM qv v CROSS JOIN cw w WHERE v.vec_id < 10),
         adc AS (SELECT l.query_id, c.vec_id AS corpus_id, sum(l.dot) AS score
                 FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.j
                 WHERE c.vec_id != l.query_id GROUP BY 1, 2),
         cand AS (SELECT query_id, corpus_id FROM (
                    SELECT query_id, corpus_id,
                      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rn
                    FROM adc) WHERE rn <= 40),
         sc AS (SELECT cand.query_id, cand.corpus_id,
                  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
                FROM cand JOIN embeddings a ON cand.query_id = a.vec_id
                          JOIN embeddings b ON cand.corpus_id = b.vec_id),
         r AS (SELECT query_id, corpus_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
               FROM sc)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank FROM r WHERE rank <= 10""",
    // radius search, exact arm: directed (query < 10) threshold pairs
    "ann_radius" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id != b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""",
    // full-probe IVF radius == brute force by construction
    "ann_radius_ivf" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id != b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""",
    // radius search on the LSH path: same md5-integer-plane bucket
    // recomputation as ann_cosine_lsh, threshold filter instead of rank
    "ann_radius_lsh" ->
      """WITH pl AS (SELECT p, d,
                (('0x' || substring(md5(p || '_' || d), 1, 15))::BIGINT % 2097152) - 1048576 AS comp
              FROM range(16) tp(p), range(64) td(d)),
         pv AS (SELECT p, list(comp ORDER BY d) AS pc FROM pl GROUP BY p),
         qn AS (SELECT vec_id,
                  list_transform(range(1, 65), i -> CAST(floor(embedding[i]::DOUBLE * 4096) AS BIGINT)) AS qv
                FROM embeddings),
         db AS (SELECT vec_id,
                  CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> qv[i] * pc[i])) > 0
                        THEN (1::BIGINT << p::INT) ELSE 0::BIGINT END) AS BIGINT) AS bits
                FROM qn CROSS JOIN pv GROUP BY vec_id),
         bd AS (SELECT vec_id, c AS band, (bits >> (2*c)::INT) & 3 AS bkey FROM db, range(8) rc(c)),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
                  FROM bd q JOIN bd c ON q.band = c.band AND q.bkey = c.bkey
                  WHERE q.vec_id < 10 AND q.vec_id != c.vec_id)
         SELECT query_id, corpus_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
         FROM cand JOIN embeddings a ON cand.query_id = a.vec_id
                   JOIN embeddings b ON cand.corpus_id = b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""",
    // deterministic shuffle-shard export: md5-keyed shard + in-shard rank
    "curate_shard" ->
      """WITH b AS (SELECT doc_id,
                (('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000) % 8 AS shard,
                md5(doc_id::VARCHAR) AS h
              FROM documents)
         SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS shard_pos
         FROM b""",
    // stride-scheduled mixture interleave: seq/weight ordering per shard
    "curate_interleave" ->
      """WITH b AS (SELECT doc_id, source,
                (('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000) % 4 AS shard,
                md5(doc_id::VARCHAR) AS h
              FROM documents WHERE source IN ('src0', 'src1')),
         s AS (SELECT doc_id, source, shard, h,
                 row_number() OVER (PARTITION BY shard, source ORDER BY h, doc_id) AS seq,
                 CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0 END AS w
               FROM b)
         SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY seq/w, source, h, doc_id) AS interleave_pos
         FROM s""",
    // corpus trigram census (same shingle CTE family as dedup_ngram_jaccard)
    "text_ngram_freq" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s)
         SELECT g AS ngram, count(*) AS doc_count, min(doc_id) AS first_doc
         FROM e GROUP BY g HAVING count(*) >= 2""",
    // per-document hot-trigram exposure against that census
    "dedup_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         hot AS (SELECT g FROM e GROUP BY g HAVING count(*) >= 2),
         tot AS (SELECT doc_id, len(sh) AS total FROM s),
         h AS (SELECT e.doc_id AS doc_id, count(*) AS hot_ngrams
               FROM e JOIN hot ON e.g = hot.g GROUP BY e.doc_id)
         SELECT h.doc_id AS doc_id, hot_ngrams,
           round(hot_ngrams::DOUBLE / total, 6) AS boiler_frac
         FROM h JOIN tot ON h.doc_id = tot.doc_id""",
    "dedup_explain_pair" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
               FROM documents WHERE doc_id IN (0, 1)),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s)
         SELECT g AS ngram,
           CAST(max(CASE WHEN doc_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
           CAST(max(CASE WHEN doc_id = 1 THEN 1 ELSE 0 END) AS BIGINT) AS in_b
         FROM e GROUP BY 1""",
    // full replay of the span rewrite: window census over 5-word lowercase
    // grams, rank occurrences by (doc, pos), cut everything but rank 1,
    // merge covered positions, rebuild the surviving words in order
    "dedup_span_rewrite" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), w -> w != '') AS ws
               FROM documents),
         u AS (SELECT doc_id, unnest(range(1, greatest(len(ws)-5+2, 1))) AS i, ws FROM d),
         occ AS (SELECT doc_id, i-1 AS pos, lower(array_to_string(ws[i:i+4], ' ')) AS gram FROM u),
         mk AS (SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
                 count(*) OVER (PARTITION BY gram) AS c
                FROM occ),
         rem AS (SELECT doc_id, pos FROM mk WHERE c >= 2 AND rn > 1),
         cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos+5)) AS cp FROM rem),
         w AS (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1)-1 AS pos FROM d),
         kept AS (SELECT w.doc_id, w.pos, w.word FROM w
                  LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.cp
                  WHERE cov.doc_id IS NULL),
         reb AS (SELECT doc_id, array_to_string(list(word ORDER BY pos), ' ') AS text_clean
                 FROM kept GROUP BY doc_id),
         cnt AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
         SELECT d.doc_id AS doc_id, coalesce(reb.text_clean, '') AS text_clean,
                coalesce(cnt.n_removed, 0) AS n_removed
         FROM d LEFT JOIN reb ON d.doc_id = reb.doc_id
         LEFT JOIN cnt ON d.doc_id = cnt.doc_id""",
    // full replay of the C4 line-dedup rewrite over the same synthesized
    // 4-line fixture the Spark query builds (header/segment/footer/
    // segment, templates keyed off doc_id): case-folded line census,
    // rank occurrences by (doc, pos), cut everything but rank 1, rebuild
    // the surviving ORIGINAL lines in order
    "dedup_line_rewrite" ->
      """WITH base AS (SELECT doc_id,
               ['header ' || CAST(doc_id % 7 AS VARCHAR),
                array_to_string(list_slice(string_split_regex(trim(coalesce(text, '')), '\s+'), 1, 5), ' '),
                'footer ' || CAST(doc_id % 3 AS VARCHAR),
                array_to_string(list_slice(string_split_regex(trim(coalesce(text, '')), '\s+'), 6, 10), ' ')] AS ls
             FROM documents),
         alll AS (SELECT doc_id, unnest(ls) AS line,
                         generate_subscripts(ls, 1) - 1 AS pos FROM base),
         occ AS (SELECT doc_id, pos, line, lower(trim(line)) AS key
                 FROM alll WHERE lower(trim(line)) <> ''),
         mk AS (SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn,
                 count(*) OVER (PARTITION BY key) AS c
                FROM occ),
         rem AS (SELECT doc_id, pos FROM mk WHERE c >= 2 AND rn > 1),
         keep AS (SELECT a.doc_id, a.pos, a.line FROM alll a
                  LEFT JOIN rem r ON a.doc_id = r.doc_id AND a.pos = r.pos
                  WHERE r.pos IS NULL),
         agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean
                 FROM keep GROUP BY doc_id),
         cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
                 FROM rem GROUP BY doc_id)
         SELECT b.doc_id, coalesce(a.text_clean, '') AS text_clean,
                coalesce(c.n_removed, 0) AS n_removed
         FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
         LEFT JOIN cnt c ON b.doc_id = c.doc_id""",
    // incremental span rewrite: census grams = the corpus's distinct
    // 5-word windows (plus harmless short-doc collapses that can never
    // match a 5-word batch window); every matching batch occurrence is cut
    "dedup_span_inc" ->
      """WITH cd AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
               FROM documents WHERE doc_id % 2 = 0),
         cg AS (SELECT DISTINCT unnest(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))) END) AS gram
               FROM cd),
         d AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ws
               FROM documents WHERE doc_id % 2 = 1),
         u AS (SELECT doc_id, unnest(range(1, greatest(len(ws)-5+2, 1))) AS i, ws FROM d),
         occ AS (SELECT doc_id, i-1 AS pos, lower(array_to_string(ws[i:i+4], ' ')) AS gram FROM u),
         rem AS (SELECT occ.doc_id, occ.pos FROM occ JOIN cg ON occ.gram = cg.gram),
         cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos+5)) AS cp FROM rem),
         w AS (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1)-1 AS pos FROM d),
         kept AS (SELECT w.doc_id, w.pos, w.word FROM w
                  LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.cp
                  WHERE cov.doc_id IS NULL),
         reb AS (SELECT doc_id, array_to_string(list(word ORDER BY pos), ' ') AS text_clean
                 FROM kept GROUP BY doc_id),
         cnt AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
         SELECT d.doc_id AS doc_id, coalesce(reb.text_clean, '') AS text_clean,
                coalesce(cnt.n_removed, 0) AS n_removed
         FROM d LEFT JOIN reb ON d.doc_id = reb.doc_id
         LEFT JOIN cnt ON d.doc_id = cnt.doc_id""",
    // the composed nightly path: span-inc chain, then corpus-digest
    // anti-join, in-batch min-id dedup, and the length gate
    "nightly_ingest" ->
      """WITH cd0 AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
               FROM documents WHERE doc_id % 2 = 0),
         cg AS (SELECT DISTINCT unnest(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))) END) AS gram
               FROM cd0),
         d AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ws
               FROM documents WHERE doc_id % 2 = 1),
         u AS (SELECT doc_id, unnest(range(1, greatest(len(ws)-5+2, 1))) AS i, ws FROM d),
         occ AS (SELECT doc_id, i-1 AS pos, lower(array_to_string(ws[i:i+4], ' ')) AS gram FROM u),
         rem AS (SELECT occ.doc_id, occ.pos FROM occ JOIN cg ON occ.gram = cg.gram),
         cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos+5)) AS cp FROM rem),
         w AS (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1)-1 AS pos FROM d),
         kept AS (SELECT w.doc_id, w.pos, w.word FROM w
                  LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.cp
                  WHERE cov.doc_id IS NULL),
         reb AS (SELECT doc_id, array_to_string(list(word ORDER BY pos), ' ') AS text_clean
                 FROM kept GROUP BY doc_id),
         cnt AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
         rw AS (SELECT d.doc_id AS doc_id, coalesce(reb.text_clean, '') AS text_clean,
                coalesce(cnt.n_removed, 0) AS n_removed
                FROM d LEFT JOIN reb ON d.doc_id = reb.doc_id
                LEFT JOIN cnt ON d.doc_id = cnt.doc_id),
         cdg AS (SELECT DISTINCT md5(array_to_string(
                   list_filter(string_split_regex(trim(text), '\s+'), x -> x != ''), ' ')) AS dgst
                 FROM documents WHERE doc_id % 2 = 0),
         wd AS (SELECT doc_id, text_clean, n_removed, md5(text_clean) AS dgst FROM rw),
         fresh AS (SELECT wd.* FROM wd LEFT JOIN cdg ON wd.dgst = cdg.dgst
                   WHERE cdg.dgst IS NULL),
         keep AS (SELECT dgst, min(doc_id) AS doc_id FROM fresh GROUP BY 1)
         SELECT f.doc_id AS doc_id, f.dgst AS text_md5, f.n_removed
         FROM fresh f JOIN keep k ON f.dgst = k.dgst AND f.doc_id = k.doc_id
         WHERE length(f.text_clean) > 0
           AND len(string_split(f.text_clean, ' ')) >= 10""",
    // incremental variant: even-id corpus census, odd-id batch flagged
    "dedup_boilerplate_inc" ->
      """WITH tc AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
               FROM documents WHERE doc_id % 2 = 0),
         sc AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM tc),
         ec AS (SELECT doc_id, unnest(sh) AS g FROM sc),
         hot AS (SELECT g FROM ec GROUP BY g HAVING count(*) >= 2),
         tb AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
               FROM documents WHERE doc_id % 2 = 1),
         sb AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM tb),
         eb AS (SELECT doc_id, unnest(sh) AS g FROM sb),
         tot AS (SELECT doc_id, len(sh) AS total FROM sb),
         h AS (SELECT eb.doc_id AS doc_id, count(*) AS hot_ngrams
               FROM eb JOIN hot ON eb.g = hot.g GROUP BY eb.doc_id)
         SELECT h.doc_id AS doc_id, hot_ngrams,
           round(hot_ngrams::DOUBLE / total, 6) AS boiler_frac
         FROM h JOIN tot ON h.doc_id = tot.doc_id""",
    "text_stats" ->
      """SELECT doc_id,
         len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
         len(list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t != ''))
           + length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_subwords
         FROM documents""",
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
                CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_words,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS n_nonspace,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
         FROM documents)
         SELECT doc_id, round((
           (CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1.0 WHEN n_words >= 3 THEN 0.5 ELSE 0.0 END)
           + (CASE WHEN n_nonspace / n_words >= 3 AND n_nonspace / n_words <= 10 THEN 1.0 ELSE 0.5 END)
           + alpha_ratio) / 3.0, 6) AS quality
         FROM t""",
    // generated from TextAnalysis.langMarkers — single source of truth for
    // the 14-language marker tables, so oracle and implementation can't drift
    "text_langid" -> TextAnalysis.langIdOracleSql,
    // generated from the same marker table as the implementation
    "text_langid_margin" -> TextAnalysis.langIdMarginOracleSql,
    // generated from the SAME pinned DemoModels constants the Spark
    // queries consume — weights, murmur3 featurization (recursive-CTE
    // replay of HashingTF's hashUnsafeBytes2), integer dots, sigmoid/
    // softmax shape all single-sourced in ModelExport
    "text_quality_apply" -> graft.pipeline.ModelExport.qualityApplyOracleSql(
      "documents", "text", "doc_id", graft.pipeline.DemoModels.Quality),
    "text_langid_apply" -> graft.pipeline.ModelExport.langIdApplyOracleSql(
      "documents", "text", "doc_id", graft.pipeline.DemoModels.LangId),
    "text_fingerprint" ->
      """SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS fingerprint
         FROM documents""",
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
                string_split(text, chr(10)) AS lines,
                string_split_regex(trim(lower(text)), '\s+') AS toks
         FROM documents)
         SELECT doc_id,
           round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines), 6) AS dup_line_frac,
           round(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS dup_token_frac
         FROM t""",
    // sliding windows: each event lands in window/slide = 2 windows with
    // starts {t - t%slide, t - t%slide - slide} (both always satisfy
    // start <= t < start + window); all arithmetic in integer micros
    "events_windowed" ->
      """WITH e AS (SELECT epoch_us(ts) - epoch_us(ts) % 1800000000 AS s0, event_type,
                CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         w AS (SELECT s0 - c*1800000000 AS ws, event_type, cents FROM e, range(2) r(c))
         SELECT ws AS window_start_us, ws + 3600000000 AS window_end_us, event_type,
           count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS total_cents
         FROM w GROUP BY 1, 2, 3""",
    "events_attribution" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS tu, user_id, event_type FROM events)
         SELECT c.user_id AS user_id, i.event_id AS imp_id, c.event_id AS click_id,
           i.tu AS imp_ts_us, c.tu AS click_ts_us
         FROM e c JOIN e i ON i.user_id = c.user_id
           AND c.event_type = 'click' AND i.event_type = 'view'
           AND c.tu >= i.tu AND c.tu <= i.tu + 1800000000""",
    "events_json_agg" ->
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
         min(CAST(props->>'k' AS BIGINT)) AS min_k,
         max(CAST(props->>'k' AS BIGINT)) AS max_k
         FROM events GROUP BY event_type""",
    "events_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         b AS (SELECT user_id, ts_us, event_id, cents,
                 CASE WHEN lag(ts_us) OVER w IS NULL
                        OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         s AS (SELECT user_id, ts_us, cents,
                 CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
               FROM b)
         SELECT user_id, session_idx, count(*) AS n_events,
           min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
           CAST(sum(cents) AS BIGINT) AS sum_value_cents
         FROM s GROUP BY 1, 2""",
    "multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         substring(upper(hex(encode(text))), 1, 8) AS magic_hex
         FROM documents""",
    "multimodal_chunks" ->
      """WITH c AS (SELECT doc_id,
           unnest(range(0, greatest(CAST(ceil(octet_length(encode(text))/128.0) AS BIGINT), 1))) AS chunk_index,
           octet_length(encode(text)) AS nb
         FROM documents)
         SELECT doc_id, chunk_index, least(128, nb - chunk_index*128) AS chunk_bytes FROM c""",
    // MD5-gram winnowing sketch recomputed with list comprehensions: hash
    // every 5-gram, min per 4-window, distinct
    "text_winnow" ->
      """WITH p AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
         g AS (SELECT doc_id,
                 list_transform(range(0, greatest(length(t) - 5 + 1, 1)),
                   i -> ('0x' || substring(md5(substring(t, i::INT + 1, 5)), 1, 15))::BIGINT) AS hs
               FROM p)
         SELECT doc_id,
           unnest(list_distinct(list_transform(range(0, greatest(len(hs) - 4 + 1, 1)),
             w -> list_min(hs[w::INT + 1 : w::INT + 4])))) AS fp
         FROM g""",
    // curation: md5-bucket sampling mirrors Curation.md5Bucket exactly
    // (15 hex chars -> positive BIGINT -> % 1e6)
    "curate_sample" ->
      """SELECT doc_id FROM documents
         WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < 250000""",
    "curate_dup_weights" ->
      """WITH c AS (SELECT md5(text) AS d, count(*) AS n FROM documents GROUP BY 1)
         SELECT doc_id, n AS n_copies, round(1.0 / n, 6) AS weight
         FROM documents JOIN c ON md5(text) = c.d""",
    // 52-bit md5 prefix order (exact in a double), ties by id — the same
    // total order the BoundedTopK heap keeps
    "curate_sample_exact" ->
      """WITH k AS (SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS key
           FROM documents),
         top AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY key, doc_id) AS INT) AS sample_rank
           FROM k ORDER BY key, doc_id LIMIT 200)
         SELECT doc_id, sample_rank FROM top""",
    // same 52-bit md5 order, partitioned by the stratum
    "curate_sample_exact_stratum" ->
      """WITH k AS (SELECT doc_id, source,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS key
           FROM documents),
         top AS (SELECT doc_id,
             CAST(row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS INT) AS sample_rank
           FROM k)
         SELECT d.doc_id, d.source, t.sample_rank
         FROM documents d JOIN top t USING (doc_id)
         WHERE t.sample_rank <= 20""",
    "curate_stratified" ->
      """SELECT doc_id, source FROM documents
         WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 <
           CASE source WHEN 'web' THEN 100000 WHEN 'books' THEN 1000000 ELSE 500000 END""",
    // generated from the query's own alpha (single source, like the
    // blocklist/ADPCM oracles) with a null-safe stratum join
    "curate_temperature_sample" -> Curation.temperatureOracleSql(
      "documents", "doc_id", "lang", SparkEntry.DemoTemperatureAlpha),
    // single-sourced replay of the water-filling closed form (same
    // budget/epoch constants the query passes)
    "curate_unimax" -> Curation.unimaxOracleSql(
      "documents", "doc_id", "lang", budget = 700L, maxEpochs = 2),
    "curate_unimax_chars" -> Curation.unimaxOracleSql(
      "documents", "doc_id", "lang", budget = 200000L, maxEpochs = 2,
      sizeSql = "sum(n_chars)"),
    // A-ES replayed: same 1e-6-grid ln(u), same one-division key, rank
    // = row_number over (key desc, id) — the heap's total order
    "curate_weighted_sample_exact" ->
      """WITH w AS (SELECT doc_id, n_chars, CAST(n_chars AS DOUBLE) AS wt
                FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         k AS (SELECT doc_id, n_chars, wt,
                 CAST(round(ln(
                   (('0x' || substring(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                     + 0.5) / 1000000.0) * 1000000) AS BIGINT) AS lnu_q
               FROM w),
         r AS (SELECT doc_id, n_chars,
                 CAST(row_number() OVER (ORDER BY CAST(lnu_q AS DOUBLE) / wt DESC, doc_id) AS INT) AS sample_rank
               FROM k)
         SELECT doc_id, n_chars, sample_rank FROM r WHERE sample_rank <= 100""",
    // COMPOSED oracle: the temperature generator consumes the blocklist
    // generator's survivors as a subquery — both stages single-sourced
    // with their implementations, composed exactly as the query composes
    "curate_clean_mix" -> Curation.temperatureOracleSql(
      s"""(SELECT d.doc_id, d.lang FROM documents d
          JOIN (${TextAnalysis.blocklistOracleSql(
        "documents", "text", "doc_id", SparkEntry.DemoBlockPhrases)}) b
          ON d.doc_id = b.doc_id WHERE b.blocked = 0)""",
      "doc_id", "lang", SparkEntry.DemoTemperatureAlpha),
    // first label whose cumulative-weight bucket contains the row's hash
    "curate_split" ->
      """SELECT doc_id,
           CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < 800000 THEN 'train'
                WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < 900000 THEN 'valid'
                ELSE 'test' END AS split
         FROM documents""",
    // same md5-ordered determinism as curate_sample_n; integer-exact
    // floor division for bucket and batch index
    // chunk id of token i = count of boundary tokens before i (window
    // prefix sum); chunks reassemble in token order and digest — an
    // off-by-one in the boundary rule (after vs before the divisible
    // token) breaks every digest
    "curate_cdc_chunks" ->
      """WITH tok AS (SELECT doc_id, tok, i,
                CASE WHEN ('0x' || substring(md5(tok), 1, 15))::BIGINT % 1000000 % 16 = 0
                     THEN 1 ELSE 0 END AS b
              FROM (SELECT doc_id, unnest(toks) AS tok,
                      generate_subscripts(toks, 1) AS i
                    FROM (SELECT doc_id,
                            list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              x -> len(x) > 0) AS toks
                          FROM documents))),
         cid AS (SELECT doc_id, tok, i,
                   COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
                 FROM tok)
         SELECT doc_id, CAST(c AS BIGINT) AS chunk_index,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_md5
         FROM cid GROUP BY doc_id, c""",
    // group key = min doc_id over the text digest class; the split hash
    // runs on the GROUP key, so duplicate rows agree by construction
    "curate_split_leakfree" ->
      """WITH g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS grp
              FROM documents)
         SELECT doc_id,
           CASE WHEN ('0x' || substring(md5(CAST(grp AS VARCHAR)), 1, 15))::BIGINT % 1000000 < 800000 THEN 'train'
                WHEN ('0x' || substring(md5(CAST(grp AS VARCHAR)), 1, 15))::BIGINT % 1000000 < 900000 THEN 'valid'
                ELSE 'test' END AS split
         FROM g""",
    "curate_batches" ->
      """WITH t AS (SELECT doc_id,
                CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
              FROM documents),
         b AS (SELECT doc_id, n_tokens, n_tokens // 32 AS length_bucket,
                 row_number() OVER (PARTITION BY n_tokens // 32 ORDER BY bkt, doc_id) AS rn
               FROM t)
         SELECT doc_id, n_tokens, length_bucket, (rn - 1) // 16 AS batch_index FROM b""",
    "curate_topk_per_group" ->
      """WITH t AS (SELECT doc_id, source, text,
                CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_words,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS n_nonspace,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
         FROM documents),
         q AS (SELECT doc_id, source, round((
           (CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1.0 WHEN n_words >= 3 THEN 0.5 ELSE 0.0 END)
           + (CASE WHEN n_nonspace / n_words >= 3 AND n_nonspace / n_words <= 10 THEN 1.0 ELSE 0.5 END)
           + alpha_ratio) / 3.0, 6) AS quality
         FROM t),
         r AS (SELECT doc_id, source, quality,
                 row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rank
               FROM q)
         SELECT doc_id, source, quality, rank FROM r WHERE rank <= 20""",
    "curate_vocab" ->
      """SELECT token, count(*) AS freq
         FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents)
         WHERE length(token) > 0
         GROUP BY token HAVING count(*) >= 50""",
    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE length(token) > 0 GROUP BY doc_id, token),
         dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token HAVING count(*) >= 50),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
           round(tf.tf * (ln((n.n + 1.0) / (dfq.df + 1.0)) + 1.0), 6) AS tfidf
         FROM tf JOIN dfq USING (token) CROSS JOIN n""",
    "curate_pack" ->
      """WITH t AS (SELECT doc_id,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 % 8 AS shard,
                CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS tok
         FROM documents),
         o AS (SELECT doc_id, shard,
                 CAST(COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pack_off
               FROM t)
         SELECT doc_id, shard, pack_off, shard * 2147483648 + pack_off // 2048 AS pack_id FROM o""",
    // GDV1 round trip: generator pixel formulas + the canonical encoder
    // rules (skip iff identical to the previous frame, else solid iff
    // uniform, else literal), recomputed from scratch — the codec is
    // lossless, so decoded per-frame sums must equal the formula sums
    // and the op counts must equal the rules' verdicts
    "multimodal_video_delta" ->
      """WITH px AS (
           SELECT d.doc_id, f.f, b.b, p.p,
             CASE CAST((d.doc_id + b.b) % 3 AS INT)
               WHEN 0 THEN (d.doc_id*31 + b.b*17 + p.p) % 256
               WHEN 1 THEN (d.doc_id*13 + b.b*7 + f.f*41) % 256
               ELSE (d.doc_id*7 + b.b*29 + f.f*53 + p.p*3) % 256 END AS v
           FROM documents d, range(4) f(f), range(4) b(b), range(16) p(p)),
         blk AS (SELECT doc_id, f, b, sum(v) AS bsum,
                  CASE WHEN min(v) = max(v) THEN 1 ELSE 0 END AS uni
                 FROM px GROUP BY 1, 2, 3),
         chg AS (SELECT a.doc_id, a.f, a.b,
                  max(CASE WHEN a.v != pr.v THEN 1 ELSE 0 END) AS changed
                 FROM px a JOIN px pr ON a.doc_id = pr.doc_id AND a.b = pr.b
                   AND a.p = pr.p AND pr.f = a.f - 1
                 GROUP BY 1, 2, 3),
         ops AS (SELECT k.doc_id, k.f, k.b, k.bsum,
                  CASE WHEN k.f > 0 AND c.changed = 0 THEN 0
                       WHEN k.uni = 1 THEN 1 ELSE 2 END AS op
                 FROM blk k LEFT JOIN chg c
                   ON k.doc_id = c.doc_id AND k.f = c.f AND k.b = c.b)
         SELECT doc_id, CAST(f AS BIGINT) AS frame_index,
           CAST(sum(bsum) AS BIGINT) AS luma_sum,
           CAST(sum(CASE WHEN op = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_skip,
           CAST(sum(CASE WHEN op = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_solid,
           CAST(sum(CASE WHEN op = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_literal
         FROM ops GROUP BY 1, 2""",
    // the PNG round trip: the real JDK decoder must report exactly the
    // dimensions the fixture generator encoded (width = doc_id mod 13 + 1,
    // height = doc_id mod 7 + 1, 3-channel RGB)
    "multimodal_decode_png" ->
      """SELECT doc_id, (doc_id % 13) + 1 AS width, (doc_id % 7) + 1 AS height,
           CAST(3 AS BIGINT) AS channels FROM documents""",
    // the WAV round trip: the real JDK parser must report exactly the
    // format the fixture generator encoded (rate = 8000 + doc_id mod 5 *
    // 2000, channels = doc_id mod 2 + 1, 16-bit, frames = doc_id mod 50 + 1)
    "multimodal_decode_wav" ->
      """SELECT doc_id, 8000 + (doc_id % 5) * 2000 AS sample_rate,
           (doc_id % 2) + 1 AS channels, CAST(16 AS BIGINT) AS bits,
           (doc_id % 50) + 1 AS frames FROM documents""",
    // the avih fields are pure functions of the id (the container bytes
    // are real; the walker must recover exactly these)
    "multimodal_decode_avi" ->
      """SELECT doc_id,
           1000000 // ((doc_id % 5) + 10) AS usec_per_frame,
           (doc_id % 60) + 1 AS total_frames,
           (doc_id % 32) * 8 + 16 AS width,
           (doc_id % 18) * 8 + 16 AS height,
           CAST(1 AS BIGINT) AS n_streams,
           CAST(88 AS BIGINT) AS n_bytes
         FROM documents""",
    // raster round trip: pixel (x, y) = (id*31 + x*7 + y*131) mod 2^24,
    // channels split arithmetically (r = v//65536, g = v//256 mod 256,
    // b = v mod 256), luma integer-approximated per ITU-R 601
    "multimodal_image_stats" ->
      """WITH px AS (SELECT doc_id, (doc_id % 13) + 1 AS w, (doc_id % 7) + 1 AS h
              FROM documents),
         fx AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM px),
         fy AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM fx),
         v AS (SELECT doc_id, (doc_id*31 + x*7 + y*131) % 16777216 AS v FROM fy)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(v // 65536) AS BIGINT) AS sum_r,
           CAST(sum((v // 256) % 256) AS BIGINT) AS sum_g,
           CAST(sum(v % 256) AS BIGINT) AS sum_b,
           CAST(max((299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256)) // 1000) AS BIGINT) AS max_luma
         FROM v GROUP BY 1""",
    // PCM round trip: data byte i = (id*31 + i*7) mod 256, sample j =
    // little-endian signed 16-bit from bytes (2j, 2j+1); the real decoder
    // must reproduce these exact integer reductions
    // generated from the same quantized DFT basis the kernel uses
    "multimodal_spectral" -> Multimodal.wavSpectralOracleSql(
      "documents", "doc_id", bins = 8, window = 64),
    "multimodal_audio_stats" ->
      """WITH p AS (SELECT doc_id,
                ((doc_id % 50) + 1) * ((doc_id % 2) + 1) AS n FROM documents),
         s AS (SELECT doc_id, n,
                 list_transform(range(0, n), j ->
                   CASE WHEN ((doc_id*31 + (2*j)*7) % 256) + 256 * ((doc_id*31 + (2*j+1)*7) % 256) >= 32768
                        THEN ((doc_id*31 + (2*j)*7) % 256) + 256 * ((doc_id*31 + (2*j+1)*7) % 256) - 65536
                        ELSE ((doc_id*31 + (2*j)*7) % 256) + 256 * ((doc_id*31 + (2*j+1)*7) % 256) END) AS sm
               FROM p)
         SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(sm, v -> abs(v))) AS BIGINT) AS sum_abs,
           CAST(list_max(list_transform(sm, v -> abs(v))) AS BIGINT) AS peak,
           CAST(list_sum(list_transform(sm, v -> v*v)) AS BIGINT) AS sum_sq
         FROM s""",
    // raw-frame round trip: pixel (x, y) of frame f = (id*31 + f*17 +
    // y*131 + x*7) mod 256; frames sampled every 2nd; top_row_sum is the
    // y = 0 row — bottom-up storage means the decoder must read the LAST
    // stored row to get it
    "multimodal_frame_pixels" ->
      """WITH p AS (SELECT doc_id, (doc_id % 10) + 1 AS nf,
                ((doc_id % 5) + 1) * 3 AS w, ((doc_id % 4) + 1) * 3 AS h FROM documents),
         f AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS fi FROM p)
         SELECT doc_id, fi AS frame_index, CAST(w * h AS BIGINT) AS n_pixels,
           CAST(list_sum(list_transform(range(0, h), y ->
             list_sum(list_transform(range(0, w), x ->
               (doc_id*31 + fi*17 + y*131 + x*7) % 256)))) AS BIGINT) AS pix_sum,
           CAST(list_max(list_transform(range(0, h), y ->
             list_max(list_transform(range(0, w), x ->
               (doc_id*31 + fi*17 + y*131 + x*7) % 256)))) AS BIGINT) AS pix_max,
           CAST(list_sum(list_transform(range(0, w), x ->
             (doc_id*31 + fi*17 + x*7) % 256)) AS BIGINT) AS top_row_sum
         FROM f WHERE fi % 2 = 0""",
    // FULL dHash replay from the PNG fixture formulas: per-pixel integer
    // luma, pixel→cell assignment (least(x*9//w, 8) — the same
    // floor-division rule as the decoder), per-cell sums/counts,
    // cross-multiplied adjacent-mean bits, UBIGINT hash, fixed-width hex
    "multimodal_dhash" ->
      """WITH p AS (SELECT doc_id, (doc_id % 24) + 1 AS w, (doc_id % 20) + 1 AS h FROM documents),
         v AS (SELECT * FROM p WHERE w >= 9 AND h >= 8),
         px AS (SELECT doc_id, w, h, x.x, y.y FROM v,
                LATERAL (SELECT unnest(range(0, w)) AS x) x,
                LATERAL (SELECT unnest(range(0, h)) AS y) y),
         lum AS (SELECT doc_id, w, h,
                   least((x * 9) // w, 8) AS c, least((y * 8) // h, 7) AS r,
                   (299 * (((doc_id*31 + x*7 + y*131) % 16777216) // 65536)
                    + 587 * ((((doc_id*31 + x*7 + y*131) % 16777216) // 256) % 256)
                    + 114 * (((doc_id*31 + x*7 + y*131) % 16777216) % 256)) // 1000 AS l
                 FROM px),
         cells AS (SELECT doc_id, r, c, sum(l) AS s, count(*) AS n
                   FROM lum GROUP BY doc_id, r, c),
         bits AS (SELECT a.doc_id, (a.r * 8 + a.c) AS k,
                    CASE WHEN a.s * b.n < b.s * a.n THEN 1 ELSE 0 END AS bit
                  FROM cells a JOIN cells b
                    ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1),
         hsh AS (SELECT doc_id,
                   sum(CASE WHEN bit = 1 THEN (1::UBIGINT << k::INT)
                       ELSE 0::UBIGINT END)::UBIGINT AS dh
                 FROM bits GROUP BY doc_id),
         ok AS (SELECT v.doc_id, lpad(hex(coalesce(dh, 0::UBIGINT)), 16, '0') AS dhash_hex,
                  CAST(v.w * v.h AS BIGINT) AS n_pixels
                FROM v LEFT JOIN hsh ON v.doc_id = hsh.doc_id)
         SELECT doc_id, dhash_hex, n_pixels FROM ok
         UNION ALL
         SELECT doc_id, '0000000000000000' AS dhash_hex, CAST(-1 AS BIGINT) AS n_pixels
         FROM p WHERE w < 9 OR h < 8""",
    // full composition replay: distinct img_key fixture (doc_id % 97),
    // max-luma gate over the whole raster, the dhash grid replay (same
    // CTEs as multimodal_dhash, keyed by img_key), then keep-min per
    // hash bucket over the joined corpus
    "multimodal_curate" ->
      """WITH d AS (SELECT doc_id, doc_id % 97 AS k FROM documents),
         ks AS (SELECT DISTINCT k FROM d),
         p AS (SELECT k, (k % 24) + 1 AS w, (k % 20) + 1 AS h FROM ks),
         fx AS (SELECT k, h, unnest(range(0, w)) AS x FROM p),
         fy AS (SELECT k, x, unnest(range(0, h)) AS y FROM fx),
         vv AS (SELECT k, (k*31 + x*7 + y*131) % 16777216 AS v FROM fy),
         gate AS (SELECT k FROM vv GROUP BY k
                  HAVING max((299*(v//65536) + 587*((v//256)%256) + 114*(v%256))//1000) >= 34),
         v2 AS (SELECT * FROM p WHERE w >= 9 AND h >= 8),
         px AS (SELECT k, w, h, x.x, y.y FROM v2,
                LATERAL (SELECT unnest(range(0, w)) AS x) x,
                LATERAL (SELECT unnest(range(0, h)) AS y) y),
         lum AS (SELECT k,
                   least((x * 9) // w, 8) AS c, least((y * 8) // h, 7) AS r,
                   (299 * (((k*31 + x*7 + y*131) % 16777216) // 65536)
                    + 587 * ((((k*31 + x*7 + y*131) % 16777216) // 256) % 256)
                    + 114 * (((k*31 + x*7 + y*131) % 16777216) % 256)) // 1000 AS l
                 FROM px),
         cells AS (SELECT k, r, c, sum(l) AS s, count(*) AS n
                   FROM lum GROUP BY k, r, c),
         bits AS (SELECT a.k, (a.r * 8 + a.c) AS bk,
                    CASE WHEN a.s * b.n < b.s * a.n THEN 1 ELSE 0 END AS bit
                  FROM cells a JOIN cells b
                    ON a.k = b.k AND a.r = b.r AND b.c = a.c + 1),
         hsh AS (SELECT k,
                   sum(CASE WHEN bit = 1 THEN (1::UBIGINT << bk::INT)
                       ELSE 0::UBIGINT END)::UBIGINT AS dh
                 FROM bits GROUP BY k),
         ok AS (SELECT v2.k, lpad(hex(coalesce(dh, 0::UBIGINT)), 16, '0') AS dhash_hex
                FROM v2 LEFT JOIN hsh ON v2.k = hsh.k),
         survivors AS (SELECT d.doc_id, ok.dhash_hex
                       FROM d JOIN gate ON d.k = gate.k JOIN ok ON d.k = ok.k)
         SELECT CAST(min(doc_id) AS BIGINT) AS keep_doc_id, dhash_hex,
           CAST(count(*) AS BIGINT) AS n_in_bucket
         FROM survivors GROUP BY dhash_hex""",
    // dHash replay per distinct asset key (same CTEs as multimodal_dhash,
    // keyed by doc_id % 97), then BRUTE-FORCE hamming pairs — the Spark
    // side's pigeonhole blocking is exact when uncapped (same convention
    // as dedup_simhash)
    "multimodal_dhash_pairs" ->
      """WITH ks AS (SELECT DISTINCT doc_id % 97 AS k FROM documents),
         p AS (SELECT k, (k % 24) + 1 AS w, (k % 20) + 1 AS h FROM ks),
         v AS (SELECT * FROM p WHERE w >= 9 AND h >= 8),
         px AS (SELECT k, w, h, x.x, y.y FROM v,
                LATERAL (SELECT unnest(range(0, w)) AS x) x,
                LATERAL (SELECT unnest(range(0, h)) AS y) y),
         lum AS (SELECT k,
                   least((x * 9) // w, 8) AS c, least((y * 8) // h, 7) AS r,
                   (299 * (((k*31 + x*7 + y*131) % 16777216) // 65536)
                    + 587 * ((((k*31 + x*7 + y*131) % 16777216) // 256) % 256)
                    + 114 * (((k*31 + x*7 + y*131) % 16777216) % 256)) // 1000 AS l
                 FROM px),
         cells AS (SELECT k, r, c, sum(l) AS s, count(*) AS n
                   FROM lum GROUP BY k, r, c),
         bits AS (SELECT a.k, (a.r * 8 + a.c) AS bk,
                    CASE WHEN a.s * b.n < b.s * a.n THEN 1 ELSE 0 END AS bit
                  FROM cells a JOIN cells b
                    ON a.k = b.k AND a.r = b.r AND b.c = a.c + 1),
         hsh AS (SELECT k,
                   sum(CASE WHEN bit = 1 THEN (1::UBIGINT << bk::INT)
                       ELSE 0::UBIGINT END)::UBIGINT AS dh
                 FROM bits GROUP BY k),
         hh AS (SELECT v.k, coalesce(dh, 0::UBIGINT) AS dh
                FROM v LEFT JOIN hsh ON v.k = hsh.k)
         SELECT CAST(a.k AS BIGINT) AS id_a, CAST(b.k AS BIGINT) AS id_b,
           CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
         FROM hh a JOIN hh b ON a.k < b.k
         WHERE bit_count(xor(a.dh, b.dh)) <= 8""",
    // incremental (batch vs corpus) replay: same dHash CTEs, but the pair
    // join is batch-side oriented (a restricted to the %5 batch, a != b,
    // NOT a < b — both orientations appear when both keys are batched)
    "multimodal_dhash_pairs_incr" -> dhashPairsIncrOracle,
    // the stored-form SQL TVF front door: identical semantics, one oracle
    "multimodal_dhash_pairs_stored_sql" -> dhashPairsIncrOracle,
    // curate replay with perceptual CLUSTERS: the multimodal_curate CTEs
    // (fixture, gate, dHash), then brute-force hamming <= 2 pairs over the
    // surviving assets and a recursive-CTE transitive closure (min
    // reachable key = cluster id, its hash = the output bucket hash)
    "multimodal_curate_hamming" -> curateHammingOracle,
    "multimodal_curate_hamming_sql" -> curateHammingOracle,
    // FULL resize replay: the ÷2 area-average from the PNG fixture
    // formula — 4-pixel block sums, integer-division channel means,
    // resized-raster stats; empty results (source < factor) keep their
    // zero-dims row via the left join
    "multimodal_resize" ->
      """WITH px AS (SELECT doc_id, (doc_id % 13) + 1 AS w, (doc_id % 7) + 1 AS h FROM documents),
         d AS (SELECT doc_id, w // 2 AS ow, h // 2 AS oh FROM px),
         gx AS (SELECT doc_id, oh, unnest(range(0, ow)) AS xx FROM d),
         gy AS (SELECT doc_id, xx, unnest(range(0, oh)) AS yy FROM gx),
         v AS (SELECT doc_id, xx, yy,
                 (doc_id*31 + (2*xx + o.dx)*7 + (2*yy + o.dy)*131) % 16777216 AS v
               FROM gy CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) AS o(dx, dy)),
         blk AS (SELECT doc_id, xx, yy,
                   sum(v // 65536) AS br,
                   sum((v // 256) % 256) AS bg,
                   sum(v % 256) AS bb
                 FROM v GROUP BY doc_id, xx, yy),
         m AS (SELECT doc_id, br // 4 AS mr, bg // 4 AS mg, bb // 4 AS mb FROM blk),
         agg AS (SELECT doc_id, sum(mr) AS sr, sum(mg) AS sg, sum(mb) AS sb,
                   max((299*mr + 587*mg + 114*mb) // 1000) AS ml
                 FROM m GROUP BY doc_id)
         SELECT d.doc_id, CAST(ow AS BIGINT) AS out_w, CAST(oh AS BIGINT) AS out_h,
           CAST(coalesce(sr, 0) AS BIGINT) AS sum_r,
           CAST(coalesce(sg, 0) AS BIGINT) AS sum_g,
           CAST(coalesce(sb, 0) AS BIGINT) AS sum_b,
           CAST(coalesce(ml, 0) AS BIGINT) AS max_luma
         FROM d LEFT JOIN agg USING (doc_id)""",
    // FULL stateful-decompression replay, generated from the decoder's
    // own table constants (Multimodal.imaAdpcmOracleSql)
    "multimodal_adpcm_decode" ->
      Multimodal.imaAdpcmOracleSql("documents", "doc_id"),
    // FULL decompression replay: fixture bytes from the id formula, both
    // CCITT G.711 expansions as integer expressions, exact stats
    "multimodal_g711_decode" ->
      """WITH p AS (SELECT doc_id, (doc_id % 50) + 1 AS ns, doc_id % 2 AS lawsel FROM documents),
         s AS (SELECT doc_id, ns, lawsel, unnest(range(0, ns)) AS i FROM p),
         b AS (SELECT doc_id, ns, lawsel, (doc_id * 13 + i * 11) % 256 AS code FROM s),
         e AS (SELECT doc_id, ns, lawsel,
                 CASE WHEN lawsel = 0 THEN
                   -- mu-law: complement, mantissa<<3 + bias, << exponent, signed around bias
                   CASE WHEN xor(code, 255) >= 128
                        THEN 132 - ((((xor(code, 255) % 16) * 8) + 132) << ((xor(code, 255) // 16) % 8))
                        ELSE ((((xor(code, 255) % 16) * 8) + 132) << ((xor(code, 255) // 16) % 8)) - 132 END
                 ELSE
                   -- A-law: xor 0x55, segment-wise expansion
                   CASE WHEN xor(code, 85) >= 128 THEN 1 ELSE -1 END *
                   (CASE (xor(code, 85) // 16) % 8
                      WHEN 0 THEN (xor(code, 85) % 16) * 16 + 8
                      WHEN 1 THEN (xor(code, 85) % 16) * 16 + 264
                      ELSE ((xor(code, 85) % 16) * 16 + 264) << ((xor(code, 85) // 16) % 8 - 1) END)
                 END AS v
               FROM b)
         SELECT doc_id, CASE WHEN lawsel = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
           CAST(ns AS BIGINT) AS n_samples,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(max(abs(v)) AS BIGINT) AS peak,
           CAST(sum(v * v) AS BIGINT) AS sum_sq
         FROM e GROUP BY doc_id, lawsel, ns""",
    // structural replay of the MJPEG fixture formulas — frame count /
    // sampling / dimensions; width & height in the Spark output come from
    // the DECODED JPEG raster, so equality here certifies the codec ran
    "multimodal_mjpeg_frames" ->
      """WITH p AS (SELECT doc_id, (doc_id % 6) + 1 AS nf,
                ((doc_id % 5) + 1) * 16 AS w, ((doc_id % 4) + 1) * 16 AS h FROM documents),
         f AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS fi FROM p)
         SELECT doc_id, fi AS frame_index, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_pixels
         FROM f WHERE fi % 2 = 0""",
    // DuckDB's native ASOF LEFT JOIN is the ground truth for AsofJoin's
    // union-window plan; views dedup to one row per (user, ts) in both
    // engines so "the most recent view" is well-defined.
    "events_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tu, event_type FROM events),
         v AS (SELECT user_id, tu AS view_ts_us, max(event_id) AS view_id
               FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         c AS (SELECT user_id, event_id AS click_id, tu AS click_ts_us
               FROM e WHERE event_type = 'click')
         SELECT c.user_id AS user_id, c.click_id AS click_id, c.click_ts_us AS click_ts_us,
           coalesce(v.view_id, -1) AS view_id, coalesce(v.view_ts_us, -1) AS view_ts_us
         FROM c ASOF LEFT JOIN v
           ON c.user_id = v.user_id AND c.click_ts_us >= v.view_ts_us""",
    // one UNION ALL leg per profiled column; both engines count distinct
    // non-null values and cast native-typed min/max to string afterwards
    "profile_documents" ->
      Seq("doc_id", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
            count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
            coalesce(CAST(min($c) AS VARCHAR), '') AS min_s,
            coalesce(CAST(max($c) AS VARCHAR), '') AS max_s FROM documents""")
        .mkString(" UNION ALL "),
    // two sub-profiles per column, cross-joined (each is one row)
    "profile_drift" ->
      Seq("doc_id", "lang", "n_chars").map(c =>
        s"""SELECT '$c' AS col_name,
            o.n_rows AS n_rows_old, o.n_nulls AS n_nulls_old,
            o.n_distinct AS n_distinct_old, o.min_s AS min_old, o.max_s AS max_old,
            n.n_rows AS n_rows_new, n.n_nulls AS n_nulls_new,
            n.n_distinct AS n_distinct_new, n.min_s AS min_new, n.max_s AS max_new
            FROM (SELECT count(*) AS n_rows, count(*) - count($c) AS n_nulls,
                   count(DISTINCT $c) AS n_distinct,
                   coalesce(CAST(min($c) AS VARCHAR), '') AS min_s,
                   coalesce(CAST(max($c) AS VARCHAR), '') AS max_s
                  FROM documents WHERE doc_id % 10 != 0) o
            CROSS JOIN (SELECT count(*) AS n_rows, count(*) - count($c) AS n_nulls,
                   count(DISTINCT $c) AS n_distinct,
                   coalesce(CAST(min($c) AS VARCHAR), '') AS min_s,
                   coalesce(CAST(max($c) AS VARCHAR), '') AS max_s
                  FROM documents WHERE doc_id % 11 != 3) n""")
        .mkString(" UNION ALL "),
    // Pearson from the same exact integer sums (HUGEINT side), final
    // formula on doubles cast from those integers — identical rounding
    "profile_correlations" ->
      """WITH q AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qa,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS qb,
                    CAST(round(l_discount * 100) AS BIGINT) AS qc
             FROM lineitem
             WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
               AND l_discount IS NOT NULL),
         agg AS (SELECT count(*)::HUGEINT AS n,
                  sum(qa)::HUGEINT AS sa, sum(qa*qa)::HUGEINT AS ssa,
                  sum(qb)::HUGEINT AS sb, sum(qb*qb)::HUGEINT AS ssb,
                  sum(qc)::HUGEINT AS sc, sum(qc*qc)::HUGEINT AS ssc,
                  sum(qa*qb)::HUGEINT AS sab, sum(qa*qc)::HUGEINT AS sac,
                  sum(qb*qc)::HUGEINT AS sbc
                 FROM q)
         SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, CAST(n AS BIGINT) AS n,
           CASE WHEN CAST(n*ssa - sa*sa AS DOUBLE) > 0 AND CAST(n*ssb - sb*sb AS DOUBLE) > 0
             THEN round(CAST(n*sab - sa*sb AS DOUBLE)
               / sqrt(CAST(n*ssa - sa*sa AS DOUBLE) * CAST(n*ssb - sb*sb AS DOUBLE)), 6)
             ELSE 0.0 END AS corr FROM agg
         UNION ALL
         SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
           CASE WHEN CAST(n*ssa - sa*sa AS DOUBLE) > 0 AND CAST(n*ssc - sc*sc AS DOUBLE) > 0
             THEN round(CAST(n*sac - sa*sc AS DOUBLE)
               / sqrt(CAST(n*ssa - sa*sa AS DOUBLE) * CAST(n*ssc - sc*sc AS DOUBLE)), 6)
             ELSE 0.0 END FROM agg
         UNION ALL
         SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
           CASE WHEN CAST(n*ssb - sb*sb AS DOUBLE) > 0 AND CAST(n*ssc - sc*sc AS DOUBLE) > 0
             THEN round(CAST(n*sbc - sb*sc AS DOUBLE)
               / sqrt(CAST(n*ssb - sb*sb AS DOUBLE) * CAST(n*ssc - sc*sc AS DOUBLE)), 6)
             ELSE 0.0 END FROM agg""",
    // one UNION ALL leg per check, each an aggregate over documents with
    // the same violation definition as the Scala suite
    "profile_expectations" ->
      """WITH v AS (
           SELECT 'not_null' AS "check", 'text' AS col_name,
             count(*) - count(text) AS viol FROM documents
           UNION ALL
           SELECT 'unique', 'doc_id', count(doc_id) - count(DISTINCT doc_id) FROM documents
           UNION ALL
           SELECT 'values_in', 'source',
             COALESCE(sum(CASE WHEN source IS NOT NULL AND source NOT IN
               ('src0','src1','src2','src3','src4','src6','src7','src8','src9',
                'src10','src11','src12','src13','src14','src16','src17','src18','src19')
               THEN 1 ELSE 0 END), 0) FROM documents
           UNION ALL
           SELECT 'min_ge', 'n_chars',
             COALESCE(sum(CASE WHEN n_chars < 1 THEN 1 ELSE 0 END), 0) FROM documents
           UNION ALL
           SELECT 'max_le', 'n_chars',
             COALESCE(sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END), 0) FROM documents
           UNION ALL
           SELECT 'row_count', '',
             CASE WHEN count(*) < 1 THEN 1 - count(*)
                  WHEN count(*) > 1000000000 THEN count(*) - 1000000000
                  ELSE 0 END FROM documents
           UNION ALL
           SELECT 'regex', 'lang',
             COALESCE(sum(CASE WHEN lang IS NOT NULL
               AND NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END), 0)
           FROM documents)
         SELECT "check", col_name,
           CAST(CASE WHEN viol = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed,
           CAST(viol AS BIGINT) AS violations FROM v""",
    // truth = exhaustive cosine top-10, result = the binary-signature
    // search (hamming shortlist 40 -> exact re-rank), metrics = exact
    // rational arithmetic on hit counts and the best hit rank
    "ann_eval_binary" ->
      """WITH truth AS (
           SELECT query_id, corpus_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rank
             FROM embeddings q CROSS JOIN embeddings c
             WHERE q.vec_id < 10 AND q.vec_id != c.vec_id)
           WHERE rank <= 10),
         h AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> CASE WHEN (q.embedding[i] > 0) <> (c.embedding[i] > 0)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS ham
               FROM embeddings q CROSS JOIN embeddings c
               WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
         cand AS (SELECT query_id, corpus_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY ham ASC, corpus_id) AS hrank FROM h),
         sc AS (SELECT query_id, corpus_id,
                  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
                FROM cand JOIN embeddings a ON cand.query_id = a.vec_id
                          JOIN embeddings b ON cand.corpus_id = b.vec_id
                WHERE hrank <= 40),
         res AS (SELECT query_id, corpus_id, rank FROM (
                   SELECT query_id, corpus_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
                   FROM sc) WHERE rank <= 10),
         hits AS (SELECT r.query_id, count(*) AS n_hits, min(r.rank) AS best
                  FROM res r JOIN truth t ON r.query_id = t.query_id
                    AND r.corpus_id = t.corpus_id
                  GROUP BY 1)
         SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(COALESCE(h.n_hits, 0) / 10.0, 6) AS recall,
           round(COALESCE(1.0 / h.best, 0.0), 6) AS mrr
         FROM (SELECT DISTINCT query_id FROM truth) q
         LEFT JOIN hits h ON q.query_id = h.query_id""",
    // quantile_cont matches Spark's exact percentile (same p*(n-1) linear
    // interpolation); list-typed form so one aggregate serves all probs
    "profile_quantiles" ->
      """WITH a AS (SELECT quantile_cont(n_chars, [0.25, 0.5, 0.9, 0.99]) AS qc,
                quantile_cont(doc_id, [0.25, 0.5, 0.9, 0.99]) AS qd
              FROM documents),
         b AS (SELECT i, CAST(([0.25, 0.5, 0.9, 0.99])[i] AS DOUBLE) AS p FROM range(1, 5) t(i))
         SELECT 'n_chars' AS col_name, round(b.p, 6) AS p, round(a.qc[i], 6) AS q FROM a, b
         UNION ALL
         SELECT 'doc_id', round(b.p, 6), round(a.qd[i], 6) FROM a, b""",
    // same explode -> count -> deterministic top-k window, one leg per
    // column; NULL values excluded on both sides
    "profile_heavy_hitters" ->
      """WITH p AS (
           SELECT 'lang' AS col_name, CAST(lang AS VARCHAR) AS value_s
             FROM documents WHERE lang IS NOT NULL
           UNION ALL SELECT 'source', CAST(source AS VARCHAR)
             FROM documents WHERE source IS NOT NULL
           UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
             FROM documents WHERE n_chars IS NOT NULL),
         c AS (SELECT col_name, value_s, count(*) AS n_rows FROM p GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY col_name
                 ORDER BY n_rows DESC, value_s ASC) AS rk FROM c)
         SELECT col_name, value_s, n_rows FROM r WHERE rk <= 5""",
    // HLL replayed step by step: md5 bucket (3 hex chars, p=12) + 40-bit
    // suffix, register = 41 - bitlength via bin(), harmonic sum scaled by
    // 2^41 as exact BIGINT, then the α_m m² 2^41 / S division and the
    // linear-counting correction as the same single IEEE ops
    "profile_hll_distinct" ->
      """WITH h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
                FROM events WHERE user_id IS NOT NULL),
         b AS (SELECT event_type, ('0x' || substring(hx, 1, 3))::BIGINT AS bucket,
                 ('0x' || substring(hx, 4, 10))::BIGINT AS suf FROM h),
         r AS (SELECT event_type, bucket,
                 max(CASE WHEN suf = 0 THEN 41 ELSE 41 - length(bin(suf)) END) AS register
               FROM b GROUP BY 1, 2),
         g AS (SELECT event_type, count(*) AS n_registers,
                 sum(CAST(power(2, 41 - register) AS BIGINT)) AS st FROM r GROUP BY 1),
         e AS (SELECT event_type, n_registers,
                 (4096 - n_registers) * 2199023255552 + st AS s,
                 4096 - n_registers AS v FROM g),
         f AS (SELECT event_type, n_registers,
                 (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * 2199023255552.0
                   / CAST(s AS DOUBLE) AS e_raw, v FROM e)
         SELECT event_type, CAST(n_registers AS BIGINT) AS n_registers,
           round(CASE WHEN e_raw <= 10240.0 AND v > 0
                      THEN 4096.0 * ln(4096.0 / CAST(v AS DOUBLE))
                      ELSE e_raw END, 4) AS estimate
         FROM f""",
    // KMV replayed: bottom-128 of the distinct 52-bit keys per group
    // (row_number over hash), union sketch = first 128 of the merged
    // distinct lists, J = shared fraction of the union sketch, sizes via
    // (k-1)·2^52/h_k with the exact-size fallback under k
    "profile_kmv_overlap" ->
      """WITH d AS (SELECT DISTINCT event_type,
                  ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
                FROM events WHERE user_id IS NOT NULL),
         rk AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM d),
         sk AS (SELECT event_type, list(h ORDER BY h) AS sketch FROM rk
                WHERE rn <= 128 GROUP BY 1),
         pr AS (SELECT a.event_type AS group_a, b.event_type AS group_b,
                  a.sketch AS ska, b.sketch AS skb
                FROM sk a JOIN sk b ON a.event_type < b.event_type),
         m AS (SELECT *, list_sort(list_distinct(ska || skb)) AS mg FROM pr),
         u AS (SELECT *, CASE WHEN len(mg) < 128 THEN mg ELSE mg[1:128] END AS uk FROM m),
         c AS (SELECT *,
                 len(list_filter(uk, x -> list_contains(ska, x) AND list_contains(skb, x))) AS common,
                 CASE WHEN len(uk) < 128 THEN len(uk) ELSE 128 END AS denom FROM u),
         j AS (SELECT group_a, group_b, ska, skb, uk,
                 CAST(common AS DOUBLE) / CAST(denom AS DOUBLE) AS jr,
                 CASE WHEN len(uk) < 128 THEN CAST(len(uk) AS DOUBLE)
                      ELSE 127.0 * 4.503599627370496e15 / CAST(uk[128] AS DOUBLE) END AS ur
               FROM c)
         SELECT group_a, group_b,
           round(CASE WHEN len(ska) < 128 THEN CAST(len(ska) AS DOUBLE)
                      ELSE 127.0 * 4.503599627370496e15 / CAST(ska[128] AS DOUBLE) END, 4) AS est_a,
           round(CASE WHEN len(skb) < 128 THEN CAST(len(skb) AS DOUBLE)
                      ELSE 127.0 * 4.503599627370496e15 / CAST(skb[128] AS DOUBLE) END, 4) AS est_b,
           round(jr, 6) AS jaccard,
           round(ur, 4) AS est_union,
           round(jr * ur, 4) AS est_intersect
         FROM j""",
    // PSI replayed: add-one smoothed probabilities over the union key
    // set, per-key contribution rounded onto the 1e-9 BIGINT grid with
    // the same op chain
    "profile_psi_lang" ->
      """WITH o AS (SELECT lang, count(*) AS c FROM documents
                WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1),
         n AS (SELECT lang, count(*) AS c FROM documents
               WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1),
         j AS (SELECT COALESCE(o.lang, n.lang) AS lang,
                 COALESCE(o.c, 0) AS co, COALESCE(n.c, 0) AS cn
               FROM o FULL JOIN n ON o.lang = n.lang),
         t AS (SELECT sum(co) AS no, sum(cn) AS nn, count(*) AS k FROM j)
         SELECT lang, co AS n_old, cn AS n_new,
           round(CAST(round(((cn + 1) / (nn + k) - (co + 1) / (no + k))
             * ln(((cn + 1) / (nn + k)) / ((co + 1) / (no + k))) * 1e9) AS BIGINT)
             / 1e9, 9) AS psi_contrib
         FROM j CROSS JOIN t""",
    "profile_psi_nchars" ->
      """WITH vo AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents
                WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL AND n_chars >= 0),
         vn AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents
                WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL AND n_chars >= 0),
         o AS (SELECT greatest(0, length(bin(v)) - 6) * 32
                 + (v >> CAST(greatest(0, length(bin(v)) - 6) AS INT)) AS bucket,
                 count(*) AS c FROM vo GROUP BY 1),
         n AS (SELECT greatest(0, length(bin(v)) - 6) * 32
                 + (v >> CAST(greatest(0, length(bin(v)) - 6) AS INT)) AS bucket,
                 count(*) AS c FROM vn GROUP BY 1),
         j AS (SELECT COALESCE(o.bucket, n.bucket) AS bucket,
                 COALESCE(o.c, 0) AS co, COALESCE(n.c, 0) AS cn
               FROM o FULL JOIN n ON o.bucket = n.bucket),
         t AS (SELECT sum(co) AS no, sum(cn) AS nn, count(*) AS k FROM j)
         SELECT bucket, co AS n_old, cn AS n_new,
           round(CAST(round(((cn + 1) / (nn + k) - (co + 1) / (no + k))
             * ln(((cn + 1) / (nn + k)) / ((co + 1) / (no + k))) * 1e9) AS BIGINT)
             / 1e9, 9) AS psi_contrib
         FROM j CROSS JOIN t""",
    // MAD replayed: quantile_cont matches Spark's interpolated
    // percentile (the profile_quantiles parity); null-safe group joins
    "profile_mad_outliers" ->
      """WITH m AS (SELECT lang AS grp, quantile_cont(n_chars, 0.5) AS med
                FROM documents GROUP BY 1),
         d AS (SELECT d.doc_id, d.lang, d.n_chars, m.med
               FROM documents d JOIN m ON d.lang IS NOT DISTINCT FROM m.grp),
         md AS (SELECT lang AS grp, quantile_cont(abs(n_chars - med), 0.5) AS mad
                FROM d GROUP BY 1)
         SELECT d.doc_id, d.lang, d.n_chars,
           round(d.med, 6) AS med, round(md.mad, 6) AS mad,
           (abs(d.n_chars - d.med) > 3.0 * md.mad) AS is_outlier
         FROM d JOIN md ON d.lang IS NOT DISTINCT FROM md.grp""",
    // HDR replayed: g = max(0, bitlength - subBits - 1) picks the band
    // AND the shift (e-1-sb == e-sb-1), bucket = g*2^sb + (v >> g); rank
    // threshold ceil(q*n) as (n*q + 999999) // 1e6; first bucket whose
    // cumulative count reaches it
    "profile_hdr_quantiles" ->
      """WITH h AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents
                WHERE n_chars IS NOT NULL AND n_chars >= 0),
         b AS (SELECT lang, v,
                 greatest(0, length(bin(v)) - 6) * 32
                   + (v >> CAST(greatest(0, length(bin(v)) - 6) AS INT)) AS bucket
               FROM h),
         hist AS (SELECT lang, bucket, count(*) AS cnt, min(v) AS lo, max(v) AS hi
                  FROM b GROUP BY 1, 2),
         cum AS (SELECT *, sum(cnt) OVER (PARTITION BY lang ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS cm FROM hist),
         tot AS (SELECT lang, sum(cnt) AS n FROM hist GROUP BY 1),
         q AS (SELECT unnest([500000, 900000, 990000]) AS q_micro),
         j AS (SELECT c.lang, c.bucket, c.cm, t.n, q.q_micro,
                 (t.n * q.q_micro + 999999) // 1000000 AS rnk
               FROM cum c JOIN tot t USING (lang) CROSS JOIN q),
         f AS (SELECT lang, q_micro, min(bucket) AS bk FROM j
               WHERE cm >= rnk GROUP BY 1, 2)
         SELECT f.lang, CAST(f.q_micro AS BIGINT) AS q_micro,
           h2.lo AS band_lo, h2.hi AS band_hi, h2.hi AS est
         FROM f JOIN hist h2 ON f.lang = h2.lang AND f.bk = h2.bucket""",
    // CMS replayed: d=4 md5 hash rows x w=2048 slots, exact integer
    // counters, est = min over the query value's d probes (0 via the
    // left join for never-hit counters)
    "profile_cms_tokens" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
         t2 AS (SELECT token FROM tok WHERE length(token) > 0),
         pr AS (SELECT token, CAST(r.i AS INT) AS row,
                  ('0x' || substring(md5('cms' || r.i || ':' || token), 1, 15))::BIGINT % 2048 AS slot
                FROM t2 CROSS JOIN range(0, 4) r(i)),
         c AS (SELECT row, slot, count(*) AS cnt FROM pr GROUP BY 1, 2),
         q AS (SELECT DISTINCT token FROM (
                 SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                 FROM documents WHERE doc_id % 50 = 0)
               WHERE length(token) > 0),
         qp AS (SELECT token, CAST(r.i AS INT) AS row,
                  ('0x' || substring(md5('cms' || r.i || ':' || token), 1, 15))::BIGINT % 2048 AS slot
                FROM q CROSS JOIN range(0, 4) r(i)),
         e AS (SELECT qp.token, COALESCE(c.cnt, 0) AS cnt
               FROM qp LEFT JOIN c ON qp.row = c.row AND qp.slot = c.slot)
         SELECT token, CAST(min(cnt) AS BIGINT) AS est FROM e GROUP BY 1""",
    // plain BETWEEN containment join — DuckDB's nested-loop is fine at
    // oracle scale; the Spark side must reproduce it via time tiling
    "events_range_join" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS tu, event_type FROM events),
         i AS (SELECT event_id AS incident_id, tu AS w_start, tu + 60000000 AS w_end
               FROM e WHERE event_type = 'error'),
         c AS (SELECT event_id AS click_id, tu FROM e WHERE event_type = 'click')
         SELECT c.click_id AS click_id, i.incident_id AS incident_id,
           c.tu - i.w_start AS delay_us
         FROM c JOIN i ON c.tu BETWEEN i.w_start AND i.w_end""",
    // inclusive overlap predicate, whole view span vs per-day click spans;
    // DuckDB // floors like Spark div on these non-negative micros
    "events_interval_overlap" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_type FROM events),
         v AS (SELECT user_id, min(tu) AS v0, max(tu) AS v1
               FROM e WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT user_id, tu // 86400000000 AS cd, min(tu) AS c0, max(tu) AS c1
               FROM e WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT v.user_id AS user_id, c.cd AS cd
         FROM v JOIN c ON v.user_id = c.user_id AND v.v0 <= c.c1 AND c.c0 <= v.v1""",
    // same shingle construction as the dedup_ngram family at n = 5; the
    // md5 bucket split mirrors curate_sample's hash-sampling arithmetic
    "text_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
              FROM documents),
         s AS (SELECT doc_id, bkt, CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, bkt, unnest(sh) AS g FROM s),
         ev AS (SELECT DISTINCT g FROM e WHERE bkt < 100000)
         SELECT e.doc_id AS doc_id, count(*) AS n_hits
         FROM e JOIN ev USING (g) WHERE e.bkt >= 100000 GROUP BY 1""",
    // spans replayed: positioned grams via unnest(recursive) over the
    // same shingle rule (short docs = whole text at offset 0), first
    // offset per (doc, gram), then the per-(doc, eval) rollup
    "text_contamination_spans" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
              FROM documents),
         pg0 AS (SELECT doc_id, bkt,
                   CASE WHEN len(w) < 5
                        THEN [struct_pack(pos := 0, gram := array_to_string(w, ' '))]
                        ELSE list_transform(range(1, len(w)-3),
                          i -> struct_pack(pos := CAST(i - 1 AS INT), gram := array_to_string(w[i:i+4], ' ')))
                   END AS pgs
                 FROM t),
         pgf AS (SELECT doc_id, bkt, unnest(pgs, recursive := true) FROM pg0),
         pgm AS (SELECT doc_id, bkt, gram, min(pos) AS pos FROM pgf GROUP BY 1, 2, 3),
         s AS (SELECT doc_id, bkt, CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))) END AS sh FROM t),
         evg AS (SELECT doc_id AS eval_id, unnest(sh) AS gram FROM s WHERE bkt < 100000)
         SELECT c.doc_id, e.eval_id, count(*) AS n_matched,
           CAST(min(c.pos) AS INT) AS first_pos
         FROM pgm c JOIN evg e USING (gram)
         WHERE c.bkt >= 100000 GROUP BY 1, 2""",
    // the bloom arm is exact by construction (prefilter + exact confirm
    // join), so its oracle is literally the exact-path SQL
    "text_decontaminate_bloom" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
              FROM documents),
         s AS (SELECT doc_id, bkt, CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, bkt, unnest(sh) AS g FROM s),
         ev AS (SELECT DISTINCT g FROM e WHERE bkt < 100000)
         SELECT e.doc_id AS doc_id, count(*) AS n_hits
         FROM e JOIN ev USING (g) WHERE e.bkt >= 100000 GROUP BY 1""",
    // literally the same pattern strings as TextAnalysis.redactionPatterns
    // (Java-regex ∩ RE2 subset), applied in the same order; counts taken on
    // the same partially-redacted stages the sequential replace sees
    "text_redact" ->
      """WITH p AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com or http://site' ||
                doc_id || '.example/a?b=1 from 10.0.' || (doc_id % 256) || '.7' AS t0 FROM documents),
         r1 AS (SELECT doc_id, t0, regexp_replace(t0, 'https?://[^\s]+', '<URL>', 'g') AS t1 FROM p),
         r2 AS (SELECT doc_id, t0, t1,
                 regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t2 FROM r1)
         SELECT doc_id,
           md5(regexp_replace(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS redacted_md5,
           len(regexp_extract_all(t0, 'https?://[^\s]+')) AS n_urls,
           len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS n_emails,
           len(regexp_extract_all(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips
         FROM r2""",
    // quantile_cont interpolates at p*(n-1) exactly like Spark's exact
    // percentile, so the profile compares bit-for-bit after rounding
    "corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total,
           round(avg(n_chars), 4) AS mean,
           round(quantile_cont(n_chars, 0.5), 4) AS p50,
           round(quantile_cont(n_chars, 0.9), 4) AS p90,
           CAST(min(n_chars) AS BIGINT) AS min_v, CAST(max(n_chars) AS BIGINT) AS max_v
         FROM documents GROUP BY 1, 2""",
    // GROUPING bit order (first column = MSB) matches Spark grouping_id;
    // subtotal NULLs relabel to 'ALL' in both engines
    "corpus_rollup" ->
      """SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
           CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
           CAST(GROUPING(lang, source) AS BIGINT) AS level,
           count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_value
         FROM documents GROUP BY ROLLUP (lang, source)""",
    "corpus_cube" ->
      """SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
           CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
           CAST(GROUPING(lang, source) AS BIGINT) AS level,
           count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_value
         FROM documents GROUP BY CUBE (lang, source)""",
    // batch side: keep-first window over the digest; corpus side: the
    // distinct digest set as a NOT IN
    "dedup_chunk_incremental" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
              FROM documents),
         c AS (SELECT doc_id, bkt, unnest(list_transform(range(0, CAST(floor((len(w)-1)/16) AS INT) + 1),
                 i -> struct_pack(idx := i, txt := array_to_string(w[(i*16+1)::INT : (i*16+16)::INT], ' ')))) AS ch
               FROM t),
         b AS (SELECT doc_id, ch.idx AS idx, md5(ch.txt) AS d,
                 min(doc_id * 1000000 + ch.idx) OVER (PARTITION BY md5(ch.txt)) AS fst
               FROM c WHERE bkt < 100000),
         k AS (SELECT doc_id, idx, d FROM b WHERE doc_id * 1000000 + idx = fst),
         corp AS (SELECT DISTINCT md5(ch.txt) AS d FROM c WHERE bkt >= 100000)
         SELECT doc_id, CAST(idx AS BIGINT) AS chunk_index, d AS chunk_md5
         FROM k WHERE d NOT IN (SELECT d FROM corp)""",
    // same trigram-shingle family as dedup_ngram_jaccard, aggregated to
    // (source, shingle) sets; hash-set == string-set intersection (the
    // kernel's 64-bit shingle hashes are collision-free on this corpus)
    "corpus_overlap" ->
      """WITH t AS (SELECT source, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         s AS (SELECT source, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT DISTINCT g, sg FROM (SELECT source AS g, unnest(sh) AS sg FROM s)),
         z AS (SELECT g, count(*) AS n FROM e GROUP BY 1),
         c AS (SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_common
               FROM e a JOIN e b ON a.sg = b.sg AND a.g < b.g GROUP BY 1, 2)
         SELECT group_a, group_b, za.n AS n_a, zb.n AS n_b, n_common,
           round(n_common / (za.n + zb.n - n_common), 6) AS jaccard
         FROM c JOIN z za ON c.group_a = za.g JOIN z zb ON c.group_b = zb.g""",
    // keep-first as a window partition-min over the chunk digest; pruned
    // docs re-assemble via list(ORDER BY idx)
    "dedup_chunk_rebuild" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         c AS (SELECT doc_id, CAST(floor((len(w)-1)/16) AS BIGINT) + 1 AS n_total,
                 unnest(list_transform(range(0, CAST(floor((len(w)-1)/16) AS INT) + 1),
                 i -> struct_pack(idx := i, txt := array_to_string(w[(i*16+1)::INT : (i*16+16)::INT], ' ')))) AS ch
               FROM t),
         k AS (SELECT doc_id, n_total, ch.idx AS idx, ch.txt AS txt,
                 min(doc_id * 1000000 + ch.idx) OVER (PARTITION BY md5(ch.txt)) AS fst
               FROM c)
         SELECT doc_id, n_total, count(*) AS n_kept,
           md5(array_to_string(list(txt ORDER BY idx), ' ')) AS rebuilt_md5
         FROM k WHERE doc_id * 1000000 + idx = fst GROUP BY doc_id, n_total""",
    // exact arm: corpus digests (min id per digest); near arm: the
    // dedup_ngram_jaccard shingle family restricted to cross-side pairs,
    // best match per batch doc (max jaccard, ties to smallest corpus id)
    // exact cross-side shingle jaccard >= 0.5 over the same batch/corpus
    // split (the 24x1-band candidate stage has ~full recall there, like
    // dedup_minhash_lsh's oracle rationale)
    "dedup_minhash_inc" -> minhashIncOracle,
    // the stored (bucket-partitioned) form: identical semantics, one oracle
    "dedup_minhash_inc_stored" -> minhashIncOracle,
    // the stored form's minhash_pairs_stored TVF front door: same oracle
    "dedup_minhash_stored_sql" -> minhashIncOracle,
    "dedup_incremental" ->
      """WITH d AS (SELECT doc_id, text,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
              FROM documents),
         ba AS (SELECT doc_id, text FROM d WHERE bkt < 100000),
         co AS (SELECT doc_id, text FROM d WHERE bkt >= 100000
                UNION ALL SELECT doc_id + 10000000, text FROM d WHERE bkt < 50000),
         cd AS (SELECT md5(text) AS dg, min(doc_id) AS match_id FROM co GROUP BY 1),
         ex AS (SELECT b.doc_id AS doc_id, 'exact' AS dup_kind, cd.match_id AS match_id, 1.0 AS jaccard
                FROM ba b JOIN cd ON md5(b.text) = cd.dg),
         u AS (SELECT * FROM ba UNION ALL SELECT * FROM co),
         t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM u),
         s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         sz AS (SELECT doc_id, len(sh) AS sz FROM s),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT id_a, id_b, common / (sa.sz + sb.sz - common) AS jac
               FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
               WHERE common / (sa.sz + sb.sz - common) >= 0.5),
         x AS (SELECT CASE WHEN j.id_a IN (SELECT doc_id FROM ba) THEN j.id_a ELSE j.id_b END AS doc_id,
                 CASE WHEN j.id_a IN (SELECT doc_id FROM ba) THEN j.id_b ELSE j.id_a END AS match_id, j.jac
               FROM j
               WHERE (j.id_a IN (SELECT doc_id FROM ba)) <> (j.id_b IN (SELECT doc_id FROM ba))),
         nr AS (SELECT doc_id, 'near' AS dup_kind, match_id, jac AS jaccard FROM
                 (SELECT x.*, row_number() OVER (PARTITION BY doc_id ORDER BY jac DESC, match_id) AS rk
                  FROM x WHERE doc_id NOT IN (SELECT doc_id FROM ex)) WHERE rk = 1)
         SELECT doc_id, dup_kind, match_id, round(jaccard, 6) AS jaccard FROM ex
         UNION ALL
         SELECT doc_id, dup_kind, match_id, round(jaccard, 6) AS jaccard FROM nr""",
    // the cross-side primitive: batch-x-corpus shingle join only (no
    // same-side pairs), full pair set at jaccard >= 0.5
    "dedup_cross_pairs" ->
      """WITH d AS (SELECT doc_id, text,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
              FROM documents),
         ba AS (SELECT doc_id, text FROM d WHERE bkt < 100000),
         co AS (SELECT doc_id, text FROM d WHERE bkt >= 100000
                UNION ALL SELECT doc_id + 10000000, text FROM d WHERE bkt < 50000),
         tb AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM ba),
         tc AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM co),
         sb AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM tb),
         sc AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) END AS sh FROM tc),
         eb AS (SELECT doc_id, unnest(sh) AS g FROM sb),
         ec AS (SELECT doc_id, unnest(sh) AS g FROM sc),
         zb AS (SELECT doc_id, len(sh) AS sz FROM sb),
         zc AS (SELECT doc_id, len(sh) AS sz FROM sc),
         c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM eb a JOIN ec b ON a.g = b.g GROUP BY 1, 2)
         SELECT id_a, id_b, round(common / (za.sz + zx.sz - common), 6) AS jaccard
         FROM c JOIN zb za ON c.id_a = za.doc_id JOIN zc zx ON c.id_b = zx.doc_id
         WHERE common / (za.sz + zx.sz - common) >= 0.5""",
    // winnow-pair edges through the same recursive-reachability component
    // resolution as dedup_near_cluster
    "dedup_winnow_cluster" ->
      """WITH RECURSIVE
         pp AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
         g AS (SELECT doc_id,
                 list_transform(range(0, greatest(length(t) - 5 + 1, 1)),
                   i -> ('0x' || substring(md5(substring(t, i::INT + 1, 5)), 1, 15))::BIGINT) AS hs
               FROM pp),
         f AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(range(0, greatest(len(hs) - 4 + 1, 1)),
                   w -> list_min(hs[w::INT + 1 : w::INT + 4])))) AS fp
               FROM g),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING count(*) >= 50),
         edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
         SELECT d.doc_id AS doc_id FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
         WHERE comp.id IS NULL OR comp.comp = d.doc_id""",
    // the text_winnow sketch construction, self-joined on the fingerprint
    "dedup_winnow" -> winnowPairsOracle,
    // the dedup_pairs TVF's winnow method runs the same operator: one oracle
    "dedup_winnow_sql" -> winnowPairsOracle,
    // file-format connectors: the oracle reads the raw table; the query
    // round-trips it through real TFRecord / WARC files on disk
    "source_tfrecord_roundtrip" -> "SELECT doc_id, text FROM documents",
    "source_warc_roundtrip" -> warcRoundtripOracle,
    "source_warc_gz" -> warcRoundtripOracle,
    "source_warc_http" -> warcHttpOracle,
    // the charset-sniffing decode and its SQL twin: one generated oracle
    "source_warc_http_text" -> warcHttpTextOracle,
    "source_warc_http_text_sql" -> warcHttpTextOracle,
    "source_warc_http_headers" ->
      """SELECT doc_id,
         CAST(doc_id % 2 AS VARCHAR) AS parity,
         'en, mul' AS lang,
         CASE WHEN doc_id % 2 = 0 THEN 'text/html; charset=utf-8'
              ELSE 'text/plain' END AS ctype
         FROM documents""",
    "warc_to_text" -> warcToTextOracle,
    // outlink extraction + the domain rollup: the oracle replays the
    // same extraction/normalization regex chain over the rebuilt page
    "warc_links" -> warcLinksOracle,
    "warc_frontier" -> warcFrontierOracle,
    "curate_frontier_new" -> warcFrontierNewOracle,
    "warc_links_follow" -> warcLinksFollowOracle,
    "curate_robots_meta" -> robotsMetaOracle,
    // canonical by arm: normalized absolute / resolved relative / self
    "warc_canonical" ->
      """SELECT doc_id,
         CASE CAST(doc_id % 3 AS INTEGER)
           WHEN 0 THEN 'https://example.com/c' || doc_id
           WHEN 1 THEN 'https://example.com/canon/' || doc_id
           ELSE 'https://example.com/' || doc_id
         END AS canonical
         FROM documents""",
    // redirect targets by parity arm, 3xx rows only (doc_id % 3 = 1)
    "warc_redirects" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
           THEN 'https://example.com/moved/' || doc_id
           ELSE 'https://other.example.com/m' || doc_id
         END AS redirect_to
         FROM documents WHERE doc_id % 3 = 1""",
    "warc_links_resolved" -> warcLinksResolvedOracle,
    "warc_link_domains" -> warcLinkDomainsOracle,
    // the same extraction chain, domain rollup, and the domain-derived
    // delays reconstructed (len%7; the cdn domain's selected group
    // declares none -> the 1s default)
    "curate_frontier_schedule" -> (warcLinksExtractSql +
      """, l AS (SELECT doc_id, unnest(links) AS link FROM ex),
         d AS (SELECT regexp_extract(link, '^https?://([^/:?]+)', 1) AS domain,
                 count(DISTINCT link) AS n_urls FROM l GROUP BY 1)
         SELECT domain, n_urls,
           CASE WHEN domain LIKE 'cdn%' THEN CAST(1.0 AS DOUBLE)
                ELSE CAST(length(domain) % 7 AS DOUBLE) END AS delay_sec,
           n_urls * CASE WHEN domain LIKE 'cdn%' THEN CAST(1.0 AS DOUBLE)
                ELSE CAST(length(domain) % 7 AS DOUBLE) END AS est_sec
         FROM d"""),
    // the sitemap fixture rebuilt in SQL, then the SAME block extraction,
    // loc/lastmod regexes, trim, entity decode and http(s) filter
    "curate_sitemaps" ->
      """WITH raw AS (SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN '<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"><url><loc>https://ex.com/'
               || doc_id || '?a=1&amp;b=2</loc><lastmod>2026-01-0'
               || CAST(doc_id % 9 + 1 AS VARCHAR)
               || '</lastmod></url><url><loc>https://ex.com/plain/' || doc_id
               || '</loc></url><url><loc>ftp://ex.com/skip</loc></url></urlset>'
             WHEN 1 THEN '<sitemapindex><sitemap><loc>' || chr(10)
               || ' https://ex.com/maps/' || doc_id || '.xml ' || chr(10)
               || '</loc><lastmod>2025-12-31</lastmod></sitemap></sitemapindex>'
             ELSE '<urlset><url>' || chr(10) || '<loc>' || chr(10)
               || 'https://ex.com/ws/' || doc_id || chr(10) || '</loc>'
               || chr(10) || '</url></urlset>'
           END AS xml FROM documents),
         b AS (SELECT doc_id, unnest(regexp_extract_all(xml,
             '(?is)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)[\s\x0B]*>', 1)) AS blk
           FROM raw),
         e AS (SELECT doc_id,
             replace(replace(replace(replace(replace(
               regexp_extract(blk,
                 '(?is)<loc[\s\x0B]*>[\s\x0B]*([^<]*?)[\s\x0B]*</loc', 1),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&apos;', ''''), '&amp;', '&') AS loc,
             regexp_extract(blk,
               '(?is)<lastmod[\s\x0B]*>[\s\x0B]*([^<]*?)[\s\x0B]*</lastmod', 1)
               AS lastmod
           FROM b)
         SELECT doc_id, loc, lastmod FROM e
         WHERE regexp_matches(loc, '(?i)^https?://')""",
    // verdicts by path arm: the private dir (disallowed), its allowed
    // /ok subtree (longer Allow wins), the $-anchored *.bin rule, and an
    // unmatched public path; the * group disallows everything for the
    // unlisted crawler
    "curate_robots" ->
      """SELECT doc_id,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN false WHEN 1 THEN true
           WHEN 2 THEN false ELSE true END AS allowed,
         false AS allowed_other,
         CAST(2.5 AS DOUBLE) AS delay,
         CAST(-1.0 AS DOUBLE) AS delay_other,
         'https://example.com/sm' || doc_id || '.xml' AS sitemap
         FROM documents""",
    "curate_robots_gate" -> robotsGateOracle,
    "curate_robots_gate_sql" -> robotsGateOracle,
    // the oracle is GENERATED from the same constants and unrolls the
    // same fixed-point iteration loop — it cannot drift from the operator
    "graph_pagerank" -> graft.pipeline.WebGraph.pageRankOracleSql(
      "SELECT doc_id % 211 AS src, (doc_id * 31 + 7) % 211 AS dst FROM documents",
      iterations = 8),
    "graph_pagerank_sql" -> graft.pipeline.WebGraph.pageRankOracleSql(
      "SELECT doc_id % 211 AS src, (doc_id * 31 + 7) % 211 AS dst FROM documents",
      iterations = 8),
    "graph_pagerank_conserved" -> graft.pipeline.WebGraph.pageRankOracleSql(
      "SELECT doc_id % 97 AS src, (doc_id * 13 + 5) % 211 AS dst FROM documents",
      iterations = 6, danglingRedistribute = true),
    "graph_pagerank_keys" -> graft.pipeline.WebGraph.pageRankKeysOracleSql(
      "SELECT 'd' || CAST(doc_id % 89 AS VARCHAR) || '.example' AS src, " +
        "'d' || CAST((doc_id * 31 + 7) % 89 AS VARCHAR) || '.example' AS dst " +
        "FROM documents",
      iterations = 6),
    // the nightly winnow check and its stored-state/TVF twins: one oracle
    "dedup_winnow_inc" -> winnowCrossOracle,
    "dedup_winnow_inc_stored" -> winnowCrossOracle,
    "dedup_winnow_stored_sql" -> winnowCrossOracle,
    // top-100 boundary ties break on the token string in both engines;
    // counts are exact ints so the ratio divides identically
    "text_oov" ->
      """WITH vt AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
               FROM documents WHERE doc_id % 2 = 0),
         v AS (SELECT token FROM vt WHERE length(token) > 0
               GROUP BY token HAVING count(*) >= 2),
         tk AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
               FROM documents WHERE doc_id % 2 = 1),
         tok AS (SELECT doc_id, token FROM tk WHERE length(token) > 0),
         c AS (SELECT tok.doc_id, count(*) AS n_tokens,
                      CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
               FROM tok LEFT JOIN v ON tok.token = v.token GROUP BY 1)
         SELECT d.doc_id AS doc_id, coalesce(c.n_tokens, 0) AS n_tokens,
                coalesce(c.n_oov, 0) AS n_oov,
                round(coalesce(c.n_oov / c.n_tokens, 0), 6) AS oov_frac
         FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
         LEFT JOIN c ON d.doc_id = c.doc_id""",
    "text_common_ratio" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
         tok AS (SELECT doc_id, token FROM tk WHERE length(token) > 0),
         v AS (SELECT token FROM (SELECT token, count(*) AS freq FROM tok GROUP BY 1)
               ORDER BY freq DESC, token LIMIT 100)
         SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN token IN (SELECT token FROM v) THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           round(CAST(sum(CASE WHEN token IN (SELECT token FROM v) THEN 1 ELSE 0 END) AS BIGINT)
             / count(*), 6) AS common_ratio
         FROM tok GROUP BY 1""",
    // same normalization chain: control-strip, \s+ collapse, trim, lower.
    // Controls are stripped BEFORE \s+ runs, so the Java-vs-RE2 \x0B
    // difference in \s never matters.
    // same synthetic wrap; tags -> space, entities via global literal
    // replace in the identical decode order, amp last
    "text_strip_markup" ->
      """SELECT doc_id, trim(regexp_replace(
           replace(replace(replace(replace(replace(
             regexp_replace('<p class="x">' || text || '</p> &amp;gt; <b>bold</b> &lt;tag&gt; a&#39;b &quot;q&quot;',
               '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
           '\s+', ' ', 'g')) AS clean
         FROM documents""",
    "text_clean" ->
      """WITH p AS (SELECT doc_id, text || chr(9) || ' tail  ' || chr(7) || 'of doc ' || doc_id || '  .' AS t0
              FROM documents),
         n AS (SELECT doc_id, lower(trim(regexp_replace(
                 regexp_replace(t0, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                 '\s+', ' ', 'g'))) AS t1 FROM p)
         SELECT doc_id, md5(t1) AS clean_md5, CAST(length(t1) AS BIGINT) AS clean_len FROM n""",
    // decontamination family plus the per-doc distinct-gram denominator
    "text_contamination_frac" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
              FROM documents),
         s AS (SELECT doc_id, bkt, CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                ELSE list_distinct(list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))) END AS sh FROM t),
         e AS (SELECT doc_id, bkt, unnest(sh) AS g FROM s),
         ev AS (SELECT DISTINCT g FROM e WHERE bkt < 100000),
         hits AS (SELECT e.doc_id AS doc_id, count(*) AS n_hits
                  FROM e JOIN ev USING (g) WHERE e.bkt >= 100000 GROUP BY 1),
         sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams FROM s)
         SELECT h.doc_id AS doc_id, h.n_hits AS n_hits, sz.n_grams AS n_grams,
           round(h.n_hits / sz.n_grams, 6) AS contaminated_frac
         FROM hits h JOIN sz USING (doc_id)""",
    // per-token ln quantized to the 1e-6 grid as BIGINT, summed exactly —
    // the same order-independence trick as embed_centroid
    "text_unigram_lp" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
         tok AS (SELECT doc_id, token FROM tk WHERE length(token) > 0),
         v AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
         tot AS (SELECT sum(freq) AS total FROM v),
         lm AS (SELECT token, CAST(round(ln(freq / total) * 1000000) AS BIGINT) AS lp_q
                FROM v CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens,
           round(sum(lp_q) / 1000000.0, 6) AS logprob,
           round(sum(lp_q) / 1000000.0 / count(*), 6) AS avg_logprob
         FROM tok JOIN lm USING (token) GROUP BY 1""",
    // BM25 replayed exactly: per-term contribution on the 1e-6 ln grid
    // (the quantized-exact-sum family), dl/avgdl as (dl*N)/Σdl from exact
    // integers, rank = row_number over (micro score desc, doc_id asc) —
    // the same total order as the BoundedTopK heap
    "text_bm25" -> bm25FullOracle,
    // the bm25_topk TVF front door: identical semantics, one oracle
    "text_bm25_sql" -> bm25FullOracle,
    // storage layout must be invisible to the ranking: the bucketed
    // stored path shares text_bm25's oracle verbatim
    "text_bm25_stored" -> bm25FullOracle,
    // base (%13!=0) + appended batch (%13==0) covers the whole corpus and
    // the ungated append is exactly a unioned rebuild, so the append path
    // shares the full-corpus oracle verbatim too
    "text_bm25_append" -> bm25FullOracle,
    // the oracle IS the kept-corpus rebuild: decremental maintenance must
    // be indistinguishable from it (queries keep the full query set —
    // forgotten docs may still ask, they just can't be found)
    "text_bm25_forget" ->
      """WITH t0 AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         t AS (SELECT * FROM t0 WHERE doc_id % 13 != 0),
         tok AS (SELECT doc_id, unnest(w) AS tk FROM t),
         tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok WHERE length(tk) > 0 GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS nd, sum(dl) AS tt FROM dl),
         df AS (SELECT tk, count(*) AS df FROM tf GROUP BY 1),
         q AS (SELECT doc_id AS query_id, unnest(list_distinct(w[1:5])) AS qtk FROM t0 WHERE doc_id % 50 = 0),
         sc AS (SELECT q.query_id, tf.doc_id,
                  CAST(round(ln((nd - df.df + 0.5) / (df.df + 0.5) + 1.0)
                    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * ((CAST(dl.dl AS DOUBLE) * CAST(st.nd AS DOUBLE)) / CAST(st.tt AS DOUBLE))))
                    * 1000000.0) AS BIGINT) AS c
                FROM q JOIN tf ON q.qtk = tf.tk
                  JOIN dl ON tf.doc_id = dl.doc_id
                  JOIN df ON tf.tk = df.tk
                  CROSS JOIN st
                WHERE length(q.qtk) > 0),
         agg AS (SELECT query_id, doc_id, sum(c) AS sq FROM sc GROUP BY 1, 2),
         rk AS (SELECT query_id, doc_id, sq,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sq DESC, doc_id) AS INT) AS rank
                FROM agg)
         SELECT query_id, doc_id, round(sq / 1000000.0, 6) AS score, rank
         FROM rk WHERE rank <= 10""",
    // MLE bigram: freq(w1 w2) / freq(w1-as-history); same 1e-6 quantized
    // ln grid as the unigram score (ln parity between engines held)
    "text_bigram_lp" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         p AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
               FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)),
                       i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
                     FROM t WHERE len(w) >= 2)),
         f AS (SELECT w1, w2, count(*) AS fr FROM p GROUP BY 1, 2),
         h AS (SELECT w1, count(*) AS hc FROM p GROUP BY 1),
         lm AS (SELECT f.w1, f.w2, CAST(round(ln(fr / hc) * 1000000) AS BIGINT) AS lp_q
                FROM f JOIN h ON f.w1 = h.w1)
         SELECT doc_id, count(*) AS n_bigrams,
           round(sum(lp_q) / 1000000.0, 6) AS logprob,
           round(sum(lp_q) / 1000000.0 / count(*), 6) AS avg_logprob
         FROM p JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2 GROUP BY 1""",
    // Kneser-Ney replayed: the same integer count tables (bigram,
    // history + N1+(w1.), continuation N1+(.w2), total distinct
    // bigrams), the same left-associated IEEE chain for P (doubles via
    // e-notation — a bare 0.75 would be DECIMAL and change the
    // arithmetic), ln on the 1e-6 grid, exact integer sums
    "text_kn_lp" ->
      """WITH tr AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents WHERE doc_id % 2 = 0),
         tp AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM (
                  SELECT unnest(list_transform(range(1, len(w)),
                    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
                  FROM tr WHERE len(w) >= 2)),
         bg AS (SELECT w1, w2, count(*) AS c12 FROM tp GROUP BY 1, 2),
         h AS (SELECT w1, sum(c12) AS hc, count(*) AS n1w1 FROM bg GROUP BY 1),
         cn AS (SELECT w2, count(*) AS cont FROM bg GROUP BY 1),
         tt AS (SELECT count(*) AS tot FROM bg),
         dq AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents),
         dp AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
                  SELECT doc_id, unnest(list_transform(range(1, len(w)),
                    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
                  FROM dq WHERE len(w) >= 2)),
         sc AS (SELECT dp.doc_id,
                  CASE WHEN cn.cont IS NOT NULL THEN
                    CAST(round(ln(
                      CASE WHEN h.hc IS NOT NULL THEN
                        greatest(CAST(COALESCE(bg.c12, 0) AS DOUBLE) - 7.5e-1, 0.0e0) / h.hc
                          + 7.5e-1 * h.n1w1 / h.hc * (cn.cont / tt.tot)
                      ELSE cn.cont / tt.tot END) * 1000000) AS BIGINT)
                  END AS lp_q
                FROM dp LEFT JOIN bg ON dp.w1 = bg.w1 AND dp.w2 = bg.w2
                  LEFT JOIN h ON dp.w1 = h.w1
                  LEFT JOIN cn ON dp.w2 = cn.w2
                  CROSS JOIN tt)
         SELECT doc_id, count(*) AS n_bigrams,
           count(lp_q) AS n_scored,
           round(sum(COALESCE(lp_q, 0)) / 1000000.0, 6) AS logprob,
           CASE WHEN count(lp_q) > 0
                THEN round(sum(COALESCE(lp_q, 0)) / 1000000.0 / count(lp_q), 6)
                ELSE 0.0e0 END AS avg_logprob
         FROM sc GROUP BY 1""",
    // Moore-Lewis: two unigram LMs on the 1e-6 ln grid, score = exact
    // integer sum of (lp_in - lp_gen) over in-domain-vocab tokens; OOV
    // tokens contribute 0 via the left join's CASE
    "text_moore_lewis" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
         tok AS (SELECT doc_id, token FROM tk WHERE length(token) > 0),
         gv AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
         gt AS (SELECT sum(freq) AS total FROM gv),
         glm AS (SELECT token, CAST(round(ln(freq / total) * 1000000) AS BIGINT) AS lp_g
                 FROM gv CROSS JOIN gt),
         itok AS (SELECT token FROM (
                    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                    FROM documents WHERE lang = 'en')
                  WHERE length(token) > 0),
         iv AS (SELECT token, count(*) AS freq FROM itok GROUP BY 1),
         it AS (SELECT sum(freq) AS total FROM iv),
         ilm AS (SELECT token, CAST(round(ln(freq / total) * 1000000) AS BIGINT) AS lp_i
                 FROM iv CROSS JOIN it),
         sc AS (SELECT tok.doc_id, count(*) AS n_tokens, count(ilm.lp_i) AS n_scored,
                  sum(CASE WHEN ilm.lp_i IS NOT NULL THEN ilm.lp_i - glm.lp_g ELSE 0 END) AS sum_q
                FROM tok JOIN glm USING (token) LEFT JOIN ilm USING (token)
                GROUP BY 1)
         SELECT doc_id, n_tokens, n_scored,
           round(sum_q / 1000000.0, 6) AS score,
           CASE WHEN n_scored > 0 THEN round(sum_q / 1000000.0 / n_scored, 6)
                ELSE 0.0 END AS avg_score
         FROM sc""",
    // DSIR: hashed (md5 % 4096) unigram+bigram feature slots, add-one
    // smoothed log-ratios on the 1e-6 grid, exact BIGINT weight sums,
    // Gumbel key from the doc id's md5 uniform ((b + 0.5)/1e6), top-100
    // by (key desc, id) — the heap's total order
    "curate_dsir" ->
      """WITH t AS (SELECT doc_id, lang,
                  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> length(w) > 0) AS w
                FROM documents),
         uf AS (SELECT doc_id, lang, 'u:' || unnest(w) AS f FROM t),
         bf AS (SELECT doc_id, lang,
                  unnest(list_transform(range(1, len(w)), i -> 'b:' || w[i] || ' ' || w[i+1])) AS f
                FROM t WHERE len(w) >= 2),
         feat AS (SELECT doc_id, lang, f FROM uf UNION ALL SELECT doc_id, lang, f FROM bf),
         fs AS (SELECT doc_id, lang,
                  ('0x' || substring(md5(f), 1, 15))::BIGINT % 4096 AS slot
                FROM feat),
         rc AS (SELECT slot, count(*) AS rc FROM fs GROUP BY 1),
         tc AS (SELECT slot, count(*) AS tc FROM fs WHERE lang = 'en' GROUP BY 1),
         tot AS (SELECT (SELECT sum(rc) FROM rc) AS rt, (SELECT sum(tc) FROM tc) AS tt),
         lr AS (SELECT rc.slot,
                  CAST(round((ln((COALESCE(tc.tc, 0) + 1) / (tot.tt + 4096))
                    - ln((rc.rc + 1) / (tot.rt + 4096))) * 1000000) AS BIGINT) AS lr_q
                FROM rc LEFT JOIN tc ON rc.slot = tc.slot CROSS JOIN tot),
         sc AS (SELECT fs.doc_id, count(*) AS n_features, sum(lr.lr_q) AS w_q
                FROM fs JOIN lr ON fs.slot = lr.slot GROUP BY 1),
         gk AS (SELECT doc_id, n_features, w_q,
                  w_q + CAST(round(-ln(-ln(
                    (('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                      + 0.5) / 1000000.0)) * 1000000) AS BIGINT) AS key_q
                FROM sc),
         rk AS (SELECT doc_id, n_features, w_q,
                  CAST(row_number() OVER (ORDER BY key_q DESC, doc_id) AS INT) AS rank
                FROM gk)
         SELECT doc_id, n_features, round(w_q / 1000000.0, 6) AS weight, rank
         FROM rk WHERE rank <= 100""",
    // the merge loop replayed with a RECURSIVE CTE: each iteration
    // merges the LEFTMOST occurrence of the LOWEST-rank adjacent pair
    // (min over rank*1000 + position — positions < 1000 by word length)
    // until no pair is in the table; per DISTINCT word, weighted back by
    // word frequency. A rank mis-order or off-by-one in the kernel's
    // scan breaks the hash.
    "text_bpe_apply" ->
      """WITH RECURSIVE
         wc AS (SELECT w, count(*) AS c FROM (
                  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
                  FROM documents)
                WHERE length(w) > 0 GROUP BY 1),
         t(w, toks, it) AS (
           SELECT w, list_transform(range(1, length(w) + 1), i -> w[i::INT:i::INT]), 0
           FROM wc
           UNION ALL
           SELECT w,
             toks[1:(best % 1000)::INT - 1]
               || [toks[(best % 1000)::INT] || toks[(best % 1000)::INT + 1]]
               || toks[(best % 1000)::INT + 2:],
             it + 1
           FROM (
             SELECT w, toks, it,
               list_min(list_filter(list_transform(range(1, len(toks)),
                 i -> CASE WHEN len((MAP {'t h':0,'th e':1,'i n':2,'e r':3,'a n':4,
                                         'r e':5,'o n':6,'e n':7,'o r':8,'in g':9}
                                   )[toks[i::INT] || ' ' || toks[i::INT + 1]]) > 0
                           THEN (MAP {'t h':0,'th e':1,'i n':2,'e r':3,'a n':4,
                                      'r e':5,'o n':6,'e n':7,'o r':8,'in g':9}
                                )[toks[i::INT] || ' ' || toks[i::INT + 1]][1] * 1000 + i
                      END),
                 x -> x IS NOT NULL)) AS best
             FROM t) s
           WHERE best IS NOT NULL),
         fin AS (SELECT w, arg_max(toks, it) AS toks FROM t GROUP BY w),
         tok AS (SELECT unnest(f.toks) AS token, wc.c
                 FROM fin f JOIN wc ON f.w = wc.w)
         SELECT token, CAST(sum(c) AS BIGINT) AS n
         FROM tok GROUP BY 1 HAVING sum(c) >= 200""",
    // bigram sums from the text_bigram_lp LM, floored onto a milli grid
    // by POSITIVE integer division (offset by 1e15), terciles as order
    // statistics over the cumulative value histogram — all integer, so
    // the bucket boundary cannot drift between engines
    "text_ppl_buckets" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         p AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
               FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)),
                       i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
                     FROM t WHERE len(w) >= 2)),
         f AS (SELECT w1, w2, count(*) AS fr FROM p GROUP BY 1, 2),
         h AS (SELECT w1, count(*) AS hc FROM p GROUP BY 1),
         lm AS (SELECT f.w1, f.w2, CAST(round(ln(fr / hc) * 1000000) AS BIGINT) AS lp_q
                FROM f JOIN h ON f.w1 = h.w1),
         s AS (SELECT doc_id, count(*) AS nb, sum(lp_q) AS sq
               FROM p JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2 GROUP BY 1),
         g AS (SELECT doc_id, nb,
                 CAST((sq * 1000 + nb * 1000000000000000) // nb - 1000000000000000 AS BIGINT) AS avg_lp_milli
               FROM s),
         hist AS (SELECT avg_lp_milli, count(*) AS c FROM g GROUP BY 1),
         cum AS (SELECT avg_lp_milli,
                   sum(c) OVER (ORDER BY avg_lp_milli
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
                 FROM hist),
         n AS (SELECT count(*) AS n FROM g),
         qs AS (SELECT min(CASE WHEN cc * 3 >= n.n THEN avg_lp_milli END) AS q1,
                       min(CASE WHEN cc * 3 >= n.n * 2 THEN avg_lp_milli END) AS q2
                FROM cum CROSS JOIN n)
         SELECT g.doc_id, CAST(g.nb AS BIGINT) AS n_bigrams, g.avg_lp_milli,
           CASE WHEN g.avg_lp_milli <= qs.q1 THEN 'tail'
                WHEN g.avg_lp_milli <= qs.q2 THEN 'middle'
                ELSE 'head' END AS bucket
         FROM g CROSS JOIN qs""",
    // generated from the same phrase list as the implementation
    // same micro-grid entropy terms, same integer sums, same id spine
    "text_entropy" -> TextAnalysis.entropyProfileOracleSql(
      "documents", "text", "doc_id"),
    "text_code_score" -> TextAnalysis.codeScoreOracleSql(
      "(SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT CAST(-11 AS BIGINT) AS doc_id, " +
        "'x=1;' || chr(11) || 'y=2;' AS text) vtu",
      "text", "doc_id"),
    // generated from the same scriptRanges table as the implementation
    "text_script_profile" -> TextAnalysis.scriptProfileOracleSql(
      "documents", "text", "doc_id"),
    "text_blocklist" -> TextAnalysis.blocklistOracleSql(
      "documents", "text", "doc_id", SparkEntry.DemoBlockPhrases),
    // every rule is an integer-count comparison (10*sym <= n_words etc.)
    // so the flags cannot drift on float division; lines split on \n,
    // words on whitespace runs
    "text_gopher_rules" ->
      """WITH w AS (SELECT doc_id,
                list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS words,
                string_split(text, chr(10)) AS lines,
                len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.'))
                  + len(regexp_extract_all(text, '…')) AS sym
              FROM documents),
         c AS (SELECT doc_id, len(words) AS nw, len(lines) AS nl, sym,
                 COALESCE(CAST(list_sum(list_transform(words, x -> len(x))) AS BIGINT), 0) AS chars,
                 len(list_filter(lines, l -> regexp_matches(trim(l), '^[-•*]'))) AS bul,
                 len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS ell,
                 len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
                 len(list_intersect(list_distinct(list_transform(words, x -> lower(x))),
                   ['the','be','to','of','and','that','have','with'])) AS sw
               FROM w)
         SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
           CAST(CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_word_count,
           CAST(CASE WHEN chars >= nw * 3 AND chars <= nw * 10 THEN 1 ELSE 0 END AS BIGINT) AS r_mean_word_len,
           CAST(CASE WHEN sym * 10 <= nw THEN 1 ELSE 0 END AS BIGINT) AS r_symbol_ratio,
           CAST(CASE WHEN bul * 10 <= nl * 9 THEN 1 ELSE 0 END AS BIGINT) AS r_bullet_lines,
           CAST(CASE WHEN ell * 10 <= nl * 3 THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis_lines,
           CAST(CASE WHEN alpha * 5 >= nw * 4 THEN 1 ELSE 0 END AS BIGINT) AS r_alpha_words,
           CAST(CASE WHEN sw >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stopwords,
           CAST(CASE WHEN nw >= 50 AND nw <= 100000 AND chars >= nw * 3 AND chars <= nw * 10
                      AND sym * 10 <= nw AND bul * 10 <= nl * 9 AND ell * 10 <= nl * 3
                      AND alpha * 5 >= nw * 4 AND sw >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass
         FROM c""",
    // double md5 per token (slot = h(token) mod 2048, weight =
    // h('w:'||slot) mapped to [-1000, 1000]); the weight SUM is exact
    // BIGINT arithmetic, only the sigmoid is float (round-6)
    "text_quality_lr" ->
      """WITH tok AS (SELECT doc_id,
                list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
              FROM documents),
         s AS (SELECT doc_id, len(toks) AS n,
                 COALESCE(CAST(list_sum(list_transform(toks, x ->
                   ('0x' || substring(md5('w:' || CAST(('0x' || substring(md5(x), 1, 15))::BIGINT % 1000000 % 2048 AS VARCHAR)), 1, 15))::BIGINT % 1000000 % 2001 - 1000)) AS BIGINT), 0) AS wsum
               FROM tok)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, wsum AS w_sum,
           round(CASE WHEN n = 0 THEN 0.5
                 ELSE 1.0 / (1.0 + exp(-wsum / (n * 1000.0))) END, 6) AS score,
           CAST(CASE WHEN wsum > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
         FROM s""",
    // same integer quantization as the sign-LSH oracles: components round
    // to the 1e-6 grid, sums are exact BIGINTs, division order matches
    "embed_centroid" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
           count(*) AS n_vectors,
           round(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) / 1000000.0 / count(*), 6) AS centroid
         FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS i FROM embeddings)
         GROUP BY 1, 2""",
    // same quantized-exact centroid arithmetic on both sides, delta
    // re-quantized to the grid, squared sum in exact integers
    "embed_drift" ->
      """WITH o AS (SELECT label, i AS dim, count(*) AS n_old,
               sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) / 1000000.0 / count(*) AS co
             FROM (SELECT label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS i
                   FROM embeddings WHERE vec_id % 10 != 0)
             GROUP BY 1, 2),
         n AS (SELECT label, i AS dim, count(*) AS n_new,
               sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) / 1000000.0 / count(*) AS cn
             FROM (SELECT label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS i
                   FROM embeddings WHERE vec_id % 7 != 2)
             GROUP BY 1, 2),
         j AS (SELECT o.label, o.n_old, n.n_new,
                 CAST(round((cn - co) * 1000000) AS BIGINT) AS dq
               FROM o JOIN n ON o.label = n.label AND o.dim = n.dim)
         SELECT CAST(label AS BIGINT) AS label, max(n_old) AS n_old,
                max(n_new) AS n_new, count(*) AS n_dims,
                round(sqrt(CAST(sum(dq * dq) AS DOUBLE)) / 1000000.0, 6) AS l2_move
         FROM j GROUP BY 1""",
    // the pinned fitted directions ride the SQL as literal rows —
    // generated from the SAME DemoModels constants the Spark plan
    // consumes, so impl and oracle cannot drift (the DemoModels recipe
    // applied to the PCA apply half)
    "embed_pca_apply" -> graft.pipeline.Embeddings.projectQuantizedOracleSql(
      "embeddings", "vec_id", "embedding",
      graft.pipeline.DemoModels.PcaDirections, 64, 8),
    // md5-derived integer planes x floor(v*4096) quantized vectors: every
    // projected component is an exact BIGINT dot product (same scheme as
    // the sign-LSH oracles)
    "embed_rp" ->
      """WITH pl AS (SELECT p, d,
                (('0x' || substring(md5(p || '_' || d), 1, 15))::BIGINT % 2097152) - 1048576 AS comp
              FROM range(8) tp(p), range(64) td(d)),
         pv AS (SELECT p, list(comp ORDER BY d) AS pc FROM pl GROUP BY p),
         qn AS (SELECT vec_id,
                  list_transform(range(1, 65), i -> CAST(floor(embedding[i]::DOUBLE * 4096) AS BIGINT)) AS qv
                FROM embeddings WHERE vec_id < 100)
         SELECT vec_id, p + 1 AS rp_dim,
                CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * pc[i])) AS BIGINT) AS component
         FROM qn CROSS JOIN pv""",
    // the whole chain in CTEs, each stage the same SQL its standalone
    // oracle uses: sample -> quality -> dedup -> train bucket -> token
    // budget -> pack
    "curate_training_set" ->
      """WITH sel AS (SELECT doc_id, text FROM documents
              WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < 500000),
         t AS (SELECT doc_id, text,
                CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_words,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS n_nonspace,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
               FROM sel),
         q AS (SELECT doc_id, text, round((
                (CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1.0 WHEN n_words >= 3 THEN 0.5 ELSE 0.0 END)
                + (CASE WHEN n_nonspace / n_words >= 3 AND n_nonspace / n_words <= 10 THEN 1.0 ELSE 0.5 END)
                + alpha_ratio) / 3.0, 6) AS quality
               FROM t),
         g AS (SELECT doc_id, text FROM q WHERE quality >= 0.5),
         k AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text)),
         dd AS (SELECT g.doc_id, g.text FROM g JOIN k USING (doc_id)),
         sp AS (SELECT doc_id, text FROM dd
                WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < 800000),
         tb0 AS (SELECT doc_id, text,
                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 % 8 AS tshard,
                  md5('tb:' || CAST(doc_id AS VARCHAR)) AS ord,
                  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                    x -> len(x) > 0)) AS BIGINT) AS nf
                 FROM sp),
         tb AS (SELECT doc_id, text, tshard FROM (
                  SELECT doc_id, text, tshard,
                    COALESCE(sum(nf) OVER (PARTITION BY tshard ORDER BY ord, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
                  FROM tb0) WHERE before < 1000),
         pk0 AS (SELECT doc_id, tshard,
                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 % 8 AS shard,
                  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS tok
                 FROM tb),
         pk AS (SELECT doc_id, tshard, shard,
                  CAST(COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pack_off
                FROM pk0)
         SELECT doc_id, CAST(tshard AS BIGINT) AS token_budget_shard, shard,
           pack_off, shard * 2147483648 + pack_off // 2048 AS pack_id
         FROM pk""",
    // exact interpolated group median; >= on an exactly-representable
    // threshold (integer or midpoint), so the boundary is engine-stable
    "curate_above_median" ->
      """WITH m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS thr FROM documents GROUP BY 1)
         SELECT doc_id, lang, n_chars FROM documents JOIN m USING (lang)
         WHERE n_chars >= thr""",
    // per-row keep probability = the rounded quality score; round(q*1e6)
    // recovers the exact integer threshold both engines compare against
    "curate_weighted_sample" ->
      """WITH t AS (SELECT doc_id, text,
                CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_words,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS n_nonspace,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
              FROM documents),
         q AS (SELECT doc_id, round((
                (CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1.0 WHEN n_words >= 3 THEN 0.5 ELSE 0.0 END)
                + (CASE WHEN n_nonspace / n_words >= 3 AND n_nonspace / n_words <= 10 THEN 1.0 ELSE 0.5 END)
                + alpha_ratio) / 3.0, 6) AS quality
               FROM t)
         SELECT doc_id FROM q
         WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
               < CAST(round(quality * 1000000) AS BIGINT)""",
    // quantile_cont interpolates at p*(n-1) exactly like Spark percentile
    "curate_winsorize" ->
      """WITH m AS (SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
                quantile_cont(n_chars, 0.95) AS hi FROM documents GROUP BY 1)
         SELECT doc_id, d.lang AS lang, n_chars,
           CASE WHEN n_chars IS NOT NULL
                THEN round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi), 4)
           END AS winsorized
         FROM documents d JOIN m ON d.lang = m.lang""",
    // floor((x - lo) * n / (hi - lo)) with edge clamping — exact integer
    // bucketing both engines reproduce
    "corpus_histogram" ->
      """SELECT lang,
           CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0.0) * 10 / 1000.0), 0.0), 9.0) AS BIGINT) AS bucket,
           count(*) AS n
         FROM documents GROUP BY 1, 2""",
    // per-doc quality rounds to 6 BEFORE the avg in both engines; the
    // final round-6 of the mean absorbs float summation-order noise
    "embed_doc_map" ->
      """WITH t AS (SELECT doc_id, lang, n_chars, text,
                CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_words,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS n_nonspace,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
               FROM documents),
         q AS (SELECT doc_id, lang, n_chars, round((
                (CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1.0 WHEN n_words >= 3 THEN 0.5 ELSE 0.0 END)
                + (CASE WHEN n_nonspace / n_words >= 3 AND n_nonspace / n_words <= 10 THEN 1.0 ELSE 0.5 END)
                + alpha_ratio) / 3.0, 6) AS quality
               FROM t)
         SELECT CAST(e.label AS BIGINT) AS label, q.lang AS lang, count(*) AS n_docs,
           CAST(sum(q.n_chars) AS BIGINT) AS sum_chars,
           round(avg(q.quality), 6) AS avg_quality
         FROM q JOIN embeddings e ON q.doc_id = e.vec_id GROUP BY 1, 2""",
    // range(1, len) is empty for len <= 1 in DuckDB, mirroring the Spark
    // size guard; pairs count occurrences corpus-wide
    "curate_bpe_pairs" ->
      """WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         p AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i::INT] || ' ' || w[i::INT + 1])) AS pair FROM t)
         SELECT pair, count(*) AS freq FROM p WHERE length(pair) > 1
         GROUP BY 1 HAVING count(*) >= 25""",
    // the composed pipeline: sample CTE -> quality CTE (same formula as
    // curate_topk_per_group) -> min-id-per-digest keep -> token counts
    "curate_pipeline" ->
      """WITH sel AS (SELECT doc_id, text FROM documents
              WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < 500000),
         t AS (SELECT doc_id, text,
                CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_words,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS n_nonspace,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
               FROM sel),
         q AS (SELECT doc_id, text, round((
                (CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1.0 WHEN n_words >= 3 THEN 0.5 ELSE 0.0 END)
                + (CASE WHEN n_nonspace / n_words >= 3 AND n_nonspace / n_words <= 10 THEN 1.0 ELSE 0.5 END)
                + alpha_ratio) / 3.0, 6) AS quality
               FROM t),
         g AS (SELECT doc_id, text, quality FROM q WHERE quality >= 0.5),
         k AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text))
         SELECT g.doc_id AS doc_id,
           CAST(len(string_split_regex(trim(lower(g.text)), '\s+')) AS BIGINT) AS n_tokens,
           g.quality AS quality
         FROM g JOIN k USING (doc_id)""",
    // deterministic quota: same md5-string ordering in both engines
    "curate_sample_n" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 20""",
    // chunk starts every stride = 64-16 = 48 tokens; DuckDB list slices
    // truncate at the end exactly like Spark's slice
    "curate_chunks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
         c AS (SELECT doc_id, unnest(list_transform(range(0, CAST(floor((len(w)-1)/48) AS INT) + 1),
                 i -> struct_pack(idx := i, txt := array_to_string(w[(i*48+1)::INT : (i*48+64)::INT], ' ')))) AS ch
               FROM t)
         SELECT doc_id, CAST(ch.idx AS BIGINT) AS chunk_index,
           CAST(len(string_split_regex(ch.txt, '\s+')) AS BIGINT) AS n_chunk_tokens,
           md5(ch.txt) AS chunk_md5
         FROM c""",
    // digest-judged snapshot diff; chr(1) is the column separator on both
    // engines (concat_ws skips nulls identically)
    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(concat_ws(chr(1), text, source)) AS od
               FROM documents WHERE doc_id % 10 != 0),
         n AS (SELECT doc_id, md5(concat_ws(chr(1),
                 CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END, source)) AS nd
               FROM documents WHERE doc_id % 11 != 3)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN od = nd THEN 'unchanged' ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""",
    // cascade audit: chunk multiplicity = floor((len-1)/40)+1 (stride 40,
    // overlap 0 — same tokenization as the chunk operators). Chunk
    // orphans are structurally 0 (chunks derive from documents rows);
    // embeddings orphans are COMPUTED — vec_id is an independent id space
    // renamed to doc_id, so rows without a surviving parent must be
    // counted, not assumed away on a fixture coincidence
    "curate_forget" ->
      """WITH w AS (SELECT doc_id, len(string_split_regex(trim(lower(text)), '\s+')) AS nw,
                (doc_id % 13 = 0) AS fg FROM documents),
         ch AS (SELECT doc_id, CAST(floor((nw-1)/40) AS BIGINT) + 1 AS n_chunks, fg FROM w),
         em AS (SELECT vec_id, vec_id % 13 = 0 AS fg FROM embeddings),
         keptp AS (SELECT doc_id FROM documents WHERE doc_id % 13 != 0),
         eorph AS (SELECT CAST(count(*) AS BIGINT) AS c FROM em
                   LEFT JOIN keptp ON em.vec_id = keptp.doc_id
                   WHERE NOT em.fg AND keptp.doc_id IS NULL)
         SELECT '__parent__' AS artifact, count(*) AS total,
                CAST(sum(CASE WHEN fg THEN 1 ELSE 0 END) AS BIGINT) AS forgotten,
                CAST(count(*) - sum(CASE WHEN fg THEN 1 ELSE 0 END) AS BIGINT) AS remaining,
                CAST(0 AS BIGINT) AS orphans
         FROM w
         UNION ALL
         SELECT 'chunks', CAST(sum(n_chunks) AS BIGINT),
                CAST(sum(CASE WHEN fg THEN n_chunks ELSE 0 END) AS BIGINT),
                CAST(sum(n_chunks) - sum(CASE WHEN fg THEN n_chunks ELSE 0 END) AS BIGINT),
                CAST(0 AS BIGINT)
         FROM ch
         UNION ALL
         SELECT 'embeddings', count(*), CAST(sum(CASE WHEN fg THEN 1 ELSE 0 END) AS BIGINT),
                CAST(count(*) - sum(CASE WHEN fg THEN 1 ELSE 0 END) AS BIGINT),
                (SELECT c FROM eorph)
         FROM em""",
    // earliest-achievable funnel times: each step's min ts at or after
    // the previous step's time; only funnel entrants (step 0) appear
    "events_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_type FROM events),
         s0 AS (SELECT user_id, min(tu) AS t0 FROM e WHERE event_type = 'view' GROUP BY 1),
         s1 AS (SELECT e.user_id, min(tu) AS t1 FROM e JOIN s0 USING (user_id)
                WHERE event_type = 'click' AND tu >= t0 GROUP BY 1),
         s2 AS (SELECT e.user_id, min(tu) AS t2 FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'purchase' AND tu >= t1 GROUP BY 1)
         SELECT s0.user_id AS user_id,
           CAST(CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS steps_completed,
           coalesce(t0, -1) AS t0, coalesce(t1, -1) AS t1, coalesce(t2, -1) AS t2
         FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)""",
    // deterministic lead() ordering: (ts, event_id) in both engines
    // same tokenization family as text_stats/curate_vocab; deterministic
    // (count desc, token asc) rank
    "text_top_tokens" ->
      """WITH tk AS (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
         tok AS (SELECT lang, token FROM tk WHERE length(token) > 0),
         c AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY 1, 2),
         r AS (SELECT lang, token, n,
                 row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank FROM c)
         SELECT lang, token, n, rank FROM r WHERE rank <= 5""",
    // NOT EXISTS = the anti-join; integer-micros window arithmetic
    "events_unconverted" ->
      """WITH v AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, epoch_us(ts) AS b FROM events WHERE event_type = 'purchase')
         SELECT event_id, user_id, ts_us FROM v
         WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
           AND p.b >= v.ts_us AND p.b <= v.ts_us + 3600000000)""",
    // identical frame + identical double-expression shapes over exact
    // integer window sums
    "events_anomaly" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                CAST(round(value * 100) AS BIGINT) AS c FROM events),
         win AS (SELECT event_id, user_id, c,
                   count(*) OVER w AS n, sum(c) OVER w AS s, sum(c * c) OVER w AS q
                 FROM e
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         v AS (SELECT event_id, user_id, c, n, s,
                 (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   / CAST(n - 1 AS DOUBLE) AS var
               FROM win WHERE n >= 10)
         SELECT event_id, user_id,
           round((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / sqrt(var), 6) AS zscore
         FROM v WHERE var > 0""",
    // bit-interleave restated as a 31-term shift sum — exact integer
    // arithmetic both engines compute identically
    "events_zvalue" ->
      """SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS tsec,
           CAST(list_sum(list_transform(range(0, 31),
             i -> (((user_id >> i::INT) & 1) << (2*i)::INT)
                + ((((epoch_ns(ts) // 1000000000) >> i::INT) & 1) << (2*i+1)::INT))) AS BIGINT) AS zvalue
         FROM events""",
    // conditional aggregation = the pivot's wide layout; integer
    // nano-floor-division days bucket identically in both engines
    "events_pivot" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'error') AS n_error,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'view') AS n_view
         FROM events GROUP BY 1""",
    "events_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_type, event_id FROM events),
         n AS (SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS to_type
               FROM e)
         SELECT from_type, to_type, count(*) AS n_transitions
         FROM n WHERE to_type IS NOT NULL GROUP BY 1, 2""",
    // two leads over the same (user, time, id) order; top 25 by
    // (count desc, path asc) — fully deterministic
    "events_trigrams" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_type, event_id FROM events),
         n AS (SELECT event_type AS step1,
                 lead(event_type, 1) OVER w AS step2,
                 lead(event_type, 2) OVER w AS step3
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
         c AS (SELECT step1, step2, step3, count(*) AS n_paths
               FROM n WHERE step3 IS NOT NULL GROUP BY 1, 2, 3),
         r AS (SELECT step1, step2, step3, n_paths,
                 row_number() OVER (ORDER BY n_paths DESC, step1, step2, step3) AS rn
               FROM c)
         SELECT step1, step2, step3, CAST(n_paths AS BIGINT) AS n_paths
         FROM r WHERE rn <= 25""",
    // md5 shard + md5 in-shard order, running token total BEFORE each
    // row under the per-shard budget (16000/8 = 2000 tokens)
    "curate_token_budget" ->
      """WITH d AS (SELECT doc_id,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 % 8 AS shard,
                md5('tb:' || CAST(doc_id AS VARCHAR)) AS ord,
                CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                  x -> len(x) > 0)) AS BIGINT) AS n
              FROM documents),
         c AS (SELECT doc_id, shard,
                 COALESCE(sum(n) OVER (PARTITION BY shard ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
               FROM d)
         SELECT doc_id, CAST(shard AS BIGINT) AS token_budget_shard
         FROM c WHERE before < 2000""",
    // integer floor-division cohorts: both engines bucket identically
    "events_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p FROM events),
         f AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY 1)
         SELECT cohort, p - cohort AS period_offset, count(DISTINCT user_id) AS n_users
         FROM e JOIN f USING (user_id) GROUP BY 1, 2""",
    // native session_window semantics match Sessionize: merge at
    // diff <= gap (the window is end-inclusive; spec-pinned), so the
    // break condition is strict >
    "events_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
                CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         b AS (SELECT user_id, ts_us, cents,
                 CASE WHEN lag(ts_us) OVER w IS NULL
                        OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         s AS (SELECT user_id, ts_us, cents,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM b)
         SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
           count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_value_cents
         FROM s GROUP BY user_id, sid""",
  )
}
