package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.fuzzy.{FuzzyAlgorithm, FuzzyMatcher, MatchOptions}

/** Commit-able `.explain("formatted")` capture for the optimization rounds:
  * writes `plans/<round>/<name>_<tag>.txt` for the bench's fuzzy rows and
  * for the scoring-join core they share, and for the prepared-right front
  * door (`fuzzy_prepared_right`).
  *
  * The fuzzy bench rows MATERIALIZE their fresh-pass match frame while the
  * query is being BUILT (a checkpoint barrier), so the tail explain of a
  * full `matchDfs` shows the filter passes and the assembly joins over
  * checkpoint scans (`fuzzy_multi`: three mappings, two filter passes).
  * The plan that actually carries the runtime — candidate generation +
  * scoring — is therefore captured separately via the same public entry
  * point the matcher uses for a fresh pass (`freshScoredValuePairs`).
  * For `fuzzy_multi`, `fuzzy_prepared_right` and `fuzzy_exact_225m` the
  * barriers themselves (row index, distinct values, fresh pass) are also
  * written, as the final plans AQE ran, to `<name>_barriers_<tag>.txt`.
  * Everything runs at sf0.001: plan SHAPE is scale-independent, and
  * dumping must not take bench-scale minutes.
  *
  * The three bucket-gate shapes are dumped under caps small enough to drop
  * some buckets, so the gated stage shows its `bucket_allowed` filter:
  * two-sided (ANN LSH top-k), self-join (minhash LSH dedup) and the
  * semantic-cell gate (semantic dedup). The fuzzy LSH join's gate is in
  * `scoring_join_lsh`. The hot-shingle gates are dumped the same way:
  * self-join n-gram dedup (`dedup_ngram`), the incremental dedup's cross
  * gate (`dedup_incremental`) and the stored winnow gate
  * (`dedup_winnow_stored`). The remaining banded and cell gates complete
  * the set, one dump per gated call site: simhash self-join
  * (`dedup_simhash`), hamming batch-vs-corpus (`dedup_hamming_incr`),
  * cosine LSH (`dedup_cosine_lsh`), the in-memory and stored minhash cross
  * gates (`dedup_minhash_inc`, `dedup_minhash_stored`) and the in-memory
  * and stored semantic cell gates (`dedup_semantic_inc`,
  * `dedup_semantic_stored`). Each gated dump prints its stage's
  * CapMetrics, so a run shows that every cap dropped a bucket.
  *
  * Usage: Test/runMain graft.tools.PlanDump <tag> [round]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val round = if (args.length > 1) args(1) else "r19"
    val outDir = Paths.get("plans", round)
    Files.createDirectories(outDir)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"

    def dump(name: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(outDir.resolve(s"${name}_$tag.txt"),
        (s"-- $name @$sfDir ($tag)\n" + txt).getBytes("UTF-8"))
      println(s"[plandump] wrote ${name}_$tag.txt (${txt.length} chars)")
    }
    // The barriers a fuzzy match materializes while it is built (row index,
    // distinct values, fresh pass) never show in its tail plan: capture the
    // final plans AQE ran for them. Listener events arrive asynchronously,
    // so a tagged sentinel action marks the end of a call's barriers.
    val barriers = new java.util.concurrent.LinkedBlockingQueue[String]()
    val sentinel = "__plandump_sentinel"
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == sentinel)) barriers.put(sentinel)
        else if (funcName == "localCheckpoint")
          barriers.put(qe.explainString(ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def drainBarriers(): Vector[String] = {
      spark.range(1).toDF(sentinel).collect()
      Iterator.continually(barriers.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(p => p != null && p != sentinel).toVector
    }
    // writes `<name>_barriers_<tag>.txt`; concurrent barriers finish in any
    // order, so they are sorted by their plan text with ids masked
    def withBarriers(name: String)(df: => DataFrame): Unit = {
      drainBarriers()
      dump(name, df)
      val plans = drainBarriers().sortBy(_.replaceAll("#\\d+L?|\\[\\d+\\]", ""))
      val txt = plans.zipWithIndex
        .map { case (p, i) => s"-- barrier ${i + 1} of ${plans.size}\n$p" }.mkString("\n")
      Files.write(outDir.resolve(s"${name}_barriers_$tag.txt"),
        (s"-- $name barriers @$sfDir ($tag)\n" + txt).getBytes("UTF-8"))
      println(s"[plandump] wrote ${name}_barriers_$tag.txt (${plans.size} barriers)")
    }
    def gated(name: String, stage: String, df: DataFrame): Unit = {
      dump(name, df)
      println(s"[plandump] $name: $stage ${graft.util.CapMetrics.lastMetrics(stage)}")
    }

    val c = spark.read.parquet(s"$sfDir/customer.parquet")

    // ---- the scoring core (exact path): distinct values -> broadcast
    // sweep generator (length band + mask gate + bounded kernel) ----
    val l = c.select(col("c_name"))
    val r = c.select(col("c_name").as("r_name"))
    dump("scoring_join_exact",
      FuzzyMatcher.freshScoredValuePairs(l, r,
        graft.fuzzy.FuzzyMapping("c_name", "r_name", 90.0,
          FuzzyAlgorithm.Levenshtein),
        MatchOptions(useApproxNearestNeighbor = Some(false))))
    // every algorithm takes the same sweep; jaro-winkler shows the generic
    // (non-levenshtein) kernel dispatch
    dump("scoring_join_exact_jw",
      FuzzyMatcher.freshScoredValuePairs(l, r,
        graft.fuzzy.FuzzyMapping("c_name", "r_name", 90.0,
          FuzzyAlgorithm.JaroWinkler),
        MatchOptions(useApproxNearestNeighbor = Some(false))))

    // ---- the LSH candidate pipeline (band join -> dedup -> jaccard gate
    // -> topN) + its scored verify join ----
    val opts = MatchOptions(lshNumBands = 12, lshRowsPerBand = 5,
      useApproxNearestNeighbor = Some(true), lshMaxBucketPairs = 100L)
    gated("scoring_join_lsh", "fuzzy_lsh",
      FuzzyMatcher.freshScoredValuePairs(l, r,
        graft.fuzzy.FuzzyMapping("c_name", "r_name", 90.0,
          FuzzyAlgorithm.Levenshtein), opts))

    // ---- bucket-gate shapes ----
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    gated("ann_lsh_topk", "ann_lsh_topk",
      graft.pipeline.AnnSearch.lshTopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10, dim = 64, planes = 16, bands = 8,
        maxBucketPairs = 200L))
    gated("dedup_minhash", "dedup_minhash",
      graft.pipeline.Dedup.minhashLshPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id",
        maxBucketPairs = 4L))
    gated("dedup_semantic", "dedup_semantic",
      graft.pipeline.Dedup.semDedup(emb, "embedding", "vec_id",
        graft.pipeline.DemoModels.SemCentroids, dim = 64, nCells = 8,
        threshold = 0.35, maxCellPairs = 4000L))

    // ---- hot-shingle gate shapes (single-key gates on `__sh`), capped so
    // the gate drops shingles: self-join n-gram dedup, the incremental
    // dedup's cross gate (`dedup_ngram_cross`) and the stored winnow gate
    // priced from the store's stats table ----
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val batch = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    gated("dedup_ngram", "dedup_ngram",
      graft.pipeline.Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5,
        maxShinglePairs = 10L))
    gated("dedup_incremental", "dedup_ngram_cross",
      graft.pipeline.Dedup.incrementalDedup(batch, docs, "text", "doc_id",
        n = 3, threshold = 0.5, maxShinglePairs = 10L))
    val winnowDir = Files.createTempDirectory("plandump_winnow").toString
    graft.pipeline.Dedup.saveWinnowState(docs, "text", "doc_id", winnowDir, nBuckets = 16)
    gated("dedup_winnow_stored", "dedup_winnow_stored",
      graft.pipeline.Dedup.winnowPairsAgainstStored(batch, "text", "doc_id",
        graft.pipeline.Dedup.loadWinnowState(spark, winnowDir), minShared = 2L,
        maxFingerprintPairs = 10L))

    // ---- the remaining banded and cell gates, capped so each drops a
    // bucket: simhash chunks (self and batch-vs-corpus), sign-LSH bands,
    // the minhash cross gate (in-memory and stored) and the semantic cell
    // cross gate (in-memory and stored) ----
    import graft.pipeline.Dedup
    gated("dedup_simhash", "dedup_simhash",
      Dedup.simhashPairs(docs, "text", "doc_id", maxBucketPairs = 1L))
    gated("dedup_hamming_incr", "dedup_hamming_incr",
      Dedup.hashPairsAgainst(batch, Dedup.simhash64(col("text")), "doc_id",
        docs, Dedup.simhash64(col("text")), "doc_id", maxBucketPairs = 1L))
    gated("dedup_cosine_lsh", "dedup_cosine_lsh",
      Dedup.cosineLshPairs(emb, "embedding", "vec_id", 0.35, dim = 64,
        planes = 16, bands = 8, maxBucketPairs = 16000L))
    gated("dedup_minhash_inc", "dedup_minhash_inc",
      Dedup.minhashIncrementalPairs(batch, Dedup.minhashState(docs, "text", "doc_id"),
        "text", "doc_id", maxBucketPairs = 1L))
    val minhashDir = Files.createTempDirectory("plandump_minhash").toString
    Dedup.saveMinhashState(docs, "text", "doc_id", minhashDir, nBuckets = 16)
    gated("dedup_minhash_stored", "dedup_minhash_stored",
      Dedup.minhashPairsAgainstStored(batch, "text", "doc_id",
        Dedup.loadMinhashState(spark, minhashDir), maxBucketPairs = 1L))
    val embBatch = emb.where(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val cents = graft.pipeline.DemoModels.SemCentroids
    gated("dedup_semantic_inc", "dedup_semantic_inc",
      Dedup.semDedupIncrementalPairs(embBatch,
        Dedup.semDedupState(emb, "embedding", "vec_id", cents, 64, 8),
        "embedding", "vec_id", cents, 64, 8, 0.35, maxCellPairs = 800L))
    val semDir = Files.createTempDirectory("plandump_semdedup").toString
    Dedup.saveSemDedupState(emb, "embedding", "vec_id", semDir, cents, 64, 8)
    gated("dedup_semantic_stored", "dedup_semantic_stored",
      Dedup.semDedupPairsAgainstStored(embBatch, "embedding", "vec_id",
        Dedup.loadSemDedupState(spark, semDir), 0.35, maxCellPairs = 800L))

    // ---- the prepared-right front door (stream-static shape): the
    // two-mapping customer self-join of `fuzzy_multi_225m` (renames, order
    // step, filter-existing pass) through prepareRight ----
    withBarriers("fuzzy_prepared_right")(FuzzyMatcher.matchDfsWithPreparedRight(c,
      FuzzyMatcher.prepareRight(c.columns.toSeq, c, Seq(
          graft.fuzzy.FuzzyMapping("c_name", "c_name", 90.0, FuzzyAlgorithm.Levenshtein),
          graft.fuzzy.FuzzyMapping("c_mktsegment", "c_mktsegment", 80.0,
            FuzzyAlgorithm.JaroWinkler)),
        MatchOptions(useApproxNearestNeighbor = Some(false)))))

    // ---- the multi-pass fold: a fresh name pass, then two filter passes
    // that score the surviving row pairs inline (name again, segment) ----
    withBarriers("fuzzy_multi")(FuzzyMatcher.matchDfs(c, c, Seq(
        graft.fuzzy.FuzzyMapping("c_name", "c_name", 90.0, FuzzyAlgorithm.Levenshtein),
        graft.fuzzy.FuzzyMapping("c_mktsegment", "c_mktsegment", 80.0,
          FuzzyAlgorithm.JaroWinkler),
        graft.fuzzy.FuzzyMapping("c_name", "c_name", 95.0,
          FuzzyAlgorithm.DamerauLevenshtein)),
      MatchOptions(useApproxNearestNeighbor = Some(false))))

    // ---- full bench queries (tail assembly plans; barriers make these
    // short, captured for completeness) ----
    val bq = graft.Bench.benchQueries(sfDir)
    withBarriers("fuzzy_exact_225m")(bq("fuzzy_exact_225m")(spark))
    Seq("fuzzy_annf_3g_lsh", "text_bm25_docs").foreach(n => dump(n, bq(n)(spark)))
    spark.stop()
  }
}
