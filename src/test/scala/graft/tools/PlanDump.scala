package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

import graft.fuzzy.{FuzzyAlgorithm, FuzzyMatcher, MatchOptions}

/** Commit-able `.explain("formatted")` capture for the optimization rounds:
  * writes `plans/<round>/<name>_<tag>.txt` for the bench's fuzzy rows and
  * for the scoring-join core they share, and for the prepared-right front
  * door (`fuzzy_prepared_right`).
  *
  * The fuzzy bench rows MATERIALIZE their per-pass match frames while the
  * query is being BUILT (checkpoint barriers), so the tail explain of a
  * full `matchDfs` shows only the assembly joins over checkpoint scans.
  * The plan that actually carries the runtime — candidate generation +
  * scoring — is therefore captured separately via the same public entry
  * point the matcher uses for a fresh pass (`freshScoredValuePairs`).
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
  * (`dedup_winnow_stored`).
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

    val c = spark.read.parquet(s"$sfDir/customer.parquet")

    // ---- the scoring core (exact path): distinct values -> broadcast
    // sweep generator (length band + mask gate + bounded kernel) ----
    val l = c.select(col("c_name"))
    val r = c.select(col("c_name").as("r_name"))
    dump("scoring_join_exact",
      FuzzyMatcher.freshScoredValuePairs(l, r,
        graft.fuzzy.FuzzyMapping("c_name", "r_name", 90.0,
          FuzzyAlgorithm.Levenshtein),
        MatchOptions(useApproxNearestNeighbor = Some(false)))._1)
    // every algorithm takes the same sweep; jaro-winkler shows the generic
    // (non-levenshtein) kernel dispatch
    dump("scoring_join_exact_jw",
      FuzzyMatcher.freshScoredValuePairs(l, r,
        graft.fuzzy.FuzzyMapping("c_name", "r_name", 90.0,
          FuzzyAlgorithm.JaroWinkler),
        MatchOptions(useApproxNearestNeighbor = Some(false)))._1)

    // ---- the LSH candidate pipeline (band join -> dedup -> jaccard gate
    // -> topN) + its scored verify join ----
    val opts = MatchOptions(lshNumBands = 12, lshRowsPerBand = 5,
      useApproxNearestNeighbor = Some(true))
    dump("scoring_join_lsh",
      FuzzyMatcher.freshScoredValuePairs(l, r,
        graft.fuzzy.FuzzyMapping("c_name", "r_name", 90.0,
          FuzzyAlgorithm.Levenshtein), opts)._1)

    // ---- bucket-gate shapes ----
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    dump("ann_lsh_topk",
      graft.pipeline.AnnSearch.lshTopK(emb.where(col("vec_id") < 10), emb,
        "embedding", "vec_id", 10, dim = 64, planes = 16, bands = 8,
        maxBucketPairs = 200L))
    dump("dedup_minhash",
      graft.pipeline.Dedup.minhashLshPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id",
        maxBucketPairs = 4L))
    dump("dedup_semantic",
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
    dump("dedup_ngram",
      graft.pipeline.Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5,
        maxShinglePairs = 10L))
    dump("dedup_incremental",
      graft.pipeline.Dedup.incrementalDedup(batch, docs, "text", "doc_id",
        n = 3, threshold = 0.5, maxShinglePairs = 10L))
    val winnowDir = Files.createTempDirectory("plandump_winnow").toString
    graft.pipeline.Dedup.saveWinnowState(docs, "text", "doc_id", winnowDir, nBuckets = 16)
    dump("dedup_winnow_stored",
      graft.pipeline.Dedup.winnowPairsAgainstStored(batch, "text", "doc_id",
        graft.pipeline.Dedup.loadWinnowState(spark, winnowDir), minShared = 2L,
        maxFingerprintPairs = 10L))

    // ---- the prepared-right front door (stream-static shape): the
    // two-mapping customer self-join of `fuzzy_multi_225m` (renames, order
    // step, filter-existing pass, combine) through prepareRight ----
    dump("fuzzy_prepared_right", FuzzyMatcher.matchDfsWithPreparedRight(c,
      FuzzyMatcher.prepareRight(c.columns.toSeq, c, Seq(
          graft.fuzzy.FuzzyMapping("c_name", "c_name", 90.0, FuzzyAlgorithm.Levenshtein),
          graft.fuzzy.FuzzyMapping("c_mktsegment", "c_mktsegment", 80.0,
            FuzzyAlgorithm.JaroWinkler)),
        MatchOptions(useApproxNearestNeighbor = Some(false)))))

    // ---- full bench queries (tail assembly plans; barriers make these
    // short, captured for completeness) ----
    val bq = graft.Bench.benchQueries(sfDir)
    Seq("fuzzy_exact_225m", "fuzzy_annf_3g_lsh", "text_bm25_docs").foreach { n =>
      dump(n, bq(n)(spark))
    }
    spark.stop()
  }
}
