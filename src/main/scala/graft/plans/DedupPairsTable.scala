package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.pipeline.Dedup
import graft.util.{CapMetrics, CheckpointStrategy}

/** Pure-SQL front door for near-duplicate PAIR GENERATION — the dedup
  * pillar of the pipeline ([[graft.pipeline.Dedup]]), previously
  * reachable only from Scala. Registered by [[graft.GraftExtensions]]:
  *
  * {{{
  *   SELECT * FROM dedup_pairs(
  *     'docs_view', 'text', 'doc_id'
  *     [, 'method', 'simhash' | 'minhash' | 'ngram' | 'winnow' | 'containment'  -- default simhash
  *      -- simhash:  (id_a, id_b, hamming)
  *      , 'max_hamming', 3,  'use_md5', false
  *      -- minhash:  (id_a, id_b, est_jaccard)
  *      , 'shingle_len', 3, 'num_bands', 16, 'rows_per_band', 4
  *      , 'threshold', 0.7
  *      -- ngram:    (id_a, id_b, jaccard)
  *      , 'ngram_n', 3, 'threshold', 0.5
  *      -- containment: (id_a, id_b, containment) — |A∩B|/min(|A|,|B|),
  *      --   the quote/subset-inclusion signal jaccard misses
  *      , 'ngram_n', 3, 'threshold', 0.6
  *      -- winnow:   (id_a, id_b, n_shared) — lifted-passage overlap
  *      , 'winnow_k', 5, 'winnow_window', 4, 'min_shared', 8, 'use_md5', false
  *      -- shared
  *      , 'max_bucket_pairs', N       -- blocking cap (CapMetrics-logged)
  *      , 'checkpoint_dir', '/p'])    -- reliable barriers (cluster jobs)
  * }}}
  *
  * All four methods are the BLOCKED (never all-pairs) operators: simhash
  * pigeonhole chunks, minhash banded LSH, ngram shared-shingle join,
  * winnow shared-fingerprint join — each with an observable per-bucket
  * cap. Arguments must be foldable literals; the table name resolves in
  * the session catalog. Same analysis-time eagerness note as the sibling
  * TVFs: the operators materialize their blocking frames while the
  * statement analyzes. */
object DedupPairsTable {

  val Name = "dedup_pairs"

  private val usage =
    "dedup_pairs('docs_table', 'text_col', 'id_col', then optional " +
      "('method', 'simhash'|'minhash'|'ngram'|'winnow'|'containment' | 'max_hamming', int | " +
      "'use_md5', bool | 'shingle_len', int | 'num_bands', int | " +
      "'rows_per_band', int | 'threshold', double | 'ngram_n', int | " +
      "'winnow_k', int | 'winnow_window', int | 'min_shared', long | " +
      "'max_bucket_pairs', long | 'checkpoint_dir', 'path') pairs)"

  private val A = new TvfArgs(Name, usage)

  /** TVF builder registered by [[graft.GraftExtensions]]. */
  def build(args: Seq[Expression]): LogicalPlan = {
    A.arity(args, 3)
    val spark = SparkSession.active
    val docs = spark.table(A.str(args(0), "docs table name"))
    val textCol = A.str(args(1), "text column")
    val idCol = A.str(args(2), "id column")

    var method = "simhash"
    var maxHamming = 3
    var useMd5 = false
    var shingleLen = 3
    var numBands = 16
    var rowsPerBand = 4
    var threshold = Option.empty[Double]
    var ngramN = 3
    var winnowK = 5
    var winnowWindow = 4
    var minShared = 8L
    var maxBucketPairs = 4_000_000L
    var checkpoint: CheckpointStrategy = CheckpointStrategy.Local
    A.options(args, 3) { (k, v) => k match {
      case "method" => A.str(v, "method value") match {
        case m @ ("simhash" | "minhash" | "ngram" | "winnow" | "containment") => method = m
        case other =>
          A.bad("method must be 'simhash', 'minhash', 'ngram', 'winnow' " +
            "or 'containment'", other)
      }
      case "max_hamming" =>
        maxHamming = A.int(v, "max_hamming value")
        if (maxHamming < 0 || maxHamming > 31)
          A.bad("max_hamming must be in [0, 31]", maxHamming)
      case "use_md5" => useMd5 = A.bool(v, "use_md5 value")
      case "shingle_len" => shingleLen = A.int(v, "shingle_len value")
      case "num_bands" =>
        numBands = A.int(v, "num_bands value")
        // the bucket cap's blocked-key encoding aliases band counts past
        // CapMetrics.MaxBands — reject here with the TVF's own diagnostic
        if (numBands < 1 || numBands > CapMetrics.MaxBands)
          A.bad(s"num_bands must be in [1, ${CapMetrics.MaxBands}]", numBands)
      case "rows_per_band" => rowsPerBand = A.int(v, "rows_per_band value")
      case "threshold" => threshold = Some(A.dbl(v, "threshold value"))
      case "ngram_n" => ngramN = A.int(v, "ngram_n value")
      case "winnow_k" => winnowK = A.int(v, "winnow_k value")
      case "winnow_window" => winnowWindow = A.int(v, "winnow_window value")
      case "min_shared" => minShared = A.long(v, "min_shared value")
      case "max_bucket_pairs" => maxBucketPairs = A.long(v, "max_bucket_pairs value")
      case "checkpoint_dir" => A.str(v, "checkpoint_dir value") match {
        case d if d.nonEmpty => checkpoint = CheckpointStrategy.Reliable(d)
        case other => A.bad("checkpoint_dir must be a non-empty directory", other)
      }
      case other => A.bad("unknown option", other)
    }}

    val result = method match {
      case "simhash" =>
        Dedup.simhashPairs(docs, textCol, idCol, maxHamming,
          maxBucketPairs, checkpoint, useMd5)
      case "minhash" =>
        Dedup.minhashLshPairs(docs, textCol, idCol, shingleLen, numBands,
          rowsPerBand, threshold.getOrElse(0.7), maxBucketPairs, checkpoint)
      case "winnow" =>
        Dedup.winnowOverlapPairs(docs, textCol, idCol, winnowK, winnowWindow,
          minShared, maxFingerprintPairs = maxBucketPairs, useMd5 = useMd5,
          checkpoint = checkpoint)
      case "containment" =>
        Dedup.containmentPairs(docs, textCol, idCol, ngramN,
          threshold.getOrElse(0.6), checkpoint, maxBucketPairs)
      case _ =>
        Dedup.ngramJaccardPairs(docs, textCol, idCol, ngramN,
          threshold.getOrElse(0.5), checkpoint, maxBucketPairs)
    }
    result.queryExecution.analyzed
  }
}
