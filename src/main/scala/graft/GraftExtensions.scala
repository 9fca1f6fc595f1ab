package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point for the whole graft SQL surface.
  *
  * The reference exposes its kernels only through Python calls; on a shared
  * Spark cluster the idiomatic delivery is `SparkSessionExtensions`, so
  * that pure-SQL clients (Thrift server, Spark Connect, notebooks with no
  * driver code) get every `<algo>_dist` / `<algo>_sim` kernel and
  * sketch/vector function at session build time:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Functions are injected into the session's FunctionRegistry (not temp
  * functions), so they survive `SparkSession.newSession()` and need no
  * per-session `registerAll` call. The builder lists are shared with the
  * imperative `graft.fuzzy.functions.registerAll` /
  * `graft.fuzzy.vectorFunctions.registerAll`, so both paths expose the
  * identical surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // SQL clients write `levenshtein_dist(a, b) <= t`; the optimizer
    // rewrites it to the banded early-exit kernel the matcher uses
    ext.injectOptimizerRule(_ => graft.plans.BoundedDistanceRewrite)
    // `GROUP BY k` + `topk_pairs(score, id, n)` plans as the engine's
    // partial/final heap steps, whatever the session's aggregate settings
    ext.injectPlannerStrategy(_ => graft.fuzzy.TopKStrategy)
    // the full fuzzy-join planner as a table-valued function:
    // SELECT * FROM fuzzy_match('l','r','lc','rc',70.0,'levenshtein')
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.FuzzyMatchTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.FuzzyMatchTable.Name),
      graft.plans.FuzzyMatchTable.build))
    // perceptual image curation (decode -> gate -> dHash -> hamming
    // cluster -> keep-min) as a table-valued function:
    // SELECT * FROM curate_dhash('docs','imgs','doc_id','k','payload',
    //                            'max_hamming', 2)
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.CurateDHashTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.CurateDHashTable.Name),
      graft.plans.CurateDHashTable.build))
    // embedding top-k retrieval (brute / IVF-pruned) as a table-valued
    // function: SELECT * FROM ann_topk('q','c','embedding','vec_id',10)
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.AnnTopKTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.AnnTopKTable.Name),
      graft.plans.AnnTopKTable.build))
    // near-duplicate pair generation (simhash / minhash LSH / ngram
    // jaccard): SELECT * FROM dedup_pairs('docs','text','doc_id', ...)
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.DedupPairsTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.DedupPairsTable.Name),
      graft.plans.DedupPairsTable.build))
    // BM25 lexical retrieval:
    // SELECT * FROM bm25_topk('corpus','qs','text','doc_id','qtext','qid',10)
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.Bm25TopKTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.Bm25TopKTable.Name),
      graft.plans.Bm25TopKTable.build))
    // batch-vs-SAVED-hamming-store near-dup pairs (partition-pruned):
    // SELECT * FROM hamming_pairs_stored('batch','h64','id','/store')
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.HammingPairsStoredTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.HammingPairsStoredTable.Name),
      graft.plans.HammingPairsStoredTable.build))
    // batch-vs-SAVED-minhash-store near-dup flags (partition-pruned):
    // SELECT * FROM minhash_pairs_stored('batch','text','doc_id','/store')
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.MinhashPairsStoredTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.MinhashPairsStoredTable.Name),
      graft.plans.MinhashPairsStoredTable.build))
    // batch-vs-SAVED-semdedup-store semantic near-dup pairs (cell-pruned):
    // SELECT * FROM semdedup_pairs_stored('batch','embedding','vec_id',
    //                                     '/store', 0.85)
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.SemDedupPairsStoredTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.SemDedupPairsStoredTable.Name),
      graft.plans.SemDedupPairsStoredTable.build))
    // batch-vs-SAVED-winnow-store lifted-passage flags (bucket-pruned):
    // SELECT * FROM winnow_pairs_stored('batch','text','doc_id','/store')
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.WinnowPairsStoredTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.WinnowPairsStoredTable.Name),
      graft.plans.WinnowPairsStoredTable.build))
    // URL-graph authority weighting:
    // SELECT * FROM pagerank('edges','src','dst','iterations',8)
    ext.injectTableFunction((
      FunctionIdentifier(graft.plans.PageRankTable.Name),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        graft.plans.PageRankTable.Name),
      graft.plans.PageRankTable.build))
  }
}

object GraftExtensions {
  private[graft] def builders: Seq[(String, Seq[Expression] => Expression)] =
    graft.fuzzy.functions.sqlBuilders ++ graft.fuzzy.vectorFunctions.sqlBuilders ++
      graft.sources.HttpText.sqlBuilders ++ graft.pipeline.UrlResolve.sqlBuilders ++
      graft.pipeline.Robots.sqlBuilders ++ graft.pipeline.HtmlAttr.sqlBuilders
}
