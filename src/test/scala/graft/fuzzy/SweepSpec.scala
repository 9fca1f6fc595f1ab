package graft.fuzzy

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan pins for the exact path's one scorer: every fresh exact pass, of
  * every algorithm, blocked or not, runs the [[FuzzySweep]] generator over
  * the value frame, with no nested-loop or cartesian join on the pair
  * stream. Its pairs and scores are pinned against an in-memory brute force
  * by FuzzyMatcherPropertySpec's differential matrix.
  */
class SweepSpec extends AnyFunSuite with SparkSpec {

  private def corpus: (DataFrame, DataFrame) = {
    import spark.implicits._
    (SweepSpec.leftRows.toDF("lid", "a"), SweepSpec.rightRows.toDF("rid", "b"))
  }

  private def freshPlan(algo: FuzzyAlgorithm, opts: MatchOptions): String = {
    val (l, r) = corpus
    val lIdx = FuzzyMatcher.addIndexColumn(l, "__left_index")
    val rIdx = FuzzyMatcher.addIndexColumn(r, "__right_index")
    val (scored, usedLsh) = FuzzyMatcher.freshScoredValuePairs(lIdx, rIdx,
      FuzzyMapping("a", "b", 80.0, algo), opts)
    assert(!usedLsh)
    scored.queryExecution.executedPlan.toString
  }

  test("sweep plan: Generate over the value frame, no join on the pair stream") {
    val plan = freshPlan(FuzzyAlgorithm.Levenshtein,
      MatchOptions(useApproxNearestNeighbor = Some(false)))
    assert(plan.contains("fuzzy_sweep"), s"sweep generator missing:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"sweep plan still carries a nested-loop join:\n$plan")
  }

  test("every algorithm sweeps, in one block or many") {
    for (algo <- FuzzyAlgorithm.all; limit <- Seq(200000L, 3L)) {
      val plan = freshPlan(algo,
        MatchOptions(useApproxNearestNeighbor = Some(false), broadcastDistinctLimit = limit))
      assert(plan.contains("fuzzy_sweep"), s"${algo.name}, block $limit: no sweep:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"${algo.name}, block $limit: nested-loop join on the pair stream:\n$plan")
    }
  }

  test("a non-positive block size fails naming the option") {
    val e = intercept[IllegalArgumentException](freshPlan(FuzzyAlgorithm.Jaro,
      MatchOptions(useApproxNearestNeighbor = Some(false), broadcastDistinctLimit = 0L)))
    assert(e.getMessage.contains("broadcastDistinctLimit"))
  }
}

object SweepSpec {

  // mixed shapes: shared prefixes (strip path), case differences (lower
  // must match Spark's), non-ASCII values (generic-kernel tail + mask-0
  // gate disable), empty strings, equal values, length outliers (band
  // skip), and near-threshold pairs on both sides of the cutoff
  private val base = Seq(
    "customer#0001", "customer#0002", "Customer#0001", "CUSTOMER#00x2",
    "alpha beta gamma", "alpha beta gamm", "alpha beta gamme",
    "übermensch", "ubermensch", "Übermensch!", "",
    "short", "shrt", "a", "b", "ab",
    "the quick brown fox", "the quick brown fix", "the quick brawn fox",
    "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx", "yyyy",
    "naïve approach", "naive approach", "données", "donnees")

  /** `(lid, a)` rows of the shared test corpus. */
  val leftRows: Seq[(Long, String)] =
    base.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  /** `(rid, b)` rows: each corpus value with its last char replaced by
    * `z`, plus the corpus itself. */
  val rightRows: Seq[(Long, String)] =
    (base.map(v => if (v.nonEmpty) v.dropRight(1) + "z" else "z") ++ base)
      .distinct.zipWithIndex.map { case (v, i) => (i.toLong, v) }
}
