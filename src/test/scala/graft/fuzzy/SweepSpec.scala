package graft.fuzzy

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Plan pins for the exact path's one scorer: every fresh exact pass, of
  * every algorithm, blocked or not, runs the [[FuzzySweep]] generator over
  * the value frame, with no nested-loop or cartesian join on the pair
  * stream. Its pairs and scores are pinned against an in-memory brute force
  * here at thresholds 0, 70 and 100 (scores bit-identical, every algorithm)
  * and by FuzzyMatcherPropertySpec's differential matrix.
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
    val scored = FuzzyMatcher.freshScoredValuePairs(lIdx, rIdx,
      FuzzyMapping("a", "b", 80.0, algo), opts)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("topk_pairs"))
    plan
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

  test("sweep equals a brute-force Kernels.dist at thresholds 0, 70 and 100") {
    import spark.implicits._
    // jaro and jaro-winkler score a left value of at most 64 chars
    // bit-parallel and longer or non-ASCII ones through the kernel: the
    // corpus spans both sides of that edge, on both sides of the join
    val rnd = new scala.util.Random(3)
    def word(len: Int): String = (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    val long = Seq(63, 64, 65, 66).flatMap(n => Seq.fill(3)(word(n)))
    val short = Seq.fill(40)(word(rnd.nextInt(12)))
    val values = (SweepSpec.leftRows.map(_._2) ++ long ++ short ++
      long.map(v => v.updated(10, 'é')) ++ Seq("A", "é", "aé")).distinct
    val lefts = values.filter(_ => rnd.nextInt(3) > 0)
    val rights = values.filter(_ => rnd.nextInt(3) > 0) ++ long.map(_.reverse)
    def low(v: String) = UTF8String.fromString(v).toLowerCase
    for (algo <- FuzzyAlgorithm.all; threshold <- Seq(0, 70, 100)) {
      val maxDist = FuzzyMapping("a", "b", threshold.toDouble, algo).reversedThresholdScore
      val want = (for (l <- lefts; r <- rights.distinct;
                       d = Kernels.dist(algo.id, low(l), low(r)) if d <= maxDist)
        yield (l, r, 1.0 - d)).toSet
      val got = SweepScore.sweepScoredPairs(lefts.toDF("a"), rights.distinct.toDF("b"),
          "a", "b", maxDist, algo, broadcastDistinctLimit = 17L)
        .as[(String, String, Double)].collect().toSet
      assert(got == want, s"${algo.name} at $threshold: ${got.size} pairs, want ${want.size}; " +
        s"missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
    }
  }

  test("non-ASCII-heavy sweep equals a brute-force Kernels.dist, blocked or not") {
    import spark.implicits._
    // accented Latin (both cases), CJK and a surrogate-pair emoji, so UTF-16
    // length, code points and UTF-8 bytes all differ; near copies made by
    // one or two edits from the whole alphabet put ASCII x non-ASCII and
    // non-ASCII x non-ASCII pairs inside every threshold, and equal-length
    // ASCII/non-ASCII twins share a length group's UTF-16 length
    val rnd = new scala.util.Random(11)
    val alphabet = Vector("a", "b", "c", " ", "é", "É", "ü", "ñ", "日", "本", "語", "😀")
    def sym(ascii: Boolean): String = alphabet(rnd.nextInt(if (ascii) 4 else alphabet.length))
    def word(ascii: Boolean): Vector[String] = Vector.fill(rnd.nextInt(13))(sym(ascii))
    def edit(w: Vector[String]): Vector[String] = {
      val p = if (w.isEmpty) 0 else rnd.nextInt(w.length)
      rnd.nextInt(3) match {
        case 0 => w.patch(p, Seq(sym(false)), 0)
        case 1 if w.nonEmpty => w.patch(p, Nil, 1)
        case _ => w.patch(p, Seq(sym(false)), 1)
      }
    }
    val words = Seq.fill(70)(word(rnd.nextBoolean()))
    val values = (words.flatMap(w => Seq(w, edit(w), edit(edit(w)))).map(_.mkString) ++
      Seq("", "cafe", "café", "CAFÉ", "naive", "naïve", "日本", "ab", "😀", "😀a", "a😀b", "abcd"))
      .distinct
    val lefts = values.filter(_ => rnd.nextInt(3) > 0)
    val rights = values.filter(_ => rnd.nextInt(3) > 0)
    def low(v: String) = UTF8String.fromString(v).toLowerCase
    for (algo <- FuzzyAlgorithm.all; threshold <- Seq(0, 70, 100)) {
      val maxDist = FuzzyMapping("a", "b", threshold.toDouble, algo).reversedThresholdScore
      val want = (for (l <- lefts; r <- rights;
                       d = Kernels.dist(algo.id, low(l), low(r)) if d <= maxDist)
        yield (l, r, 1.0 - d)).toSet
      for (block <- Seq(17L, MatchOptions.default.broadcastDistinctLimit)) {
        val got = SweepScore.sweepScoredPairs(lefts.toDF("a"), rights.toDF("b"),
            "a", "b", maxDist, algo, broadcastDistinctLimit = block)
          .as[(String, String, Double)].collect().toSet
        assert(got == want, s"${algo.name} at $threshold, block $block: ${got.size} pairs, " +
          s"want ${want.size}; missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
      }
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
  // must match Spark's), non-ASCII values (the tail's UTF-16 length groups,
  // String kernels and UTF-16 unigram gate), empty strings, equal values,
  // length outliers (band skip), and near-threshold pairs on both sides of
  // the cutoff
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
