package graft.fuzzy

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Randomized equivalence: the full distributed matcher must agree with an
  * independent in-memory brute-force computation (driver-side loops over
  * the same kernels) on randomly typo'd data — multi-pass intersection,
  * thresholds, dedup heuristics and join-backs all included.
  */
class FuzzyMatcherPropertySpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)

  private def typo(s: String): String = {
    if (s.isEmpty) return s
    rnd.nextInt(3) match {
      case 0 => // substitute
        val i = rnd.nextInt(s.length)
        s.updated(i, ('a' + rnd.nextInt(26)).toChar)
      case 1 => // delete
        val i = rnd.nextInt(s.length)
        s.substring(0, i) + s.substring(i + 1)
      case 2 => // insert
        val i = rnd.nextInt(s.length + 1)
        s.substring(0, i) + ('a' + rnd.nextInt(26)).toChar + s.substring(i)
    }
  }

  private def word(len: Int): String =
    (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString

  test("matcher equals brute force on random typo'd corpora (3 rounds, 2 algos)") {
    for (round <- 1 to 3) {
      val base = (0 until 40).map(_ => word(6 + rnd.nextInt(8)))
      val leftRows = (0 until 60).map { i => (i.toLong, base(rnd.nextInt(base.size))) }
      val rightRows = (0 until 50).map { i =>
        val b = base(rnd.nextInt(base.size))
        (i.toLong + 1000, if (rnd.nextBoolean()) typo(b) else b)
      }
      val algo = if (round % 2 == 0) FuzzyAlgorithm.JaroWinkler else FuzzyAlgorithm.Levenshtein
      val threshold = 75.0
      val revTh = ((threshold.toInt - 100) * -1).toDouble / 100.0

      val expected = (for {
        (lid, lv) <- leftRows
        (rid, rv) <- rightRows
        d = Kernels.dist(algo.id,
          org.apache.spark.unsafe.types.UTF8String.fromString(lv.toLowerCase),
          org.apache.spark.unsafe.types.UTF8String.fromString(rv.toLowerCase))
        if d <= revTh
      } yield (lid, rid, math.round((1.0 - d) * 1e9))).toSet

      val left = leftRows.toDF("lid", "name")
      val right = rightRows.toDF("rid", "gname")
      val got = FuzzyMatcher.matchDfs(left, right,
          Seq(FuzzyMapping("name", "gname", threshold, algo)),
          MatchOptions(useApproxNearestNeighbor = Some(false)))
        .select("lid", "rid", s"name_vs_gname_${algo.name}")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .toSet

      assert(got == expected,
        s"round $round (${algo.name}): got ${got.size} pairs, expected ${expected.size}; " +
          s"missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)}")
    }
  }

  test("two-mapping intersection equals brute force") {
    val leftRows = (0 until 40).map { i =>
      (i.toLong, word(5 + rnd.nextInt(5)), word(4 + rnd.nextInt(4)))
    }
    val rightRows = (0 until 40).map { i =>
      val (_, a, b) = leftRows(rnd.nextInt(leftRows.size))
      (i.toLong + 500, if (rnd.nextBoolean()) typo(a) else a, if (rnd.nextBoolean()) typo(b) else b)
    }
    val th1 = 70.0; val th2 = 60.0   // reversed thresholds 0.3 and 0.4
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s.toLowerCase)
    val expected = (for {
      (lid, a1, a2) <- leftRows
      (rid, b1, b2) <- rightRows
      if Kernels.dist(FuzzyAlgorithm.Levenshtein.id, u(a1), u(b1)) <= 0.3
      if Kernels.dist(FuzzyAlgorithm.JaroWinkler.id, u(a2), u(b2)) <= 0.4
    } yield (lid, rid)).toSet

    val got = FuzzyMatcher.matchDfs(
        leftRows.toDF("lid", "k1", "k2"), rightRows.toDF("rid", "g1", "g2"),
        Seq(FuzzyMapping("k1", "g1", th1, FuzzyAlgorithm.Levenshtein),
          FuzzyMapping("k2", "g2", th2, FuzzyAlgorithm.JaroWinkler)),
        MatchOptions(useApproxNearestNeighbor = Some(false)))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(got == expected,
      s"got ${got.size}, expected ${expected.size}; missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)}")
  }

  // SweepSpec's corpus (non-ASCII, empty, case-different, equal and
  // length-outlier values) plus a null on each side
  private val lRows = SweepSpec.leftRows :+ (100L, null: String)
  private val rRows = SweepSpec.rightRows :+ (200L, null: String)
  private lazy val matrixLeft = lRows.toDF("lid", "a")
  private lazy val matrixRight = rRows.toDF("rid", "b")
  private val exact = MatchOptions(useApproxNearestNeighbor = Some(false), runPreprocess = false)

  /** Every named shape of `m` (a -> b, score column `s`) must return
    * exactly the driver brute force, for every algorithm at thresholds
    * 0/70/100. */
  private def assertMatrix(shapes: FuzzyMapping => Seq[(String, () => DataFrame)]): Unit = {
    // Spark's lower() is UTF8String.toLowerCase
    def low(s: String) = UTF8String.fromString(s).toLowerCase
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.select("lid", "rid", "s").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (algo <- FuzzyAlgorithm.all; threshold <- Seq(0.0, 70.0, 100.0)) {
      val m = FuzzyMapping("a", "b", threshold, algo, outputColumnName = Some("s"))
      val maxDist = m.reversedThresholdScore
      val expected = (for {
        (lid, lv) <- lRows if lv != null
        (rid, rv) <- rRows if rv != null
        d = Kernels.dist(algo.id, low(lv), low(rv))
        if d <= maxDist
      } yield (lid, rid, 1.0 - d)).toSet
      assert(expected.nonEmpty)
      for ((shape, run) <- shapes(m)) {
        val got = rows(run())
        assert(got == expected,
          s"${algo.name} @ $threshold, $shape: got ${got.size}, expected ${expected.size}; " +
            s"missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)}")
      }
    }
  }

  test("differential matrix: 6 algorithms x 4 execution shapes x thresholds 0/70/100") {
    val (left, right) = (matrixLeft, matrixRight)
    // threshold 0: every non-null pair survives, so the mapping after it
    // runs as a filter-existing pass over the whole cross product
    val everyPair = FuzzyMapping("a", "b", 0.0, FuzzyAlgorithm.Levenshtein,
      outputColumnName = Some("all"))
    assertMatrix(m => Seq(
      "sweep" -> (() => FuzzyMatcher.matchDfs(left, right, Seq(m), exact)),
      "blocked sweep" -> (() => FuzzyMatcher.matchDfs(left, right, Seq(m),
        exact.copy(broadcastDistinctLimit = 3L))),
      "filter-existing pass" -> (() =>
        FuzzyMatcher.matchDfs(left, right, Seq(everyPair, m), exact)),
      "prepared right" -> (() => FuzzyMatcher.matchDfsWithPreparedRight(left,
        FuzzyMatcher.prepareRight(left.columns.toSeq, right, Seq(m), exact)))))
  }

  test("differential matrix: both front doors, preprocessing on") {
    // preprocessing names the score column {left}_vs_{right}_{algo}
    def scored(df: DataFrame, m: FuzzyMapping): DataFrame =
      df.withColumnRenamed(s"a_vs_b_${m.fuzzyType.name}", "s")
    matrixLeft.createOrReplaceTempView("fmp_matrix_left")
    matrixRight.createOrReplaceTempView("fmp_matrix_right")
    // a constant key on each side: its threshold-0 mapping keeps every
    // pair, and its low uniqueness makes the order step run it second
    val left = matrixLeft.withColumn("t", lit("x"))
    val right = matrixRight.withColumn("u", lit("x"))
    val constant = FuzzyMapping("t", "u", 0.0, FuzzyAlgorithm.Levenshtein)
    val preprocessed = exact.copy(runPreprocess = true)
    assertMatrix(m => Seq(
      "fuzzy_match TVF" -> (() => scored(spark.sql(
        s"""SELECT * FROM fuzzy_match('fmp_matrix_left', 'fmp_matrix_right',
              'a', 'b', ${m.thresholdScore}, '${m.fuzzyType.name}',
              'use_approx', false)"""), m)),
      "prepared right, two mappings" -> (() => scored(
        FuzzyMatcher.matchDfsWithPreparedRight(left, FuzzyMatcher.prepareRight(
          left.columns.toSeq, right, Seq(constant, m), preprocessed)), m))))
  }
}
