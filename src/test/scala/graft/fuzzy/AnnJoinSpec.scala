package graft.fuzzy

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The LSH path has no row-identical oracle (different candidate generation
  * than the reference's polars-simed); parity is recall-based against the
  * exact path, mirroring SURVEY.md §5's port strategy.
  */
class AnnJoinSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The matched key pairs, and the Spark jobs of the match alone (each
    * parquet read runs a schema-inference job before the count starts). */
  private def pairJobs(opts: MatchOptions): (Int, Set[(Long, Long)]) = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    sparkJobs(FuzzyMatcher.withMatchScope(FuzzyMatcher.matchDfs(c, s,
        Seq(FuzzyMapping("c_name", "s_name", 70.0, FuzzyAlgorithm.Levenshtein)), opts)
      .select("c_custkey", "s_suppkey")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet))
  }

  private def pairs(opts: MatchOptions): Set[(Long, Long)] = pairJobs(opts)._2

  test("forced-ANN candidates recall >= 0.9 of the exact path") {
    val exact = pairs(MatchOptions(useApproxNearestNeighbor = Some(false)))
    val approx = pairs(MatchOptions(useApproxNearestNeighbor = Some(true)))
    assert(exact.nonEmpty)
    // every ANN result must also be an exact result (same final threshold)
    assert((approx -- exact).isEmpty, "ANN produced pairs the exact path rejects")
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"ANN recall $recall below 0.9 (|exact|=${exact.size}, |ann|=${approx.size})")
  }

  test("pure LSH path (degenerate fallback disabled) still recalls >= 0.9") {
    val exact = pairs(MatchOptions(useApproxNearestNeighbor = Some(false)))
    val approx = pairs(MatchOptions(useApproxNearestNeighbor = Some(true),
      lshExactFallbackCartesianCap = 0.0))
    assert((approx -- exact).isEmpty)
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"pure LSH recall $recall (|exact|=${exact.size}, |ann|=${approx.size})")
  }

  test("auto mode picks exact below the crossover (result identical)") {
    val auto = pairs(MatchOptions())  // cartesian 150x10 << 1e8
    val exact = pairs(MatchOptions(useApproxNearestNeighbor = Some(false)))
    assert(auto == exact)
  }

  test("forced ANN on tiny low-cardinality input does not crash (probe NPE regression)") {
    import spark.implicits._
    val left = Seq((1L, "aaa"), (2L, "aab"), (3L, "aba")).toDF("lid", "k")
    val right = Seq((10L, "aaa"), (11L, "abb")).toDF("rid", "g")
    // every gram is a stop-gram here; both with and without the exact
    // fallback enabled this must return a result, not throw
    for (cap <- Seq(1e10, 0.0)) {
      val res = FuzzyMatcher.matchDfs(left, right,
        Seq(FuzzyMapping("k", "g", 60.0, FuzzyAlgorithm.Levenshtein)),
        MatchOptions(useApproxNearestNeighbor = Some(true), lshExactFallbackCartesianCap = cap))
      // the identical value pair must match on any path; the pure-LSH path
      // may legitimately miss non-identical 3-char neighbors (single-gram
      // signatures only collide on equality)
      assert(res.count() >= 1)
    }
  }

  test("forced value-id collisions only perturb candidates, never corrupt rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    // 60 left values, each with a 1-edit right twin; ids forced into a
    // 4-value space (~15 distinct values share every id — vastly denser
    // than the natural ~n^2/2^65 xxhash64 rate)
    val left = (0 until 60).map(i => f"collide_left_$i%02d_val").toDF("k").distinct()
    val right = (0 until 60).map(i => f"collide_left_$i%02d_vXl").toDF("g").distinct()
    val opts = MatchOptions(lshNumBands = 8, lshRowsPerBand = 2)
    val rt = 0.1 // threshold 90 on 19-char values: <= ~2 edits
    def run(vid: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      AnnJoin.build(left, right, "k", "g", opts, rt, Array.empty, 120L, valueId = vid)
    val normal = run(c => xxhash64(c))
    val collided = run(c => pmod(xxhash64(c), lit(4)))

    // 1) attach stays self-consistent: a row's lowered column belongs to ITS
    //    value — collisions must never cross-wire payloads
    val lLow = FuzzyMatcher.lowerName("k")
    val rLow = FuzzyMatcher.lowerName("g")
    collided.collect().foreach { r =>
      assert(r.getAs[String](lLow) == r.getAs[String]("k").toLowerCase)
      assert(r.getAs[String](rLow) == r.getAs[String]("g").toLowerCase)
    }

    // 2) merged ids can only UNION candidate sets (the documented
    //    degradation): the collided candidate set contains the natural one
    def cands(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "g").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cands(normal).subsetOf(cands(collided)))

    // 3) downstream exact re-score keeps only genuinely-close pairs: every
    //    survivor re-verifies against the driver-side kernel, the collided
    //    result is a superset of the natural one, and the 1-edit diagonal
    //    is fully recalled
    def finalPairs(c: org.apache.spark.sql.DataFrame) =
      FuzzyMatcher.scoreValuePairs(c, "k", "g", FuzzyAlgorithm.Levenshtein, rt)
        .select("k", "g").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = finalPairs(collided)
    got.foreach { case (a, b) =>
      val d = Kernels.levenshtein(a.toLowerCase, b.toLowerCase).toDouble /
        math.max(a.length, b.length)
      assert(d <= rt, s"collision leaked a non-matching pair ($a, $b): dist $d")
    }
    assert(finalPairs(normal).subsetOf(got))
    (0 until 60).foreach { i =>
      assert(got.contains((f"collide_left_$i%02d_val", f"collide_left_$i%02d_vXl")),
        s"collision lost the 1-edit diagonal pair $i")
    }
  }

  test("a forced-LSH match runs at most 29 Spark jobs") {
    val (jobs, got) = pairJobs(MatchOptions(useApproxNearestNeighbor = Some(true)))
    assert(got.nonEmpty)
    assert(jobs <= 29, s"a forced-LSH match ran $jobs Spark jobs")
  }

  test("an auto match whose probe falls back to exact runs at most 19 Spark jobs") {
    val (jobs, got) = pairJobs(MatchOptions(crossOverForApprox = 0.0))
    assert(got == pairs(MatchOptions(useApproxNearestNeighbor = Some(false))))
    assert(jobs <= 19, s"an auto match with the probe falling back ran $jobs Spark jobs")
  }

  test("hard cartesian cap refuses oversized joins") {
    val err = intercept[IllegalStateException] {
      pairs(MatchOptions(hardCartesianCap = 100.0, useApproxNearestNeighbor = Some(false)))
    }
    assert(err.getMessage.contains("too large"))
  }

  test("mixture degeneracy: runtime volume gate bails to exact where the probe cannot see") {
    import spark.implicits._
    // 6 sub-corpora, each internally degenerate (16-char shared prefix per
    // sub-corpus, 3-digit suffix), prefixes disjoint across sub-corpora:
    // every global gram frequency is ~1/6 < the 25% stop bar and every
    // value keeps all its grams, so the SAMPLED probe sees a healthy
    // corpus — but every bucket is still quadratic within its sub-corpus.
    // This is the real shape of a multi-source crawl (sf1.0 finding).
    // 16-char prefixes over DISJOINT 8-letter alphabets: each value keeps
    // >= 8 distinct grams (a repeated single letter would collapse to one
    // gram) and no gram crosses sub-corpora (a shared/rotated base would
    // make prefix grams corpus-wide stop grams) — either way the sampled
    // probe would rightly flag it and mask the gate under test
    // (lowercase only: the probe lowercases values, so mixed-case
    // alphabets would collide and create corpus-wide stop grams)
    def prefix(r: Int): String = {
      val chars = "abcdefghijklmnopqrstuvwxyz0123456789".slice(6 * r, 6 * r + 6)
      chars * 3
    }
    val values = for (r <- 0 until 6; i <- 0 until 300)
      yield f"${prefix(r)}$i%03d"
    val left = values.toDF("v")
    val right = values.toDF("w")
    val cartesian = 1800.0 * 1800.0

    // volume gate armed: must bail (None -> caller runs exact)
    val bailed = AnnJoin.candidatesOrExactFallback(left, right, "v", "w",
      MatchOptions(lshCandidateFractionForExact = 0.1), reversedThreshold = 0.1,
      totalValues = 3600L, cartesian = cartesian)
    assert(bailed.isEmpty,
      "mixture-degenerate corpus must fall back to exact via the volume gate")

    // gate disabled: the sampled probe alone does NOT catch the mixture
    // (proving the bail above came from the runtime volume gate)
    val builtAnyway = AnnJoin.candidatesOrExactFallback(left, right, "v", "w",
      MatchOptions(lshCandidateFractionForExact = 0.0), reversedThreshold = 0.1,
      totalValues = 3600L, cartesian = cartesian)
    assert(builtAnyway.nonEmpty,
      "with the volume gate disabled the probe should pass this corpus (the blind spot)")
  }

  /** The stop-gram rule as a cluster-side aggregate over the seed-42
    * sample (3-grams of the lowered values, document frequency above 0.25 of
    * the sample's expected size), kept here as the reference the engine's
    * stop set must reproduce. */
  private def aggregatedStopGrams(left: DataFrame, right: DataFrame, lc: String, rc: String,
                                  total: Long): Array[String] = {
    val frac = math.min(1.0, 10000.0 / math.max(total, 1L))
    left.select(col(lc).as("__v")).unionByName(right.select(col(rc).as("__v")))
      .sample(withReplacement = false, frac, seed = 42L)
      .select(explode(array_distinct(vectorFunctions.char_ngrams(lower(col("__v")), 3))).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .where(col("__df") > 0.25 * (total * frac))
      .select(col("__g")).collect().map(_.getString(0))
  }

  test("forced LSH candidates equal a build on the aggregated sample stop grams") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    def values(df: DataFrame, c: String): DataFrame =
      df.select(col(c)).where(col(c).isNotNull).distinct().localCheckpoint()
    val names = (values(spark.read.parquet(s"$sf/customer.parquet"), "c_name"),
      values(spark.read.parquet(s"$sf/supplier.parquet"), "s_name"), "c_name", "s_name")
    val docs = (graft.Bench.docValues(spark, sf, 1 to 271 by 10, 30, "name").localCheckpoint(),
      graft.Bench.docValues(spark, sf, 1 to 211 by 30, 30, "src").localCheckpoint(),
      "name", "src")
    val tiny = (Seq("aaa", "aab", "aba").toDF("k"), Seq("aaa", "abb").toDF("g"), "k", "g")
    // dotted capital I lowers to two chars, sharp s stays one, a capital
    // sigma lowers by position: grams must come from Spark's lower()
    val accented = (0 until 40).map(i => f"İstanbul Straße ΟΔΥΣΣΕΥΣ $i%02d")
    val nonAscii = (accented.toDF("k"),
      accented.map(v => v.replace("ß", "ss").replace("Σ ", "ς ")).toDF("g"), "k", "g")
    // a mixed-case prefix in every value and a word in 22% of them: the
    // stop set decides which grams sign a value, so a wrong case fold or
    // stop bar changes the candidates
    val rnd = new scala.util.Random(7)
    val firms = (0 until 1500).map(i => "Northwind Trading Co " +
      (if (i % 50 < 11) "Lima " else "") +
      rnd.alphanumeric.filter(_.isLetter).take(10).mkString.toLowerCase)
    val prefixed = (firms.toDF("k"), firms.zipWithIndex
      .map { case (v, i) => if (i % 2 == 0) v.updated(v.length - 5, 'z') else v + "x" }
      .toDF("g"), "k", "g")
    // every collision up to the top 20 survives the verify gate
    val opts = MatchOptions(useApproxNearestNeighbor = Some(true),
      lshJaccardDistanceThreshold = 1.0, topNForNewMatches = 20)
    for ((lv, rv, lc, rc) <- Seq(names, docs, tiny, nonAscii, prefixed)) {
      val total = lv.count() + rv.count()
      def rows(df: DataFrame) =
        df.collect().map(r => (0 until r.length).map(r.getString)).toSet
      val stops = aggregatedStopGrams(lv, rv, lc, rc, total)
      val got = rows(AnnJoin.candidates(lv, rv, lc, rc, opts, 0.3, total))
      val want = rows(AnnJoin.build(lv, rv, lc, rc, opts, 0.3, stops, total))
      assert(want.nonEmpty, s"$lc x $rc: no candidates")
      assert(got == want, s"$lc x $rc (${stops.length} stop grams): candidate rows differ")
    }
  }

  test("threshold int-truncation quirk: 70.9 behaves as 70") {
    val a = pairs(MatchOptions(useApproxNearestNeighbor = Some(false)))
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val b = FuzzyMatcher.matchDfs(c, s,
        Seq(FuzzyMapping("c_name", "s_name", 70.9, FuzzyAlgorithm.Levenshtein)),
        MatchOptions(useApproxNearestNeighbor = Some(false)))
      .select("c_custkey", "s_suppkey").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }
}
