package graft.fuzzy

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end parity with the reference's own expectations
  * (/root/reference/tests/test_pl_fuzzy_frame_match.py:339-404).
  */
class FuzzyMatcherSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def leftDf: DataFrame = Seq(
    (1, "Apple Inc.", "1 Apple Park", "Tim Cook"),
    (2, "Microsft", "One Microsoft Way", "Satya Ndella"),
    (3, "Amazon", "410 Terry Ave N", "Andy Jessy"),
    (4, "Gogle", "1600 Amphitheatre", "Sundar Pichai"),
    (5, "Facebok", "1 Hacker Way", "Mark Zukerberg"),
  ).toDF("id", "company_name", "address", "contact")

  private def rightDf: DataFrame = Seq(
    (101, "Apple Incorporated", "Apple Park, Cupertino", "Timothy Cook"),
    (102, "Microsoft Corp", "Microsoft Way, Redmond", "Satya Nadella"),
    (103, "Amazon.com Inc", "Terry Ave North, Seattle", "Andy Jassy"),
    (104, "Google LLC", "Amphitheatre Pkwy, Mountain View", "Sundar Pichai"),
    (105, "Facebook Inc", "Hacker Way, Menlo Park", "Mark Zuckerberg"),
  ).toDF("id", "organization", "location", "ceo")

  private def mappings: Seq[FuzzyMapping] = Seq(
    FuzzyMapping("company_name", "organization", thresholdScore = 20.0,
      fuzzyType = FuzzyAlgorithm.JaroWinkler),
    FuzzyMapping("contact", "ceo", thresholdScore = 30.0,
      fuzzyType = FuzzyAlgorithm.Levenshtein),
  )

  private val eps = 1e-9

  test("fuzzy_match_dfs golden result (two mappings, renamed id column)") {
    val result = FuzzyMatcher.matchDfs(leftDf, rightDf, mappings)

    assert(result.columns.toSeq == Seq(
      "id", "company_name", "address", "contact",
      "id_right", "organization", "location", "ceo",
      "company_name_vs_organization_jaro_winkler", "contact_vs_ceo_levenshtein"))

    val rows = result.orderBy("id").collect()
    assert(rows.length == 5)

    val expected = Seq(
      (1, 101, 0.88, 0.6666666666666667),
      (2, 102, 0.9142857142857143, 0.9230769230769231),
      (3, 103, 0.8857142857142858, 0.9),
      (4, 104, 0.8666666666666667, 1.0),
      (5, 105, 0.9166666666666667, 0.9333333333333333),
    )
    rows.zip(expected).foreach { case (row, (idL, idR, jw, lev)) =>
      assert(row.getAs[Int]("id") == idL)
      assert(row.getAs[Int]("id_right") == idR)
      assert(math.abs(row.getAs[Double]("company_name_vs_organization_jaro_winkler") - jw) < eps)
      assert(math.abs(row.getAs[Double]("contact_vs_ceo_levenshtein") - lev) < eps)
    }
  }

  test("colliding column names get _right suffix and still match") {
    val left = leftDf.withColumnRenamed("company_name", "organization")
    val maps = Seq(
      FuzzyMapping("organization", "organization", thresholdScore = 20.0,
        fuzzyType = FuzzyAlgorithm.JaroWinkler),
      FuzzyMapping("contact", "ceo", thresholdScore = 30.0,
        fuzzyType = FuzzyAlgorithm.Levenshtein),
    )
    val result = FuzzyMatcher.matchDfs(left, rightDf, maps)
    assert(result.columns.toSeq == Seq(
      "id", "organization", "address", "contact",
      "id_right", "organization_right", "location", "ceo",
      "organization_vs_organization_right_jaro_winkler", "contact_vs_ceo_levenshtein"))
    val rows = result.orderBy("id").collect()
    assert(rows.length == 5)
    assert(math.abs(rows(0).getAs[Double]("organization_vs_organization_right_jaro_winkler") - 0.88) < eps)
  }

  test("single-mapping mid-level default score name when preprocessing off") {
    val result = FuzzyMatcher.matchDfs(leftDf, rightDf,
      Seq(FuzzyMapping("company_name", "organization", thresholdScore = 80.0,
        fuzzyType = FuzzyAlgorithm.JaroWinkler)),
      MatchOptions(runPreprocess = false))
    // without preprocessing the reference keeps the constructor default
    // `fuzzy_score_{left}_{right}` (models.py:87-89) — the vs-style name is
    // only assigned inside pre_process_for_fuzzy_matching (pre_process.py:326)
    assert(result.columns.contains("fuzzy_score_company_name_organization"))
    // jw >= 0.80 keeps exactly the diagonal pairs
    assert(result.count() == 5)
  }

  test("explicit output name passes through when preprocessing off, is overwritten when on") {
    val maps = Seq(FuzzyMapping("company_name", "organization", thresholdScore = 80.0,
      fuzzyType = FuzzyAlgorithm.JaroWinkler, outputColumnName = Some("my_score")))
    val without = FuzzyMatcher.matchDfs(leftDf, rightDf, maps,
      MatchOptions(runPreprocess = false))
    assert(without.columns.contains("my_score"))
    // with preprocessing the reference unconditionally overwrites the name
    // (set_name_in_fuzzy_mappings, output_column_name_utils.py:21-42)
    val withPre = FuzzyMatcher.matchDfs(leftDf, rightDf, maps)
    assert(withPre.columns.contains("company_name_vs_organization_jaro_winkler"))
    assert(!withPre.columns.contains("my_score"))
  }

  test("multi-pass intersection is non-increasing (pass gates next pass)") {
    val lIdx = FuzzyMatcher.addIndexColumn(leftDf, "__left_index")
    val rIdx = FuzzyMatcher.addIndexColumn(rightDf, "__right_index")
    val named = NameUtils.setNamesInMappings(mappings)
    val frames = FuzzyMatcher.performAllFuzzyMatches(lIdx, rIdx, named, MatchOptions.default)
    assert(frames.length == 2)
    val counts = frames.map(_.count())
    assert(counts(1) <= counts(0), s"pass 2 (${counts(1)}) must not exceed pass 1 (${counts(0)})")
  }

  /** Spark jobs one collected `matchDfs` call runs, and its rows. */
  private def matchJobs(maps: Seq[FuzzyMapping]): (Int, Array[Row]) =
    sparkJobs(FuzzyMatcher.withMatchScope(FuzzyMatcher.matchDfs(leftDf, rightDf, maps).collect()))

  test("a three-mapping match runs at most 22 Spark jobs") {
    // Filter passes are scored inline on the fresh pass's barrier and the
    // last pass frame carries every score, so they add no barrier, count
    // or combine join; the fresh pass counts its barriers in one job each.
    val (jobs, rows) = matchJobs(mappings :+ FuzzyMapping("address", "location",
      thresholdScore = 10.0, fuzzyType = FuzzyAlgorithm.Indel))
    assert(rows.length == 5)
    assert(jobs <= 22, s"a three-mapping match ran $jobs Spark jobs")
  }

  test("a one-mapping exact match runs at most 18 Spark jobs") {
    val (jobs, rows) = matchJobs(Seq(FuzzyMapping("company_name", "organization",
      thresholdScore = 20.0, fuzzyType = FuzzyAlgorithm.Levenshtein)))
    assert(rows.nonEmpty)
    assert(jobs <= 18, s"a one-mapping exact match ran $jobs Spark jobs")
  }

  test("empty input produces empty result with full schema") {
    val result = FuzzyMatcher.matchDfs(leftDf.limit(0), rightDf, mappings)
    assert(result.count() == 0)
    assert(result.columns.length == 10)
  }

  test("empty input with colliding columns keeps renames + naming (SURVEY §8 deviation 5)") {
    // reference (pre_process.py:309-310) would return unrenamed right
    // columns + constructor-default score names here; we pin the
    // Spark-side choice: schema identical to the non-empty case
    val left = Seq((1, "acme corp")).toDF("id", "name")
    val right = Seq((10, "acme corp.")).toDF("id", "name")
    val maps = Seq(FuzzyMapping("name", "name", thresholdScore = 80.0))
    val full = FuzzyMatcher.matchDfs(left, right, maps)
    val empty = FuzzyMatcher.matchDfs(left.limit(0), right, maps)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == full.columns.toSeq,
      s"empty=${empty.columns.toSeq} full=${full.columns.toSeq}")
    assert(empty.columns.count(_ == "id") == 1 && empty.columns.contains("id_right"),
      "right-side rename must apply on empty inputs (no duplicate names)")
    assert(empty.columns.contains("name_vs_name_right_levenshtein"),
      "preprocessing score name must apply on empty inputs")
  }

  test("null keys are dropped from matching") {
    val left = Seq((1, Option("Apple Inc."), "x", "Tim Cook"), (2, Option.empty[String], "y", "Nobody"))
      .toDF("id", "company_name", "address", "contact")
    val result = FuzzyMatcher.matchDfs(left, rightDf,
      Seq(FuzzyMapping("company_name", "organization", thresholdScore = 20.0,
        fuzzyType = FuzzyAlgorithm.JaroWinkler)))
    assert(result.where($"id" === 2).count() == 0)
  }

  test("one-to-many and many-to-one matches expand correctly") {
    val left = Seq((1, "acme corp"), (2, "acme corp")).toDF("lid", "name")
    val right = Seq((10, "acme corp."), (20, "acme corp!")).toDF("rid", "gname")
    val result = FuzzyMatcher.matchDfs(left, right,
      Seq(FuzzyMapping("name", "gname", thresholdScore = 80.0)),
      MatchOptions(runPreprocess = false))
    // 2 identical left values x 2 close right values = 4 pairs
    assert(result.count() == 4)
  }
}
