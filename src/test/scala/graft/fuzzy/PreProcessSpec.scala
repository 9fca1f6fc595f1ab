package graft.fuzzy

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{approx_count_distinct, col, concat, count, lit}
import org.scalatest.funsuite.AnyFunSuite

class PreProcessSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("uniqueness formula golden values (tests/test_pre_process.py:113-117)") {
    assert(PreProcess.calculateUniqueness(0.5, 0.5) == 0.75)
    assert(PreProcess.calculateUniqueness(0.6, 0.8) == 1.3000000000000003)
    assert(PreProcess.calculateUniqueness(0.6, 0.5) == 0.905)
    assert(PreProcess.calculateUniqueness(0.1, 0.3) == 0.35)
  }

  test("aggregation heuristic boundary (tests/test_pre_process.py:158-161)") {
    assert(PreProcess.needsAggregation(0.5, 10_200_000))
    assert(!PreProcess.needsAggregation(0.5, 1_000_000))
    assert(!PreProcess.needsAggregation(1.2, 10_200_000))
  }

  test("mapping order: most selective first, stable for ties") {
    val maps = Seq(
      FuzzyMapping("a", "x", percUnique = 0.3),
      FuzzyMapping("b", "y", percUnique = 2.0),
      FuzzyMapping("c", "z", percUnique = 1.1))
    assert(PreProcess.orderMaps(maps).map(_.leftCol) == Seq("b", "c", "a"))
    val ties = Seq(FuzzyMapping("p", "x", percUnique = 1.0), FuzzyMapping("q", "y", percUnique = 1.0))
    assert(PreProcess.orderMaps(ties).map(_.leftCol) == Seq("p", "q"))
  }

  test("low-uniqueness inputs get deduplicated on the mapped columns") {
    // 2000x2000 cartesian > 1e6 with 2 distinct values per side -> dedup
    val left = (1 to 2000).map(i => (i, if (i % 2 == 0) "aa" else "bb")).toDF("id", "k")
    val right = (1 to 2000).map(i => (i, if (i % 2 == 0) "aa" else "bc")).toDF("rid", "rk")
    val plan = PreProcess.run(left, right, Seq(FuzzyMapping("k", "rk", 80.0)))
    assert(plan.left.count() == 2)
    assert(plan.right.count() == 2)
  }

  test("high-uniqueness inputs stay untouched") {
    val left = (1 to 2000).map(i => (i, s"name_$i")).toDF("id", "k")
    val right = (1 to 2000).map(i => (i, s"nam_$i")).toDF("rid", "rk")
    val plan = PreProcess.run(left, right, Seq(FuzzyMapping("k", "rk", 80.0)))
    assert(plan.left.count() == 2000)
    assert(plan.right.count() == 2000)
  }

  /** The statistics as a `count` + `approx_count_distinct` aggregate
    * computes them: the oracle [[PreProcess.statScan]] must equal. */
  private def aggregateStats(df: DataFrame, cols: Seq[String]): (Long, Map[String, Long]) = {
    val distinctCols = cols.distinct
    val aggs = count(lit(1)).as("__n") +:
      distinctCols.map(c => approx_count_distinct(col(c)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    (row.getLong(0),
      distinctCols.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap)
  }

  /** `n` rows of a string `a` (about n/3 distinct), an int `b`, a long `c`
    * and a double `d`, from a range source in `parts` partitions. */
  private def abcd(n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(
      concat(lit("name_"), (col("id") % math.max(n / 3, 1)).cast("string")).as("a"),
      (col("id") % 97).cast("int").as("b"),
      (col("id") * 7919L).as("c"),
      (col("id") / 13).cast("double").as("d"))

  private val abcdCols = Seq("a", "b", "c", "d", "a")

  private def statFixtures: Seq[(String, DataFrame, Seq[String])] = {
    val nonAscii = Seq("İstanbul", "istanbul", "ISTANBUL", "straße", "STRASSE", "strasse",
      "σοφός", "σοφόσ", "ΣΟΦΟΣ", "naïve", "naive", "😀 smile", "smile 😀", "😀", "", " ")
    val nulls = Seq[(Option[String], Option[java.lang.Integer])](
      (Some("x"), Some(1)), (None, Some(2)), (Some("y"), None), (None, None),
      (Some("x"), Some(1)), (Some(""), Some(0)))
    val customer = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    Seq(
      ("0 rows", abcd(0, 2), abcdCols),
      ("0 rows, local", Seq.empty[(String, Int)].toDF("a", "b"), Seq("a", "b")),
      ("1 row", abcd(1, 1), abcdCols),
      ("17 rows", abcd(17, 3), abcdCols),
      ("2k rows", abcd(2000, 4), abcdCols),
      ("50k rows", abcd(50000, 4), abcdCols),
      ("300k rows", abcd(300000, 4), abcdCols),
      ("nulls", nulls.toDF("a", "b"), Seq("a", "b")),
      ("all-null column", nulls.toDF("a", "b").select(lit(null).cast("string").as("a")),
        Seq("a")),
      ("non-ASCII", (nonAscii ++ nonAscii.map(_.toUpperCase)).toDF("a"), Seq("a")),
      ("int", (1 to 5000).map(i => i % 1234).toDF("b"), Seq("b")),
      ("long", (1 to 5000).map(i => i.toLong * Int.MaxValue).toDF("c"), Seq("c")),
      ("double", (Seq(0.0, -0.0, Double.NaN, 1.5, -1.5, Double.MinPositiveValue,
        Double.PositiveInfinity) ++ (1 to 3000).map(_ / 7.0)).toDF("d"), Seq("d")),
      ("repartitioned", abcd(20000, 2).repartition(7), abcdCols),
      ("repartitioned by a column", abcd(20000, 2).repartition(5, col("b")), abcdCols),
      ("coalesced", abcd(20000, 4).coalesce(1), abcdCols),
      ("no mapping columns", abcd(500, 2), Seq.empty),
      ("sf0.01 customer", customer,
        Seq("c_name", "c_mktsegment", "c_nationkey", "c_acctbal", "c_custkey", "c_name")),
      ("sf0.01 customer, filtered", customer.where(col("c_acctbal") > 0),
        Seq("c_mktsegment", "c_name")))
  }

  test("statScan equals count + approx_count_distinct") {
    statFixtures.foreach { case (name, df, cols) =>
      val expected = aggregateStats(df, cols)
      assert(PreProcess.statScan(df, cols) == expected, s"fixture: $name")
    }
  }

  test("statScan runs one Spark job") {
    val df = abcd(2000, 4)
    val (jobs, stats) = sparkJobs(PreProcess.statScan(df, abcdCols))
    assert(stats._1 == 2000)
    assert(jobs == 1, s"a stat scan ran $jobs Spark jobs")
  }
}

class NameUtilsSpec extends AnyFunSuite {

  test("output name generation (tests/test_output_column_name_utils.py)") {
    assert(NameUtils.generateOutputColumnName(FuzzyMapping("city", "other_city"))
      == "city_vs_other_city_levenshtein")
  }

  test("duplicate names get _N counters") {
    val maps = (1 to 10).map(_ => FuzzyMapping("a", "b")) :+ FuzzyMapping("city", "other_city")
    val named = NameUtils.setNamesInMappings(maps)
    assert(named.head.outputColumnName.contains("a_vs_b_levenshtein"))
    (1 until 10).foreach { i =>
      assert(named(i).outputColumnName.contains(s"a_vs_b_levenshtein_$i"))
    }
    assert(named.last.outputColumnName.contains("city_vs_other_city_levenshtein"))
  }

  test("simple right-column rename") {
    assert(NameUtils.renameRightColumns(Seq("id", "name"), Seq("id", "value"))
      == Map("id" -> "id_right"))
  }

  test("partial overlap: only colliding columns renamed (test_pre_process.py:307-317)") {
    assert(NameUtils.renameRightColumns(Seq("b", "d"), Seq("a", "b", "c", "d"))
      == Map("b" -> "b_right", "d" -> "d_right"))
  }

  test("pathological suffix chain (test_pre_process.py:294-305)") {
    val leftCols = "id" +: (1 to 5).map(i => "id" + "_right" * i)
    val renames = NameUtils.renameRightColumns(leftCols, Seq("id", "value"))
    assert(renames == Map("id" -> ("id" + "_right" * 6)))
  }

  test("self-conflict within right side reserves new names") {
    // right has both id and id_right; id must skip to id_right_right
    val renames = NameUtils.renameRightColumns(Seq("id"), Seq("id", "id_right"))
    assert(renames == Map("id" -> "id_right_right"))
  }

  test("empty suffix rejected") {
    intercept[IllegalArgumentException] {
      NameUtils.renameRightColumns(Seq("a"), Seq("a"), suffix = "")
    }
  }
}
