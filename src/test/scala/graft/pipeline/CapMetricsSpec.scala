package graft.pipeline

import graft.SparkSpec
import graft.util.CapMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Bucket-cap observability: capped stages must account for what they drop
  * (the cap is a recall trade, never a silent one), and the simhash
  * pigeonhole blocking must be COMPLETE when nothing is capped.
  * Accounting is synchronous — metrics are recorded while the pair frame is
  * being BUILT, no listener race to wait out.
  */
class CapMetricsSpec extends AnyFunSuite with SparkSpec {

  /** Whether the gated frame pays a join (the allowed-frame regime) rather
    * than a filter. Read off the analyzed plan: a local fixture's filter is
    * folded away before the optimized plan exists. */
  private def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isDefined

  test("minhash bucket cap drops are counted on a skewed fixture") {
    import spark.implicits._
    // 100 near-identical docs -> every band bucket holds ~50 docs; with a
    // cap of 9 pairs (3x3) every bucket is dropped
    val docs = (0 until 100).map(i =>
      (i.toLong, "the same boilerplate text repeated across the corpus " + (i % 2))).toDF("doc_id", "text")
    Dedup.minhashLshPairs(docs, "text", "doc_id",
      shingleLen = 3, numBands = 4, rowsPerBand = 2, threshold = 0.1, maxBucketPairs = 9L)
    val s = CapMetrics.lastMetrics("dedup_minhash")
      .getOrElse(fail("no cap metrics recorded for dedup_minhash"))
    assert(s.totalBuckets > 0)
    assert(s.droppedBuckets > 0, "skewed fixture should trip the bucket cap")
    assert(s.droppedPairs > 0, "dropped candidate-pair estimate should be positive")
  }

  test("simhash bucket cap drops are counted; uncapped blocking is complete") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      (i.toLong, if (i % 3 == 0) base else s"$base word$i tail${i % 7}")
    }.toDF("doc_id", "text")

    // uncapped: pigeonhole blocking finds EVERY pair within the hamming
    // budget — compare against the brute-force cross join on the same hashes
    val viaLsh = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashed = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      Dedup.simhash64(org.apache.spark.sql.functions.col("text")).as("h"))
    val brute = hashed.as("a").crossJoin(hashed.as("b"))
      .where(org.apache.spark.sql.functions.expr("a.doc_id < b.doc_id AND bit_count(a.h ^ b.h) <= 8"))
      .select("a.doc_id", "b.doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh == brute, "uncapped simhash blocking must equal brute-force hamming pairs")
    val uncapped = CapMetrics.lastMetrics("dedup_simhash")
      .getOrElse(fail("no cap metrics recorded for dedup_simhash"))
    assert(uncapped.droppedBuckets == 0)

    // capped: drops must surface in the metrics
    Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 8, maxBucketPairs = 4L)
    val capped = CapMetrics.lastMetrics("dedup_simhash").get
    assert(capped.totalBuckets > 0)
    assert(capped.droppedBuckets > 0)

    // incremental form: the cross-product cap gates and accounts under
    // its own stage name; a hot bucket (the 20 identical base docs on
    // both sides = 400 candidate pairs per chunk bucket) must be dropped
    // and counted, and dropping the batch side must kill its pairs
    val batch = docs.where(org.apache.spark.sql.functions.col("doc_id") < 30)
    Dedup.hashPairsAgainst(
      batch.select(org.apache.spark.sql.functions.col("doc_id"),
        Dedup.simhash64(org.apache.spark.sql.functions.col("text")).as("h")),
      org.apache.spark.sql.functions.col("h"), "doc_id",
      hashed, org.apache.spark.sql.functions.col("h"), "doc_id",
      maxHamming = 8, maxBucketPairs = 4L).count()
    val cappedX = CapMetrics.lastMetrics("dedup_hamming_incr")
      .getOrElse(fail("no cap metrics recorded for dedup_hamming_incr"))
    assert(cappedX.totalBuckets > 0)
    assert(cappedX.droppedBuckets > 0)
  }

  test("gate key encoding distinguishes (band, key) pairs beyond band 31") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Regression: the old `key * 31 + band` encoding collided
    // (key=0, band=31) with (key=1, band=0), letting an over-cap bucket
    // slip past the codegen'd membership filter. The kept bucket here is
    // (band=31, key=0); the DROPPED one is (band=0, key=1) — under the old
    // encoding both mapped to 31, making them indistinguishable in the
    // blocked-key set.
    val stats = Seq((31, 0L, 2L), (0, 1L, 1000L)).toDF("__band", "__bucket", "__n")
    val gate = CapMetrics.gate(stats, "encoding_spec", "__band", "__bucket",
      col("__n") * col("__n") > 100L, col("__n") * col("__n"),
      graft.util.CheckpointStrategy.Local)
    val banded = Seq((31, 0L, "keep"), (0, 1L, "drop")).toDF("__band", "__bucket", "tag")
    val gated = gate.keep(banded)
    assert(!hasJoin(gated), "expected the driver-side gate regime (no join)")
    val kept = gated.select("tag").collect().map(_.getString(0)).toSet
    assert(kept == Set("keep"), s"gate admitted wrong buckets: $kept")
    val s = CapMetrics.lastMetrics("encoding_spec").get
    assert(s.droppedBuckets == 1 && s.totalBuckets == 2)
  }

  test("scale regime ships only dropped keys when buckets exceed the driver cap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 5 buckets against a driver cap of 2 forces cluster-side accounting;
    // the single over-cap bucket still fits, so the gate must return the
    // blocked-keys fast path (driver state O(drops)), NOT the
    // allowed-frame join — that join made LSH candidate generation grow
    // 18x at 10x values at sf10 (SCALE.md round 8).
    val stats = Seq((0, 1L, 2L), (1, 2L, 2L), (2, 3L, 2L), (3, 4L, 2L), (0, 5L, 1000L))
      .toDF("__band", "__bucket", "__n")
    val banded = Seq((0, 1L, "a"), (1, 2L, "b"), (2, 3L, "c"), (3, 4L, "d"), (0, 5L, "hot"))
      .toDF("__band", "__bucket", "tag")
    val gate = CapMetrics.gate(stats, "scale_regime_spec", "__band",
      "__bucket", col("__n") * col("__n") > 100L, col("__n") * col("__n"),
      graft.util.CheckpointStrategy.Local, maxDriverBuckets = 2)
    val gated = gate.keep(banded)
    assert(!hasJoin(gated), "expected blocked-keys regime, got the allowed-frame join")
    assert(gated.select("tag").as[String].collect().toSet == Set("a", "b", "c", "d"),
      "the blocked set should hold exactly the over-cap bucket key")
    val s = gate.stats
    assert(s.droppedBuckets == 1 && s.totalBuckets == 5)
    assert(s.droppedPairs == 1000L * 1000L && s.keptPairs == 16L)

    // more DROPPED buckets than the cap: the join path remains the backstop
    val allOver = Seq((0, 1L, 50L), (1, 2L, 50L), (2, 3L, 50L), (3, 4L, 50L))
      .toDF("__band", "__bucket", "__n")
    val gate2 = CapMetrics.gate(allOver, "scale_regime_spec", "__band",
      "__bucket", col("__n") * col("__n") > 100L, col("__n") * col("__n"),
      graft.util.CheckpointStrategy.Local, maxDriverBuckets = 2)
    val gated2 = gate2.keep(banded)
    assert(hasJoin(gated2), "with drops over the driver cap the gate must join the allowed frame")
    assert(gated2.count() == 0L)
    val s2 = gate2.stats
    assert(s2.droppedBuckets == 4 && s2.keptPairs == 0L)
  }

  test("all three gate regimes keep the same rows and stats") {
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    // 12 buckets over 3 bands, 4 of them over the cap (n*n > 100): the
    // default driver cap collects them all, 6 forces cluster-side
    // accounting with blocked keys, 2 (< 4 drops) the allowed-frame join
    val sizes = Seq(2, 3, 11, 1, 12, 4, 2, 20, 5, 13, 1, 3)
    val banded = sizes.zipWithIndex.flatMap { case (n, b) =>
      (0 until n).map(i => (b % 3, (b * 7919L) - 40000L, s"r$b.$i"))
    }.toDF("__band", "__bucket", "id")
    val cells = banded.select(col("__bucket").as("cell"), col("id"))
    def stats(df: DataFrame, band: Column, key: Column): DataFrame =
      df.groupBy(band.as("__b"), key.as("__k")).agg(count(lit(1)).as("__n"))
    val shapes = Seq(
      ("band", banded, stats(banded, col("__band"), col("__bucket")),
        col("__band"), col("__bucket")),
      ("cell", cells, stats(cells, lit(0), col("cell")), lit(0), col("cell")))
    for ((shape, df, st, band, key) <- shapes) {
      val runs = Seq(2_000_000, 6, 2).map { maxDriver =>
        val g = CapMetrics.gate(st, "regime_spec", "__b", "__k",
          col("__n") * col("__n") > 100L, col("__n") * col("__n"),
          graft.util.CheckpointStrategy.Local, maxDriverBuckets = maxDriver)
        val kept = g.keep(df, band, key)
        assert(hasJoin(kept) == (maxDriver == 2), s"$shape: regime not forced at $maxDriver")
        (kept.select("id").as[String].collect().sorted.toSeq, g.stats)
      }
      assert(runs.head._2 == CapMetrics.CapStats(4, 12, 144 + 121 + 400 + 169, 4 + 9 + 1 + 16 + 4 + 25 + 1 + 9),
        s"$shape: ${runs.head._2}")
      assert(runs.head._1.size == sizes.filter(_ <= 10).sum, s"$shape: ${runs.head._1.size}")
      runs.tail.foreach { r =>
        assert(r._1 == runs.head._1, s"$shape: kept rows differ across regimes")
        assert(r._2 == runs.head._2, s"$shape: stats differ across regimes")
      }
    }
  }
}
