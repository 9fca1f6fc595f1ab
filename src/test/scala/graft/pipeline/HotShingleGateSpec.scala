package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.CapMetrics

/** Pins the eight hot-shingle / hot-fingerprint gated stages — output rows
  * and CapMetrics accounting — against a driver-side brute force over the
  * same blocking keys:
  *
  *  - self forms (`dedup_ngram`, `dedup_containment`, `dedup_winnow`): a key
  *    in df documents is dropped when df > maxDf, the largest df with
  *    df·(df−1)/2 <= cap; it accounts df·(df−1)/2 pairs;
  *  - cross and stored forms (`dedup_ngram_cross`, `dedup_containment_cross`,
  *    `dedup_winnow_cross`, `dedup_containment_stored`,
  *    `dedup_winnow_stored`): only keys on both sides count, and a key is
  *    dropped when dfL·dfR > cap; it accounts dfL·dfR pairs.
  *
  * A dropped key leaves pair generation only: a surviving pair is scored
  * over the full sets (n-gram forms) or counts only kept fingerprints
  * (winnow forms, whose score is the blocking-join row count). Every
  * fixture drops at least one key, loses at least one pair to the cap and
  * keeps at least one.
  */
class HotShingleGateSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // word-trigram fixtures: "all rights reserved" is in five self documents,
  // three batch and three corpus documents — over a cap of 6 pairs in both
  // pricings (maxDf 4 < 5; 3·3 = 9 > 6); everything else is rare
  private val docs = Seq(
    (1L, "all rights reserved alpha beta gamma delta"),
    (2L, "all rights reserved alpha beta gamma epsilon"),
    (3L, "all rights reserved zeta eta theta"),
    (4L, "all rights reserved iota kappa lambda"),
    (5L, "all rights reserved mu nu xi omicron"),
    (6L, "mu nu xi omicron pi")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    (1L, "all rights reserved alpha beta gamma delta"),
    (2L, "all rights reserved zeta eta theta"),
    (3L, "all rights reserved mu nu"),
    (4L, "mu nu xi omicron pi rho"),
    (5L, "batch only words here")
  ).toDF("doc_id", "text")

  private val corpus = Seq(
    (101L, "all rights reserved alpha beta gamma epsilon"),
    (102L, "all rights reserved iota kappa"),
    (103L, "all rights reserved sigma tau"),
    (104L, "mu nu xi omicron"),
    (105L, "corpus only words there")
  ).toDF("doc_id", "text")

  // character-window fixtures for the winnow forms: a boilerplate notice in
  // five self documents (three batch, three corpus) and lifted passages
  // shared by a few
  private val notice = "copyright notice all rights reserved worldwide"
  private val passage = "the quick brown fox jumps over the lazy dog again"
  private val wDocs = Seq(
    (1L, s"$notice $passage first"),
    (2L, s"$notice $passage second"),
    (3L, s"$notice zebra yak walrus vole"),
    (4L, s"$notice umber taupe sienna rust"),
    (5L, s"$notice quartz pewter onyx"),
    (6L, s"mauve lilac khaki jade $passage")
  ).toDF("doc_id", "text")

  private val wBatch = Seq(
    (1L, s"$notice $passage first"),
    (2L, s"$notice zebra yak walrus vole"),
    (3L, s"$notice umber taupe sienna rust"),
    (4L, "indigo hazel garnet fuchsia ecru")
  ).toDF("doc_id", "text")

  private val wCorpus = Seq(
    (101L, s"$notice $passage second"),
    (102L, s"$notice quartz pewter onyx"),
    (103L, s"$notice mauve lilac khaki jade"),
    (104L, "indigo hazel garnet fuchsia ecru cerise")
  ).toDF("doc_id", "text")

  private val cap = 6L
  private val winK = 5
  private val winWindow = 4

  // ---- brute force ----

  /** (id, key) rows of the n-gram forms: the engine's own shingle sets. */
  private def shingleRows(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("doc_id"), explode(graft.fuzzy.vectorFunctions
        .hashed_shingle_set(lower(trim(col("text"))), 3)))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  /** (id, key) rows of the winnow forms: the engine's own fingerprints. */
  private def fingerprintRows(df: DataFrame): Seq[(Long, Long)] =
    Dedup.winnowState(df, "text", "doc_id", winK, winWindow)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  private def freq(rows: Seq[(Long, Long)]): Map[Long, Long] =
    rows.groupBy(_._2).map { case (k, rs) => k -> rs.size.toLong }

  /** Expected accounting and the keys that stay in pair generation. */
  private case class Census(dropped: Long, total: Long, droppedPairs: Long,
                                  keptPairs: Long, kept: Set[Long])

  private def selfCensus(rows: Seq[(Long, Long)]): Census = {
    val df = freq(rows)
    val maxDf = ((1.0 + math.sqrt(1.0 + 8.0 * cap.toDouble)) / 2.0).toLong
    val (hot, kept) = df.partition(_._2 > maxDf)
    def pairs(m: Map[Long, Long]) = m.values.map(d => d * (d - 1) / 2).sum
    Census(hot.size.toLong, df.size.toLong, pairs(hot), pairs(kept), kept.keySet)
  }

  private def crossCensus(l: Seq[(Long, Long)], r: Seq[(Long, Long)]): Census = {
    val (dfL, dfR) = (freq(l), freq(r))
    val joint = dfL.keySet.intersect(dfR.keySet).map(k => k -> dfL(k) * dfR(k)).toMap
    val (hot, kept) = joint.partition(_._2.toDouble > cap.toDouble)
    Census(hot.size.toLong, joint.size.toLong, hot.values.sum, kept.values.sum,
      kept.keySet)
  }

  private def sets(rows: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    rows.groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }

  /** Pairs (a from `l`, b from `r`) that share a kept key, a < b when self. */
  private def candidates(l: Map[Long, Set[Long]], r: Map[Long, Set[Long]],
                         kept: Set[Long], self: Boolean): Seq[(Long, Long)] =
    for {
      (a, sa) <- l.toSeq; (b, sb) <- r.toSeq
      if (!self || a < b) && sa.exists(k => kept.contains(k) && sb.contains(k))
    } yield (a, b)

  private def scored(l: Seq[(Long, Long)], r: Seq[(Long, Long)], kept: Set[Long],
                     self: Boolean, threshold: Double,
                     score: (Double, Double, Double) => Double): Set[(Long, Long, Double)] = {
    val (sl, sr) = (sets(l), sets(r))
    candidates(sl, sr, kept, self).map { case (a, b) =>
      val common = sl(a).intersect(sr(b)).size.toDouble
      (a, b, score(common, sl(a).size.toDouble, sr(b).size.toDouble))
    }.filter(_._3 >= threshold).toSet
  }

  private val jaccard = (c: Double, a: Double, b: Double) => c / (a + b - c)
  private val containment = (c: Double, a: Double, b: Double) => c / math.min(a, b)

  private def shared(l: Seq[(Long, Long)], r: Seq[(Long, Long)], kept: Set[Long],
                     self: Boolean, minShared: Long): Set[(Long, Long, Long)] = {
    val byKeyR = r.filter(x => kept.contains(x._2)).groupBy(_._2)
    l.filter(x => kept.contains(x._2)).flatMap { case (a, k) =>
      byKeyR.getOrElse(k, Nil).collect { case (b, _) if !self || a < b => (a, b) }
    }.groupBy(identity).map { case (p, hits) => (p._1, p._2, hits.size.toLong) }
      .filter(_._3 >= minShared).toSet
  }

  // ---- assertions ----

  private def scoredRows(df: DataFrame, scoreCol: String): Set[(Long, Long, Double)] =
    df.select("id_a", "id_b", scoreCol).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def sharedRows(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("id_a", "id_b", "n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def assertStage[T](stage: String, got: Set[T], expected: Set[T],
                             uncapped: Set[T], census: Census): Unit = {
    assert(census.dropped > 0, s"$stage fixture drops no key")
    assert(expected.nonEmpty, s"$stage fixture keeps no pair")
    assert(expected.size < uncapped.size, s"$stage fixture loses no pair to the cap")
    assert(got === expected)
    val s = CapMetrics.lastMetrics(stage).getOrElse(fail(s"no cap metrics for $stage"))
    assert(s.droppedBuckets === census.dropped)
    assert(s.totalBuckets === census.total)
    assert(s.droppedPairs === census.droppedPairs)
    assert(s.keptPairs === census.keptPairs)
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---- the eight stages ----

  test("dedup_ngram: hot shingles leave blocking, survivors keep their full-set jaccard") {
    val rows = shingleRows(docs)
    val c = selfCensus(rows)
    val got = scoredRows(Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.1,
      maxShinglePairs = cap), "jaccard")
    assertStage("dedup_ngram", got, scored(rows, rows, c.kept, self = true, 0.1, jaccard),
      scored(rows, rows, rows.map(_._2).toSet, self = true, 0.1, jaccard), c)
  }

  test("dedup_containment: hot shingles leave blocking, survivors keep their containment") {
    val rows = shingleRows(docs)
    val c = selfCensus(rows)
    val got = scoredRows(Dedup.containmentPairs(docs, "text", "doc_id", 3, 0.1,
      maxShinglePairs = cap), "containment")
    assertStage("dedup_containment", got,
      scored(rows, rows, c.kept, self = true, 0.1, containment),
      scored(rows, rows, rows.map(_._2).toSet, self = true, 0.1, containment), c)
  }

  test("dedup_ngram_cross: shingles hot on both sides leave blocking") {
    val (l, r) = (shingleRows(batch), shingleRows(corpus))
    val c = crossCensus(l, r)
    val got = scoredRows(Dedup.ngramJaccardCrossPairs(batch, corpus, "text", "doc_id",
      3, 0.1, maxShinglePairs = cap), "jaccard")
    assertStage("dedup_ngram_cross", got, scored(l, r, c.kept, self = false, 0.1, jaccard),
      scored(l, r, r.map(_._2).toSet, self = false, 0.1, jaccard), c)
  }

  test("dedup_containment_cross: shingles hot on both sides leave blocking") {
    val (l, r) = (shingleRows(batch), shingleRows(corpus))
    val c = crossCensus(l, r)
    val got = scoredRows(Dedup.containmentCrossPairs(batch, corpus, "text", "doc_id",
      3, 0.1, maxShinglePairs = cap), "containment")
    assertStage("dedup_containment_cross", got,
      scored(l, r, c.kept, self = false, 0.1, containment),
      scored(l, r, r.map(_._2).toSet, self = false, 0.1, containment), c)
  }

  test("dedup_containment_stored: the gate priced from the store's stats") {
    val dir = tempDir("hot_gate_ct")
    Dedup.saveContainmentState(corpus, "text", "doc_id", dir, n = 3, nBuckets = 4)
    val stored = Dedup.loadContainmentState(spark, dir)
    val (l, r) = (shingleRows(batch), shingleRows(corpus))
    val c = crossCensus(l, r)
    val got = scoredRows(Dedup.containmentPairsAgainstStored(batch, "text", "doc_id",
      stored, threshold = 0.1, maxShinglePairs = cap), "containment")
    assertStage("dedup_containment_stored", got,
      scored(l, r, c.kept, self = false, 0.1, containment),
      scored(l, r, r.map(_._2).toSet, self = false, 0.1, containment), c)
  }

  test("dedup_winnow: hot fingerprints leave blocking and the shared count") {
    val rows = fingerprintRows(wDocs)
    val c = selfCensus(rows)
    val got = sharedRows(Dedup.winnowOverlapPairs(wDocs, "text", "doc_id",
      k = winK, window = winWindow, minShared = 2L, maxFingerprintPairs = cap))
    assertStage("dedup_winnow", got, shared(rows, rows, c.kept, self = true, 2L),
      shared(rows, rows, rows.map(_._2).toSet, self = true, 2L), c)
  }

  test("dedup_winnow_cross: fingerprints hot on both sides leave blocking") {
    val (l, r) = (fingerprintRows(wBatch), fingerprintRows(wCorpus))
    val c = crossCensus(l, r)
    val got = sharedRows(Dedup.winnowCrossPairs(wBatch,
      Dedup.winnowState(wCorpus, "text", "doc_id", winK, winWindow), "text", "doc_id",
      k = winK, window = winWindow, minShared = 2L, maxFingerprintPairs = cap))
    assertStage("dedup_winnow_cross", got, shared(l, r, c.kept, self = false, 2L),
      shared(l, r, r.map(_._2).toSet, self = false, 2L), c)
  }

  test("dedup_winnow_stored: the gate priced from the store's stats") {
    val dir = tempDir("hot_gate_wn")
    Dedup.saveWinnowState(wCorpus, "text", "doc_id", dir, k = winK, window = winWindow,
      nBuckets = 4)
    val stored = Dedup.loadWinnowState(spark, dir)
    val (l, r) = (fingerprintRows(wBatch), fingerprintRows(wCorpus))
    val c = crossCensus(l, r)
    val got = sharedRows(Dedup.winnowPairsAgainstStored(wBatch, "text", "doc_id",
      stored, minShared = 2L, maxFingerprintPairs = cap))
    assertStage("dedup_winnow_stored", got, shared(l, r, c.kept, self = false, 2L),
      shared(l, r, r.map(_._2).toSet, self = false, 2L), c)
  }
}
