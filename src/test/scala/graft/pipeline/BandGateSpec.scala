package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.fuzzy.{AnnJoin, MatchOptions, vectorFunctions}
import graft.util.CapMetrics

/** Pins the eleven banded / cell gated stages — output rows and CapMetrics
  * accounting — against a driver-side brute force over each stage's own
  * band keys (the banded twin of [[HotShingleGateSpec]]):
  *
  *  - self forms (`dedup_minhash`, `dedup_simhash`, `dedup_cosine_lsh`,
  *    `dedup_semantic`): a (band, key) bucket of n rows is dropped when
  *    n·n > cap; it accounts n·n pairs;
  *  - cross and stored forms (`fuzzy_lsh`, `ann_lsh_topk`,
  *    `dedup_minhash_inc`, `dedup_minhash_stored`, `dedup_hamming_incr`,
  *    `dedup_semantic_inc`, `dedup_semantic_stored`): only buckets on both
  *    sides count, and a bucket is dropped when lc·rc > cap; it accounts
  *    lc·rc pairs.
  *
  * Band keys come from the engine's own expressions (minhash band keys,
  * sign-LSH bits, simhash, cell assignment) and are split into bands on
  * the driver; scores come from the engine's own kernels over a test-side
  * cross join. A candidate pair is one that shares a kept bucket. Every
  * fixture drops at least one bucket, loses at least one pair to the cap
  * and keeps at least one.
  */
class BandGateSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val cap = 6L

  // ---- brute force ----

  private type Bucket = (Int, Long)

  /** Expected accounting and the buckets that stay in pair generation. */
  private case class Census(dropped: Long, total: Long, droppedPairs: Long,
                            keptPairs: Long, kept: Set[Bucket])

  private def counts[A](rows: Seq[(A, Bucket)]): Map[Bucket, Long] =
    rows.groupBy(_._2).map { case (b, rs) => b -> rs.size.toLong }

  private def census(priced: Map[Bucket, Long]): Census = {
    val (hot, kept) = priced.partition(_._2.toDouble > cap.toDouble)
    Census(hot.size.toLong, priced.size.toLong, hot.values.sum, kept.values.sum,
      kept.keySet)
  }

  private def selfCensus[A](rows: Seq[(A, Bucket)]): Census =
    census(counts(rows).map { case (b, n) => b -> n * n })

  private def crossCensus[A, B](l: Seq[(A, Bucket)], r: Seq[(B, Bucket)]): Census = {
    val (cl, cr) = (counts(l), counts(r))
    census(cl.keySet.intersect(cr.keySet).map(b => b -> cl(b) * cr(b)).toMap)
  }

  private def allBuckets[A](rows: Seq[(A, Bucket)]): Set[Bucket] = rows.map(_._2).toSet

  /** Pairs (a from `l`, b from `r`) sharing a kept bucket. */
  private def candidates[A, B](l: Seq[(A, Bucket)], r: Seq[(B, Bucket)],
                               kept: Set[Bucket]): Set[(A, B)] = {
    val byBucket = r.filter(x => kept.contains(x._2)).groupBy(_._2)
    l.filter(x => kept.contains(x._2)).flatMap { case (a, b) =>
      byBucket.getOrElse(b, Nil).map { case (bId, _) => (a, bId) }
    }.toSet
  }

  private def selfCandidates(rows: Seq[(Long, Bucket)], kept: Set[Bucket]): Set[(Long, Long)] =
    candidates(rows, rows, kept).filter { case (a, b) => a < b }

  /** Split a collected bit word into `bands` bands of `width / bands` bits. */
  private def bitBands(rows: Seq[(Long, Long)], width: Int, bands: Int): Seq[(Long, Bucket)] = {
    val per = width / bands
    val mask = if (per >= 64) -1L else (1L << per) - 1
    rows.flatMap { case (id, bits) => (0 until bands).map(b => (id, (b, (bits >> (b * per)) & mask))) }
  }

  /** (id, band, key) rows of a posexploded band-key array column. */
  private def explodedBands(df: DataFrame, id: String, keys: org.apache.spark.sql.Column): Seq[(Any, Bucket)] =
    df.select(col(id), posexplode(keys)).collect().toSeq
      .map(r => (r.get(0), (r.getInt(1), r.getLong(2))))

  /** Score of every (a from `l`, b from `r`) pair by an engine kernel. */
  private def scores(l: DataFrame, r: DataFrame, lId: String, rId: String, lV: String,
                     rV: String, score: (org.apache.spark.sql.Column,
                       org.apache.spark.sql.Column) => org.apache.spark.sql.Column
                    ): Map[(Long, Long), Double] =
    l.select(col(lId).as("__a"), col(lV).as("__va"))
      .crossJoin(r.select(col(rId).as("__b"), col(rV).as("__vb")))
      .select(col("__a"), col("__b"), score(col("__va"), col("__vb")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private val cosine = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    Dedup.cosineSimilarity(a, b)

  /** The exact shingle-set jaccard of the minhash verify. */
  private val setJaccard = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) => {
    val common = vectorFunctions.sorted_intersect_count(a, b)
    common / (size(a).cast("double") + size(b).cast("double") - common)
  }

  private def triples(df: DataFrame, a: String, b: String, s: String): Set[(Long, Long, Double)] =
    df.select(a, b, s).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def scored(pairs: Set[(Long, Long)], sc: Map[(Long, Long), Double],
                     keep: Double => Boolean = _ => true): Set[(Long, Long, Double)] =
    pairs.map { case (a, b) => (a, b, sc((a, b))) }.filter(t => keep(t._3))

  // ---- assertions ----

  private def assertStage[T, P](stage: String, got: Set[T], expected: Set[T],
                                pairs: Set[P], uncappedPairs: Set[P], c: Census): Unit = {
    assert(c.dropped > 0, s"$stage fixture drops no bucket")
    assert(pairs.nonEmpty, s"$stage fixture keeps no pair")
    assert(pairs.size < uncappedPairs.size, s"$stage fixture loses no pair to the cap")
    assert(got === expected)
    val s = CapMetrics.lastMetrics(stage).getOrElse(fail(s"no cap metrics for $stage"))
    assert(s.droppedBuckets === c.dropped)
    assert(s.totalBuckets === c.total)
    assert(s.droppedPairs === c.droppedPairs)
    assert(s.keptPairs === c.keptPairs)
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---- text fixtures: five copies of one document are over the cap of 6 in
  // both pricings (5·5 = 25; 3·3 = 9), twins stay under it (2·2, 1·1) ----

  private val hot = "the quick brown fox jumps over the lazy dog"
  private val twin = "pack my box with five dozen liquor jugs"
  private val docs = Seq(
    (1L, hot), (2L, hot), (3L, hot), (4L, hot), (5L, hot),
    (6L, twin), (7L, twin),
    (8L, "sphinx of black quartz judge my vow"),
    (9L, "how vexingly quick daft zebras jump")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    (1L, hot), (2L, hot), (3L, hot), (4L, twin),
    (5L, "sphinx of black quartz judge my vow")
  ).toDF("doc_id", "text")

  private val corpus = Seq(
    (101L, hot), (102L, hot), (103L, hot), (104L, twin),
    (105L, "how vexingly quick daft zebras jump")
  ).toDF("doc_id", "text")

  private val (bands, rowsPerBand) = (4, 2)

  private def minhashBands(state: DataFrame): Seq[(Long, Bucket)] =
    explodedBands(state, "doc_id", vectorFunctions.lsh_band_keys(col("__sig"), bands, rowsPerBand))
      .map { case (id, b) => (id.asInstanceOf[Long], b) }

  private def minhashOf(df: DataFrame): DataFrame =
    Dedup.minhashState(df, "text", "doc_id", 3, bands * rowsPerBand)

  // ---- vector fixtures: sign-LSH bits over md5 integer planes ----

  private val (dim, planes, planeBands) = (4, 16, 4)

  private def vec(xs: Float*): Seq[Float] = xs

  private val vHot = vec(1f, 0.2f, -0.3f, 0.4f)
  private val vTwin = vec(-0.5f, 1f, 0.25f, -0.1f)
  private val emb = Seq(
    (1L, vHot), (2L, vHot), (3L, vHot), (4L, vHot),
    (5L, vTwin), (6L, vTwin),
    (7L, vec(0.1f, -0.9f, 0.8f, 0.3f)),
    (8L, vec(-0.7f, -0.2f, -0.6f, 0.9f))
  ).toDF("vec_id", "embedding")

  private val qEmb = Seq(
    (1L, vHot), (2L, vHot), (3L, vHot), (4L, vTwin),
    (5L, vec(0.1f, -0.9f, 0.8f, 0.3f))
  ).toDF("vec_id", "embedding")

  private val cEmb = Seq(
    (101L, vHot), (102L, vHot), (103L, vHot), (104L, vTwin),
    (105L, vec(-0.7f, -0.2f, -0.6f, 0.9f))
  ).toDF("vec_id", "embedding")

  private def signBands(df: DataFrame): Seq[(Long, Bucket)] =
    bitBands(df.select(col("vec_id"),
        Dedup.lshBitsCol(col("embedding"), dim, planes, 42L, md5IntPlanes = true))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))), planes, planeBands)

  // ---- semantic fixtures: two unit centroids on a 2-d grid; the first
  // cell is crowded, the second holds a near-duplicate pair ----

  private val cents = Dedup.quantizeCentroidsMicro(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
  private val semThreshold = 0.9
  private val sEmb = Seq(
    (1L, vec(1f, 0f)), (2L, vec(1f, 0.01f)), (3L, vec(1f, 0.02f)), (4L, vec(1f, 0.03f)),
    (5L, vec(0.01f, 1f)), (6L, vec(0.02f, 1f))
  ).toDF("vec_id", "embedding")
  private val sBatch = Seq(
    (1L, vec(1f, 0f)), (2L, vec(1f, 0.01f)), (3L, vec(1f, 0.02f)), (4L, vec(0.01f, 1f))
  ).toDF("vec_id", "embedding")
  private val sCorpus = Seq(
    (101L, vec(1f, 0.03f)), (102L, vec(1f, 0.04f)), (103L, vec(1f, 0.05f)),
    (104L, vec(0.02f, 1f)), (105L, vec(0.8f, 0.9f))
  ).toDF("vec_id", "embedding")

  private def cellState(df: DataFrame): DataFrame =
    Dedup.semDedupState(df, "embedding", "vec_id", cents, 2, 2)

  private def cellRows(state: DataFrame): Seq[(Long, Bucket)] =
    state.select(col("vec_id"), col("cell")).collect().toSeq
      .map(r => (r.getLong(0), (0, r.getLong(1))))

  // ---- the eleven stages ----

  test("fuzzy_lsh: buckets hot on both sides leave the band join") {
    val opts = MatchOptions(lshNumBands = bands, lshRowsPerBand = rowsPerBand,
      lshStopGramFraction = 1.0, lshJaccardDistanceThreshold = 1.0,
      topNForNewMatches = 1000, lshMaxBucketPairs = cap)
    // equal lowered values share every band key
    val left = Seq("smith", "Smith", "SMITH", "jones", "brown").toDF("l")
    val right = Seq("sMith", "smiTh", "smitH", "Jones", "green").toDF("r")
    def rows(df: DataFrame, c: String): Seq[(String, Bucket)] =
      explodedBands(df, c, vectorFunctions.lsh_band_keys(vectorFunctions.minhash_signature(
          vectorFunctions.kept_grams(lower(col(c)), AnnJoin.NgramSize, Array.empty[String],
            AnnJoin.MinKeptGrams), bands * rowsPerBand), bands, rowsPerBand))
        .map { case (v, b) => (v.asInstanceOf[String], b) }
    val (l, r) = (rows(left, "l"), rows(right, "r"))
    val c = crossCensus(l, r)
    val got = AnnJoin.candidates(left, right, "l", "r", opts)
      .select("l", "r").collect().map(x => (x.getString(0), x.getString(1))).toSet
    val expected = candidates(l, r, c.kept)
    assertStage("fuzzy_lsh", got, expected, expected, candidates(l, r, allBuckets(r)), c)
  }

  test("ann_lsh_topk: buckets hot on both sides leave the band join") {
    val (l, r) = (signBands(qEmb), signBands(cEmb))
    val c = crossCensus(l, r)
    val got = triples(AnnSearch.lshTopK(qEmb, cEmb, "embedding", "vec_id", 100, dim = dim,
      planes = planes, bands = planeBands, maxBucketPairs = cap, md5IntPlanes = true),
      "query_id", "corpus_id", "cosine")
    val sc = scores(qEmb, cEmb, "vec_id", "vec_id", "embedding", "embedding", cosine)
    val expected = scored(candidates(l, r, c.kept), sc)
    assertStage("ann_lsh_topk", got, expected, expected,
      scored(candidates(l, r, allBuckets(r)), sc), c)
  }

  test("dedup_minhash: hot buckets leave the self-join") {
    val state = minhashOf(docs)
    val rows = minhashBands(state)
    val c = selfCensus(rows)
    val sc = scores(state, state, "doc_id", "doc_id", "__sig", "__sig",
      vectorFunctions.sig_agreement)
    val got = triples(Dedup.minhashLshPairs(docs, "text", "doc_id", 3, bands, rowsPerBand,
      threshold = 0.0, maxBucketPairs = cap), "id_a", "id_b", "est_jaccard")
    val expected = scored(selfCandidates(rows, c.kept), sc)
    assertStage("dedup_minhash", got, expected, expected,
      scored(selfCandidates(rows, allBuckets(rows)), sc), c)
  }

  test("dedup_minhash_inc: buckets hot on both sides leave the cross join") {
    val (bs, cs) = (minhashOf(batch), minhashOf(corpus))
    val (l, r) = (minhashBands(bs), minhashBands(cs))
    val c = crossCensus(l, r)
    val sc = scores(bs, cs, "doc_id", "doc_id", "__hset", "__hset", setJaccard)
    val got = triples(Dedup.minhashIncrementalPairs(batch, cs, "text", "doc_id", 3, bands,
      rowsPerBand, threshold = 0.0, maxBucketPairs = cap), "id_a", "id_b", "jaccard")
    val expected = scored(candidates(l, r, c.kept), sc)
    assertStage("dedup_minhash_inc", got, expected, expected,
      scored(candidates(l, r, allBuckets(r)), sc), c)
  }

  test("dedup_minhash_stored: the gate priced from the store's stats") {
    val dir = tempDir("band_gate_mh")
    Dedup.saveMinhashState(corpus, "text", "doc_id", dir, 3, bands, rowsPerBand, nBuckets = 4)
    val stored = Dedup.loadMinhashState(spark, dir)
    val (bs, cs) = (minhashOf(batch), minhashOf(corpus))
    val (l, r) = (minhashBands(bs), minhashBands(cs))
    val c = crossCensus(l, r)
    val sc = scores(bs, cs, "doc_id", "doc_id", "__hset", "__hset", setJaccard)
    val got = triples(Dedup.minhashPairsAgainstStored(batch, "text", "doc_id", stored,
      threshold = 0.0, maxBucketPairs = cap), "id_a", "id_b", "jaccard")
    val expected = scored(candidates(l, r, c.kept), sc)
    assertStage("dedup_minhash_stored", got, expected, expected,
      scored(candidates(l, r, allBuckets(r)), sc), c)
  }

  test("dedup_simhash: hot chunk buckets leave the self-join") {
    val maxHamming = 3
    val hashes = docs.select(col("doc_id"), Dedup.simhash64(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = bitBands(hashes.toSeq, 64, maxHamming + 1)
    val c = selfCensus(rows)
    def verified(pairs: Set[(Long, Long)]) = pairs.map { case (a, b) =>
      (a, b, java.lang.Long.bitCount(hashes(a) ^ hashes(b)))
    }.filter(_._3 <= maxHamming)
    val got = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming, maxBucketPairs = cap)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = verified(selfCandidates(rows, c.kept))
    assertStage("dedup_simhash", got, expected, expected,
      verified(selfCandidates(rows, allBuckets(rows))), c)
  }

  test("dedup_hamming_incr: chunk buckets hot on both sides leave the cross join") {
    val maxHamming = 1
    val h1 = 0x0123456789abcdefL
    val h2 = 0x7edcba9876543210L
    val h3 = 0x55aa55aa33cc33ccL
    // (1..3) x (101..103) share both chunks of h1 (3·3 > cap); 106 shares only
    // h1's high chunk, so its pairs with 1..3 are lost to the cap
    val b = Seq((1L, h1), (2L, h1), (3L, h1), (4L, h2), (5L, h3)).toDF("id", "h")
    val k = Seq((101L, h1), (102L, h1), (103L, h1), (104L, h2 ^ 1L),
      (105L, h3 ^ (1L << 40)), (106L, h1 ^ 1L)).toDF("id", "h")
    val hashes = (b.collect() ++ k.collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rows(df: DataFrame) = bitBands(df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))),
      64, maxHamming + 1)
    val (l, r) = (rows(b), rows(k))
    val c = crossCensus(l, r)
    def verified(pairs: Set[(Long, Long)]) = pairs.map { case (x, y) =>
      (x, y, java.lang.Long.bitCount(hashes(x) ^ hashes(y)))
    }.filter(_._3 <= maxHamming)
    val got = Dedup.hashPairsAgainst(b, col("h"), "id", k, col("h"), "id", maxHamming,
        maxBucketPairs = cap)
      .select("id_a", "id_b", "hamming").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val expected = verified(candidates(l, r, c.kept))
    assertStage("dedup_hamming_incr", got, expected, expected,
      verified(candidates(l, r, allBuckets(r))), c)
  }

  test("dedup_cosine_lsh: hot buckets leave the self-join") {
    val rows = signBands(emb)
    val c = selfCensus(rows)
    val sc = scores(emb, emb, "vec_id", "vec_id", "embedding", "embedding", cosine)
    val got = triples(Dedup.cosineLshPairs(emb, "embedding", "vec_id", -1.0, dim, planes,
      planeBands, maxBucketPairs = cap, md5IntPlanes = true), "id_a", "id_b", "cosine")
    val expected = scored(selfCandidates(rows, c.kept), sc)
    assertStage("dedup_cosine_lsh", got, expected, expected,
      scored(selfCandidates(rows, allBuckets(rows)), sc), c)
  }

  test("dedup_semantic: a hot cell leaves the pairwise drop rule") {
    val state = cellState(sEmb)
    val rows = cellRows(state)
    val c = selfCensus(rows)
    val sc = scores(state, state, "vec_id", "vec_id", "embedding", "embedding", cosine)
    val rank = state.select(col("vec_id"), col("ccosq")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dupes(kept: Set[Bucket]) = scored(selfCandidates(rows, kept), sc, _ >= semThreshold)
    val losers = dupes(c.kept).map { case (a, b, _) =>
      if (rank(a) > rank(b) || (rank(a) == rank(b) && a > b)) a else b
    }
    val expected = state.select(col("vec_id"), col("cell"), col("ccosq")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), !losers.contains(r.getLong(0)))).toSet
    val got = Dedup.semDedup(sEmb, "embedding", "vec_id", cents, dim = 2, nCells = 2,
        threshold = semThreshold, maxCellPairs = cap)
      .select("vec_id", "cell", "ccosq", "kept").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assertStage("dedup_semantic", got, expected, dupes(c.kept), dupes(allBuckets(rows)), c)
  }

  test("dedup_semantic_inc: cells hot on both sides leave the cross join") {
    val (bs, cs) = (cellState(sBatch), cellState(sCorpus))
    val (l, r) = (cellRows(bs), cellRows(cs))
    val c = crossCensus(l, r)
    val sc = scores(bs, cs, "vec_id", "vec_id", "embedding", "embedding", cosine)
    val got = triples(Dedup.semDedupIncrementalPairs(sBatch, cs, "embedding", "vec_id", cents,
      2, 2, semThreshold, maxCellPairs = cap), "id_a", "id_b", "cosine")
    val expected = scored(candidates(l, r, c.kept), sc, _ >= semThreshold)
    assertStage("dedup_semantic_inc", got, expected, expected,
      scored(candidates(l, r, allBuckets(r)), sc, _ >= semThreshold), c)
  }

  test("dedup_semantic_stored: the gate priced from the store's stats") {
    val dir = tempDir("band_gate_sem")
    Dedup.saveSemDedupState(sCorpus, "embedding", "vec_id", dir, cents, 2, 2)
    val stored = Dedup.loadSemDedupState(spark, dir)
    val (bs, cs) = (cellState(sBatch), cellState(sCorpus))
    val (l, r) = (cellRows(bs), cellRows(cs))
    val c = crossCensus(l, r)
    val sc = scores(bs, cs, "vec_id", "vec_id", "embedding", "embedding", cosine)
    val got = triples(Dedup.semDedupPairsAgainstStored(sBatch, "embedding", "vec_id", stored,
      semThreshold, maxCellPairs = cap), "id_a", "id_b", "cosine")
    val expected = scored(candidates(l, r, c.kept), sc, _ >= semThreshold)
    assertStage("dedup_semantic_stored", got, expected, expected,
      scored(candidates(l, r, allBuckets(r)), sc, _ >= semThreshold), c)
  }
}
