package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SemDeDup ([[Dedup.semDedup]]) invariants that the DuckDB value oracle
  * (`dedup_semantic`) cannot see on its own: the drop rule's soundness and
  * completeness recomputed from first principles, the always-keep contract
  * for zero vectors and supra-unit thresholds, and the cap gate.
  */
class SemDedupSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val cents = DemoModels.SemCentroids
  private val thr = 0.35

  private def run(maxCellPairs: Long = Long.MaxValue) =
    Dedup.semDedup(spark.read.parquet(s"$dir/embeddings.parquet"),
      "embedding", "vec_id", cents, dim = 64, nCells = 8,
      threshold = thr, maxCellPairs = maxCellPairs)

  test("output is one row per input id with cells in range") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val out = run()
    assert(out.count() === emb.count())
    assert(out.select("vec_id").distinct().count() === emb.count())
    assert(out.where(col("cell") < 1 || col("cell") > 8).count() === 0L)
  }

  test("drop rule is sound and complete against a first-principles recompute") {
    // Recompute the neighborhood predicate independently: for every row,
    // does SOME same-cell row with exact cosine >= thr rank strictly below
    // it by (ccosq, id)? Dropped iff yes — both directions asserted.
    val out = run()
    val a = out.join(
      spark.read.parquet(s"$dir/embeddings.parquet"), Seq("vec_id"))
    val pairs = a.select(col("cell"), col("vec_id").as("ia"),
        col("ccosq").as("ca"), col("embedding").as("va"))
      .join(a.select(col("cell"), col("vec_id").as("ib"),
        col("ccosq").as("cb"), col("embedding").as("vb")), Seq("cell"))
      .where(col("ia") =!= col("ib"))
      .where(Dedup.cosineSimilarity(col("va"), col("vb")) >= thr)
      // vb ranks strictly below va -> va is dropped by vb
      .where(col("cb") < col("ca") || (col("cb") === col("ca") && col("ib") < col("ia")))
      .select(col("ia").as("vec_id")).distinct()
      .withColumn("expect_dropped", lit(true))
    val joined = out.join(pairs, Seq("vec_id"), "left")
    // sound: every expect_dropped row is actually dropped
    assert(joined.where(col("expect_dropped") && col("kept")).count() === 0L)
    // complete: no row drops without a qualifying neighbor
    assert(joined.where(col("expect_dropped").isNull && !col("kept")).count() === 0L)
    // and the fixture actually exercises both classes
    assert(joined.where(!col("kept")).count() > 0L)
  }

  test("threshold above 1 keeps everything") {
    val out = Dedup.semDedup(spark.read.parquet(s"$dir/embeddings.parquet"),
      "embedding", "vec_id", cents, dim = 64, nCells = 8,
      threshold = 1.5, maxCellPairs = Long.MaxValue)
    assert(out.where(!col("kept")).count() === 0L)
  }

  test("zero vectors never pair: always kept, ccosq 0") {
    import spark.implicits._
    // two identical unit vectors (certain duplicates) + a zero vector
    val v = (0 until 64).map(i => if (i == 0) 1f else 0f)
    val z = (0 until 64).map(_ => 0f)
    val df = Seq((1L, v), (2L, v), (3L, z)).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "embedding", "vec_id", cents,
      dim = 64, nCells = 8, threshold = 0.9, maxCellPairs = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(3), r.getLong(2))).toMap
    assert(out(3L) === ((true, 0L)))
    // exactly one of the twins drops
    assert(Seq(out(1L)._1, out(2L)._1).count(identity) === 1)
  }

  test("zero vectors do not count toward a cell's price") {
    import spark.implicits._
    // two unit centroids on a 2-d grid: the near-duplicate pair lands in
    // cell 1, and so do the zero vectors (every dot is 0, the tie goes to
    // the smaller cell). Two pairable rows price 2·2 = 4, within the cap;
    // counting the zero vectors too would price 5·5 = 25 and drop the cell
    val cents2 = Dedup.quantizeCentroidsMicro(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = Seq((1L, Seq(1f, 0f)), (2L, Seq(1f, 0.01f)),
        (3L, Seq(0f, 0f)), (4L, Seq(0f, 0f)), (5L, Seq(0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "embedding", "vec_id", cents2, dim = 2, nCells = 2,
        threshold = 0.9, maxCellPairs = 4L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out.values.map(_._1).toSet === Set(1L))
    // the pair was compared: exactly one of the near-duplicates drops
    assert(Seq(out(1L)._2, out(2L)._2).count(identity) === 1)
    assert(Seq(3L, 4L, 5L).forall(out(_)._2))
    val stats = graft.util.CapMetrics.lastMetrics("dedup_semantic").get
    assert(stats.droppedBuckets === 0L && stats.totalBuckets === 1L, s"$stats")
  }

  test("incremental and stored: zero vectors do not count toward a cell's price") {
    import spark.implicits._
    // one pairable row a side in cell 1 prices 1·1, within a cap of 1;
    // the zero vectors on both sides would price 3·3
    val cents2 = Dedup.quantizeCentroidsMicro(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val zeros = Seq.fill(2)(Seq(0f, 0f))
    val batch = ((1L, Seq(1f, 0f)) +: zeros.zipWithIndex.map { case (z, i) => (10L + i, z) })
      .toDF("vec_id", "embedding")
    val corpus = ((101L, Seq(1f, 0.01f)) +: zeros.zipWithIndex.map { case (z, i) => (110L + i, z) })
      .toDF("vec_id", "embedding")
    val inMemory = Dedup.semDedupIncrementalPairs(batch,
        Dedup.semDedupState(corpus, "embedding", "vec_id", cents2, 2, 2),
        "embedding", "vec_id", cents2, 2, 2, threshold = 0.9, maxCellPairs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inMemory === Set((1L, 101L)))
    assert(graft.util.CapMetrics.lastMetrics("dedup_semantic_inc").get.droppedBuckets === 0L)
    val store = java.nio.file.Files.createTempDirectory("sem_zero").toString
    Dedup.saveSemDedupState(corpus, "embedding", "vec_id", store, cents2, 2, 2)
    val stored = Dedup.semDedupPairsAgainstStored(batch, "embedding", "vec_id",
        Dedup.loadSemDedupState(spark, store), threshold = 0.9, maxCellPairs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored === Set((1L, 101L)))
    assert(graft.util.CapMetrics.lastMetrics("dedup_semantic_stored").get.droppedBuckets === 0L)
  }

  test("incremental: cross-side pairs only, complete against a first-principles recompute") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val isBatch = col("vec_id") % 10 === 0
    val corpus = Dedup.semDedupState(emb.where(!isBatch), "embedding", "vec_id",
      cents, dim = 64, nCells = 8)
    val got = Dedup.semDedupIncrementalPairs(emb.where(isBatch), corpus,
        "embedding", "vec_id", cents, dim = 64, nCells = 8,
        threshold = thr, maxCellPairs = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sides disjoint: every id_a from the batch, every id_b from the corpus
    assert(got.forall { case (a, b) => a % 10 == 0 && b % 10 != 0 })
    // first-principles: same-cell cross-side exact-cosine pairs
    val whole = Dedup.semDedupState(emb, "embedding", "vec_id", cents, 64, 8)
    val expect = whole.where(col("__n2") > 0).select(col("cell"),
        col("vec_id").as("ia"), col("embedding").as("va"))
      .join(whole.where(col("__n2") > 0).select(col("cell"),
        col("vec_id").as("ib"), col("embedding").as("vb")), Seq("cell"))
      .where(col("ia") % 10 === 0 && col("ib") % 10 =!= 0)
      .where(Dedup.cosineSimilarity(col("va"), col("vb")) >= thr)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expect && got.nonEmpty)
  }

  test("forget: erasing state rows equals rebuilding state from the retained corpus") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val isBatch = col("vec_id") % 10 === 0
    val corpusDocs = emb.where(!isBatch)
    val state = Dedup.semDedupState(corpusDocs, "embedding", "vec_id", cents, 64, 8)
    val forget = corpusDocs.where(col("vec_id") % 3 === 0).select("vec_id")
    val forgotten = Dedup.semDedupForget(state, forget, "vec_id")
    val rebuilt = Dedup.semDedupState(
      corpusDocs.join(forget, Seq("vec_id"), "left_anti"),
      "embedding", "vec_id", cents, 64, 8)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cell", "ccosq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(canon(forgotten) === canon(rebuilt))
    // and downstream flags off the forgotten state match the rebuild too
    val viaForget = Dedup.semDedupIncrementalPairs(emb.where(isBatch), forgotten,
      "embedding", "vec_id", cents, 64, 8, thr, Long.MaxValue)
    val viaRebuild = Dedup.semDedupIncrementalPairs(emb.where(isBatch), rebuilt,
      "embedding", "vec_id", cents, 64, 8, thr, Long.MaxValue)
    assert(viaForget.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      viaRebuild.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("incremental: the cap gate empties over-cap cells, never explodes them") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val isBatch = col("vec_id") % 10 === 0
    val corpus = Dedup.semDedupState(emb.where(!isBatch), "embedding", "vec_id",
      cents, dim = 64, nCells = 8)
    val gated = Dedup.semDedupIncrementalPairs(emb.where(isBatch), corpus,
      "embedding", "vec_id", cents, dim = 64, nCells = 8,
      threshold = thr, maxCellPairs = 1L)
    assert(gated.count() === 0L)
  }

  test("cap gate: over-cap cells skip pair generation (everything kept)") {
    val out = run(maxCellPairs = 1L)
    assert(out.where(!col("kept")).count() === 0L)
    // the baseline DOES drop rows, so the gate is what kept them
    assert(run().where(!col("kept")).count() > 0L)
  }

  test("stored semdedup state: identical answer to the in-memory form, " +
    "CELL-PRUNED vector scan, generation-flipped refresh") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val isBatch = col("vec_id") % 10 === 0
    val store = java.nio.file.Files.createTempDirectory("sem_store").toString
    Dedup.saveSemDedupState(emb.where(!isBatch), "embedding", "vec_id",
      store, cents, dim = 64, nCells = 8)
    val stored = Dedup.loadSemDedupState(spark, store)
    assert(stored.dim == 64 && stored.nCells == 8 &&
      stored.centroidsMicro.toSeq == cents.toSeq,
      "store metadata must round-trip the pinned centroids exactly")

    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val viaStored = Dedup.semDedupPairsAgainstStored(emb.where(isBatch),
      "embedding", "vec_id", stored, threshold = thr,
      maxCellPairs = Long.MaxValue)
    val inMemory = pairSet(Dedup.semDedupIncrementalPairs(emb.where(isBatch),
      Dedup.semDedupState(emb.where(!isBatch), "embedding", "vec_id",
        cents, 64, 8),
      "embedding", "vec_id", cents, 64, 8, thr, Long.MaxValue))
    assert(pairSet(viaStored) == inMemory && inMemory.nonEmpty,
      s"stored=${pairSet(viaStored).size} inMemory=${inMemory.size}")

    // the stored vector scan is on the RETURNED frame's join side, so its
    // cell filter must appear in the scan's PartitionFilters (the pruning
    // IS the inverted file — a residual row filter would read every cell)
    val plan = viaStored.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell filter did not reach partition pruning:\n$plan")

    // a refresh flips generations (shared writeGenerationFlipped harness —
    // grace/crash behavior is pinned by the hamming store spec)
    Dedup.saveSemDedupState(emb.where(!isBatch), "embedding", "vec_id",
      store, cents, dim = 64, nCells = 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(fs.makeQualified(new org.apache.hadoop.fs.Path(store)))
      .map(_.getPath.getName).filter(_.startsWith("gen=")).sorted
    assert(gens.contains("gen=1") && gens.contains("gen=0"),
      s"refresh did not flip generations with grace: ${gens.toSeq}")
    assert(pairSet(Dedup.semDedupPairsAgainstStored(emb.where(isBatch),
      "embedding", "vec_id", Dedup.loadSemDedupState(spark, store),
      threshold = thr, maxCellPairs = Long.MaxValue)) == inMemory)

    // empty batch: zero pairs, no touched cells, no failure
    assert(Dedup.semDedupPairsAgainstStored(emb.where(isBatch).limit(0),
      "embedding", "vec_id", stored, threshold = thr).count() === 0L)

    // a never-saved path names the writer to run, loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.loadSemDedupState(spark,
        java.nio.file.Files.createTempDirectory("sem_none").toString)
    }
    assert(e.getMessage.contains("saveSemDedupState"))
  }

  test("stored semdedup: an EMPTY corpus saves, loads, and answers empty") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val store = java.nio.file.Files.createTempDirectory("sem_empty").toString
    Dedup.saveSemDedupState(emb.limit(0), "embedding", "vec_id",
      store, cents, dim = 64, nCells = 8)
    val stored = Dedup.loadSemDedupState(spark, store)
    assert(Dedup.semDedupPairsAgainstStored(emb.where(col("vec_id") % 10 === 0),
      "embedding", "vec_id", stored, threshold = thr).count() === 0L)
  }

  test("stored semdedup: capped cells only remove pairs, never invent them") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val isBatch = col("vec_id") % 10 === 0
    val store = java.nio.file.Files.createTempDirectory("sem_cap").toString
    Dedup.saveSemDedupState(emb.where(!isBatch), "embedding", "vec_id",
      store, cents, dim = 64, nCells = 8)
    val stored = Dedup.loadSemDedupState(spark, store)
    def at(cap: Long) = Dedup.semDedupPairsAgainstStored(emb.where(isBatch),
        "embedding", "vec_id", stored, threshold = thr, maxCellPairs = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = at(Long.MaxValue)
    assert(full.nonEmpty && at(1L).subsetOf(full))
  }
}
