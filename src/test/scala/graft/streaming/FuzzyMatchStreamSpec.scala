package graft.streaming

import graft.SparkSpec
import graft.fuzzy.{FuzzyAlgorithm, FuzzyMapping, FuzzyMatcher}
import org.scalatest.funsuite.AnyFunSuite

/** Stream-static fuzzy matching must produce EXACTLY the batch matcher's
  * result for the same rows — foreachBatch runs the full batch algorithm
  * per micro-batch, so this is an end-to-end identity check through a real
  * streaming query (file source, AvailableNow trigger). */
class FuzzyMatchStreamSpec extends AnyFunSuite with SparkSpec {

  private val custPath = "/root/testdata/sf0.001/customer.parquet"
  private val suppPath = "/root/testdata/sf0.001/supplier.parquet"

  test("stream-static match equals the batch matcher") {
    val dir = java.nio.file.Files.createTempDirectory("cust_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(custPath),
      dir.resolve("customer.parquet"))
    val schema = spark.read.parquet(custPath).schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val reference = spark.read.parquet(suppPath)
    val maps = Seq(FuzzyMapping("c_name", "s_name", 70.0, FuzzyAlgorithm.Levenshtein))

    // multiset compare (sorted seq, not a set): a duplicate-emitting
    // regression in the streaming path must fail this spec
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = FuzzyMatchStream.matchWriter(stream, reference, maps) { (matched, _) =>
      got.synchronized {
        got ++= matched.select("c_custkey", "s_suppkey")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("fms_ckpt").toString)
      .start()
    assert(q.awaitTermination(180000L), "streaming query did not drain in time")

    val expected = FuzzyMatcher.matchDfs(spark.read.parquet(custPath), reference, maps)
      .select("c_custkey", "s_suppkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(expected.nonEmpty)
    assert(got.synchronized(got.toSeq.sorted) == expected)
  }

  test("prepared static side: identical result, no reference-source rescan per batch") {
    import graft.fuzzy.MatchOptions
    val customers = spark.read.parquet(custPath).limit(100)
    val reference = spark.read.parquet(suppPath)
    val maps = Seq(FuzzyMapping("c_name", "s_name", 70.0, FuzzyAlgorithm.Levenshtein))

    val prepared = FuzzyMatcher.prepareRight(customers.columns.toSeq, reference, maps)
    val preparedResult = FuzzyMatcher.matchDfsWithPreparedRight(customers, prepared)

    // the per-batch plan must consume the reference exclusively through the
    // materialization barrier — a FileScan of the supplier source in the
    // executed plan means the static side is being re-read per batch
    val plan = preparedResult.queryExecution.executedPlan.toString
    assert(!plan.contains("supplier.parquet"),
      "prepared-right plan rescans the reference parquet source")

    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("c_custkey", "s_suppkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val expected = key(FuzzyMatcher.matchDfs(customers, reference, maps))
    assert(expected.nonEmpty)
    assert(key(preparedResult) == expected)
    // schema parity includes the preprocessing-assigned score names
    assert(preparedResult.columns.toSeq ==
      FuzzyMatcher.matchDfs(customers, reference, maps).columns.toSeq)

    // second call reuses the same preparation (a later micro-batch)
    val batch2 = spark.read.parquet(custPath).limit(40)
    assert(key(FuzzyMatcher.matchDfsWithPreparedRight(batch2, prepared)) ==
      key(FuzzyMatcher.matchDfs(batch2, reference, maps)))
  }

  test("per-batch barriers release at batch end; prepared side survives the stream") {
    // foreachBatch runs on the stream-execution thread, where no caller
    // MatchScope is active — matchWriter must scope each batch itself or
    // an unbounded stream accumulates executor blocks without bound.
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("cust_stream_scope")
    val src = spark.read.parquet(custPath).limit(120)
    // two single-file batches with distinct mtimes (mtime ties make the
    // file source's batch split nondeterministic)
    src.where(org.apache.spark.sql.functions.col("c_custkey") % 2 === 0)
      .coalesce(1).write.parquet(dir.resolve("b1").toString)
    src.where(org.apache.spark.sql.functions.col("c_custkey") % 2 === 1)
      .coalesce(1).write.parquet(dir.resolve("b2").toString)
    java.nio.file.Files.walk(dir).forEach { p =>
      if (p.toString.endsWith(".parquet") && p.toString.contains("/b2/"))
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    }
    val schema = src.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*/")
    val reference = spark.read.parquet(suppPath)
    val maps = Seq(FuzzyMapping("c_name", "s_name", 70.0, FuzzyAlgorithm.Levenshtein))

    val before = sc.getPersistentRDDs.keySet
    val writer = FuzzyMatchStream.matchWriter(stream, reference, maps) { (matched, _) =>
      matched.count(): Unit
    }
    // the prepared side's row-id barrier exists as soon as the writer is
    // built, before any batch runs
    val preparedRdds = sc.getPersistentRDDs.keySet -- before
    assert(preparedRdds.nonEmpty, "prepareRight should materialize the static side")

    val q = writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("fms_scope_ckpt").toString)
      .start()
    assert(q.awaitTermination(180000L), "streaming query did not drain in time")
    // both files processed, in at least two micro-batches (maxFilesPerTrigger=1)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      s"expected >= 2 data batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")

    val leaked = sc.getPersistentRDDs.keySet -- before -- preparedRdds
    assert(leaked.isEmpty,
      s"per-batch barriers survived the batch scope: RDDs $leaked")
    // the shared prepared side must NOT have been released by a batch scope
    assert((preparedRdds -- sc.getPersistentRDDs.keySet).isEmpty,
      "a batch scope released the shared prepared-right barriers")
  }

  test("prepared static side: a scope spanning start() to stop() releases it") {
    // matchWriter's contract: the prepared side belongs to the scopes
    // active when the writer is built
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("cust_stream_owner")
    val src = spark.read.parquet(custPath).limit(60)
    src.coalesce(1).write.parquet(dir.resolve("b1").toString)
    val stream = spark.readStream.schema(src.schema).parquet(s"$dir/*/")
    val reference = spark.read.parquet(suppPath)
    val maps = Seq(FuzzyMapping("c_name", "s_name", 70.0, FuzzyAlgorithm.Levenshtein))

    val before = sc.getPersistentRDDs.keySet
    val rows = new java.util.concurrent.atomic.AtomicLong()
    graft.util.MatchScope.withMatchScope {
      val q = FuzzyMatchStream.matchWriter(stream, reference, maps) { (matched, _) =>
        rows.addAndGet(matched.count()): Unit
      }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("fms_owner_ckpt").toString)
        .start()
      try assert(q.awaitTermination(180000L), "streaming query did not drain in time")
      finally q.stop()
      assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
        "the prepared side should be live until its scope closes")
    }
    assert(rows.get > 0L)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"the prepared side outlived its scope: RDDs $leaked")
  }

  test("prepared static side: mid-level semantics (no preprocessing) keep fallback names") {
    val customers = spark.read.parquet(custPath).limit(50)
    val reference = spark.read.parquet(suppPath)
    val maps = Seq(FuzzyMapping("c_name", "s_name", 70.0, FuzzyAlgorithm.Levenshtein))
    val opts = graft.fuzzy.MatchOptions(runPreprocess = false)
    val prepared = FuzzyMatcher.prepareRight(customers.columns.toSeq, reference, maps, opts)
    val res = FuzzyMatcher.matchDfsWithPreparedRight(customers, prepared)
    assert(res.columns.contains("fuzzy_score_c_name_s_name"))
    val expected = FuzzyMatcher.matchDfs(customers, reference, maps, opts)
    assert(res.columns.toSeq == expected.columns.toSeq)
    assert(res.count() == expected.count())
  }

  test("prepared static side: the deduplicated side outlives each batch's scope") {
    import spark.implicits._
    // the documented per-batch pattern: prepare once, then one MatchScope
    // per batch. Both batches trigger the aggregation heuristic, so both
    // read the deduplicated static side; the first builds it inside its
    // own scope, which must not release it for the second.
    val left = (1 to 1200).map(i => (i, s"name_${i % 3}")).toDF("lid", "k")
    val right = (1 to 1200).map(i => (i, s"name_${i % 3}")).toDF("rid", "g")
    val maps = Seq(FuzzyMapping("k", "g", 90.0, FuzzyAlgorithm.Levenshtein))
    val prepared = FuzzyMatcher.prepareRight(left.columns.toSeq, right, maps)
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.select("k", "g").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val expected = FuzzyMatcher.withMatchScope(pairs(FuzzyMatcher.matchDfs(left, right, maps)))
    assert(expected.size == 3)
    for (batch <- 1 to 2)
      assert(FuzzyMatcher.withMatchScope(
        pairs(FuzzyMatcher.matchDfsWithPreparedRight(left, prepared))) == expected,
        s"batch $batch")
  }

  test("prepared static side: aggregation heuristic dedups via the shared lazy variant") {
    import spark.implicits._
    // low-uniqueness columns on a >1e6 cartesian trigger needsAggregation
    val left = (1 to 1200).map(i => (i, s"name_${i % 3}")).toDF("lid", "k")
    val right = (1 to 1200).map(i => (i, s"name_${i % 3}")).toDF("rid", "g")
    val maps = Seq(FuzzyMapping("k", "g", 90.0, FuzzyAlgorithm.Levenshtein))
    val prepared = FuzzyMatcher.prepareRight(left.columns.toSeq, right, maps)
    val res = FuzzyMatcher.matchDfsWithPreparedRight(left, prepared)
    val expected = FuzzyMatcher.matchDfs(left, right, maps)
    // both paths dedup both sides to the 3 distinct values -> 3x3 diagonal
    assert(res.count() == expected.count())
    assert(res.select("k", "g").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
      expected.select("k", "g").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq)
  }
}
