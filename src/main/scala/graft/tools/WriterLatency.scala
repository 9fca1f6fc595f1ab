package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{AnnSearch, Dedup}
import graft.streaming.{AnnStream, DocStreams}

/** Micro-batch latency tiers for the remaining stream-static writers
  * (VERDICT round 9 task 3) — the [[StreamLatency]] protocol applied to
  * [[AnnStream.ivfTopKWriter]], [[DocStreams.nearDupWriter]] and
  * [[DocStreams.spanRewriteWriter]]: static state (IVF postings +
  * centroids / minhash corpus state / n-gram census) is built ONCE
  * before the stream starts, then N file-stream micro-batches pay
  * exactly the per-batch search/flag/rewrite half; per-batch sink
  * seconds and Spark trigger durations are emitted as one JSON line.
  *
  * Usage: SPARK_GRAFT_SCALE_DIR=/tmp/graft_sf1 runMain
  * graft.tools.WriterLatency <ivf|neardup|spanrewrite> [nBatches]
  * [rowsPerBatch]
  */
object WriterLatency {
  def main(args: Array[String]): Unit = {
    val writerName = args.headOption.getOrElse("ivf")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(5)
    val perBatch = args.lift(2).map(_.toInt).getOrElse(100)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // round-robin ordinal staging (one parquet file per micro-batch,
    // mtimes pinned for order) — the StreamLatency recipe
    def stage(rows: DataFrame, orderCol: String): java.nio.file.Path = {
      val flat = java.nio.file.Files.createTempDirectory("wlat")
      val batched = rows.withColumn("__b", pmod(
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(orderCol)) - 1,
        lit(nBatches)))
      (0 until nBatches).foreach { i =>
        val part = java.nio.file.Files.createTempDirectory(s"wlat$i")
        batched.where(col("__b") === i).drop("__b")
          .coalesce(1).write.mode("overwrite").parquet(part.toString)
        val src = java.nio.file.Files.list(part)
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        val dst = flat.resolve(f"$i%02d.parquet")
        java.nio.file.Files.copy(src, dst)
        dst.toFile.setLastModified(1000000L + i * 10000L)
      }
      flat
    }

    val sinkSec = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    val record: (DataFrame, Long) => Unit = { (out, batchId) =>
      val b0 = System.nanoTime()
      val n = out.count()
      sinkSec.synchronized {
        sinkSec += ((batchId, (System.nanoTime() - b0) / 1e9, n))
      }
      ()
    }

    var corpusRows = 0L
    val t0 = System.nanoTime()
    // returns (started stream writer, sfDir row count) with all static
    // state pre-built OUTSIDE the timed batches
    val writer = writerName match {
      case "ivf" =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        corpusRows = emb.count()
        val cents = AnnSearch.normalizeCentroids(
          AnnSearch.kmeansFit(emb, "embedding", dim = 64, k = 32, iters = 3))
        val postings = AnnSearch.ivfPostings(emb, "embedding", "vec_id", 64, cents)
          .localCheckpoint()
        val queries = emb
          .limit(nBatches * perBatch)
          .select(col("vec_id"), col("embedding"))
        val flat = stage(queries, "vec_id")
        val stream = spark.readStream.schema(queries.schema)
          .option("maxFilesPerTrigger", "1").parquet(flat.toString)
        AnnStream.ivfTopKWriter(stream, postings, "embedding", "vec_id",
          k = 10, dim = 64, cents, nProbe = 4)(record)
      case "neardup" =>
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        corpusRows = docs.count()
        val state = Dedup.minhashState(docs, "text", "doc_id").localCheckpoint()
        // arriving docs: a corpus sample re-labeled past the corpus id
        // range (batch/corpus ids disjoint by the writer's contract) —
        // every batch doc has a guaranteed near-exact corpus twin, so
        // the verify half does real work
        val batch = docs.limit(nBatches * perBatch)
          .select((col("doc_id") + lit(2_000_000_000_000L)).as("doc_id"),
            col("text"))
        val flat = stage(batch, "doc_id")
        val stream = spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(flat.toString)
        DocStreams.nearDupWriter(stream, state, "text", "doc_id")(record)
      case "spanrewrite" =>
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        corpusRows = docs.count()
        // census: corpus 3-grams seen at least twice (the boilerplate
        // census shape); arriving docs rewritten against it
        val census = Dedup.ngramFrequency(docs, "text", "doc_id", 3, 2L)
          .localCheckpoint()
        val batch = docs.limit(nBatches * perBatch)
          .select((col("doc_id") + lit(2_000_000_000_000L)).as("doc_id"),
            col("text"))
        val flat = stage(batch, "doc_id")
        val stream = spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(flat.toString)
        DocStreams.spanRewriteWriter(stream, census, "text", "doc_id", 3)(record)
      case "semdedup" =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        corpusRows = emb.count()
        val k = math.max(8, (corpusRows / 1000L).toInt)
        val cents = Dedup.quantizeCentroidsMicro(
          AnnSearch.kmeansFit(emb, "embedding", dim = 64, k = k, iters = 4))
        val state = Dedup.semDedupState(emb, "embedding", "vec_id",
          cents, 64, k).localCheckpoint()
        // arriving embeddings: a corpus sample re-keyed past the corpus
        // id range — every batch vector has an exact corpus twin, so the
        // cosine verify half does real work
        val batch = emb.limit(nBatches * perBatch)
          .select((col("vec_id") + lit(2_000_000_000_000L)).as("vec_id"),
            col("embedding"))
        val flat = stage(batch, "vec_id")
        val stream = spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(flat.toString)
        graft.streaming.AnnStream.semanticNearDupWriter(stream, state,
          "embedding", "vec_id", cents, 64, k, threshold = 0.35)(record)
      case "hll" =>
        // accumulating mapGroupsWithState monitor: no foreachBatch sink —
        // per-batch cost is the trigger duration alone; result_rows are
        // the running per-group emissions
        val ev = graft.util.EventTs.loadEvents(spark, sfDir)
          .select(col("event_id"), col("event_type"), col("user_id"))
        corpusRows = ev.count()
        val batch = ev.limit(nBatches * perBatch)
        val flat = stage(batch, "event_id")
        val stream = spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(flat.toString)
        graft.streaming.ProfileStream
          .hllDistinctStream(stream, "user_id", "event_type", p = 12)
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .foreachBatch { (out: org.apache.spark.sql.Dataset[(String, Long, Double)],
                           batchId: Long) =>
            record(out.toDF(), batchId)
          }
      case "hamming" =>
        // stored perceptual/simhash 64-bit hashes; arriving rows carry a
        // precomputed hash. Corpus = simhash of every document (integral
        // column, the production shape); batch = a corpus sample re-keyed
        // past the id range so every batch row has an exact twin (the
        // verify half does real work)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        corpusRows = docs.count()
        val corpusHashes = docs.select(col("doc_id").as("asset_id"),
          Dedup.simhash64(col("text")).as("h64")).localCheckpoint()
        val batch = corpusHashes.limit(nBatches * perBatch)
          .select((col("asset_id") + lit(2_000_000_000_000L)).as("doc_id"),
            col("h64"))
        val flat = stage(batch, "doc_id")
        val stream = spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(flat.toString)
        DocStreams.hammingNearDupWriter(stream, corpusHashes,
          "h64", "doc_id", "h64", "asset_id", maxHamming = 3)(record)
      case "hammingstored" =>
        // the bucket-partitioned stored form of "hamming": per-trigger
        // corpus I/O prunes to the batch's touched buckets
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        corpusRows = docs.count()
        // checkpoint like the in-memory case: simhash64 over all text
        // must run once, not once per downstream consumer
        val corpusHashes = docs.select(col("doc_id").as("asset_id"),
          Dedup.simhash64(col("text")).as("h64")).localCheckpoint()
        val statePath = java.nio.file.Files
          .createTempDirectory("wlat_hamstore").toString
        Dedup.saveHammingState(corpusHashes, col("h64"), "asset_id",
          statePath, maxHamming = 3, nBuckets = 64)
        val batch = corpusHashes.limit(nBatches * perBatch)
          .select((col("asset_id") + lit(2_000_000_000_000L)).as("doc_id"),
            col("h64"))
        val flat = stage(batch, "doc_id")
        val stream = spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(flat.toString)
        DocStreams.hammingNearDupWriterStored(stream, statePath,
          "h64", "doc_id", maxBucketPairs = 4_000_000L)(record)
      case "driftmon" =>
        // bounded-state drift monitor: baseline = the corpus; arriving
        // batches fold their centroid aggregates and emit the running
        // drift — per-trigger cost must track BATCH size (one O(batch)
        // aggregate + a groups×dims join), not rows seen so far
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        corpusRows = emb.count()
        val batch = emb.limit(nBatches * perBatch)
          .select(col("label"), col("vec_id"), col("embedding"))
        val flat = stage(batch, "vec_id")
        val stream = spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(flat.toString)
        AnnStream.centroidDriftWriter(stream, emb, Seq("label"), "embedding")(record)
      case other =>
        sys.error(s"unknown writer '$other' (ivf|neardup|spanrewrite|semdedup|hll|hamming|hammingstored|driftmon)")
    }
    val prepSec = (System.nanoTime() - t0) / 1e9

    val q = writer.start()
    try q.processAllAvailable() finally q.stop()

    val trigger = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map(p => f"${p.durationMs.get("triggerExecution").toDouble / 1e3}%.3f")
    val sink = sinkSec.sortBy(_._1).map { case (_, s, _) => f"$s%.3f" }
    val rows = sinkSec.sortBy(_._1).map(_._3)
    println(s"""{"metric":"stream_writer_latency","writer":"$writerName",""" +
      s""""sf":"$sfDir","corpus_rows":$corpusRows,"prep_sec":${f"$prepSec%.3f"},""" +
      s""""batches":$nBatches,"rows_per_batch":$perBatch,""" +
      s""""sink_sec":[${sink.mkString(",")}],""" +
      s""""trigger_sec":[${trigger.mkString(",")}],""" +
      s""""result_rows":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
