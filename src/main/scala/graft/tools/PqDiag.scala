package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.AnnSearch

/** Stage isolation for the PQ ADC scan: where does the time go —
  * encode, ADC pairs, or ranking? Run:
  * SPARK_GRAFT_SCALE_DIR=/tmp/graft_sf1 runMain graft.tools.PqDiag */
object PqDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.fuzzy.vectorFunctions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cb = AnnSearch.pqCodebookMd5Int(64, 16, 16)

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[pqdiag] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    // warmup
    emb.count()

    time("encode-only scan") {
      emb.select(pq_encode_int(col("embedding"), cb, 16, 16, 64).as("c"))
        .select(sum(element_at(col("c"), 1))).head(); emb.count()
    }
    val q = emb.where(col("vec_id") < 1000)
      .select(col("vec_id").as("query_id"),
        pq_lut_int(col("embedding"), cb, 16, 16, 64).as("__lut"))
    val cs = emb.select(col("vec_id").as("corpus_id"),
      pq_encode_int(col("embedding"), cb, 16, 16, 64).as("__codes"))
    val adc = cs.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        pq_adc_int(col("__codes"), col("__lut"), 16).cast("double").as("__adc"))
    println("=== ADC plan ===")
    adc.explain("formatted")
    time("adc scan only (agg count)") {
      adc.agg(sum(col("__adc"))).head(); 0L
    }
    val csC = cs.localCheckpoint()
    val adcC = csC.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        pq_adc_int(col("__codes"), col("__lut"), 16).cast("double").as("__adc"))
    time("adc scan, codes checkpointed") {
      adcC.agg(sum(col("__adc"))).head(); 0L
    }
    val csR = cs.repartition(32)
    val adcR = csR.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        pq_adc_int(col("__codes"), col("__lut"), 16).cast("double").as("__adc"))
    time("adc scan, codes behind exchange") {
      adcR.agg(sum(col("__adc"))).head(); 0L
    }
    // join-only control: same streamed pipeline, no ADC evaluation
    time("join only, no adc (count)") {
      cs.crossJoin(broadcast(q.select(col("query_id"))))
        .where(col("query_id") =!= col("corpus_id")).count()
    }
    time("full pqTopKInt") {
      AnnSearch.pqTopKInt(emb.where(col("vec_id") < 1000), emb, "embedding",
        "vec_id", 10, dim = 64, m = 16, ksub = 16, rerank = 40).count()
    }
    spark.stop()
  }
}
