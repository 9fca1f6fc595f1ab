package graft.tools

import org.apache.spark.sql.SparkSession

/** Same-window A/B for the r7->r8 small-row bench regression cluster
  * (VERDICT round 8, "What's wrong" #2): the five rows whose code is
  * UNCHANGED since r7 but whose r8 samples ran 2.9-4.6x slower. In ONE
  * JVM this interleaves a fixed-work calibration probe
  * ([[graft.Bench.calibration]]) with one timed run of each query, for
  * several rounds — if the rows track r7 once the host's
  * calibration-normalized throughput is factored in, the regression was
  * the documented 2-3.5x host drift, not the code. Session confs
  * replicate `graft.Bench`'s. Emits one JSON line per round. */
object BenchAb {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = args.headOption.map(_.toInt).getOrElse(4)
    val names = Seq("ann_topk_embeddings", "asof_events", "decontaminate_docs",
      "dedup_chunk_docs", "dedup_exact_docs")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JIT/codegen warmup, same recipe as Bench
    val warm = graft.Bench.benchQueries("/root/testdata/sf0.001")
    names.foreach(n => try warm(n)(spark).count() catch { case _: Throwable => })

    val qs = graft.Bench.benchQueries(sfDir)
    (1 to rounds).foreach { r =>
      val cal = graft.Bench.calibration(spark)
      val times = names.map { n =>
        val t0 = System.nanoTime()
        qs(n)(spark).count()
        n -> (System.nanoTime() - t0) / 1e9
      }
      val body = times.map { case (n, t) => "\"" + n + "\":" + f"$t%.3f" }
        .mkString(",")
      println(s"""{"ab_round":$r,"calibration":$cal,$body}""")
    }
    spark.stop()
  }
}
