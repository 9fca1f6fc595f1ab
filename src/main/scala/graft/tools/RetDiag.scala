package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-isolation diagnostic for the cohort-retention scale row (see
  * SCALE.md round-8 continuation): times the identical aggregation with
  * and without the EventTs normalization and with the ScaleBench session
  * confs, to localize where the wall time goes. Run:
  * SPARK_GRAFT_SCALE_DIR=/tmp/graft_sf10 runMain graft.tools.RetDiag */
object RetDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf10")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "64"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      System.err.println(f"[retdiag] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    time("raw count")(raw.count())
    val week = 7L * 86400L * 1000000L
    // plain chain: NTZ -> micros directly
    val plain = raw.select(col("user_id"),
      expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) div $week").as("__p"))
    time("plain agg (min+collect_set)")(
      plain.groupBy(col("user_id"))
        .agg(min(col("__p")), collect_set(col("__p"))).count())
    // graft chain: loadEvents (nanos) -> div 1000 -> micros -> retention
    val ev = graft.util.EventTs.loadEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
    time("graft loadEvents agg")(
      ev.select(col("user_id"), expr(s"ts_us div $week").as("__p"))
        .groupBy(col("user_id"))
        .agg(min(col("__p")), collect_set(col("__p"))).count())
    time("cohortRetention operator")(
      graft.pipeline.Funnels.cohortRetention(ev, "user_id", "ts_us", week).count())
    time("cohortRetention again (warm)")(
      graft.pipeline.Funnels.cohortRetention(ev, "user_id", "ts_us", week).count())
    spark.stop()
  }
}
