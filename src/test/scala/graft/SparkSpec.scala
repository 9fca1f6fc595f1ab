package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared session for all suites (one JVM-wide session, local[4]). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // exercise the production wiring: all graft SQL functions arrive via
      // session extensions, exactly as a cluster user would enable them
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // events.parquet stores TIMESTAMP(NANOS); read as long + convert
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Spark jobs `body` runs, and its result. Jobs are attributed by a job
    * tag, which the engine's helper threads inherit; a tagged sentinel job
    * marks the end of the body's listener events. */
  def sparkJobs[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val tag = "graft-spec-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    def tagged(e: SparkListenerJobStart, t: String): Boolean =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.split(",").contains(t))
    val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (tagged(e, tag)) jobs.incrementAndGet()
        if (tagged(e, s"$tag-sentinel")) sentinelJobs.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) sentinelDone.countDown()
    }
    sc.addSparkListener(listener)
    val out = try {
      sc.addJobTag(tag)
      val r = try body finally sc.removeJobTag(tag)
      sc.addJobTag(s"$tag-sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(s"$tag-sentinel")
      assert(sentinelDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      r
    } finally sc.removeSparkListener(listener)
    (jobs.get(), out)
  }
}
