package graft.fuzzy

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import graft.SparkSpec
import graft.util.{MatchScope, Par}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent auto-mode matches on different driver threads — a supported
  * pattern (MatchScope is per-thread; a long-running driver serves many
  * matches). The race under test: CapMetrics' `lastMetrics` is a global
  * keyed by stage name ("fuzzy_lsh" for every fuzzy join), so a volume-gate
  * decision that read the global instead of its own gate call's returned
  * stats (AnnJoin.buildOrBail reads `gate.stats`) could plan one join off
  * the OTHER join's candidate volume. Here one corpus is degenerate (the
  * runtime volume gate must bail it to exact — the sampled probe is
  * disabled so the decision rests ENTIRELY on the gate stats) and one is
  * LSH-friendly (must stay on LSH); their planned volumes differ by orders
  * of magnitude, and the threads rendezvous at a barrier each round so the
  * gate calls interleave.
  */
class ConcurrentMatchSpec extends AnyFunSuite with SparkSpec {

  // degenerate: shared 10-char prefix, 3-char suffixes — kept grams fall
  // below AnnJoin.MinKeptGrams, every value reverts to its full gram set, and
  // band buckets go quadratic
  private def degFrames = {
    import spark.implicits._
    val vals = (0 until 200).map(i => f"commonpref$i%03d")
    (vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("lid", "k"),
      vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("rid", "g"))
  }

  // diverse pseudo-random alphanumerics: only self-pairs collide, planned
  // volume is far under the gate budget
  private def divFrames = {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vals = (0 until 400).map(_ => rnd.alphanumeric.take(24).mkString)
    (vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("lid", "k"),
      vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("rid", "g"))
  }

  // crossOverForApprox below both cartesians so BOTH joins enter the LSH
  // planner; lshDegenerateFraction = 1.0 disables the sampled probe so the
  // exact-vs-LSH decision is made by the runtime volume gate alone
  private val opts = MatchOptions(crossOverForApprox = 1.0,
    lshDegenerateFraction = 1.0, runPreprocess = false)

  private def runPair[A](a: => A, b: => A, round: Int): (A, A) = {
    val pool = Executors.newFixedThreadPool(2)
    try {
      val barrier = new CyclicBarrier(2)
      val done = new CountDownLatch(2)
      @volatile var outA: Option[A] = None
      @volatile var outB: Option[A] = None
      @volatile var failure: Throwable = null
      def submit(body: => Unit): Unit = pool.execute { () =>
        try { barrier.await(60, TimeUnit.SECONDS); body }
        catch { case t: Throwable => failure = t }
        finally done.countDown()
      }
      submit { outA = Some(a) }
      submit { outB = Some(b) }
      assert(done.await(300, TimeUnit.SECONDS), s"round $round timed out")
      if (failure != null) throw failure
      (outA.get, outB.get)
    } finally pool.shutdownNow()
  }

  test("concurrent volume-gate decisions use each join's own stats") {
    val (degLeft, degRight) = degFrames
    val (divLeft, divRight) = divFrames

    // threshold 90 = reversed threshold 0.1
    val m = FuzzyMapping("k", "g", 90.0, FuzzyAlgorithm.Levenshtein)
    def decide(left: DataFrame, right: DataFrame): String =
      MatchScope.withMatchScope {
        val scored = FuzzyMatcher.freshScoredValuePairs(left, right, m, opts)
        // consume inside the scope; the plan string carries the decision
        val plan = scored.queryExecution.executedPlan.toString
        scored.count()
        plan
      }

    for (round <- 0 until 3) {
      val (degPlan, divPlan) = runPair(
        decide(degLeft, degRight), decide(divLeft, divRight), round)
      assert(degPlan.contains("fuzzy_sweep"),
        s"round $round: the degenerate join's volume gate did not bail to exact")
      assert(!divPlan.contains("fuzzy_sweep") &&
          !divPlan.contains("CartesianProduct") &&
          !divPlan.contains("BroadcastNestedLoopJoin"),
        s"round $round: the diverse join lost its LSH plan")
    }
  }

  test("concurrent full matches are correct and both MatchScopes release") {
    val (degLeft, degRight) = degFrames
    val (divLeft, divRight) = divFrames
    val maps = Seq(FuzzyMapping("k", "g", 90.0, FuzzyAlgorithm.Levenshtein))
    val baselineRdds = spark.sparkContext.getPersistentRDDs.keySet

    def rows(left: DataFrame, right: DataFrame): Long =
      MatchScope.withMatchScope {
        FuzzyMatcher.matchDfs(left, right, maps, opts).count()
      }

    // serial reference counts, then two concurrent rounds must reproduce them
    val degSerial = rows(degLeft, degRight)
    val divSerial = rows(divLeft, divRight)
    assert(degSerial >= 200 && divSerial >= 400)
    for (round <- 0 until 2) {
      val (deg, div) = runPair(
        rows(degLeft, degRight), rows(divLeft, divRight), round)
      assert(deg == degSerial, s"round $round: degenerate match row drift")
      assert(div == divSerial, s"round $round: diverse match row drift")
    }

    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baselineRdds
    assert(leaked.isEmpty, s"MatchScope leaked persisted RDDs: $leaked")
  }

  test("a forced-LSH match never changes the session's aggregate settings") {
    // the LSH top-N used to raise this setting on the shared session for
    // the pass, so a concurrent query could read (or restore) the raised
    // value; a second thread polls it for the whole match
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val default = spark.conf.getOption(key)
    val (left, right) = divFrames
    val maps = Seq(FuzzyMapping("k", "g", 90.0, FuzzyAlgorithm.Levenshtein))
    val forced = opts.copy(useApproxNearestNeighbor = Some(true))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    @volatile var polling = true
    val poller = new Thread(() => while (polling) {
      seen.add(spark.conf.getOption(key))
      Thread.onSpinWait()
    }, "setting-poller")
    poller.setDaemon(true)
    poller.start()
    val rows = try MatchScope.withMatchScope {
      FuzzyMatcher.matchDfs(left, right, maps, forced).count()
    } finally { polling = false; poller.join(10000L) }
    assert(rows >= 400)
    assert(seen.contains(default) && seen.size == 1,
      s"the match changed $key on the session: saw $seen, default $default")
  }

  test("matchDfs finishes while its thread holds the session catalog monitor") {
    // the fuzzy_match TVF's situation with no TVF involved: its builder runs
    // matchDfs inside the analyzer's SessionCatalog-synchronized function
    // resolution, so a helper thread analyzing a side's query would block
    // on the monitor the matching thread holds
    val fresh = spark.newSession()
    val vals = (0 until 50).map(v => (v.toLong, f"name_$v%02d"))
    val left = fresh.createDataFrame(vals).toDF("lid", "k")
    val right = fresh.createDataFrame(vals.map { case (id, v) => (id + 100, v) }).toDF("rid", "g")
    val maps = Seq(FuzzyMapping("k", "g", 95.0, FuzzyAlgorithm.Levenshtein))
    @volatile var rows = -1L
    @volatile var failure: Throwable = null
    val holder = new Thread(() => {
      org.apache.spark.sql.SparkSession.setActiveSession(fresh)
      try fresh.sessionState.catalog.synchronized {
        rows = MatchScope.withMatchScope(FuzzyMatcher.matchDfs(left, right, maps).count())
      } catch { case t: Throwable => failure = t }
    }, "catalog-monitor-holder")
    holder.setDaemon(true)
    holder.start()
    holder.join(120000L)
    assert(!holder.isAlive, "matchDfs deadlocked on the session catalog monitor")
    if (failure != null) throw failure
    // threshold 95 on distinct 2-digit suffixes: only the 50 self pairs
    assert(rows == 50L)
  }

  test("Par.run2 cancels the other side's Spark jobs when one side fails") {
    // one side throws after ~1 s while the other runs a 60 s single-task
    // job: run2 must rethrow the original failure without waiting the job
    // out, and leave no job running under its tag
    val sc = spark.sparkContext
    val tagged = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("graft-par-"))) tagged.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = tagged.remove(e.jobId)
    }
    sc.addSparkListener(listener)
    try Seq(true, false).foreach { callerFails =>
      val boom = new IllegalStateException(s"one side failed (caller side: $callerFails)")
      def failing: Long = { Thread.sleep(1000); throw boom }
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        if (callerFails) Par.run2(failing, ConcurrentMatchSpec.longJob(sc))
        else Par.run2(ConcurrentMatchSpec.longJob(sc), failing)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(e eq boom, s"run2 rethrew $e instead of the original failure")
      assert(secs < 20.0, f"run2 waited $secs%.1f s for the other side's job")
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!tagged.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(tagged.isEmpty, s"jobs still active under a run2 tag: $tagged")
    } finally sc.removeSparkListener(listener)
  }

  test("concurrent fuzzy_match TVF callers get independent, correct plans") {
    // the SQL front door plans at ANALYSIS time (the TVF builder runs
    // matchDfs, jobs and all, inside resolution) — four driver threads
    // issuing fuzzy_match SQL concurrently must each resolve their own
    // views and produce exactly the serial answer
    import spark.implicits._
    val pool = Executors.newFixedThreadPool(4)
    try {
      val barrier = new CyclicBarrier(4)
      val results = (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Set[(Long, Long)]] {
          override def call(): Set[(Long, Long)] = {
            // views registered on the SHARED session (the long-running
            // driver pattern); names are per-thread
            val vals = (0 until 50).map(v => (v.toLong + i * 1000, f"name$i%d_$v%02d"))
            vals.toDF("lid", "k").createOrReplaceTempView(s"cfm_l_$i")
            vals.map { case (id, v) => (id + 100, v) }
              .toDF("rid", "g").createOrReplaceTempView(s"cfm_r_$i")
            barrier.await(60, TimeUnit.SECONDS)
            spark.sql(
              s"""SELECT lid, rid FROM fuzzy_match('cfm_l_$i', 'cfm_r_$i',
                    'k', 'g', 95.0, 'levenshtein')""")
              .as[(Long, Long)].collect().toSet
          }
        })
      }
      results.zipWithIndex.foreach { case (f, i) =>
        val got = f.get(120, TimeUnit.SECONDS)
        // threshold 95 on distinct 2-digit suffixes: only exact-value
        // pairs survive -> exactly the 50 (id, id+100) self matches
        val want = (0 until 50).map(v => (v.toLong + i * 1000, v.toLong + i * 1000 + 100)).toSet
        assert(got == want, s"thread $i: ${got.size} pairs, diff ${got.diff(want).take(3)}")
      }
    } finally pool.shutdownNow()
  }
}

object ConcurrentMatchSpec {
  /** A single-task job that runs for up to 60 s and ends early once its
    * task is killed. */
  def longJob(sc: SparkContext): Long = sc.parallelize(Seq(1L), 1).map { x =>
    val tc = TaskContext.get()
    val end = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (System.nanoTime() < end && !tc.isInterrupted()) Thread.sleep(50)
    x
  }.count()
}
