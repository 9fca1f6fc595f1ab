package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.fuzzy._
import graft.util.{CapMetrics, Materialize, Par}

/** Fuzzy-join benchmark entry point. One run: start a session, generate the
  * workload's inputs from the seed, set up (timed), warm up, then call the
  * public match API in a closed loop for `--seconds`, checking every result.
  * With `--trace 1` the loop is followed by one traced match composed from
  * the engine's public steps and by isolated calls into each layer.
  * The last line of standard output is the JSON result. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        spec: String, out: String)

  private val LeftIdx = "__left_index"
  private val RightIdx = "__right_index"
  private val SetupReps = 3
  private val MinCalls = 3
  private val WarmupSeconds = 20
  private val BruteForceSlice = 24
  private val KernelPairs = 20000

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spec = WorkloadSpec.load(args.spec, args.workload)
    val code = run(args, spec)
    System.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("spec"), need("out"))
  }

  // ------------------------------------------------------------ statistics

  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")

  private def secondsOf[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def usedHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  // -------------------------------------------------------------- workload

  /** Generated inputs and the frames the engine sees. */
  final class State(spark: SparkSession, val spec: WorkloadSpec, seed: Long) {
    val in: Inputs = Gen.inputs(seed, spec.fields, spec.props)
    val leftDf: DataFrame = Frames.of(spark, in.left)
    val rightDf: DataFrame = Frames.of(spark, in.right)

    def matchDf(): DataFrame = FuzzyMatcher.matchDfs(leftDf, rightDf, spec.maps, spec.opts)
  }

  private def lshStats(): Option[CapMetrics.CapStats] = CapMetrics.lastMetrics("fuzzy_lsh")

  /** True when an LSH build recorded new bucket-cap stats since `before`. */
  private def lshRanSince(before: Option[CapMetrics.CapStats]): Boolean =
    lshStats().exists(now => !before.exists(_ eq now))

  /** Result of one checked match call. */
  final case class Call(seconds: Double, rows: Array[Row], verdict: Verdict, usedLsh: Boolean,
                        heapMb: Double)

  /** One match call collected to the Spark driver, timed, then checked. With
    * `sampleHeap` the heap is read after full GCs, still inside the call's
    * match scope so its barriers count; the pause between the GCs lets
    * Spark's cleaner drop state the first GC made unreachable. */
  private def matchCall(st: State, sampleHeap: Boolean): Call = {
    val before = lshStats()
    val (secs, rows, heap) = FuzzyMatcher.withMatchScope {
      val (s, rows) = secondsOf(st.matchDf().collect())
      val heap =
        if (sampleHeap) { System.gc(); Thread.sleep(200); System.gc(); usedHeapMb() }
        else -1.0
      (s, rows, heap)
    }
    Call(secs, rows, Check.verify(rows, st.in, st.spec.fields), lshRanSince(before), heap)
  }

  /** Problems with a call beyond its verdict: the brute-force slice on the
    * first call, and LSH running although the options force an exact match. */
  private def callErrors(st: State, c: Call, first: Boolean): Seq[String] = {
    val slice = if (first) Check.sliceErrors(c.rows, st.in, st.spec.fields, BruteForceSlice) else Nil
    val strategy = if (c.usedLsh) Seq("forced exact match ran LSH") else Nil
    c.verdict.errors ++ slice ++ strategy
  }

  // ------------------------------------------------------------------- run

  def run(args: Args, spec: WorkloadSpec): Int = {
    val out = Paths.get(args.out)
    Files.createDirectories(out)
    val cores = Runtime.getRuntime.availableProcessors()
    val (sessionS, spark) = secondsOf {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-${spec.name}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        // The default 100 generated classes, split over the cache's hashed
        // segments, evict some of one match's ~80 classes in some JVMs and
        // none in others: ~28 Janino compiles a call or none, a per-run
        // difference of up to 15 % in call time.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.local.dir", out.resolve("spark-local").toAbsolutePath.toString)
        .config("spark.sql.warehouse.dir", out.resolve("warehouse").toAbsolutePath.toString)
        .getOrCreate()
      log("session created")
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }
    spark.sparkContext.setLogLevel("WARN")
    try body(args, spec, spark, sessionS, cores, out)
    finally spark.stop()
  }

  private def body(args: Args, spec: WorkloadSpec, spark: SparkSession, sessionS: Double,
                   cores: Int, out: java.nio.file.Path): Int = {
    // Set-up: generation and frames, repeated (median), then the first
    // (cold) match call. Further warm-up calls, untimed and not part of
    // setup_s, run for WarmupSeconds after the cold call: call times fall by
    // a third over the first 15-20 calls while the JIT compiles the driver's
    // planning code, and the timed loop should start near the end of that fall.
    var st: State = null
    val setupTimes = (0 until SetupReps).map(_ => secondsOf { st = new State(spark, spec, args.seed) }._1)
    var failed = 0
    /** One checked call; failures are logged and counted. */
    def attempt(label: String, first: Boolean, sampleHeap: Boolean): Option[Call] = {
      val (call, errs) =
        try {
          val c = matchCall(st, sampleHeap)
          (Some(c), callErrors(st, c, first))
        } catch { case e: Exception => (None, Seq(e.toString)) }
      if (errs.nonEmpty) failed += 1
      errs.foreach(e => log(s"$label: $e"))
      call
    }
    val warm = ArrayBuffer.empty[Option[Call]]
    def warmCall(): Unit =
      warm += attempt("warm-up", first = false, sampleHeap = false).map(_.copy(rows = Array.empty))
    warmCall()
    val warmEnd = System.nanoTime() + WarmupSeconds * 1000000000L
    while (warm.length < 2 || System.nanoTime() < warmEnd) warmCall()
    val coldS = warm.head.map(_.seconds).getOrElse(Double.NaN)
    val setupS = sessionS + quantile(setupTimes, 0.5) + coldS
    log(f"${spec.name}: session $sessionS%.3f s, set-ups " +
      setupTimes.map(t => f"$t%.3f").mkString(", ") + f", cold call $coldS%.3f s, " +
      s"${warm.length - 1} more warm-up calls")

    // Timed closed loop: one client, next call after the previous returns.
    // The heap is read on the first call and on one closing call after the
    // deadline, not on every call: its GCs and pause take time between calls.
    val calls = ArrayBuffer.empty[Option[Call]]
    def timedCall(sampleHeap: Boolean): Unit = {
      // only the first call's rows are kept, for the traced run's comparison
      val first = calls.isEmpty
      calls += attempt(s"call ${calls.length}", first, sampleHeap)
        .map(c => if (first) c else c.copy(rows = Array.empty))
    }
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    while (System.nanoTime() < deadline || calls.length < MinCalls) timedCall(sampleHeap = calls.isEmpty)
    timedCall(sampleHeap = true)
    val attempted = warm.length + calls.length
    val ok = calls.flatten.toSeq
    val lat = ok.map(_.seconds)
    val p50 = quantile(lat, 0.5)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("match_p50_s", p50, "s"),
      // throughput over all timed calls, so slow calls a median hides count
      ("rows_per_s", spec.props.leftRows.toDouble * ok.length / lat.sum, "rows/s"),
      ("recall", ok.map(_.verdict.plantedFound).sum.toDouble /
        math.max(1, ok.map(_.verdict.plantedTotal).sum), "ratio"),
      ("live_heap_mb", ok.map(_.heapMb).filter(_ >= 0).maxOption.getOrElse(Double.NaN), "MB"))
    log(s"${spec.name}: call seconds " + lat.map(t => f"$t%.3f").mkString(" "))
    log(f"${spec.name}: ${calls.length} calls, failed $failed, " +
      e2e.map { case (n, v, u) => f"$n $v%.4f $u" }.mkString(", "))

    if (!args.trace || ok.isEmpty) {
      emit(failed == 0, attempted, failed, e2e)
      return if (failed == 0) 0 else 1
    }

    val traced = new Traced(spark, st, cores, out, args.seed)
    val (layer, traceErrors) = traced.run(calls.head.map(_.rows).getOrElse(Array.empty), p50)
    traceErrors.foreach(e => log(s"traced: $e"))
    if (traceErrors.nonEmpty) failed += 1
    emit(failed == 0, attempted + 1, failed, layer)
    if (failed == 0) 0 else 1
  }

  private def emit(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[(String, Double, String)]): Unit = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    System.out.flush()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}""")
    System.out.flush()
  }

  // ---------------------------------------------------------------- traced

  /** The traced run: `matchDfs` composed from its public steps with a span
    * around each, then isolated calls into the sub-layers, all attributed
    * to Spark work through [[SparkCollector]]. */
  final class Traced(spark: SparkSession, st: State, cores: Int, out: java.nio.file.Path,
                     seed: Long) {
    private val sc = spark.sparkContext
    private val spec = st.spec
    private val opts = spec.opts
    private val collector = new SparkCollector
    sc.addSparkListener(collector)
    private val tracer = new Tracer(sc, spec.name)
    private val composedSpans = Seq("preprocess", "index", "pass.fresh", "pass.filter", "combine")

    def run(untracedRows: Array[Row], untracedP50: Double): (Seq[(String, Double, String)], Seq[String]) = {
      val errors = ArrayBuffer.empty[String]
      var isolated: Map[String, Double] = Map.empty
      var survivors = 0L
      FuzzyMatcher.withMatchScope {
        val (rows, li, ri, maps, lastPass) = tracer.withRun("traced")(tracer.span("match")(composed()))
        survivors = lastPass.count()
        if (!sameRows(rows, untracedRows))
          errors += "composed match differs from the public match call's output"
        errors ++= Check.verify(rows, st.in, spec.fields).errors
        isolated = tracer.withRun("isolated")(isolatedLayers(li, ri, maps.head))
      }
      val kernels = kernelNs(st.in)
      collector.drain(sc)

      val matchSpan = tracer.all.find(s => s.run == "traced" && s.name == "match").get
      val sum = new SparkAcc
      ("match" +: composedSpans).foreach(n => sum.add(collector.forGroup(tracer.group(n))))
      val wall = matchSpan.seconds
      val gap = wall - collector.busyMs(matchSpan.startMs, matchSpan.endMs) / 1000.0
      def s(n: String) = tracer.seconds("traced", n)
      def jobs(n: String) = collector.forGroup(tracer.group(n)).jobs.toDouble
      val lsh = collector.forGroup(tracer.group("lsh"))
      val metrics = Seq(
        ("preprocess.s", s("preprocess"), "s"), ("preprocess.jobs", jobs("preprocess"), "count"),
        ("index.s", s("index"), "s"), ("index.jobs", jobs("index"), "count"),
        ("distinct.s", isolated("distinct.s"), "s"), ("distinct.values", isolated("distinct.values"), "count"),
        ("pass.fresh.s", s("pass.fresh"), "s"), ("pass.filter.s", s("pass.filter"), "s"),
        ("pass.survivors", survivors.toDouble, "count"),
        ("sweep.s", isolated("sweep.s"), "s"), ("sweep.pairs_out", isolated("sweep.pairs_out"), "count"),
        ("bnlj.s", isolated("bnlj.s"), "s"), ("bnlj.pairs_out", isolated("bnlj.pairs_out"), "count"),
        ("lsh.s", isolated("lsh.s"), "s"), ("lsh.jobs", lsh.jobs.toDouble, "count"),
        ("lsh.candidate_pairs", isolated("lsh.candidate_pairs"), "count"),
        ("lsh.cap_dropped_buckets", isolated("lsh.cap_dropped_buckets"), "count"),
        ("lsh.cap_dropped_pairs", isolated("lsh.cap_dropped_pairs"), "count"),
        ("lsh.bucket_pairs", isolated("lsh.bucket_pairs"), "count"),
        ("lsh.useful_ratio", isolated("lsh.useful_ratio"), "ratio"),
        ("combine.s", s("combine"), "s"),
        ("combine.shuffle_bytes", collector.forGroup(tracer.group("combine")).shuffleWriteBytes.toDouble, "bytes"),
        ("spark.jobs", sum.jobs.toDouble, "count"), ("spark.stages", sum.stages.toDouble, "count"),
        ("spark.tasks", sum.tasks.toDouble, "count"),
        ("shuffle.read_bytes", sum.shuffleReadBytes.toDouble, "bytes"),
        ("shuffle.write_bytes", sum.shuffleWriteBytes.toDouble, "bytes"),
        ("spill_bytes", sum.spillBytes.toDouble, "bytes"),
        ("executor.cpu_s", sum.cpuNs / 1e9, "s"), ("executor.gc_s", sum.gcMs / 1e3, "s"),
        ("driver_gap_s", gap, "s"), ("cpu_util", sum.cpuNs / 1e9 / (wall * cores), "ratio"),
        ("trace.match_s", wall, "s"), ("trace.overhead_s", wall - untracedP50, "s")) ++
        FuzzyAlgorithm.all.map(a => (s"kernel.${a.name}.ns_per_pair", kernels(a), "ns"))
      writeSpans(metrics)
      (metrics, errors.toSeq)
    }

    /** `matchDfs` from its public steps. */
    private def composed(): (Array[Row], DataFrame, DataFrame, Seq[FuzzyMapping], DataFrame) = {
      val plan = tracer.span("preprocess")(PreProcess.run(st.leftDf, st.rightDf, spec.maps, opts.runPreprocess))
      val maps = plan.maps
      val outputOrder =
        plan.left.columns.toSeq ++ plan.right.columns.toSeq ++ maps.map(_.resolvedOutputName)
      val (li, ri) = tracer.span("index") {
        Par.run2(FuzzyMatcher.addIndexColumn(plan.left, LeftIdx, opts.checkpoint),
          FuzzyMatcher.addIndexColumn(plan.right, RightIdx, opts.checkpoint))
      }
      var existing: Option[DataFrame] = None
      val frames = maps.map { m =>
        val f = tracer.span(if (existing.isEmpty) "pass.fresh" else "pass.filter") {
          FuzzyMatcher.processFuzzyMapping(li, ri, m, existing, opts)
        }
        existing = Some(f)
        f
      }
      val rows = tracer.span("combine") {
        val all = if (frames.size == 1) frames.head else FuzzyMatcher.combineMatches(frames)
        li.join(all, LeftIdx).join(ri, RightIdx).drop(LeftIdx, RightIdx)
          .select(outputOrder.map(col): _*).collect()
      }
      (rows, li, ri, maps, frames.last)
    }

    /** Isolated calls into the sub-layers of the first (fresh) pass, on the
      * same indexed frames: distinct values, then the scorer the engine's
      * exact pass uses (sweep or BNLJ), and LSH candidates off-path where
      * the workload asks for them. */
    private def isolatedLayers(li: DataFrame, ri: DataFrame, m: FuzzyMapping): Map[String, Double] = {
      def vals(df: DataFrame, c: String): (DataFrame, Long) = {
        val v = Materialize(FuzzyMatcher.distinctValues(df, c), opts.checkpoint)
        (v, v.count())
      }
      val (distinctS, ((lv, lc), (rv, rc))) = secondsOf(tracer.span("distinct") {
        Par.run2(vals(li, m.leftCol), vals(ri, m.rightCol))
      })
      // the engine scores with the side holding more distinct values on the left
      val ((bv, bc), (sv, sc2), smallCount) =
        if (lc >= rc) ((lv, m.leftCol), (rv, m.rightCol), rc) else ((rv, m.rightCol), (lv, m.leftCol), lc)
      val rt = m.reversedThresholdScore
      val zero = Map("sweep.s" -> 0.0, "sweep.pairs_out" -> 0.0, "bnlj.s" -> 0.0,
        "bnlj.pairs_out" -> 0.0, "lsh.s" -> 0.0, "lsh.candidate_pairs" -> 0.0,
        "lsh.cap_dropped_buckets" -> 0.0, "lsh.cap_dropped_pairs" -> 0.0, "lsh.bucket_pairs" -> 0.0,
        "lsh.useful_ratio" -> 0.0)
      val base = zero ++ Map("distinct.s" -> distinctS, "distinct.values" -> (lc + rc).toDouble)
      def lsh(): Map[String, Double] = {
        val (t, (n, useful)) = secondsOf(tracer.span("lsh") {
          withTopKHeapConf {
            val cands = AnnJoin.candidates(bv, sv, bc, sc2, opts, rt, lc + rc)
            val d = functions.fuzzy_dist_bounded(lower(col(bc)), lower(col(sc2)), m.fuzzyType, rt)
            val row = cands.select(d.as("d"))
              .agg(count(lit(1)), sum(when(col("d") <= rt, 1L).otherwise(0L))).head()
            (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
          }
        })
        val cap = lshStats().getOrElse(CapMetrics.CapStats(0, 0, 0))
        Map("lsh.s" -> t, "lsh.candidate_pairs" -> n.toDouble,
          "lsh.cap_dropped_buckets" -> cap.droppedBuckets.toDouble,
          "lsh.cap_dropped_pairs" -> cap.droppedPairs.toDouble,
          "lsh.bucket_pairs" -> cap.keptPairs.toDouble,
          "lsh.useful_ratio" -> (if (n == 0) 0.0 else useful.toDouble / n))
      }
      val scorer =
        if (m.fuzzyType == FuzzyAlgorithm.Levenshtein && smallCount <= opts.broadcastDistinctLimit) {
          val (t, n) = secondsOf(tracer.span("sweep") {
            SweepScore.sweepScoredPairs(bv, sv, bc, sc2, rt).count()
          })
          Map("sweep.s" -> t, "sweep.pairs_out" -> n.toDouble)
        } else {
          val (t, n) = secondsOf(tracer.span("bnlj") {
            val spread = bv.repartition(sc.defaultParallelism)
            FuzzyMatcher.scoreValuePairs(spread.crossJoin(broadcast(sv)), bc, sc2, m.fuzzyType, rt).count()
          })
          Map("bnlj.s" -> t, "bnlj.pairs_out" -> n.toDouble)
        }
      // AnnJoin timed off-path, on this workload's values, when asked for
      val offPathLsh = if (spec.isolatedLsh) lsh() else Map.empty[String, Double]
      base ++ scorer ++ offPathLsh
    }

    /** The engine scopes this conf around an LSH pass (AnnJoin.withTopKHeapConf). */
    private def withTopKHeapConf[A](body: => A): A = {
      val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "4194304")
      try body finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

    /** Median ns per pair of `Kernels.distBounded` for every algorithm, in a
      * single-thread loop over sampled pairs of the first mapping's field. */
    private def kernelNs(in: Inputs): Map[FuzzyAlgorithm, Double] = {
      val f = spec.fields.head
      val pairs = Gen.samplePairs(seed, in, f.field, KernelPairs).map { case (a, b) =>
        (UTF8String.fromString(a).toLowerCase, UTF8String.fromString(b).toLowerCase)
      }
      val as = pairs.map(_._1)
      val bs = pairs.map(_._2)
      FuzzyAlgorithm.all.map { algo =>
        val times = (0 until 6).map { _ =>
          var sink = 0.0
          val t0 = System.nanoTime()
          var i = 0
          while (i < as.length) { sink += Kernels.distBounded(algo.id, as(i), bs(i), f.maxDist); i += 1 }
          val ns = (System.nanoTime() - t0).toDouble / as.length
          if (sink == -1.0) println(sink)
          ns
        }
        algo -> quantile(times.drop(1), 0.5)
      }.toMap
    }

    private def writeSpans(metrics: Seq[(String, Double, String)]): Unit = {
      val m = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(",\n  ")
      val rt = Runtime.getRuntime
      val machine = s"""{"nproc": $cores, "heap_max_mb": ${rt.maxMemory / 1048576}, """ +
        s""""jdk": "${System.getProperty("java.version")}", "spark": "${spark.version}"}"""
      val txt = s"""{"workload": "${spec.name}", "seed": $seed, "machine": $machine,\n""" +
        s""""metrics": {\n  $m},\n"spans": ${tracer.json(collector)}}\n"""
      val path = out.resolve(s"trace-${spec.name}-seed$seed.json")
      Files.write(path, txt.getBytes(StandardCharsets.UTF_8))
      log(s"spans written to $path")
      tracer.all.filter(_.run != "untraced").foreach { s =>
        log(f"  ${s.run}%-8s ${s.name}%-12s ${s.seconds}%.4f s " +
          f"(self ${tracer.selfSeconds(s)}%.4f s)")
      }
    }
  }

  /** Same rows (as multisets of rendered rows) with the same columns. */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean = {
    def render(rs: Array[Row]) = rs.map(_.mkString("\u0001")).sorted.toSeq
    val schemaA = a.headOption.map(_.schema.fieldNames.toSeq)
    val schemaB = b.headOption.map(_.schema.fieldNames.toSeq)
    a.length == b.length && schemaA == schemaB && render(a) == render(b)
  }
}
