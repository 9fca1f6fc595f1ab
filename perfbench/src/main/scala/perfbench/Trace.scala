package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group. */
final class SparkAcc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  var gcMs = 0L

  def add(o: SparkAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; cpuNs += o.cpuNs; gcMs += o.gcMs
  }
}

/** Listener that attributes jobs, stages, tasks, shuffle, spill, executor
  * CPU and GC to the job group (`spark.jobGroup.id`) they ran under, and
  * keeps every job's wall interval for the driver-gap computation. */
final class SparkCollector extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val byGroup = new ConcurrentHashMap[String, SparkAcc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")
  private def acc(g: String): SparkAcc = byGroup.computeIfAbsent(g, _ => new SparkAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    acc(g).synchronized(acc(g).jobs += 1)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    intervals.synchronized(intervals += ((start, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.putIfAbsent(e.stageInfo.stageId, group(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val a = acc(Option(stageGroup.get(info.stageId)).getOrElse(""))
    val m = info.taskMetrics
    a.synchronized {
      a.stages += 1
      a.tasks += info.numTasks
      if (m != null) {
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
      }
    }
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def forGroup(g: String): SparkAcc = {
    val out = new SparkAcc
    Option(byGroup.get(g)).foreach(a => a.synchronized(out.add(a)))
    out
  }

  /** Milliseconds of [startMs, endMs] covered by at least one running job. */
  def busyMs(startMs: Long, endMs: Long): Long = {
    val clipped = intervals.synchronized(intervals.toVector)
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }
}

/** One traced interval: a call into a layer, made from the benchmark. */
final case class Span(id: Int, parent: Int, run: String, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Each span runs under the job group
  * `bench:<workload>:<span>` so [[SparkCollector]] attributes its jobs to
  * it; spans stay in memory until [[json]] renders them at the end. */
final class Tracer(sc: SparkContext, workload: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var run = "untraced"

  def group(name: String): String = s"bench:$workload:$name"

  def withRun[A](id: String)(body: => A): A = {
    val prev = run
    run = id
    try body finally run = prev
  }

  def span[A](name: String)(body: => A): A = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group(name))
    stack = id :: stack
    spans += null
    val s0 = System.nanoTime()
    val m0 = System.currentTimeMillis()
    try body
    finally {
      spans(id) = Span(id, parent, run, name, s0, System.nanoTime(), m0, System.currentTimeMillis())
      stack = stack.tail
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Sum of the durations of spans named `name` in run `runId`. */
  def seconds(runId: String, name: String): Double =
    spans.filter(s => s.run == runId && s.name == name).map(_.seconds).sum

  /** Span duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def json(spark: SparkCollector): String = {
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    spans.map { s =>
      val a = spark.forGroup(group(s.name))
      f"""{"id":${s.id},"parent":${s.parent},"run":"${esc(s.run)}","name":"${esc(s.name)}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"seconds":${s.seconds}%.6f,""" +
        f""""self_seconds":${selfSeconds(s)}%.6f,"group_jobs":${a.jobs},"group_tasks":${a.tasks},""" +
        f""""group_shuffle_write_bytes":${a.shuffleWriteBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
