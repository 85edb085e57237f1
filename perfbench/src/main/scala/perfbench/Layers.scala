package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Listener-side counters of one job group (one timed call). */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes jobs, stages and tasks to the job group that was set when
  * the job was submitted. Registered only in traced runs. */
final class LayerListener extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupCounters]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]

  def counters(group: String): GroupCounters =
    synchronized(groups.getOrElseUpdate(group, new GroupCounters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    counters(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    counters(g).jobSpans += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      counters(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
    }
  }
}

/** JVM-global driver counters: Catalyst rule-executor time (analysis,
  * optimization, adaptive re-optimization), Janino compile time and the
  * number of compiles (code-cache misses). */
final case class DriverCounters(ruleNs: Long, compileNs: Long, compiles: Long) {
  def -(o: DriverCounters): DriverCounters =
    DriverCounters(ruleNs - o.ruleNs, compileNs - o.compileNs, compiles - o.compiles)
}

object DriverCounters {
  def now(): DriverCounters = DriverCounters(
    RuleExecutor.getCurrentMetrics().time,
    CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** One timed call, split into construction (building the DataFrame) and
  * execution (running it). Epoch milliseconds share the listener's clock. */
final case class Span(tag: String, startMs: Long, builtMs: Long, endMs: Long,
                      constructS: Double, wallS: Double,
                      built: DriverCounters, ran: DriverCounters)

object Timing {
  /** Runs `construct` then `execute` under job group `tag`. */
  def call[A, B](spark: SparkSession, tag: String)(construct: => A)(
      execute: A => B): (B, Span) = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try {
      val d0 = DriverCounters.now()
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val a = construct
      val t1 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      val d1 = DriverCounters.now()
      val b = execute(a)
      val t2 = System.nanoTime()
      val m2 = System.currentTimeMillis()
      val d2 = DriverCounters.now()
      (b, Span(tag, m0, m1, m2, (t1 - t0) / 1e9, (t2 - t0) / 1e9, d1 - d0, d2 - d1))
    } finally sc.clearJobGroup()
  }

  def drain(spark: SparkSession): Unit =
    PerfbenchAccess.drainListeners(spark.sparkContext)
}

/** The per-layer record of one or more traced calls. */
final case class Layers(
    wall: Double, construct: Double, catalyst: Double, compile: Double,
    compiles: Long, jobs: Long, stages: Long, tasks: Long, taskS: Double,
    cpuS: Double, gcS: Double, jobWall: Double, constructOther: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    cores: Int) {

  def +(o: Layers): Layers = Layers(
    wall + o.wall, construct + o.construct, catalyst + o.catalyst,
    compile + o.compile, compiles + o.compiles, jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskS + o.taskS, cpuS + o.cpuS,
    gcS + o.gcS, jobWall + o.jobWall, constructOther + o.constructOther,
    shuffleWriteMb + o.shuffleWriteMb, shuffleReadMb + o.shuffleReadMb,
    spillMb + o.spillMb, cores)

  def idleCoreS: Double = cores * wall - taskS
  def util: Double = if (wall > 0) taskS / (cores * wall) else 0.0

  /** Wall time not covered by the disjoint parts: driver-only
    * construction work, Catalyst, Janino and job-active time. Execution
    * and idle cores split the job-active time between them. */
  def unexplained: Double = wall - (constructOther + catalyst + compile + jobWall)

  def metrics: Seq[(String, Double)] = Seq(
    ("spark.wall_s", wall),
    ("spark.construct_s", construct),
    ("spark.catalyst_s", catalyst),
    ("spark.compile_s", compile),
    ("spark.compiles", compiles.toDouble),
    ("spark.jobs", jobs.toDouble),
    ("spark.stages", stages.toDouble),
    ("spark.tasks", tasks.toDouble),
    ("spark.task_cpu_s", cpuS),
    ("spark.gc_s", gcS),
    ("spark.idle_core_s", idleCoreS),
    ("spark.util", util),
    ("spark.shuffle_write_mb", shuffleWriteMb),
    ("spark.shuffle_read_mb", shuffleReadMb),
    ("spark.spill_mb", spillMb),
    ("spark.driver_share", if (wall > 0) (construct + compile) / wall else 0.0),
    ("spark.unexplained_share", if (wall > 0) unexplained.abs / wall else 0.0))
}

object Layers {
  private val Mb = 1024.0 * 1024.0

  /** Total length of the union of `spans` clipped to [lo, hi]. */
  private def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        total += curB - curA
        curA = a
        curB = b
      } else curB = curB max b
    }
    total + (curB - curA)
  }

  def of(span: Span, c: GroupCounters, cores: Int): Layers = {
    val spans = c.jobSpans.toSeq
    val jobWall = unionMs(spans, span.startMs, span.endMs) / 1e3
    val constructJobs = unionMs(spans, span.startMs, span.builtMs) / 1e3
    val constructOther = (span.constructS - constructJobs -
      (span.built.ruleNs + span.built.compileNs) / 1e9) max 0.0
    Layers(
      wall = span.wallS, construct = span.constructS,
      catalyst = (span.built.ruleNs + span.ran.ruleNs) / 1e9,
      compile = (span.built.compileNs + span.ran.compileNs) / 1e9,
      compiles = span.built.compiles + span.ran.compiles,
      jobs = c.jobs, stages = c.stages, tasks = c.tasks,
      taskS = c.taskMs / 1e3, cpuS = c.cpuNs / 1e9, gcS = c.gcMs / 1e3,
      jobWall = jobWall, constructOther = constructOther,
      shuffleWriteMb = c.shuffleWrite / Mb, shuffleReadMb = c.shuffleRead / Mb,
      spillMb = c.spill / Mb, cores = cores)
  }
}

/** Host and process probes that move no end-to-end metric. */
object Host {
  @volatile private var sink = 0L

  /** A fixed integer loop; its time tracks the host's CPU speed, so a
    * throttle window shows as a larger value instead of a regression. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13
      x ^= x >>> 7
      x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set size of this JVM in MB (Linux VmHWM). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }
}
