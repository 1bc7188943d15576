package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters at one instant. Differences of two snapshots
  * give the cost of whatever ran between them (see [[Probe.snapshot]]). */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, emptyTasks: Long = 0,
    taskRunMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    diskSpillBytes: Long = 0, memSpillBytes: Long = 0,
    outputBytes: Long = 0, outputRecords: Long = 0,
    planMs: Long = 0, plannedQueries: Long = 0,
    compiles: Long = 0, compileNs: Long = 0, codegenFailures: Long = 0,
    jobDurationsSeen: Int = 0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, emptyTasks - o.emptyTasks,
    taskRunMs - o.taskRunMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    diskSpillBytes - o.diskSpillBytes, memSpillBytes - o.memSpillBytes,
    outputBytes - o.outputBytes, outputRecords - o.outputRecords,
    planMs - o.planMs, plannedQueries - o.plannedQueries,
    compiles - o.compiles, compileNs - o.compileNs,
    codegenFailures - o.codegenFailures, jobDurationsSeen - o.jobDurationsSeen)

  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, emptyTasks + o.emptyTasks,
    taskRunMs + o.taskRunMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    diskSpillBytes + o.diskSpillBytes, memSpillBytes + o.memSpillBytes,
    outputBytes + o.outputBytes, outputRecords + o.outputRecords,
    planMs + o.planMs, plannedQueries + o.plannedQueries,
    compiles + o.compiles, compileNs + o.compileNs,
    codegenFailures + o.codegenFailures, jobDurationsSeen + o.jobDurationsSeen)

  def toJson: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "empty_tasks" -> emptyTasks,
    "task_run_ms" -> taskRunMs, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / Probe.MB,
    "shuffle_read_mb" -> shuffleReadBytes / Probe.MB,
    "spill_disk_mb" -> diskSpillBytes / Probe.MB,
    "spill_mem_mb" -> memSpillBytes / Probe.MB,
    "output_mb" -> outputBytes / Probe.MB, "output_rows" -> outputRecords,
    "plan_s" -> planMs / 1e3, "planned_queries" -> plannedQueries,
    "codegen_compiles" -> compiles, "codegen_compile_s" -> compileNs / 1e9,
    "codegen_failures" -> codegenFailures)
}

/** Counts ERROR events logged by Spark's code generator: a failed Janino
  * compile is logged there before the stage falls back to interpreted
  * evaluation, and nothing else in Spark counts it. */
final class CodegenFailureAppender
    extends AbstractAppender("perfbench-codegen-failures", null, null, true,
      Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(event: LogEvent): Unit =
    if (event.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
}

object CodegenFailureAppender {
  private val LoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  lazy val installed: CodegenFailureAppender = {
    val a = new CodegenFailureAppender
    a.start()
    LogManager.getLogger(LoggerName) match {
      case l: CoreLogger => l.addAppender(a)
      case _ => ()
    }
    a
  }
}

/** Spark-wide counters collected from outside the engine: a SparkListener
  * for jobs, stages and task metrics, a QueryExecutionListener for the
  * planner's phase times, Spark's codegen metrics for compilations, and a
  * log appender for compile failures. All of it is registered by the
  * benchmark; the engine under test is unchanged. */
final class Probe extends SparkListener {
  private val jobs, stages, tasks, emptyTasks = new AtomicLong
  private val taskRunMs, cpuNs, gcMs = new AtomicLong
  private val shuffleWrite, shuffleRead, diskSpill, memSpill = new AtomicLong
  private val outBytes, outRecords = new AtomicLong
  private val planMs, planned = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobDurations = ArrayBuffer.empty[Long]
  private var session: SparkSession = _

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) jobDurations.synchronized { jobDurations += (e.time - s) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      diskSpill.addAndGet(m.diskBytesSpilled)
      memSpill.addAndGet(m.memoryBytesSpilled)
      outBytes.addAndGet(m.outputMetrics.bytesWritten)
      outRecords.addAndGet(m.outputMetrics.recordsWritten)
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0 &&
          m.shuffleWriteMetrics.recordsWritten == 0 && m.outputMetrics.recordsWritten == 0)
        emptyTasks.incrementAndGet()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planned.incrementAndGet()
      planMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Registers this probe on a (new) session. */
  def attach(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    CodegenFailureAppender.installed
  }

  /** Waits until every listener event posted so far has been delivered. */
  def drain(): Unit = if (session != null) PerfbenchBus.drain(session.sparkContext)

  /** Drains the bus, then reads every counter. */
  def snapshot(): Counters = {
    drain()
    Counters(
      jobs.get, stages.get, tasks.get, emptyTasks.get,
      taskRunMs.get, cpuNs.get, gcMs.get,
      shuffleWrite.get, shuffleRead.get, diskSpill.get, memSpill.get,
      outBytes.get, outRecords.get,
      planMs.get, planned.get,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      CodegenFailureAppender.installed.count.get,
      jobDurations.synchronized(jobDurations.size))
  }

  /** Wall times (ms) of the jobs that ended between two snapshots. */
  def jobDurationsBetween(from: Counters, to: Counters): Seq[Long] =
    jobDurations.synchronized(
      jobDurations.slice(from.jobDurationsSeen, to.jobDurationsSeen).toList)
}

object Probe {
  val MB: Double = 1024.0 * 1024.0

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
