package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge

/** Job group the benchmark sets around each phase of each job: the key
  * that ties Spark jobs, stages and SQL executions back to the job.
  */
object Group {
  def apply(pass: Int, job: String, phase: String): String = s"$pass|$job|$phase"
  def unapply(g: String): Option[(Int, String, String)] = g.split('|') match {
    case Array(p, j, ph) => p.toIntOption.map((_, j, ph))
    case _ => None
  }
}

/** Scan bytes read by every task: the one listener that runs in untraced
  * runs too, for `input_mb_per_s`.
  */
final class InputMeter extends SparkListener {
  val bytes = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead): Unit
}

final class StageRec(val group: String, val id: Int, val attempt: Int) {
  var submitted = 0L
  var completed = 0L
  var shuffleMap = false
  val taskMs = ArrayBuffer.empty[Long]
  var runMs, cpuNs, gcMs, inBytes, swBytes, swRecords, srBytes, spillBytes = 0L
  /** map: reads input files; reduce: writes shuffle output; result: neither. */
  def role: String = if (inBytes > 0) "map" else if (shuffleMap) "reduce" else "result"
}

final case class JobRec(id: Int, group: String, start: Long, end: Long)
final case class SqlRec(id: Long, group: String, planStart: Long, planEnd: Long, planMs: Long)

/** The traced run's listener: every Spark job, stage, task and SQL
  * execution, kept in memory under the job group it ran in. Times are
  * epoch milliseconds, as Spark reports them.
  */
final class Recorder extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJobs = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val sqlGroup = new ConcurrentHashMap[Long, String]()
  val sqls = new java.util.concurrent.ConcurrentLinkedQueue[SqlRec]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt),
      _ => new StageRec(stageGroup.getOrDefault(id, ""), id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    e.stageIds.foreach { s =>
      stageGroup.putIfAbsent(s, g)
      stageJobs.putIfAbsent(s, e.jobId)
    }
    jobStart.put(e.jobId, (g, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t) => jobs.add(JobRec(e.jobId, g, t, e.time)) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    Option(group(e.properties)).filter(_.nonEmpty).foreach(stageGroup.put(e.stageInfo.stageId, _))
    stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submitted = i.submissionTime.getOrElse(0L)
    s.completed = i.completionTime.getOrElse(s.submitted)
    s.shuffleMap = Bridge.isShuffleMap(i)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.swBytes += m.shuffleWriteMetrics.bytesWritten
      s.swRecords += m.shuffleWriteMetrics.recordsWritten
      s.srBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
    case end: SparkListenerSQLExecutionEnd =>
      val g = Option(sqlGroup.remove(end.executionId)).getOrElse("")
      Bridge.queryExecution(end).foreach { qe =>
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty)
          sqls.add(SqlRec(end.executionId, g, ph.map(_.startTimeMs).min,
            ph.map(_.endTimeMs).max, ph.map(_.durationMs).sum))
      }
    case _ =>
  }

  def stageList: Seq[StageRec] = stages.values.asScala.toSeq
  def stageJob(stage: Int): Option[Int] = Option(stageJobs.get(stage)).map(_.intValue)
}

/** Janino compile time, from the code generator's own "Code generated in
  * X ms" log line: the compile count is in `CodegenMetrics`, but its time
  * histogram is a sampling reservoir, not a sum.
  */
final class CompileLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val micros = new AtomicLong
  private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Pattern(ms) => micros.addAndGet((ms.toDouble * 1000).toLong): Unit
      case _ =>
    }
  }
  appender.start()

  def compileMs: Double = micros.get / 1000.0

  def attach(): Unit = {
    val lc = new LoggerConfig(Logger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    ctx.getConfiguration.addLogger(Logger, lc)
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    ctx.getConfiguration.removeLogger(Logger)
    ctx.updateLoggers()
  }
}
