package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.PlanPhases
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** The traced run's hook: a `SparkListener` recording SQL executions
  * (with each one's Catalyst phase times from its
  * `QueryPlanningTracker`), jobs, stages and task metrics, plus
  * [[streams]], a `StreamingQueryListener` recording each streaming
  * micro-batch's sink output. Events are kept in memory and written out
  * with the run record; all attribution (span, call site) is done when
  * the record is read. */
final class Recorder extends SparkListener {

  private final class Exec(val id: Long, val root: Option[Long],
      val start: Long, val description: String, val details: String,
      val tags: Set[String]) {
    var end = -1L
    var error: Option[String] = None
    var phases = Map.empty[String, Long]
  }
  private final class Job(val id: Int, val start: Long, val execId: Option[Long],
      val tags: Seq[String], val stageIds: Seq[Int]) {
    var end = -1L
    var ok = true
  }
  private final class Stage(val id: Int, val attempt: Int) {
    var name = ""
    var submitted, completed, firstLaunch = -1L
    var tasks, failed, runMs, maxRunMs, cpuNs, gcMs = 0L
    var swRows, swBytes, srBytes, fetchWaitMs, spillBytes = 0L
    var inRows, inBytes, outRows, outBytes = 0L
  }

  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  /** Each micro-batch of a streaming query: the rows its sink wrote and
    * the time the sink took (`addBatch`, which runs the batch's plan). */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        batches += Map("name" -> p.name, "batch" -> p.batchId,
          "end" -> (Instant.parse(p.timestamp).toEpochMilli + p.batchDuration),
          "sink_rows" -> math.max(0L, p.sink.numOutputRows),
          "sink_ms" -> Option(p.durationMs.get("addBatch")).fold(0L)(_.longValue))
      }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = new Exec(s.executionId, s.rootExecutionId,
          s.time, s.description, s.details, s.jobTags)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach { x =>
          x.end = s.time
          x.error = s.errorMessage.filter(_.nonEmpty)
          x.phases = PlanPhases(s)
        }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = new Job(e.jobId, e.time,
      prop("spark.sql.execution.id").map(_.toLong),
      prop("spark.job.tags").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.name = i.name
      s.submitted = i.submissionTime.getOrElse(-1L)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      if (s.name.isEmpty) s.name = i.name
      if (s.submitted < 0) s.submitted = i.submissionTime.getOrElse(-1L)
      s.completed = i.completionTime.getOrElse(-1L)
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val t = e.taskInfo.launchTime
    if (s.firstLaunch < 0 || t < s.firstLaunch) s.firstLaunch = t
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.maxRunMs = math.max(s.maxRunMs, m.executorRunTime)
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.swRows += m.shuffleWriteMetrics.recordsWritten
      s.swBytes += m.shuffleWriteMetrics.bytesWritten
      s.srBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.diskBytesSpilled
      s.inRows += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
      s.outRows += m.outputMetrics.recordsWritten
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Everything recorded so far, as JSON-ready maps. */
  def snapshot(): Map[String, Any] = synchronized {
    Map(
      "executions" -> execs.values.map { x =>
        Map("id" -> x.id, "root" -> x.root, "start" -> x.start, "end" -> x.end,
          "description" -> x.description, "details" -> x.details,
          "tags" -> x.tags.toSeq.sorted, "error" -> x.error,
          "phases" -> x.phases)
      }.toSeq,
      "jobs" -> jobs.values.map { j =>
        Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
          "execution" -> j.execId, "tags" -> j.tags, "stages" -> j.stageIds,
          "ok" -> j.ok)
      }.toSeq,
      "stages" -> stages.values.map { s =>
        Map("id" -> s.id, "attempt" -> s.attempt, "name" -> s.name,
          "submitted" -> s.submitted, "completed" -> s.completed,
          "first_launch" -> s.firstLaunch, "tasks" -> s.tasks,
          "failed_tasks" -> s.failed, "run_ms" -> s.runMs,
          "max_run_ms" -> s.maxRunMs, "cpu_ms" -> s.cpuNs / 1e6,
          "gc_ms" -> s.gcMs, "shuffle_write_rows" -> s.swRows,
          "shuffle_write_bytes" -> s.swBytes,
          "shuffle_read_bytes" -> s.srBytes,
          "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spillBytes,
          "read_rows" -> s.inRows, "read_bytes" -> s.inBytes,
          "write_rows" -> s.outRows, "write_bytes" -> s.outBytes)
      }.toSeq,
      "streams" -> batches.toSeq)
  }
}
