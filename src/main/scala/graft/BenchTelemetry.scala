package graft

import java.lang.management.ManagementFactory

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.Success

/** Per-query execution telemetry for [[Bench]], so the bench
  * diagnoses itself: an in-suite spike on a candidate-explosion query
  * (q99/q22/q229) is explained by the run that shows it, not by an
  * after-the-fact isolated re-measure of wall time. This listener captures,
  * per query: stage/task counts, shuffle read/write rows+bytes, spill
  * bytes, executor GC/run/CPU time, peak execution memory and failed
  * tasks — plus box-level context (1-min load average, system vs
  * process CPU, post-GC retained heap) that discriminates the three
  * standing hypotheses for a flagged run:
  *
  *  - concurrent driver-harness JVMs → load_avg / sys_cpu high while
  *    proc_cpu and all Spark-side metrics match the clean run;
  *  - memory pressure → spill bytes or gc_ms inflate while shuffle
  *    rows stay identical;
  *  - AQE re-plan from stale stats → stage/task counts or shuffle
  *    rows DIFFER between flagged and clean runs.
  *
  * Usage: register once, `reset()` before each query, drain the
  * listener bus (events are async — [[org.apache.spark.graft
  * .ListenerBridge.waitUntilEmpty]]), then `snapshot()`. All state is
  * behind one lock; listener callbacks are cheap field bumps, far off
  * any hot path (the bus delivers on its own thread).
  */
class BenchTelemetry extends SparkListener {

  private val lock = new Object
  private var stages, tasks, failedTasks, maxStageTasks = 0L
  private var srRows, srBytes, swRows, swBytes = 0L
  private var memSpill, diskSpill = 0L
  private var gcMs, runMs, cpuMs, peakExecMem = 0L

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      stages += 1
      maxStageTasks = math.max(maxStageTasks, e.stageInfo.numTasks.toLong)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    if (e.reason != Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      srRows += m.shuffleReadMetrics.recordsRead
      srBytes += m.shuffleReadMetrics.totalBytesRead
      swRows += m.shuffleWriteMetrics.recordsWritten
      swBytes += m.shuffleWriteMetrics.bytesWritten
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
      gcMs += m.jvmGCTime
      runMs += m.executorRunTime
      cpuMs += m.executorCpuTime / 1000000L
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Zero all counters — call before each query's timed window. */
  def reset(): Unit = lock.synchronized {
    stages = 0; tasks = 0; failedTasks = 0; maxStageTasks = 0
    srRows = 0; srBytes = 0; swRows = 0; swBytes = 0
    memSpill = 0; diskSpill = 0
    gcMs = 0; runMs = 0; cpuMs = 0; peakExecMem = 0
  }

  /** Snapshot after the query (drain the bus first). Box-level
    * context is sampled here; `heapUsedMb` is filled by the caller
    * AFTER its post-query release+GC, so it reads the heap the next
    * query actually inherits (the accumulated-state hypothesis). */
  def snapshot(): BenchTelemetry.Snap = {
    val os = ManagementFactory.getOperatingSystemMXBean
    val (sysCpu, procCpu) = os match {
      case x: com.sun.management.OperatingSystemMXBean =>
        (x.getCpuLoad, x.getProcessCpuLoad)
      case _ => (-1.0, -1.0)
    }
    lock.synchronized {
      BenchTelemetry.Snap(stages, tasks, failedTasks, maxStageTasks,
        srRows, srBytes, swRows, swBytes, memSpill, diskSpill,
        gcMs, runMs, cpuMs, peakExecMem,
        os.getSystemLoadAverage, sysCpu, procCpu, heapUsedMb = -1L)
    }
  }
}

object BenchTelemetry {

  /** One query's telemetry. Field names mirror the JSON keys the
    * schema spec pins ([[BenchTelemetrySpec]]). */
  case class Snap(
      stages: Long, tasks: Long, failedTasks: Long, maxStageTasks: Long,
      srRows: Long, srBytes: Long, swRows: Long, swBytes: Long,
      memSpill: Long, diskSpill: Long,
      gcMs: Long, runMs: Long, cpuMs: Long, peakExecMem: Long,
      loadAvg: Double, sysCpu: Double, procCpu: Double,
      heapUsedMb: Long) {

    private def f(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)

    /** Stable JSON object (key order = [[JsonKeys]]). */
    def json: String =
      s"""{"stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
      s""""max_stage_tasks":$maxStageTasks,"sr_rows":$srRows,""" +
      s""""sr_bytes":$srBytes,"sw_rows":$swRows,"sw_bytes":$swBytes,""" +
      s""""spill_mem":$memSpill,"spill_disk":$diskSpill,"gc_ms":$gcMs,""" +
      s""""run_ms":$runMs,"cpu_ms":$cpuMs,"peak_exec_mem":$peakExecMem,""" +
      s""""load_avg":${f(loadAvg)},"sys_cpu":${f(sysCpu)},""" +
      s""""proc_cpu":${f(procCpu)},"heap_mb":$heapUsedMb}"""
  }

  /** The pinned key set, in emission order — BENCH_NOTES attribution
    * and any downstream tooling key off these. */
  val JsonKeys: Seq[String] = Seq("stages", "tasks", "failed_tasks",
    "max_stage_tasks", "sr_rows", "sr_bytes", "sw_rows", "sw_bytes",
    "spill_mem", "spill_disk", "gc_ms", "run_ms", "cpu_ms",
    "peak_exec_mem", "load_avg", "sys_cpu", "proc_cpu", "heap_mb")

  /** Post-GC used heap in MiB (caller fills Snap.heapUsedMb). */
  def usedHeapMb(): Long = {
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / (1024L * 1024L)
  }
}
