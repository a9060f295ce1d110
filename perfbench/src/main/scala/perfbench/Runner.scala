package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Checkpoints, SparkEntry, Tables}

/** One benchmark run in one JVM: a closed loop of one client issuing one
  * query at a time, pass after pass over a workload's queries.
  *
  * Pass 0 warms the JVM and Spark up; timed passes follow until the
  * time budget is spent. Each query execution is three spans: `build`
  * (the call into the operator module through `SparkEntry.queries`),
  * `plan` (planning of the returned DataFrame) and `result` (`collect`,
  * which materializes every output column). Outside those spans the
  * result is digested for the oracle check, Spark's listener bus is
  * drained (so a traced pass has every event of the query), the heap is
  * measured after a full GC, and `Checkpoints.releaseAll` drops the
  * query's cached blocks so queries stay independent.
  *
  * With `--trace 1` the timed passes alternate traced and untraced; a
  * traced pass registers [[Recorder]] and tags every job with the span
  * that issued it. A traced run does not measure the heap. The run record (JSON) is written to `--out`; all
  * metrics are computed from it by `run.py`.
  *
  * Usage: Runner --data DIR --queries q1,q2 --seed N --seconds S
  *   --trace 0|1 --cores N --warehouse DIR --launch-ms EPOCH_MS --out FILE
  */
object Runner {

  private final case class Conf(data: String, queries: Seq[String],
      seed: Long, seconds: Double, trace: Boolean, cores: Int,
      warehouse: String, launchMs: Double, out: String)

  /** Timed passes per run, at least. */
  private val MinTimedPasses = 2

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds at sub-millisecond resolution, on the same
    * clock as Spark's event times. */
  private def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** CPU ms of each of the process's threads, from /proc/self/task,
    * leaving out the JIT compiler threads: in a run this short, JIT
    * compilation is most of the process CPU and varies from run to run.
    * Every other thread counts: the query thread, task threads, Spark's
    * services and the JVM's GC threads. `utime + stime` is in clock
    * ticks of 10 ms (USER_HZ is 100 on Linux). */
  private def threadCpu(): Map[String, Long] = {
    val tids = Option(new File("/proc/self/task").list()).getOrElse(Array.empty[String])
    tids.flatMap { tid =>
      try {
        val stat = new String(Files.readAllBytes(Paths.get(s"/proc/self/task/$tid/stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        // fields 14 and 15 of stat(5); the split starts at field 3
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        if (comm.contains("CompilerThre")) None
        else Some(tid -> (f(11).toLong + f(12).toLong) * 10L)
      } catch { case _: java.io.IOException => None }
    }.toMap
  }

  private def cpuMsSince(before: Map[String, Long]): Double =
    threadCpu().map { case (tid, ms) => ms - before.getOrElse(tid, 0L) }.sum.toDouble

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = kv.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"missing --$k"))
    Conf(arg("data"), arg("queries").split(",").toSeq, arg("seed").toLong,
      arg("seconds").toDouble, arg("trace") == "1", arg("cores").toInt,
      arg("warehouse"), arg("launch-ms").toDouble, arg("out"))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spark = Tables.configure(SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${conf.cores}]")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", conf.warehouse)
      // Bound Spark's own job/stage/execution history so the post-GC heap
      // after a query reflects graft's state, not how many passes ran.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = nowMs()
    val run = new Run(spark, conf)
    val record = run.all()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(conf.out), json.writeValueAsBytes(record ++ Map(
      "launch_ms" -> conf.launchMs,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "cores" -> conf.cores,
      "oracle_sql" -> conf.queries.distinct.flatMap(q =>
        SparkEntry.oracleSql.get(q).map(q -> _)).toMap)))
    spark.stop()
  }

  private final class Run(spark: SparkSession, conf: Conf) {
    private val sc = spark.sparkContext
    private val fns = conf.queries.map(q => q -> SparkEntry.queries(q)).toMap
    private val recorder = new Recorder
    private val spans = ArrayBuffer.empty[Map[String, Any]]
    private val execs = ArrayBuffer.empty[Map[String, Any]]
    private val passes = ArrayBuffer.empty[Map[String, Any]]

    private def span(id: String, kind: String, parent: String,
        start: Double, end: Double): Unit =
      spans += Map("id" -> id, "kind" -> kind, "parent" -> parent,
        "start" -> start, "end" -> end)

    def all(): Map[String, Any] = {
      val runStart = nowMs()
      pass(0, timed = false, traced = false)
      val firstTimedMs = nowMs()
      val walls = ArrayBuffer.empty[Double]
      def median = walls.sorted.apply(walls.size / 2)
      while (walls.size < MinTimedPasses ||
          nowMs() - firstTimedMs + median / 2 < conf.seconds * 1000) {
        val index = walls.size + 1
        walls += pass(index, timed = true, traced = conf.trace && index % 2 == 1)
      }
      span("run", "run", null, runStart, nowMs())
      val trace =
        if (conf.trace) recorder.snapshot() + ("spans" -> spans.toSeq)
        else Map("spans" -> spans.toSeq)
      Map("first_timed_ms" -> firstTimedMs, "passes" -> passes.toSeq,
        "executions" -> execs.toSeq, "trace" -> trace)
    }

    /** One pass over the workload in this pass's seeded order; returns
      * the summed wall of its queries in ms. */
    private def pass(index: Int, timed: Boolean, traced: Boolean): Double = {
      val order = new Random(conf.seed * 1000003L + index).shuffle(conf.queries)
      if (traced) {
        sc.addSparkListener(recorder)
        spark.streams.addListener(recorder.streams)
      }
      val id = s"p$index"
      val start = nowMs()
      val wall = order.map(q => query(id, q, timed, traced)).sum
      val end = nowMs()
      if (traced) {
        spark.streams.removeListener(recorder.streams)
        sc.removeSparkListener(recorder)
      }
      span(id, "pass", "run", start, end)
      passes += Map("id" -> id, "index" -> index, "timed" -> timed,
        "traced" -> traced, "start" -> start, "end" -> end, "wall_ms" -> wall)
      wall
    }

    /** One query execution; returns its wall in ms. */
    private def query(passId: String, name: String, timed: Boolean,
        traced: Boolean): Double = {
      val id = s"$passId/$name"
      var df: DataFrame = null
      var rows: Array[Row] = null
      var error: Option[String] = None
      def phase(kind: String)(body: => Unit): Unit = if (error.isEmpty) {
        val tag = s"perfbench:$id/$kind"
        if (traced) sc.addJobTag(tag)
        val t0 = nowMs()
        try body
        catch { case NonFatal(e) => error = Some(describe(e)) }
        finally if (traced) sc.removeJobTag(tag)
        span(s"$id/$kind", kind, id, t0, nowMs())
      }
      val cpu0 = threadCpu()
      val start = nowMs()
      phase("build") { df = fns(name)(spark, conf.data) }
      phase("plan") { df.queryExecution.executedPlan }
      phase("result") { rows = df.collect() }
      val end = nowMs()
      val cpu = cpuMsSince(cpu0)
      span(id, "query", passId, start, end)
      // the benchmark's own work between queries, timed by step
      val digest = Option(rows).map(r => Digest.of(df.schema.fieldNames.toSeq, r))
      df = null
      rows = null
      val t1 = nowMs()
      BusDrain(sc)
      val t2 = nowMs()
      val heapMb = if (conf.trace) None else Some(retainedHeapMb())
      val t3 = nowMs()
      Checkpoints.releaseAll(spark)
      val between = Map("digest" -> (t1 - end), "drain" -> (t2 - t1),
        "heap" -> (t3 - t2), "release" -> (nowMs() - t3))
      execs += Map("pass" -> passId, "query" -> name, "timed" -> timed,
        "traced" -> traced, "start" -> start, "wall_ms" -> (end - start),
        "cpu_ms" -> cpu, "heap_mb" -> heapMb, "between_ms" -> between,
        "error" -> error,
        "columns" -> digest.map(_.columns), "rows" -> digest.map(_.rows),
        "digest" -> digest.map(_.all),
        "column_digests" -> digest.map(_.perColumn))
      end - start
    }
  }

  /** Used heap after a full GC. The first GC hands the query's dropped
    * broadcasts and shuffles to Spark's ContextCleaner; the second one,
    * after the cleaner has had time to run, frees what it released.
    * With one GC the reading after a query varied by 40 MB from run to
    * run. Skipped in traced runs, which do not report it, so that their
    * passes hold as little of the benchmark's own work as they can. */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = if (root eq e) e.toString else s"$e; caused by $root"
    msg.take(600)
  }
}
