package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Guards the job count of the two graph-iter loop queries on the
  * sf0.001 fixture: cuts carry measured statistics (small loop state
  * is broadcast when the plan is made, not after AQE has run each
  * join side as its own job), and every change signal of a
  * [[graft.graph.Superstep]] round comes from the round's cut, never
  * from a `count()` of its own. */
class LoopJobBudgetSpec extends SparkSpec {

  /** Jobs per warm execution (build + collect) as measured on this
    * fixture, plus 2 for the AQE stage-job jitter between runs. With
    * estimated cut statistics the two ran 56 and 42 jobs: every join
    * over loop state was planned as a sort-merge join, and AQE ran
    * each side's shuffle-map stage as its own job before switching
    * it to a broadcast. Now a round is 3 jobs: the broadcast, the
    * group-by's map stage, and the cut. */
  private val budget = Map("q14_pagerank" -> (29 + 2),
    "q15_connected_components" -> (23 + 2))

  private final class Recorder extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val executions = ArrayBuffer.empty[SparkListenerSQLExecutionStart]
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized(executions += s)
      case _ =>
    }
  }

  private def run(name: String): Recorder = {
    val rec = new Recorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      SparkEntry.queries(name)(spark, sfDir()).collect()
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(rec)
    Checkpoints.releaseAll(spark)
    rec
  }

  for ((name, maxJobs) <- budget) test(s"$name: at most $maxJobs jobs, no count() inside a loop round") {
    run(name) // warm-up: schema memo, first-plan effects
    val rec = run(name)
    info(s"${rec.jobs.get} jobs, ${rec.executions.size} SQL executions")
    assert(rec.jobs.get <= maxJobs, s"$name ran ${rec.jobs.get} jobs")
    val counts = rec.executions.filter(e =>
      e.description.startsWith("count at") && e.details.contains("graft.graph.Superstep"))
    assert(counts.map(_.description).isEmpty)
  }
}
