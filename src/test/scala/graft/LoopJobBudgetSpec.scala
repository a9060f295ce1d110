package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Guards the job count of the graph loop queries and of q231's
  * guarded entity resolution on the sf0.001 fixture: cuts carry
  * measured statistics (small loop state is broadcast when the plan is
  * made, not after AQE has run each join side as its own job), a keyed
  * loop's cuts report their partitioning (a PageRank or min-label
  * round plans no Exchange and, over one partition, no broadcast
  * either), and every change signal of a
  * [[graft.Superstep]] round comes from the round's cut, never from a
  * `count()` of its own. */
class LoopJobBudgetSpec extends SparkSpec {

  /** Jobs per warm execution (build + collect) as measured on this
    * fixture, plus 2 for the AQE stage-job jitter between runs. A
    * PageRank or min-label round over one partition is 1 job, the cut
    * (over more partitions it is 2: the broadcast of the state and a
    * one-stage cut). q14 and q109 each run 8 jobs before the loop (the
    * in-edge cut over the uncut trade-edge derivation, one job per AQE
    * stage), 1 for the seed, 1 per round for 5 rounds and 1 for the
    * ordered collect; q15 runs 7 before its 4 rounds. q16 runs the
    * min-label loop inside each of SCC's peel rounds. With the trade
    * edges cut on their own before the in-edge cut, q14 and q109 ran
    * 17 jobs each. With an unpartitioned state a round was 3 jobs (the
    * broadcast, the group-by's map stage and the cut), and q14, q15,
    * q16 and q109 ran 29, 23, 73 and 29 jobs. q231 ran 30 jobs while
    * its refinement loop counted the active set with a `count()` job
    * per round. */
  private val budget = Map("q14_pagerank" -> (15 + 2),
    "q15_connected_components" -> (13 + 2),
    "q16_scc" -> (57 + 2),
    "q109_personalized_pagerank" -> (15 + 2),
    "q231_entity_resolution_guarded" -> (26 + 2))

  /** Queries that run no `count()` anywhere: q231's refinement rounds
    * take their active count from the round's cut. */
  private val countFree = Set("q231_entity_resolution_guarded")

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

  // the budget is in the assertion message, not the test name, so a
  // budget change keeps the test's id
  for ((name, maxJobs) <- budget) test(s"$name: job budget, no count()") {
    run(name) // warm-up: schema memo, first-plan effects
    val rec = run(name)
    info(s"${rec.jobs.get} jobs, ${rec.executions.size} SQL executions")
    assert(rec.jobs.get <= maxJobs, s"$name ran ${rec.jobs.get} jobs, budget $maxJobs")
    val counts = rec.executions.filter(e => e.description.startsWith("count at") &&
      (countFree(name) || e.details.contains("graft.Superstep")))
    assert(counts.map(_.description).isEmpty)
  }
}
