package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, TradeGraph}

/** The keyed loop ([[Superstep.loopOn]]) on the sf0.001 trade graph,
  * with AQE on as in every session: its cuts report their
  * partitioning, a PageRank or min-label round plans no shuffle — one
  * partition hash-joins the state in place, more partitions broadcast
  * it — and the loop queries give the same rows at any partition
  * count. */
class KeyedLoopSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** The plan `df` ran, AQE's query stages included. */
  private def ran(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  /** Runs one round of a keyed loop over `inv` and checks its shape:
    * `inv` and both state cuts report their rows clustered into `n`
    * partitions on their keys, and the round frame runs with no
    * shuffle, joining the state by a hash join built in place at one
    * partition and by a broadcast at more. */
  private def oneRound(inv: DataFrame, by: String, seed: DataFrame, n: Int)(
      round: (DataFrame, DataFrame) => DataFrame): Unit = {
    val run = Superstep.loopOn(inv, by, "node", 1) { r =>
      (r.cut(seed), Superstep.Unmeasured)
    } { (e, state, r) =>
      assert(Checkpoints.partitionsOn(e, by) == Some(n))
      assert(Checkpoints.partitionsOn(state, "node") == Some(n))
      val frame = round(e, state)
      val plan = ran(frame)
      assert(collect(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
        s"the round shuffled:\n$plan")
      val joins = collect(plan) {
        case _: ShuffledHashJoinExec => "shuffled hash"
        case _: BroadcastHashJoinExec => "broadcast"
      }
      assert(joins == Seq(if (n == 1) "shuffled hash" else "broadcast"), plan)
      (r.cut(frame), Superstep.Unmeasured)
    }(identity)
    assert(run.rounds == 1)
    assert(Checkpoints.partitionsOn(run.out, "node") == Some(n))
    Checkpoints.release(run.out)
  }

  // the trade graph's relations are a few KB: one partition at the
  // default minimum partition size (1 MB), the default parallelism (4)
  // at 64 B
  for ((minSize, n) <- Seq("1MB" -> 1, "64b" -> 4)) {
    test(s"a PageRank round over hashed cuts plans no shuffle (n = $n)") {
      withConf(MinPartitionSize, minSize) {
        val t = Tables(spark, sfDir())
        val nodes = TradeGraph.nodes(t).select("node")
        val edges = TradeGraph.edges(t).select("src", "dst")
        oneRound(Algorithms.inEdges(nodes, edges, count(lit(1))), "node",
            nodes.select(col("node"), lit(1.0).as("r")), n) { (in, ranks) =>
          Algorithms.dampedRound(in, ranks, col("r") / col("od"), lit(0.15))
        }
      }
    }

    test(s"a min-label round over hashed cuts plans no shuffle (n = $n)") {
      withConf(MinPartitionSize, minSize) {
        val t = Tables(spark, sfDir())
        val nodes = TradeGraph.nodes(t).select("node")
        oneRound(TradeGraph.undirectedEdges(t), "dst",
            nodes.select(col("node"), col("node").as("component"),
              col("node").as("pc")), n) { (e, comp) =>
          Algorithms.minLabelsRound(e, comp, "spec")
        }
      }
    }
  }

  test("q14, q15, q16 and q109 give identical rows at 1 and 7 shuffle partitions, " +
      "and at 1 and 4 loop partitions") {
    val names = Seq("q14_pagerank", "q15_connected_components", "q16_scc",
      "q109_personalized_pagerank")
    def rows: Map[String, Seq[Row]] = names.map { q =>
      val out = SparkEntry.queries(q)(spark, sfDir()).collect().toSeq
      Checkpoints.releaseAll(spark)
      q -> out
    }.toMap
    val one = withConf("spark.sql.shuffle.partitions", "1")(rows)
    val seven = withConf("spark.sql.shuffle.partitions", "7")(rows)
    val fourLoop = withConf(MinPartitionSize, "64b")(rows)
    names.foreach { q =>
      assert(one(q).nonEmpty, q)
      assert(seven(q) == one(q), s"$q differs between 1 and 7 shuffle partitions")
      assert(fourLoop(q) == one(q), s"$q differs between 1 and 4 loop partitions")
    }
  }
}
