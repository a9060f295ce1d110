package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.graph.Superstep

/** The superstep kernel's own contract, on small in-memory graphs:
  * superseded rounds (and the aliased seed of a semi-naive loop) are
  * freed, the union view stays within its width cap, and the round
  * count is the number of steps run. */
class SuperstepSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cutLeaves(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }

  // path 0 → 1 → … → 9
  private def path = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")

  test("after the loop only the live state's blocks remain persisted") {
    val edges = path
    val before = persisted
    val visited = Superstep.semiNaive(Seq(0L).toDF("node"), Int.MaxValue) {
      (frontier, visited, _) =>
        frontier.join(edges, frontier("node") === edges("src"))
          .select(col("dst").as("node"))
          .join(visited, Seq("node"), "left_anti")
    }(_.union(_))
    // 9 discovering rounds + 1 empty one, two cuts per discovering
    // round: every frontier, every superseded visited set, the empty
    // last frontier and the seed that aliased both are gone
    assert(persisted -- before == cutLeaves(visited).toSet)
    assert(cutLeaves(visited).size == 1)
    assert(visited.as[Long].collect().sorted.toSeq == (0L to 9L))

    val before2 = persisted
    val ranks = Superstep.iterate(Seq(1L, 2L, 3L).toDF("node")
        .withColumn("r", lit(1.0)), 6) { (prev, _) =>
      prev.select(col("node"), (col("r") / 2).as("r"))
    }(Superstep.budgetOnly).out
    assert(persisted -- before2 == cutLeaves(ranks).toSet)
    assert(ranks.agg(max("r")).first().getDouble(0) == 1.0 / 64)
    Checkpoints.release(visited, ranks)
  }

  test("a nested loop's frames are freed with the enclosing round") {
    val before = persisted
    val out = Superstep.loop(3) { r =>
      (r.cut(Seq(0L).toDF("x")), Superstep.Unmeasured)
    } { (prev, r) =>
      val inner = Superstep.iterate(prev, 2)((s, _) => s.select((col("x") + 1).as("x")))(
        Superstep.budgetOnly).out
      (r.cut(inner.select((col("x") * 10).as("x"))), Superstep.Unmeasured)
    }(identity).out
    assert(out.as[Long].collect().toSeq == Seq(2220L))
    assert(persisted -- before == cutLeaves(out).toSet)
    Checkpoints.release(out)
  }

  test("a union view fed more than 32 parts is re-cut to at most 32 leaves") {
    val parts = 40
    val before = persisted
    val view = Superstep.loop(parts) { _ =>
      (Superstep.UnionView.empty, Superstep.Unmeasured)
    } { (acc, r) =>
      (acc.add(r.cut(spark.range(1).select(lit(r.n.toLong).as("n"))), r),
        Superstep.Unmeasured)
    }(_.view).out
    val leaves = cutLeaves(view)
    // parts 1..32 were merged into one cut; parts 33..40 ride beside it
    assert(leaves.size == 1 + parts - Superstep.UnionViewMaxWidth)
    assert(view.as[Long].collect().sorted.toSeq == (1L to parts.toLong))
    // re-cut parts are released; only what the view reads survives
    assert(persisted -- before == leaves.toSet)
    Checkpoints.releaseAll(spark)
  }

  test("the returned round count is the number of steps run") {
    var steps = 0
    val budget = Superstep.iterate(Seq(1L).toDF("x"), 5) { (s, _) =>
      steps += 1
      s
    }(Superstep.budgetOnly)
    assert(budget.rounds == 5 && steps == 5 && !budget.converged)

    steps = 0
    // halves x until it reaches 0: 8 → 4 → 2 → 1 → 0, then stops on
    // a change count of 0
    val fix = Superstep.iterate(Seq(8L).toDF("x"), 100) { (s, _) =>
      steps += 1
      s.select((col("x") / 2).cast("long").as("x"))
    }((_, next) => next.filter(col("x") > 0).count())
    assert(fix.rounds == 4 && steps == 4 && fix.converged)
    assert(fix.out.as[Long].collect().toSeq == Seq(0L))

    steps = 0
    // a seed that reports no work runs no step at all
    val none = Superstep.loop(10)(r => (r.cut(Seq(1L).toDF("x")), 0L)) { (s, _) =>
      steps += 1
      (s, 1L)
    }(identity)
    assert(none.rounds == 0 && steps == 0 && none.converged)
    Checkpoints.releaseAll(spark)
  }
}
