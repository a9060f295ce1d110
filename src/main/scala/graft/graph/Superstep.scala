package graft.graph

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import graft.Checkpoints

/** The one superstep kernel behind every iterative DataFrame loop in
  * `graft.graph` — the Pregelix shape (one join plus one group-by per
  * round) with the loop discipline written once:
  *
  *  - every frame a round materializes goes through [[Round.cut]]
  *    (i.e. [[Checkpoints.cut]]), so plans stay flat at any depth;
  *  - at the end of each round, every frame the loop cut that the new
  *    state no longer reads is released — superseded rounds, aliased
  *    seeds (a semi-naive frontier that starts as the visited set) and
  *    one-shot per-round intermediates alike. "Reads" is structural:
  *    a frame keeps alive exactly the cut roots its logical plan scans,
  *    so a projection or union view over cut frames keeps its parts;
  *  - the round counter, and the stop rule: a change count of 0 or the
  *    caller's round budget;
  *  - the capped union-view accumulator ([[UnionView]]).
  *
  * An algorithm supplies only its step (the joins and aggregations of
  * one round) and its change signal. The kernel issues no Spark action
  * of its own: cuts are the caller's cuts. A change signal that counts
  * the rows of a cut, or the rows of a cut matching a predicate on its
  * own columns, reads the count the cut's job observed
  * ([[Checkpoints.rowCount]], [[Round.cut]] with a `where`) instead of
  * running a `count()`.
  *
  * Loops nest: when a loop runs inside another loop's round (SCC's
  * color fixpoint inside its peel round, Borůvka's relabel CC), the
  * frames it hands back become the enclosing round's, freed once the
  * enclosing state stops reading them.
  */
private[graft] object Superstep {

  /** Change signal of a step that measures none: only the round
    * budget stops the loop. */
  val Unmeasured: Long = -1L

  /** Change function of a fixed-budget [[iterate]]. */
  val budgetOnly: (DataFrame, DataFrame) => Long = (_, _) => Unmeasured

  /** Cap on how many parts a [[UnionView]] holds before it is re-cut
    * into one frame. The views exist so a loop does not re-checkpoint
    * its whole accumulated set every round; unbounded, the logical
    * plan grows linearly in round count and an anti-join against the
    * view re-scans every part — O(depth²) on 10⁴-hop-class graphs. At
    * width 32 the re-cut amortizes to one extra materialization per
    * 32 rounds while plan size stays O(1). */
  val UnionViewMaxWidth = 32

  /** One round of a loop: its number (0 builds the seed state) and the
    * cut every frame it materializes goes through. */
  final class Round private[Superstep] (val n: Int) {
    private[Superstep] val cuts = ArrayBuffer.empty[DataFrame]

    def cut(df: DataFrame): DataFrame = {
      val c = Checkpoints.cut(df)
      cuts += c
      c
    }

    /** [[cut]] that also returns how many of the cut rows match
      * `where`, counted by the cut's own job. */
    def cut(df: DataFrame, where: Column): (DataFrame, Long) = {
      val (c, n) = Checkpoints.cut(df, where)
      cuts += c
      (c, n)
    }
  }

  /** An accumulator kept as a union VIEW over its parts (cut frames or
    * projections of them), re-cut into one part once it holds
    * [[UnionViewMaxWidth]] parts so per-round plan size stays O(1). */
  final case class UnionView(parts: Vector[DataFrame]) {
    def isEmpty: Boolean = parts.isEmpty

    def view: DataFrame = parts.reduce(_.unionByName(_))

    def add(part: DataFrame, r: Round): UnionView =
      if (parts.length + 1 < UnionViewMaxWidth) UnionView(parts :+ part)
      else UnionView(Vector(r.cut(UnionView(parts :+ part).view)))
  }

  object UnionView {
    val empty: UnionView = UnionView(Vector.empty)
  }

  /** What a loop hands back: its result, the number of steps run, and
    * whether it stopped on a change count of 0 (not on the budget). */
  final case class Run[R](out: R, rounds: Int, converged: Boolean)

  private val enclosing = new DynamicVariable[Option[Round]](None)

  /** RDD ids of the cut roots `state` reads: every LogicalRDD leaf of
    * every Dataset inside it (tuples, case classes, collections). */
  private def reads(state: Any): Set[Int] = state match {
    case df: Dataset[_] =>
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    case xs: Iterable[_] => xs.iterator.flatMap(reads).toSet
    case p: Product => p.productIterator.flatMap(reads).toSet
    case _ => Set.empty
  }

  private def rddId(cut: DataFrame): Int = cut.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.id
    case _ => -1
  }

  /** The loop. `init` builds the seed state in round 0 and reports its
    * change signal (0: nothing to do, no step runs); each step maps
    * the state to the next one plus the round's change count. Runs
    * until a change count of 0 or `maxRounds` steps, then releases
    * every frame the loop cut that `result` does not read. */
  def loop[S, R](maxRounds: Int)(init: Round => (S, Long))(
      step: (S, Round) => (S, Long))(result: S => R): Run[R] = {
    var owned = Vector.empty[DataFrame]
    def inRound[T](r: Round)(body: => T): T = {
      val out = enclosing.withValue(Some(r))(body)
      owned ++= r.cuts
      out
    }
    def retain(live: Any): Unit = {
      val ids = reads(live)
      val (keep, dead) = owned.partition(c => ids.contains(rddId(c)))
      Checkpoints.release(dead: _*)
      owned = keep
    }
    val r0 = new Round(0)
    var (state, changed) = inRound(r0)(init(r0))
    var rounds = 0
    while (changed != 0 && rounds < maxRounds) {
      rounds += 1
      val r = new Round(rounds)
      val (next, c) = inRound(r)(step(state, r))
      retain(next)
      state = next
      changed = c
    }
    val out = result(state)
    retain(out)
    enclosing.value.foreach(_.cuts ++= owned)
    Run(out, rounds, changed == 0)
  }

  /** Single-frame loop: the seed is cut, each step's frame is cut and
    * replaces the previous one, `changes(prev, next)` is the signal. */
  def iterate(init: DataFrame, maxRounds: Int)(step: (DataFrame, Int) => DataFrame)(
      changes: (DataFrame, DataFrame) => Long): Run[DataFrame] =
    loop(maxRounds)(r => (r.cut(init), Unmeasured)) { (prev, r) =>
      val next = r.cut(step(prev, r.n))
      (next, changes(prev, next))
    }(identity)

  /** Semi-naive evaluation: each round `expand(frontier, visited,
    * round)` yields the newly discovered rows, which are counted and,
    * when there are any, merged into the visited set. Stops when a
    * round discovers nothing or after `maxRounds`; returns the visited
    * set. The seed is both the first frontier and the first visited
    * set. */
  def semiNaive(seed: DataFrame, maxRounds: Int)(
      expand: (DataFrame, DataFrame, Int) => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame =
    loop(maxRounds) { r =>
      val s = r.cut(seed)
      ((s, s), Unmeasured)
    } { case ((frontier, visited), r) =>
      val next = r.cut(expand(frontier, visited, r.n))
      val n = Checkpoints.rowCount(next)
      if (n > 0) ((next, r.cut(merge(visited, next))), n)
      else ((visited, visited), 0L)
    }(_._2).out
}
