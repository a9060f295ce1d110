package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.internal.SQLConf
import graft.Checkpoints.Hashed

/** The one superstep kernel behind every iterative DataFrame loop in
  * graft — the Pregelix shape (one join plus one group-by per
  * round) with the loop discipline written once:
  *
  *  - every frame a round materializes goes through [[Round.cut]]
  *    (i.e. [[Checkpoints.cut]]), so plans stay flat at any depth;
  *  - a loop is one [[Checkpoints.scope]]: at the end of each round
  *    (round 0 included) it frees every cut made since the loop began
  *    that the new state does not read — superseded rounds, aliased
  *    seeds (a semi-naive frontier that starts as the visited set) and
  *    one-shot per-round intermediates alike — and when it returns,
  *    every one its result does not read. "Reads" is structural: a frame keeps alive the
  *    cuts its logical plan scans, so a projection or union view over
  *    cut frames keeps its parts;
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
  * Loops nest as scopes do: when a loop runs inside another loop's
  * round (SCC's color fixpoint inside its peel round, Borůvka's
  * relabel CC), the cuts its result reads pass to the enclosing loop,
  * which frees them once its state stops reading them.
  *
  * A keyed loop ([[loopOn]]) declares its partition key, as Pregelix
  * co-partitions vertex state with the edges by vertex id. Its
  * loop-invariant relation is cut once, hash-partitioned on its own
  * key column into `n` partitions ([[coPartition]]), and stays alive
  * for the whole loop; every frame a round cuts is hash-partitioned on
  * the state key into the same `n`. `n` is derived from the bytes the
  * invariant relation's own cut measured, by AQE's coalescing target
  * ([[partitions]]): 1 below 1 MB, then up to the default parallelism,
  * at most `spark.sql.shuffle.partitions`. The cuts report their
  * partitioning to the planner ([[Checkpoints]]), so a round that
  * joins the invariant relation with the state ([[buildSide]]), groups
  * on the key (and unions in the state itself) plans no Exchange: it
  * is at most 2 jobs, the state's broadcast and a one-stage cut, and 1
  * job when `n` is 1, where the state is hash-joined in place. State
  * too big to broadcast is shuffle-joined, as in any other plan.
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
    * cut every frame it materializes goes through — in a keyed loop
    * ([[loopOn]]), hash-partitioned on the loop's key. */
  final class Round private[Superstep] (val n: Int, keyed: Option[Hashed]) {
    def cut(df: DataFrame): DataFrame =
      keyed.fold(Checkpoints.cut(df))(Checkpoints.cut(df, _))

    /** [[cut]] that also returns how many of the cut rows match
      * `where`, counted by the cut's own job. */
    def cut(df: DataFrame, where: Column): (DataFrame, Long) =
      keyed.fold(Checkpoints.cut(df, where))(Checkpoints.cut(df, where, _))
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

  /** Partition count of a keyed loop over the cut `rel`: the count
    * AQE's shuffle-partition coalescing targets for a shuffle of the
    * bytes `rel`'s cut measured, so the loop runs no fewer tasks than an
    * unpartitioned round's coalesced group-by over it would. The target
    * partition size is AQE's: the advisory partition size, lowered to
    * bytes / (`coalescePartitions.minPartitionNum`, else the default
    * parallelism) when `coalescePartitions.parallelismFirst` is set
    * (Spark's default), and at least `coalescePartitions.minPartitionSize`
    * (1 MB by default). The count is at least 1 and at most
    * `spark.sql.shuffle.partitions`. */
  private def partitions(rel: DataFrame): Int = {
    val conf = rel.sparkSession.sessionState.conf
    val bytes = rel.queryExecution.analyzed.stats.sizeInBytes
    val spread =
      if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) 1
      else conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .getOrElse(rel.sparkSession.sparkContext.defaultParallelism)
    val target = ((bytes + spread - 1) / spread)
      .min(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      .max(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    ((bytes + target - 1) / target).max(1).min(conf.numShufflePartitions).toInt
  }

  /** `state`, a keyed loop's state cut, as the side a round joins to
    * the loop-invariant relation. When the state is one partition, so
    * is the relation ([[loopOn]] cuts both into the same count): a hash
    * join built from the state where it lies needs no exchange, so the
    * round runs as one job and one plan, with no broadcast job and no
    * AQE re-plan after it. With more partitions the join key (an edge's
    * source) is not the partition key, and the planner broadcasts small
    * state as in any other plan: the round is 2 jobs. */
  def buildSide(state: DataFrame, key: String): DataFrame =
    if (Checkpoints.partitionsOn(state, key).contains(1)) state.hint("shuffle_hash")
    else state

  /** `rel` cut hash-partitioned on its column `by`, to be the
    * loop-invariant relation of a [[loopOn]]. It is cut first as it
    * is (a cut `rel` is used as is), which measures its bytes, and then
    * placed ([[Checkpoints.place]]) into the partition count they give:
    * at one partition that cut is re-rooted in place when its rows
    * already lie in one, else it is cut again, partitioned, and the
    * first cut freed as it returns. A cut that already reports its
    * rows clustered on `by` ([[Checkpoints.partitionsOn]]) is returned
    * as is: a caller that reuses the relation after the loop cuts it
    * once, partitioned, where it builds it. */
  def coPartition(rel: DataFrame, by: String): DataFrame =
    if (Checkpoints.partitionsOn(rel, by).isDefined) rel
    else Checkpoints.scoped {
      val c = Checkpoints.cutOnce(rel)
      Checkpoints.place(c, Hashed(by, partitions(c)))
    }

  /** The loop. `init` builds the seed state in round 0 and reports its
    * change signal (0: nothing to do, no step runs); each step maps
    * the state to the next one plus the round's change count. Runs
    * until a change count of 0 or `maxRounds` steps. The loop is a
    * [[Checkpoints.scope]]: each round, round 0 included, ends by
    * freeing the cuts made in the loop that its state does not read,
    * and the loop ends by freeing those `result` does not read. */
  def loop[S, R](maxRounds: Int)(init: Round => (S, Long))(
      step: (S, Round) => (S, Long))(result: S => R): Run[R] =
    run(maxRounds, None)(init)(step)(result)

  /** A [[loop]] over state keyed by its column `key`, co-partitioned
    * with the loop-invariant relation `inv` on its column `by`: `inv`
    * is [[coPartition]]ed (a caller's co-partitioned cut is used as
    * is; a cut made here lives until the loop returns, freed then
    * unless the result reads it), and every frame a round cuts is
    * hash-partitioned on `key` into `inv`'s partition count. `step`
    * reads the co-partitioned `inv` as its first argument. */
  def loopOn[S, R](inv: DataFrame, by: String, key: String, maxRounds: Int)(
      init: Round => (S, Long))(step: (DataFrame, S, Round) => (S, Long))(
      result: S => R): Run[R] = Checkpoints.scoped {
    val e = coPartition(inv, by)
    val n = Checkpoints.partitionsOn(e, by).getOrElse(partitions(e))
    run(maxRounds, Some(Hashed(key, n)))(init)((s, r) => step(e, s, r))(result)
  }

  /** [[loop]], its rounds cutting as `keyed`. */
  private def run[S, R](maxRounds: Int, keyed: Option[Hashed])(
      init: Round => (S, Long))(step: (S, Round) => (S, Long))(result: S => R): Run[R] =
    Checkpoints.scope { scope =>
      var (state, changed) = init(new Round(0, keyed))
      scope.retain(state)
      var rounds = 0
      while (changed != 0 && rounds < maxRounds) {
        rounds += 1
        val (next, c) = step(state, new Round(rounds, keyed))
        scope.retain(next)
        state = next
        changed = c
      }
      Run(result(state), rounds, changed == 0)
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
