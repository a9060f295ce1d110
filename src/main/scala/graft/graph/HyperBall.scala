package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperBall — approximate reachable-set sizes for EVERY node at
  * once, the 100 TB companion to the exact transitive closure
  * (q12): the closure's output is O(V²) pairs by definition, while
  * HyperBall keeps one fixed-size HyperLogLog sketch per node
  * (m = 64 registers here) and max-merges sketches along edges to a
  * fixpoint — O(V·m) state, diameter iterations, no pair set ever
  * materialized. (Boldi & Vigna's HyperBall/HyperANF, the published
  * technique behind the Facebook four-degrees measurement.)
  *
  * Register updates use only built-in codegen'd functions: the
  * sketch travels as `array<int>`; the per-iteration merge is
  * posexplode → (node, register-index) max-agg → array reassembly —
  * a 64×-row constant inflation that shuffles on (node, i), linear
  * in V at any scale. Register init derives from md5(node), so runs
  * are deterministic and the agreement spec against the exact
  * closure is stable.
  *
  * Spec-only by design: the operator is an ESTIMATOR (the oracle'd
  * exact answer is q12); the spec pins determinism and relative
  * error against the exact counts on the trade graph — the standard
  * error for m = 64 is 1.04/√64 ≈ 13%.
  */
object HyperBall {

  val P = 6
  val M: Int = 1 << P // 64 registers
  /** Standard HLL bias constant for m = 64. */
  val Alpha = 0.709

  /** Initial sketch: one register set per node from md5(node) —
    * bucket = first 6 hash bits, rank = leading-zero count of the
    * next 60 bits + 1 (computed on the hex string: 4 bits per zero
    * digit plus the first nonzero digit's own leading zeros). */
  private def initRegs(node: Column): Column = {
    val h = md5(node.cast("string"))
    val bucket = (conv(substring(h, 1, 2), 16, 10).cast("int") % M)
    val tail = substring(h, 3, 15) // 60 bits
    val zeroDigits = length(regexp_extract(tail, "^(0*)", 1))
    val firstNz = substring(regexp_replace(tail, "^0*", ""), 1, 1)
    val extra = when(firstNz === "1", 3)
      .when(firstNz.isin("2", "3"), 2)
      .when(firstNz.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    val rank = (zeroDigits * 4 + extra + 1).cast("int")
    // HOFs run interpreted, but init is one pass over V rows and the
    // hot per-iteration merge path uses only posexplode + hash agg
    transform(sequence(lit(0), lit(M - 1)),
      i => when(i === bucket, rank).otherwise(lit(0)))
  }

  /** (node, regs) → (node, regs) after max-merging successors'
    * sketches to a fixpoint. `edges` is (src, dst) directed. */
  def propagate(nodes: DataFrame, edges: DataFrame): DataFrame =
    Superstep.iterate(nodes.select(col("node"), initRegs(col("node")).as("regs")),
      Int.MaxValue)((sketches, _) => merged(edges, sketches))(regsChanged).out

  /** One HyperBall round: every node's registers max-merged with its
    * successors' — successor sketches flow BACKWARD along v→u (v's
    * ball absorbs u's), exploded to (node, i, r) so the max is a plain
    * hash agg. */
  private def merged(edges: DataFrame, sketches: DataFrame): DataFrame = {
    val fromSucc = edges
      .join(sketches.select(col("node").as("dst"), col("regs")), Seq("dst"))
      .select(col("src").as("node"), posexplode(col("regs")).as(Seq("i", "r")))
    val own = sketches
      .select(col("node"), posexplode(col("regs")).as(Seq("i", "r")))
    own.unionByName(fromSucc)
      .groupBy("node", "i").agg(max(col("r")).as("r"))
      .groupBy("node")
      .agg(array_sort(collect_list(struct(col("i"), col("r")))).as("p"))
      .select(col("node"), expr("transform(p, q -> q.r)").as("regs"))
  }

  /** Change signal of a sketch round: nodes whose registers moved. */
  private def regsChanged(prev: DataFrame, next: DataFrame): Long =
    next
      .join(prev.select(col("node").as("pn"), col("regs").as("pr")),
        col("node") === col("pn"))
      .filter(col("regs") =!= col("pr")).count()

  /** HLL estimate from a register array, with the standard
    * small-range linear-counting correction — the codegen'd
    * [[graft.functions.HllEstimate]] single-loop expression
    * (evaluated per node per radius in [[harmonicEstimates]]; the HOF
    * formulation below is its spec-pinned reference). */
  def estimate(regs: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.HllEstimate(
        org.apache.spark.sql.graft.ColumnBridge.expression(regs), Alpha))

  /** The original HOF formulation of [[estimate]] — interpreted
    * (CodegenFallback) but definitionally transparent; the
    * equivalence spec pins the codegen expression to it. */
  private[graft] def estimateHof(regs: Column): Column = {
    val raw = lit(Alpha * M * M) /
      aggregate(regs, lit(0.0d), (acc, r) => acc + pow(lit(2.0), -r.cast("double")))
    val zeros = size(filter(regs, r => r === 0))
    when(raw <= lit(2.5 * M) && zeros > 0,
      lit(M.toDouble) * log(lit(M.toDouble) / zeros.cast("double")))
      .otherwise(raw)
  }

  /** (node, est_reach): estimated size of each node's forward
    * reachable set, self included. */
  def reachEstimates(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val s = propagate(nodes, edges)
    s.select(col("node"), round(estimate(col("regs")), 3).as("est_reach"))
      .orderBy("node")
  }

  /** (node, est_harmonic): HyperBall's headline application —
    * harmonic centrality estimated from the per-radius ball sizes,
    * h(v) ≈ Σ_t (|B(v,t)| − |B(v,t−1)|)/t, the O(V·m)-state scale
    * path for [[Centrality.q71HarmonicCentrality]]'s all-pairs exact
    * form (Boldi & Vigna's original use case). Same per-iteration
    * merge as [[propagate]], plus one estimate + accumulate
    * projection per radius; the accumulator rides in the same frame
    * as the sketch so each radius is one checkpointed pass. */
  def harmonicEstimates(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val state = Superstep.iterate(nodes
        .select(col("node"), initRegs(col("node")).as("regs"))
        .withColumn("est", estimate(col("regs")))
        .withColumn("harm", lit(0.0)), Int.MaxValue) { (state, t) =>
      state.select(col("node"), col("est"), col("harm"))
        .join(merged(edges, state), Seq("node"))
        .withColumn("nest", estimate(col("regs")))
        .select(col("node"), col("regs"), col("nest").as("est"),
          (col("harm") + greatest(col("nest") - col("est"), lit(0.0)) / t.toLong)
            .as("harm"))
    }(regsChanged).out
    state.select(col("node"), round(col("harm"), 3).as("est_harmonic"))
      .orderBy("node")
  }
}
