package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.chaining._
import graft.{Checkpoints, Superstep, Tables}

/** Connected components by alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce
  * and Beyond", SoCC 2014) — the round-bounded scale path for A5.
  *
  * [[Algorithms.connectedComponents]] propagates min labels one hop
  * per round, so its round count is the graph DIAMETER — on a 100 TB
  * chain-shaped graph (bot chains, vendored-fork ladders in the
  * reference's dependency graph — reference analytics surface:
  * documentation/queries.md connected-components section) that is the
  * scale killer: rounds × (join + agg) shuffles with no bound. Star
  * contraction instead rewires edges toward local minima; the paper
  * proves O(log² n) rounds with O(log n) observed in practice,
  * INDEPENDENT of diameter (StarContractionSpec pins rounds ≤ 10 on a
  * 256-node path whose label-propagation diameter is 255).
  *
  * Per round: large-star hangs every larger neighbor of each node
  * onto that node's neighborhood minimum; small-star re-hangs each
  * node's SMALLER neighbors (and the node itself) onto the minimum.
  * Both are one partial-agg (`groupBy(min)`) plus one broadcast-free
  * equi-join over the current edge set — map-side combinable, no
  * driver state, no collect. The fixpoint is a star forest whose
  * root is each component's minimum node id, i.e. exactly the label
  * convention of [[Algorithms.connectedComponents]] and the q15
  * recursive-CTE oracle (min reachable id).
  *
  * Convergence detection is an exact set comparison (carried counts
  * plus one distinct-union probe) — no checksum shortcut that could
  * mask a non-converged edge set. Each round is one [[Superstep]]
  * round, like every other iterative algorithm here.
  */
object StarContraction {

  /** Large-star: for every node u with neighborhood N(u), attach each
    * v ∈ N(u) with v > u to m = min(N(u) ∪ {u}). Every edge is
    * processed from its smaller endpoint; self-loops drop. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val adj = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val mn = adj.groupBy("u")
      .agg(min(col("v")).as("nmin"))
      .select(col("u").as("cu"), least(col("nmin"), col("u")).as("m"))
    adj.join(mn, col("u") === col("cu"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: orient every edge toward its smaller endpoint, then
    * for each center u attach u and all its (smaller) neighbors to
    * m = min(N(u)). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val adj = edges
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val mn = adj.groupBy("u").agg(min(col("v")).as("m"))
    adj.join(mn, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mn.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Exact edge-set equality of two DISTINCT edge relations, given
    * their (already-known) counts: equal counts plus |a ∪ b| == |a|
    * ⟺ equal sets. One distinct-union job over two cached
    * (checkpointed) inputs, replacing the previous two LIMIT-1
    * anti-join probes (every convergence probe here is a full driver
    * round trip, and the iterative loops' job count — not
    * their data — is the suite wall; still an EXACT set comparison,
    * no checksum shortcut that could mask a non-converged edge set). */
  private def sameEdgeSet(a: DataFrame, na: Long, b: DataFrame,
      nb: Long): Boolean =
    na == nb && a.unionByName(b).distinct().count() == na

  /** (node, component) for every node in `nodes` (isolated nodes keep
    * their own id), plus the round count for specs and scale curves.
    * `edges` is undirected input as (u, v) in either orientation. */
  def componentsWithRounds(nodes: DataFrame,
      edges: DataFrame): (DataFrame, Int) = {
    var ne = 0L
    val stars = Superstep.loop(Int.MaxValue) { r =>
      val e = r.cut(edges.select(col("u"), col("v"))
        .filter(col("u") =!= col("v")).distinct())
      ne = Checkpoints.rowCount(e)
      (e, ne)
    } { (e, r) =>
      val next = r.cut(smallStar(largeStar(e)))
      val nn = Checkpoints.rowCount(next)
      val same = sameEdgeSet(next, nn, e, ne)
      ne = nn
      (next, if (same) 0L else 1L)
    }(identity)
    // Fixpoint edges form stars (child -> component-min root); roots
    // and isolated nodes label themselves.
    val roots = stars.out.select(col("u").as("child"), col("v").as("root"))
    val comp = nodes.select(col("node"))
      .join(roots, col("node") === col("child"), "left")
      .select(col("node"),
        coalesce(col("root"), col("node")).as("component"))
    (comp, stars.rounds)
  }

  def components(nodes: DataFrame, edges: DataFrame): DataFrame =
    componentsWithRounds(nodes, edges)._1

  /** STRUCTURE-ROUTED connected components — the 100 TB default.
    *
    * BENCH_SCALING Part 15 measured the regime split: min-label
    * propagation ([[Algorithms.connectedComponents]]) costs one
    * join+agg round per hop of graph DIAMETER (wall-time LINEAR in
    * diameter on paths: 19.4 → 196.9 s for n = 64 → 1024), while star
    * contraction lands in O(log n) rounds regardless (n = 262,144 path
    * in 19 rounds) but pays two contractions per round on graphs
    * min-label would finish in a handful of sweeps. Neither is the
    * right unconditional default; the DIAMETER decides, and diameter
    * is exactly what a bounded probe measures.
    *
    * Routing: run min-label for up to `probeRounds` rounds (the
    * bounded-round diameter sample, measure then choose). If it
    * converges, the graph was shallow and the answer is already in
    * hand: zero wasted work. If not, the diameter exceeds the probe;
    * CONTRACT the graph by the probe labels (each label class is a
    * verified connected set, so the quotient
    * preserves components and is smaller by every ≤probeRounds-radius
    * neighborhood) and finish with star contraction on the quotient —
    * the probe work is banked, not thrown away. Labels compose as
    * star-root ∘ probe-label; both stages label by minimum member id,
    * and a component's true min survives as its own probe label (min
    * of its neighborhood is itself), so the composed label equals
    * both engines' convention — spec-pinned against each on its home
    * turf, and property-pinned on random multigraphs at a probe depth
    * that forces the quotient path mid-propagation.
    *
    * `probeRounds = 0` skips the probe: pure star contraction.
    *
    * The probe round is [[Algorithms.connectedComponents]]' own
    * min-label round ([[Algorithms.minLabels]]): one equi-join + one
    * partial agg per round with no Exchange, its change count observed
    * by the round's cut. The symmetric edge set is cut once, partitioned
    * by `dst` as that round reads it.
    * Precondition (load-bearing for the domain too, and enforced
    * loudly by that round): edge endpoints ⊆ `nodes` — every caller
    * derives `nodes` from the edge endpoints or filters both from one
    * keyspace. */
  def ccAuto(nodes: DataFrame, edges: DataFrame,
      probeRounds: Int = 8): DataFrame = Checkpoints.scoped {
    require(probeRounds >= 0, s"probeRounds $probeRounds must be >= 0")
    val und = edges.select(col("u"), col("v"))
      .filter(col("u") =!= col("v"))
      .select(col("u").as("src"), col("v").as("dst"))
      .union(edges.select(col("v").as("src"), col("u").as("dst"))
        .filter(col("src") =!= col("dst")))
      .distinct()
      .pipe(Superstep.coPartition(_, "dst"))
    val probe = Algorithms.minLabels(nodes, und, probeRounds, "ccAuto")
    val comp = probe.out.select("node", "component")
    if (probe.converged) comp
    else {
      // diameter exceeds the probe: contract by probe labels, star the
      // quotient, compose. Quotient nodes = surviving labels.
      val lu = comp.select(col("node").as("src"), col("component").as("qu"))
      val lv = comp.select(col("node").as("dst"), col("component").as("qv"))
      val qEdges = und.join(lu, "src").join(lv, "dst")
        .filter(col("qu") =!= col("qv"))
        .select(col("qu").as("u"), col("qv").as("v")).distinct()
      val qNodes = comp.select(col("component").as("node")).distinct()
      val qComp = components(qNodes, qEdges)
        .select(col("node").as("qn"), col("component").as("root"))
      comp.join(qComp, col("component") === col("qn"))
        .select(col("node"), col("root").as("component"))
    }
  }

  // ---------------------------------------------------------------- q233
  /** Partkey prefix bounding the oracle's transitive closure (the
    * DuckDB mirror materializes node×peer reach pairs — quadratic in
    * component size, so the oracle graph must stay a few thousand
    * nodes; the Spark path has no such bound). */
  val CcCap = 2000

  /** q233: connected components of the co-purchase subgraph on parts
    * with partkey < [[CcCap]], labeled by star contraction. Same
    * label convention as q15 (component = min node id) on a graph two
    * orders of magnitude larger than q15's 25-node trade graph. */
  def q233CcStarContraction(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val e = CoPurchase.edges(t, Some(CcCap.toLong))
      .select(col("src").as("u"), col("dst").as("v"))
    val n = t.part.filter(col("p_partkey") < CcCap)
      .select(col("p_partkey").cast("long").as("node"))
    components(n, e).orderBy("node")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q233_cc_star_contraction" -> (q233CcStarContraction _),
  )

  /** Round bound for the oracle's min-label propagation. A label
    * floods one hop per round, so rounds must cover the largest
    * component's eccentricity from its min node — measured 2/2/5 at
    * the three shipped SFs (dense co-purchase graphs have tiny
    * diameters); 16 is 3× headroom. An insufficient bound cannot
    * pass silently: the oracle would disagree with the Spark answer
    * and the hash compare goes red. */
  val CcOracleRounds = 16

  val oracleSql: Map[String, String] = Map(
    // MATERIALIZED: without the hint DuckDB may inline `und` (and its
    // whole pair-join ancestry) into every iteration of the recursion
    // — the q231/q232 oracle pathology.
    //
    // The recursion is FIXED-ROUND MIN-LABEL PROPAGATION (full state
    // per round, aggregated in the recursive term), NOT a node×peer
    // transitive closure: reach pairs are quadratic in component size
    // and cost 57.5 s of the 109 s sf0.01 oracle pass (an oracle pass
    // over its time budget yields no correctness result at all);
    // per-round state is V rows × [[CcOracleRounds]] rounds, measured
    // 67.9 s → 0.29 s at sf0.01 with identical output at all 3 SFs.
    "q233_cc_star_contraction" ->
      s"""WITH RECURSIVE li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
         |  FROM lineitem WHERE l_partkey < $CcCap),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT a.p AS src, b.p AS dst
         |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
         |und AS MATERIALIZED (
         |  SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |nodes AS MATERIALIZED (
         |  SELECT CAST(p_partkey AS BIGINT) AS node
         |  FROM part WHERE p_partkey < $CcCap),
         |undl AS MATERIALIZED (
         |  -- und plus self-loops: a node's own label rides each round
         |  SELECT src, dst FROM und
         |  UNION ALL SELECT node, node FROM nodes),
         |lab AS (
         |  SELECT 0 AS iter, node, node AS comp FROM nodes
         |  UNION ALL
         |  SELECT l.iter + 1, u.dst AS node, min(l.comp) AS comp
         |  FROM lab l JOIN undl u ON u.src = l.node
         |  WHERE l.iter < $CcOracleRounds
         |  GROUP BY 1, 2)
         |SELECT node, CAST(min(comp) AS BIGINT) AS component
         |FROM lab GROUP BY node ORDER BY node""".stripMargin,
  )
}
