package graft.graph

import scala.util.chaining._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Superstep, Tables}

/** Iterative graph algorithms over the trade graph — the Spark-first
  * re-expression of the reference's Cypher analytics surface
  * (reference: documentation/queries.md — `DEPENDS_ON*1..k` walks,
  * allShortestPaths, PageRank, community detection, SCC).
  *
  * Every algorithm is a bounded loop of DataFrame joins + aggs:
  * the shape that scales on a real cluster (frontier keyed by node,
  * shuffle partitioning reused across iterations, AQE free to
  * broadcast a shrinking frontier). Loop conditions only ever read
  * driver-side scalars (`count`), never row data. Each loop is one
  * [[Superstep]] call: the kernel cuts every round's state, frees
  * what the round supersedes, counts rounds and stops; the code here
  * is only each algorithm's step and change signal.
  */
object Algorithms {

  // ---------------------------------------------------------------- q11
  /** k-hop neighborhood from a root: nodes reachable in ≤ k hops with
    * their minimum hop distance (BFS — each node enters the frontier
    * exactly once, so `min` is implicit). */
  def khop(edges: DataFrame, root: Long = 0L, k: Int = 3): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    bfs(edges, Seq(root).toDF("node"), "hop", k).orderBy("node")
  }

  /** Breadth-first levels from `seed` (node) as (node, `level`), the
    * seed at level 0, at most `maxHops` hops out. Frontier keyed by
    * node; each node enters the frontier once, so its level is its
    * minimum hop distance. */
  private def bfs(edges: DataFrame, seed: DataFrame, level: String,
      maxHops: Int): DataFrame =
    Superstep.semiNaive(seed.select(col("node"), lit(0L).as(level)), maxHops) {
      (frontier, visited, hop) =>
        frontier.join(edges, frontier("node") === edges("src"))
          .select(col("dst").as("node"))
          .distinct()
          .join(visited.select(col("node").as("v")), col("node") === col("v"), "left_anti")
          .withColumn(level, lit(hop.toLong))
    }(_.union(_))

  def q11Khop(spark: SparkSession, dir: String): DataFrame = {
    khop(TradeGraph.cutEdges(Tables(spark, dir)))
  }

  // ---------------------------------------------------------------- q19
  /** Dependency chains: bounded path enumeration from a root with a
    * cycle guard — the reference's `[node in nodes(p) | node.name] AS
    * depsChain` query (documentation/queries.md:362-365) re-expressed
    * as an iterative frontier of (leaf, path) rows. Paths are emitted
    * at every depth 1..k, a node never repeats within one path
    * (visited-in-path check), and the output is the '->'-joined id
    * chain so the driver's value compare is list-free. At scale the
    * frontier is keyed by leaf for the edge join; path arrays only
    * ever travel with their own row. */
  def dependencyChains(edges: DataFrame, root: Long, k: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    guardedPaths(edges, Seq((root, Seq(root))).toDF("leaf", "path"), k) {
      (frontier, depth) => frontier.select(col("path"), lit(depth.toLong).as("depth"))
    }
      .select(
        expr("array_join(transform(path, x -> cast(x as string)), '->')")
          .as("path_str"),
        col("depth"))
      .orderBy("depth", "path_str")
  }

  def q19DependencyChains(spark: SparkSession, dir: String): DataFrame = {
    dependencyChains(TradeGraph.cutEdges(Tables(spark, dir)), 0L, 4)
  }

  /** Bounded cycle-guarded path enumeration (q19, q59): `seed` rows
    * carry a `leaf`, its `path`, and any key columns that ride along;
    * each of `k` rounds extends every path by one out-edge of its leaf
    * that is not already on the path. Returns the cut union of
    * `emit(frontier, depth)` over depths 1..k. */
  private def guardedPaths(edges: DataFrame, seed: DataFrame, k: Int)(
      emit: (DataFrame, Int) => DataFrame): DataFrame = {
    val carry = seed.columns.filterNot(Set("leaf", "path")).map(col)
    val step = edges.select(col("src").as("m"), col("dst").as("d"))
    Superstep.loop(k)(r => ((r.cut(seed), Superstep.UnionView.empty), Superstep.Unmeasured)) {
      case ((frontier, acc), r) =>
        val next = r.cut(frontier
          .join(step, col("leaf") === col("m"))
          .filter(!array_contains(col("path"), col("d")))
          .select(carry :+ col("d").as("leaf") :+
            concat(col("path"), array(col("d"))).as("path"): _*))
        ((next, acc.add(emit(next, r.n), r)), Superstep.Unmeasured)
    }(s => Checkpoints.cut(s._2.view)).out
  }

  // ---------------------------------------------------------------- q66
  /** Longest dependency chains from the root — the longest-path
    * analytic the reference links the Neo4j KB workaround for
    * (documentation/queries.md:79): every maximal-depth simple chain
    * within the bounded cycle-guarded enumeration, i.e. q19's walk
    * followed by a scalar max and a broadcast filter. Longest-path is
    * NP-hard unbounded; the depth bound is the declared contract, as
    * in the reference's workaround. */
  def q66LongestChains(spark: SparkSession, dir: String): DataFrame = {
    val chains = dependencyChains(TradeGraph.cutEdges(Tables(spark, dir)), 0L, 4)
    val maxd = chains.agg(max(col("depth")).as("maxd"))
    chains.crossJoin(broadcast(maxd))
      .filter(col("depth") === col("maxd"))
      .select("path_str", "depth")
      .orderBy("path_str")
  }

  // ---------------------------------------------------------------- q50
  /** All shortest paths between two endpoints — the reference's
    * `allShortestPaths((a)-[:DEPENDS_ON*]->(b)) RETURN paths`
    * (documentation/queries.md:76-79), endpoints = node 0 and its
    * farthest reachable node (max dist, then max id — deterministic at
    * every scale factor instead of an SF-fragile literal).
    *
    * Scale shape: enumeration happens ONLY on the shortest-path DAG —
    * forward BFS distances from a, backward BFS distances to b, keep
    * edges with da(src) + 1 + db(dst) = L. Every DAG walk from a is a
    * prefix of a shortest a→b path (no cycle guard, no wasted
    * expansion, frontier size = number of shortest-path prefixes), so
    * the cost is proportional to the answer, not to the graph. */
  def q50AllShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the edges and both distance maps die once the DAG is cut
    val (tgt, dag) = Checkpoints.scoped {
      val e = TradeGraph.cutEdges(Tables(spark, dir))
      val da = bfs(e, Seq(0L).toDF("node"), "dist", Int.MaxValue)
      val tgt = da.filter(col("node") =!= 0L)
        .orderBy(col("dist").desc, col("node").desc).limit(1)
        .select(col("node"), col("dist").as("plen"))
        .pipe(Checkpoints.cut)
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val db = bfs(rev, tgt.select("node"), "dist", Int.MaxValue)
      (tgt, e
        .join(da.select(col("node").as("src"), col("dist").as("ha")), "src")
        .join(db.select(col("node").as("dst"), col("dist").as("hb")), "dst")
        .crossJoin(broadcast(tgt.select(col("plen"))))
        .filter(col("ha") + lit(1L) + col("hb") === col("plen"))
        .select("src", "dst")
        .pipe(Checkpoints.cut))
    }
    // walk the DAG: all maximal walks from the root end at the target
    // at depth L simultaneously (da/db pin every step's distance)
    val walks = Superstep.loop(Int.MaxValue) { r =>
      (r.cut(Seq((0L, Seq(0L))).toDF("leaf", "path")), Superstep.Unmeasured)
    } { (frontier, r) =>
      val next = r.cut(frontier.join(dag, col("leaf") === col("src"))
        .select(col("dst").as("leaf"),
          concat(col("path"), array(col("dst"))).as("path")))
      val n = Checkpoints.rowCount(next)
      (if (n > 0) next else frontier, n)
    }(identity).out
    walks
      .join(tgt.select(col("node").as("leaf")), Seq("leaf"), "left_semi")
      .select(
        expr("array_join(transform(path, x -> cast(x as string)), '->')")
          .as("path_str"),
        (size(col("path")) - 1).cast("long").as("hops"))
      .orderBy("path_str")
  }

  // ---------------------------------------------------------------- q59
  /** Path-multiplicity vs distinct-reach breakdown per direct
    * dependency of the root — the reference's numOfDeps /
    * numOfDistinctDeps table (documentation/queries.md:279-334, incl.
    * the "why does jest appear so often" analysis): for each 1-hop dep
    * d, the number of cycle-free dependency paths d→*x (1..k steps)
    * counts multiplicity, while distinct endpoints count unique
    * sub-dependencies — the gap between the two is how often a module
    * is reached through many routes. Same bounded cycle-guarded
    * frontier as q19, keyed by first hop; counts aggregate per first
    * hop, so only (first, leaf) pairs leave the loop. */
  def q59SubdepPathCounts(spark: SparkSession, dir: String): DataFrame = {
    val e = TradeGraph.cutEdges(Tables(spark, dir))
    val seed = e.filter(col("src") === 0L)
      .select(col("dst").as("first"), col("dst").as("leaf"),
        array(lit(0L), col("dst")).as("path"))
    val pairs = guardedPaths(e, seed, 4)((frontier, _) => frontier.select("first", "leaf"))
    val firsts = e.filter(col("src") === 0L).select(col("dst").as("first")).distinct()
    val counts = pairs.groupBy("first")
      .agg(count(lit(1)).as("n_paths"), countDistinct(col("leaf")).as("n_distinct"))
    firsts
      .join(counts, Seq("first"), "left")
      .select(col("first").as("dep"),
        coalesce(col("n_paths"), lit(0L)).as("n_paths"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .orderBy(col("n_paths").desc, col("dep").asc)
  }

  // ---------------------------------------------------------------- q63
  /** Per-node triangle counts on the undirected trade graph — the
    * clustering-structure metric of the Neo4j graph-algorithms
    * library the reference leans on for its analytics surface.
    * Edges are oriented by the total order (degree, id) — the
    * standard hub hardening: each triangle a≺b≺c is found exactly
    * once by the wedge join (a,b)⋈(b,c)⋈(a,c), and a hub's edges
    * almost all point INTO it (its neighbors are ≺-smaller), so the
    * wedge count through any node is |in|·|out| with out-degree
    * bounded ~O(√m) — total wedges O(m^1.5) on ANY degree
    * distribution, where the naive id orientation explodes on a node
    * with high in- AND out-degree. Per-node counts are orientation-
    * invariant, and the orientation is deterministic, so the DuckDB
    * oracle mirrors it in plain SQL. */
  /** (degree, id)-oriented simple edge list: duplicates/direction
    * collapsed, each edge pointing from its (degree, id)-smaller
    * endpoint (degree = simple undirected degree). Exposed for the
    * skew spec, which asserts the wedge bound this orientation
    * guarantees. */
  private[graft] def orientEdges(edges: DataFrame): DataFrame = {
    val pairs = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = pairs.select(col("a").as("n"))
      .union(pairs.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    pairs
      .join(deg.select(col("n").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("dg").as("db")), Seq("b"))
      .select(when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"))
  }

  /** Core: per-node triangle counts given any edge list (direction
    * and duplicates ignored — canonicalized internally). */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val und = Checkpoints.cut(orientEdges(edges))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.dst") === col("e2.src"))
      .join(und.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val perNode = tri.select(col("u").as("node"))
      .union(tri.select(col("v").as("node")))
      .union(tri.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    nodes.select("node")
      .join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("node")
  }

  def q63TriangleCounts(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    triangleCounts(TradeGraph.nodes(t).select("node"), TradeGraph.edges(t))
  }

  // ---------------------------------------------------------------- q12
  /** Directed transitive closure as (src, dst) reachable pairs —
    * semi-naive evaluation: only the frontier (newly discovered
    * pairs) joins the edge list each round. */
  def transitiveClosure(edges: DataFrame): DataFrame =
    Superstep.semiNaive(edges.select("src", "dst").distinct(), Int.MaxValue) {
      (frontier, closure, _) => newPairs(edges, frontier, closure)
    }(_.union(_))

  /** One semi-naive closure step: (src, dst) pairs one edge past the
    * frontier that `visited` does not hold yet. */
  private def newPairs(edges: DataFrame, frontier: DataFrame,
      visited: DataFrame): DataFrame =
    frontier.join(
        edges.select(col("src").as("m"), col("dst").as("d")),
        frontier("dst") === col("m"))
      .select(frontier("src"), col("d").as("dst"))
      .distinct()
      .join(visited.select(col("src").as("s2"), col("dst").as("d2")),
        col("src") === col("s2") && col("dst") === col("d2"), "left_anti")

  /** Reachable-set size per node (all nation nodes, zero included). */
  def q12TransitiveClosure(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val closure = transitiveClosure(TradeGraph.cutEdges(t))
    val reach = closure.groupBy("src").agg(count(lit(1)).as("n_reachable"))
    TradeGraph.nodes(t)
      .join(reach, col("node") === col("src"), "left")
      .select(col("node"), coalesce(col("n_reachable"), lit(0L)).as("n_reachable"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q13
  /** Shortest path lengths (directed, unweighted) from `sources` —
    * BFS over a (src, dst) pair frontier; a pair is discovered at its
    * minimal hop by construction. The source-set parameter is the
    * scale control: all-pairs output is O(V²) and only sane on small
    * graphs, while a bounded source set keeps the frontier (and the
    * result) proportional to |sources|·V. */
  def shortestPaths(edges: DataFrame, sources: Option[DataFrame] = None): DataFrame = {
    val seed = sources match {
      case Some(s) => edges.join(s.select(col("node").as("src")), Seq("src"), "left_semi")
      case None => edges
    }
    Superstep.semiNaive(seed.withColumn("hops", lit(1L)), Int.MaxValue) {
      (frontier, visited, round) =>
        newPairs(edges, frontier, visited).withColumn("hops", lit(round + 1L))
    }(_.union(_)).orderBy("src", "dst")
  }

  /** q13: BFS from a BOUNDED source set (node ≡ 0 mod 5 — a fixed,
    * deterministic 20% id sample), so the frontier and the result stay
    * proportional to |sources|·V at any graph size. The all-pairs
    * instance remains opt-in via `shortestPaths(e, None)` — it emits
    * O(V²) rows and is only sane on small graphs. */
  def q13ShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val sources = TradeGraph.nodes(t).select("node")
      .filter(pmod(col("node"), lit(5L)) === 0L)
    shortestPaths(TradeGraph.cutEdges(t), Some(sources))
  }

  // ---------------------------------------------------------------- q67
  /** Single-source WEIGHTED shortest paths (min total edge weight) —
    * the weighted companion of q13, matching the Neo4j
    * `shortestPath`-with-cost surface the reference's algorithms
    * library exposes. Frontier Bellman-Ford: each round relaxes only
    * edges out of nodes whose tentative cost just improved, so settled
    * regions stop generating work; positive weights bound rounds by
    * the longest simple path. Costs are integers (lineitem counts) —
    * engine-exact. The oracle mirrors the fixpoint, not the schedule:
    * min-cost is unique, so an unrolled |V|-step relaxation reaches
    * the same values regardless of iteration strategy. */
  def weightedShortestPaths(edges: DataFrame, root: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"), col("cnt").cast("long").as("w"))
    Superstep.semiNaive(Seq((root, 0L)).toDF("node", "cost"), Int.MaxValue) {
      (frontier, dist, _) =>
        frontier
          .join(e, frontier("node") === e("src"))
          .groupBy(col("dst").as("cand"))
          .agg(min(col("cost") + col("w")).as("nc"))
          // improvements only: new node, or strictly cheaper cost
          .join(dist.select(col("node"), col("cost").as("oc")),
            col("cand") === col("node"), "left")
          .filter(col("oc").isNull || col("nc") < col("oc"))
          .select(col("cand").as("node"), col("nc").as("cost"))
    } { (dist, frontier) =>
      dist
        .join(frontier.select(col("node").as("fn"), col("cost").as("fc")),
          col("node") === col("fn"), "full")
        .select(coalesce(col("node"), col("fn")).as("node"),
          least(coalesce(col("cost"), col("fc")),
            coalesce(col("fc"), col("cost"))).as("cost"))
    }
  }

  def q67WeightedShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    weightedShortestPaths(Checkpoints.cut(TradeGraph.edges(t)), 0L).orderBy("node")
  }

  // ---------------------------------------------------------------- q14
  /** PageRank, GraphX semantics (r₀=1; r ← 0.15 + 0.85·Σ_in r/outdeg),
    * fixed 5 iterations, output rounded to 6dp. One join-agg
    * superstep per iteration ([[damped]]). */
  def pagerank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    uniform(nodes, edges, lit(1.0), lit(0.15), iters)(Superstep.budgetOnly).out

  /** The damped rank loop every PageRank variant shares: `r0` seeds
    * the ranks, and each superstep is r ← reset + 0.85·Σ_in share over
    * the in-edges, where `share` spreads a source's rank over its
    * out-mass `od` (`outMass` aggregated per source — the out-degree,
    * or the out-weight for weighted PageRank). `reset` is the
    * per-node teleport mass — a constant 0.15 for global PageRank,
    * source-indicator·0.15 for the personalized variant (it may
    * reference the grouping key `node`). `edges` carries exactly the
    * columns `share` reads besides (src, dst). The nodes ⟕ in-edges ⟕
    * out-mass join does not change between rounds, so it is the keyed
    * loop's invariant relation ([[inEdges]]), cut once partitioned by
    * `node` (each edge's dst), and the ranks are keyed by `node` too:
    * each round is one join with the ranks plus one group-by that reads
    * `in` where it lies ([[dampedRound]]). */
  private[graph] def damped(nodes: DataFrame, edges: DataFrame,
      outMass: Column, share: Column, r0: Column, reset: Column,
      iters: Int)(changes: (DataFrame, DataFrame) => Long): Superstep.Run[DataFrame] =
    Superstep.loopOn(inEdges(nodes, edges, outMass), "node", "node", iters) { r =>
      (r.cut(nodes.select(col("node"), r0.as("r"))), Superstep.Unmeasured)
    } { (in, ranks, r) =>
      val next = r.cut(dampedRound(in, ranks, share, reset))
      (next, changes(ranks, next))
    }(identity)

  /** The loop invariant of [[damped]]: every node with its in-edges
    * (none: one null row) and each edge's source out-mass `od`. The
    * out-mass is a window over the edges' `src`, so `edges` is read
    * once: an uncut edge derivation runs once in the invariant's cut,
    * not once per join side. */
  private[graft] def inEdges(nodes: DataFrame, edges: DataFrame,
      outMass: Column): DataFrame =
    nodes.select(col("node"))
      .join(edges.withColumn("od", outMass.over(Window.partitionBy("src"))),
        col("dst") === col("node"), "left")

  /** One [[damped]] superstep over the cut [[inEdges]]: one left join
    * with the ranks, one group-by. With `in` and the ranks partitioned
    * on `node`, the join ([[Superstep.buildSide]]) keeps `in`'s
    * partitioning and the group-by plans no Exchange. */
  private[graft] def dampedRound(in: DataFrame, ranks: DataFrame,
      share: Column, reset: Column): DataFrame =
    in.join(Superstep.buildSide(ranks, "node").select(col("node").as("rn"), col("r")),
        col("rn") === col("src"), "left")
      .groupBy(col("node"))
      .agg((reset + lit(0.85) * coalesce(sum(share), lit(0.0))).as("r"))

  /** [[damped]] with rank split uniformly over out-edges. */
  private[graft] def uniform(nodes: DataFrame, edges: DataFrame, r0: Column,
      reset: Column, iters: Int)(
      changes: (DataFrame, DataFrame) => Long): Superstep.Run[DataFrame] =
    damped(nodes, edges.select(col("src"), col("dst")), count(lit(1)),
      col("r") / col("od"), r0, reset, iters)(changes)

  /** Personalized PageRank: teleport mass flows only to the source
    * set, so rank measures proximity-weighted reachability FROM the
    * sources — the recommendation/expansion primitive (Neo4j GDS
    * exposes it beside global PageRank). Same superstep as
    * [[pagerank]]; only the seed and reset columns differ, and a node
    * unreachable from every source holds rank exactly 0 at every
    * iteration (spec-asserted). */
  def personalizedPagerank(nodes: DataFrame, edges: DataFrame,
      isSource: Column, iters: Int): DataFrame =
    uniform(nodes, edges, when(isSource, lit(1.0)).otherwise(lit(0.0)),
      when(isSource, lit(0.15)).otherwise(lit(0.0)), iters)(Superstep.budgetOnly).out

  /** q109: PPR from the q13 source convention (node ≡ 0 mod 5),
    * 5 iterations, 6dp. */
  def q109PersonalizedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    personalizedPagerank(TradeGraph.nodes(t).select("node"), TradeGraph.edges(t),
        pmod(col("node"), lit(5L)) === lit(0L), 5)
      .select(col("node"), round(col("r"), 6).as("ppr"))
      .orderBy("node")
  }

  def q14Pagerank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    pagerank(TradeGraph.nodes(t).select("node"), TradeGraph.edges(t), 5)
      .select(col("node"), round(col("r"), 6).as("pagerank"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q15
  /** Connected components on the undirected trade graph: min-id
    * propagation to fixpoint (≤ diameter iterations; the deterministic
    * oracle-able community detector — GraphX LabelPropagation is the
    * nondeterministic RDD alternative). */
  def connectedComponents(nodes: DataFrame, undirected: DataFrame): DataFrame =
    minLabels(nodes, undirected, Int.MaxValue, "connectedComponents")
      .out.select("node", "component")

  /** Min-label propagation over the directed (src, dst) `edges`: every
    * node starts labeled with its own id and each round takes the min
    * of its label and its in-neighbors' labels, for at most
    * `maxRounds` rounds or to fixpoint. Returns the cut (node,
    * component, pc) frame of the last round, `pc` the label before it.
    *
    * Labels settle within |V| − 1 rounds (no shortest path is longer),
    * so a round |V| that still changes a label means bad input: it
    * raises, naming `who` and the round count. |V| is the seed cut's
    * measured row count. A caller's own smaller `maxRounds` (the
    * `ccAuto` probe) ends the run with `converged = false` instead.
    *
    * One round is a single equi-join + one partial agg: the neighbor
    * contributions UNIONED with a self branch read from the previous
    * round's CACHED frame (so every node appears and carries its own
    * label; no extra materialized self-loop relation), min over both.
    * The self branch also carries the OLD label, so the change count
    * is a predicate on the round's own output, counted by its cut's
    * job — per round 1 join + 1 agg and no count of its own.
    * It is a keyed loop ([[Superstep.loopOn]]): `edges` is cut once
    * partitioned by `dst` (a caller's `Superstep.coPartition(edges,
    * "dst")` cut is used as is) and the labels are keyed by `node`. The
    * contributions (edges ⋈ labels, [[Superstep.buildSide]], dst
    * renamed to node) keep the edges' partitioning and the self branch
    * has the same one, so the min-aggregate plans no Exchange.
    * Precondition: edge endpoints ⊆ `nodes` — ENFORCED loudly: a
    * foreign dst has no self row, so its
    * pc aggregates to null; silently it would surface as an extra
    * output row that is never counted as changed, so the guard raises
    * instead, naming `who`. Shared by [[connectedComponents]],
    * [[sccLabels]]' forward coloring and [[StarContraction.ccAuto]]'s
    * probe. */
  private[graph] def minLabels(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int, who: String): Superstep.Run[DataFrame] = {
    var nV = 0L
    Superstep.loopOn(edges, "dst", "node", maxRounds) { r =>
      val seed = r.cut(nodes.select(col("node"), col("node").as("component"))
        .withColumn("pc", col("component")))
      nV = Checkpoints.rowCount(seed)
      (seed, Superstep.Unmeasured)
    } { (e, comp, r) =>
      val (next, changed) = r.cut(minLabelsRound(e, comp, who),
        col("component") =!= col("pc"))
      if (changed > 0 && r.n >= nV)
        throw new IllegalStateException(s"$who: min-label propagation still " +
          s"changed $changed labels in round ${r.n}, past the |V| = $nV bound")
      (next, changed)
    }(identity)
  }

  /** One [[minLabels]] round over the (src, dst) `edges` and the
    * (node, component, pc) labels: the next labels, `pc` carrying each
    * node's label before the round. The contributions are a left join:
    * an edge whose source has no label contributes a null, which `min`
    * ignores, so the labels are an inner join's, and the join's output
    * keeps the edges' partitioning however it is planned (an inner hash
    * join reports both sides' partitionings, which the union with the
    * self branch cannot match). */
  private[graft] def minLabelsRound(edges: DataFrame, comp: DataFrame,
      who: String): DataFrame = {
    val contrib = edges.select(col("src"), col("dst"))
      .join(Superstep.buildSide(comp, "node")
          .select(col("node").as("src"), col("component")),
        Seq("src"), "left")
      .select(col("dst").as("node"), col("component"),
        lit(null).cast("long").as("own"))
    val self = comp.select(col("node"), col("component"),
      col("component").as("own"))
    contrib.unionByName(self)
      .groupBy("node")
      .agg(min(col("component")).as("component"),
        min(col("own")).as("pc"))
      .select(col("node"), col("component"),
        when(col("pc").isNotNull, col("pc")).otherwise(raise_error(
          format_string(s"$who: edge endpoint %d is " +
            "not in `nodes` — callers must pass every endpoint",
            col("node")))).as("pc"))
  }

  def q15ConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    connectedComponents(TradeGraph.nodes(t).select("node"), TradeGraph.undirectedEdges(t))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q16
  /** SCC labels (label = min member id) with NO transitive-closure
    * materialization — the forward-min coloring algorithm. Each outer
    * round over the live subgraph:
    *  1. color(v) = min live id that reaches v — directed min-label
    *     propagation to fixpoint (the CC loop's shape);
    *  2. each color root r (color(r) = r) backward-propagates within
    *     its color class; the reached set is EXACTLY SCC(r): members
    *     all have color r and reach r, and every node on a v→*r path
    *     is itself mutually reachable with r, so the class-restricted
    *     backward BFS can never under- or over-mark;
    *  3. marked SCCs are emitted (label = color = provably the min
    *     member id) and removed from the live subgraph — removing a
    *     whole SCC never severs another SCC's internal paths, because
    *     any intermediate node of an intra-SCC path belongs to that
    *     SCC.
    * State per round is O(V) labels — the closure's O(V²) pair set
    * never exists. Rounds = root "generations": worst case a chain of
    * SCCs unlocked one per round (ascending-id path graph), typically
    * a handful; for adversarial chains GraphX's
    * stronglyConnectedComponents is the RDD alternative (AlgorithmsSpec
    * checks the two agree on the trade graph). */
  def sccLabels(nodes: DataFrame, edges: DataFrame): DataFrame =
    Superstep.loop(Int.MaxValue) { r =>
      val remaining = r.cut(nodes.select("node"))
      val live = Superstep.coPartition(edges.select("src", "dst").distinct()
        .filter(col("src") =!= col("dst")), "dst")
      ((remaining, live, null: DataFrame), Superstep.Unmeasured)
    } { case ((remaining, live, done), r) =>
      // 1. forward min-color fixpoint (the connectedComponents round
      // over directed edges)
      val color = minLabels(remaining, live, Int.MaxValue, "sccLabels")
        .out.select(col("node"), col("component").as("color"))
      // 2. backward BFS from roots, restricted to each root's class
      val classEdges = r.cut(live
        .join(color.select(col("node").as("src"), col("color").as("cs")),
          Seq("src"))
        .join(color.select(col("node").as("dst"), col("color").as("cd")),
          Seq("dst"))
        .filter(col("cs") === col("cd"))
        .select("src", "dst"))
      val mark = backwardMark(classEdges,
        color.filter(col("node") === col("color")).select("node"))
      // 3. emit the root SCCs, shrink the live subgraph
      val emitted = r.cut(mark.join(color, Seq("node"))
        .select(col("node"), col("color").as("scc")))
      val nextDone = if (done == null) emitted else r.cut(done.union(emitted))
      val nextRemaining = r.cut(remaining.join(mark, Seq("node"), "left_anti"))
      val nextLive = Superstep.coPartition(live
        .join(mark.select(col("node").as("src")), Seq("src"), "left_anti")
        .join(mark.select(col("node").as("dst")), Seq("dst"), "left_anti")
        .select("src", "dst"), "dst")
      ((nextRemaining, nextLive, nextDone), Checkpoints.rowCount(nextRemaining))
    }(_._3).out

  /** Nodes that reach `roots` backward over `classEdges`, roots
    * included. The mark accumulates as a [[Superstep.UnionView]] over
    * the cut frontiers — no per-hop re-cut of the whole marked set,
    * while the view's width cap keeps per-hop plan size and the
    * anti-join's scan fan-in O(1) on a high-diameter class. */
  private def backwardMark(classEdges: DataFrame, roots: DataFrame): DataFrame =
    Superstep.loop(Int.MaxValue) { r =>
      val root = r.cut(roots)
      ((root, Superstep.UnionView(Vector(root))), Superstep.Unmeasured)
    } { case ((frontier, mark), r) =>
      val next = r.cut(classEdges
        .join(frontier.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src").as("node")).distinct()
        .join(mark.view, Seq("node"), "left_anti"))
      val n = Checkpoints.rowCount(next)
      if (n > 0) ((next, mark.add(next, r)), n) else ((frontier, mark), 0L)
    }(_._2.view).out

  def q16Scc(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    sccLabels(TradeGraph.nodes(t).select("node"), TradeGraph.cutEdges(t)).orderBy("node")
  }

  // ---------------------------------------------------------------- q65
  /** The reference's step-2 SCC report (documentation/
    * queries.md:137-141): partitions ranked by member count with
    * alphabetized member names — the size-ranked listing it always
    * pairs with the algorithm run. Rank-and-collect is safe because
    * partition count ≪ corpus; the heavy work is [[sccLabels]]. */
  def q65SccTopPartitions(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val s = sccLabels(TradeGraph.nodes(t).select("node"), TradeGraph.cutEdges(t))
    s.join(TradeGraph.nodes(t), Seq("node"))
      .groupBy("scc")
      .agg(count(lit(1)).as("n_members"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("members"))
      .orderBy(col("n_members").desc, col("scc").asc)
      .limit(10)
  }

  // ---------------------------------------------------------------- q149
  /** SCC condensation DAG with topological levels — the macro
    * structure report after q16's partition: collapse each component
    * to one node, keep the distinct cross-component edges (always a
    * DAG), and place every component at its LONGEST-path depth from
    * the sources. Level 0 components are upstream producers, the
    * max level is the dependency chain's critical depth — the view a
    * build scheduler or supply-chain analysis actually wants from an
    * SCC run.
    *
    * Scale shape: the condensation edge set is two label joins + one
    * distinct over EDGES (component count ≪ node count, so
    * everything after runs on the tiny DAG); levels relax by
    * max(pred)+1 to fixpoint — rounds = DAG depth, state O(comps),
    * the q16 loop discipline. All integer — engine-exact. */
  def sccCondensation(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val lab = sccLabels(nodes, edges).pipe(Checkpoints.cutOnce)
    val ce = edges.select("src", "dst").distinct()
      .join(lab.select(col("node").as("src"), col("scc").as("cs")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("scc").as("cd")), Seq("dst"))
      .filter(col("cs") =!= col("cd"))
      .select(col("cs").as("src"), col("cd").as("dst")).distinct()
      .pipe(Checkpoints.cut)
    val lvl = Superstep.loop(Int.MaxValue) { r =>
      (r.cut(lab.select(col("scc")).distinct().withColumn("l", lit(0L))),
        Superstep.Unmeasured)
    } { (lvl, r) =>
      val relax = ce
        .join(lvl.select(col("scc").as("src"), col("l")), Seq("src"))
        .groupBy(col("dst").as("rs")).agg(max(col("l") + 1).as("nl"))
      r.cut(lvl.join(relax, col("scc") === col("rs"), "left")
        .select(col("scc"),
          greatest(col("l"), coalesce(col("nl"), col("l"))).as("l"),
          col("l").as("pl")),
        col("l") =!= col("pl"))
    }(identity).out
    val sizes = lab.groupBy("scc").agg(count(lit(1)).as("n_members"))
    lvl.join(sizes, Seq("scc"))
      .select(col("scc"), col("l").as("level"), col("n_members"))
      .orderBy("level", "scc")
  }

  def q149SccCondensation(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    sccCondensation(TradeGraph.nodes(t).select("node"), TradeGraph.cutEdges(t))
  }

  // ---------------------------------------------------------------- q17
  /** Preferential attachment score deg(u)·deg(v) for unordered node
    * pairs, top 20. The non-equi pair join is a broadcast nested loop
    * by nature, so the library caps it with a top-degree PREFILTER
    * (mirrored in the oracle): the pool is every node whose degree is
    * ≥ the [[PrefAttachPool]]-th highest degree — DEGREE TIES AT THE
    * BOUNDARY ARE INCLUDED, which makes the top-20 provably identical
    * to the unfiltered computation: an excluded node's degree is
    * strictly below every pool degree, so each of its pairs is
    * product-dominated by ≥ C(pool,2) ≥ 2016 in-pool pairs (and when
    * the boundary degree is 0 no node is excluded at all). The loop
    * join is O(pool²) instead of O(V²). */
  val PrefAttachPool = 64

  def q17PreferentialAttachment(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val e = TradeGraph.cutEdges(t)
    val degAll = TradeGraph.nodes(t).select(col("node"))
      .join(e.select(col("src").as("n")).union(e.select(col("dst").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg")), col("node") === col("n"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
    // Scalar boundary degree (top-k then min — no global window), then
    // tie-inclusive pool via a broadcast 1-row cross join.
    val boundary = degAll.orderBy(col("deg").desc, col("node").asc)
      .limit(PrefAttachPool)
      .agg(min(col("deg")).as("pool_min"))
    val deg = degAll.crossJoin(broadcast(boundary))
      .filter(col("deg") >= col("pool_min"))
      .select("node", "deg")
    deg.as("a").join(broadcast(deg.as("b")), col("a.node") < col("b.node"))
      .select(col("a.node").as("u"), col("b.node").as("v"),
        (col("a.deg") * col("b.deg")).as("score"))
      .orderBy(col("score").desc, col("u").asc, col("v").asc)
      .limit(20)
  }

  // ---------------------------------------------------------------- q18
  /** Sub-dependency counts: for each direct partner of the root, how
    * many partners it has in turn (the reference's "deps of my deps"
    * breakdown). */
  def q18SubdepCounts(spark: SparkSession, dir: String): DataFrame = {
    val e = TradeGraph.cutEdges(Tables(spark, dir))
    e.filter(col("src") === 0L)
      .select(col("dst").as("dep"))
      .join(e.select(col("src").as("s2"), col("dst").as("d2")),
        col("dep") === col("s2"), "left")
      .groupBy("dep").agg(count(col("d2")).as("subdeps"))
      .orderBy("dep")
  }

  // ---------------------------------------------------------------- q37
  /** Community membership listing: the reference's `collect(n.name)
    * per community` (documentation/queries.md:170-175) over the
    * deterministic connected-components partition — collect_list with
    * an in-row sort so the member string is order-stable. Per-community
    * member lists are only safe to collect because community count ≪
    * corpus; the heavy work stays in the iterative CC. */
  def q37CommunityMembers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    connectedComponents(TradeGraph.nodes(t).select("node"), TradeGraph.undirectedEdges(t))
      .join(TradeGraph.nodes(t), Seq("node"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("members"))
      .orderBy("component")
  }

  // ---------------------------------------------------------------- q113
  /** HITS hubs & authorities (Kleinberg) — the centrality pair beside
    * PageRank in the reference's "node rank" family
    * (documentation/queries.md:55-64): authority = Σ hub over
    * in-edges, hub = Σ authority over out-edges, alternating. Each
    * half-step normalizes by the MAX score instead of the usual L2
    * norm: max is accumulation-order-free (a float `sum` over all
    * nodes would hash-drift between engines; a max cannot), so the
    * unrolled-CTE oracle is engine-exact under the same 6dp rounding
    * discipline as [[pagerank]]. Per half-step: one shuffle keyed by
    * the edge endpoint + one scalar-max broadcast — the plan scales
    * exactly like a PageRank iteration. */
  def hits(nodes: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    def half(scores: DataFrame, in: String, out: String,
        from: String, to: String): DataFrame = {
      val raw = nodes.select(col("node"))
        .join(e, col(to) === col("node"), "left")
        .join(scores.select(col("node").as("sn"), col(in)),
          col("sn") === col(from), "left")
        .groupBy(col("node"))
        .agg(coalesce(sum(col(in)), lit(0.0)).as("raw"))
      val mx = raw.agg(max(col("raw")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"), (col("raw") / col("mx")).as(out))
    }
    Superstep.loop(iters) { r =>
      ((r.cut(nodes.select(col("node"), lit(1.0).as("hub"))), null: DataFrame),
        Superstep.Unmeasured)
    } { case ((hub, _), r) =>
      val auth = r.cut(half(hub, "hub", "auth", "src", "dst"))
      ((r.cut(half(auth, "auth", "hub", "dst", "src")), auth), Superstep.Unmeasured)
    } { case (hub, auth) => auth.join(hub, Seq("node")) }.out
  }

  val HitsIters = 4

  def q113Hits(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    hits(TradeGraph.nodes(t).select("node"), TradeGraph.cutEdges(t), HitsIters)
      .select(col("node"), round(col("hub"), 6).as("hub"),
        round(col("auth"), 6).as("auth"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q115
  /** Link-prediction suite: common neighbors, Jaccard, Adamic-Adar
    * for candidate pairs — the rest of the GDS link-prediction family
    * beside q17's preferential attachment ([[Cores.nodeSimilarity]]
    * (q70) is the directed OUT-neighbor Jaccard; this is the
    * link-prediction view over the UNDIRECTED graph, adding the
    * CN/AA scores GDS exposes as separate functions). Candidates are
    * generated
    * by WEDGE ENUMERATION (pairs sharing ≥1 neighbor, found by
    * joining the undirected edge list on the shared endpoint) — the
    * triangle-counting shape that scales as Σ deg(w)², never the
    * O(V²) all-pairs cross join; pairs with no common neighbor score
    * 0 on every metric and are correctly absent. Adamic-Adar's float
    * sum Σ 1/ln(deg(w)) is rounded per-wedge and DECIMAL-summed
    * (order-free, q108's money convention); a wedge center always has
    * deg ≥ 2 so ln(deg) > 0. Top-20 by (jaccard, then pair). */
  def linkPrediction(undirected: DataFrame, topK: Int): DataFrame = {
    val u = undirected.select(col("src"), col("dst"))
    val deg = u.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val wedge = u.select(col("src").as("w"), col("dst").as("u"))
      .join(u.select(col("src").as("w2"), col("dst").as("v")),
        col("w") === col("w2") && col("u") < col("v"))
    val cn = wedge
      .join(deg.select(col("node"), col("deg").as("wdeg")),
        col("node") === col("w"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sum(round(lit(1.0) / log(col("wdeg")), 6)
          .cast("decimal(18,6)")).cast("double").as("adamic_adar"))
    cn.join(deg.select(col("node").as("un"), col("deg").as("du")),
        col("un") === col("u"))
      .join(deg.select(col("node").as("vn"), col("deg").as("dv")),
        col("vn") === col("v"))
      .select(col("u"), col("v"), col("cn"),
        round(col("cn").cast("double")
          / (col("du") + col("dv") - col("cn")), 6).as("jaccard"),
        col("adamic_adar"))
      .orderBy(col("jaccard").desc, col("u").asc, col("v").asc)
      .limit(topK)
  }

  val LinkPredTopK = 20

  def q115LinkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    linkPrediction(TradeGraph.undirectedEdges(t), LinkPredTopK)
  }

  // ---------------------------------------------------------------- q117
  /** Degree assortativity (Newman's r): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — do high-degree
    * nodes link to each other (r>0, social-style) or to leaves (r<0,
    * hub-and-spoke/dependency-style)? Engine-exact by construction:
    * with j,k the endpoint degrees and M the directed edge count,
    * r = (M·Σjk − Σj·Σj) / (M·Σj² − Σj·Σj) after clearing the 1/M
    * normalizations — every sum is a BIGINT (order-free), the only
    * float op is the terminal division. One degree agg + one
    * edge-keyed join + one scalar agg; nothing beyond edge scale. */
  def degreeAssortativity(undirected: DataFrame): DataFrame = {
    val deg = undirected.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    undirected
      .join(deg.select(col("node").as("sn"), col("deg").as("j")),
        col("sn") === col("src"))
      .join(deg.select(col("node").as("dn"), col("deg").as("k")),
        col("dn") === col("dst"))
      .agg(count(lit(1)).as("m"),
        sum(col("j") * col("k")).as("sjk"),
        sum(col("j")).as("sj"),
        sum(col("j") * col("j")).as("sjj"))
      .select(col("m").as("m_edges"),
        round((col("sjk") * col("m") - col("sj") * col("sj")).cast("double")
          / (col("sjj") * col("m") - col("sj") * col("sj")), 6)
          .as("assortativity"))
  }

  def q117DegreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    degreeAssortativity(TradeGraph.undirectedEdges(Tables(spark, dir)))

  // ---------------------------------------------------------------- q118
  /** Minimum spanning forest via BORŮVKA — the textbook distributed
    * MST (log-round convergence, each round fully parallel): every
    * component selects its minimum incident cross-edge under the
    * TOTAL order (w, a, b), selected edges join the forest, touched
    * components merge (reusing [[connectedComponents]] on the
    * component graph — a relation whose size halves per round). The
    * lexicographic tie-break makes the MST unique, so the result is
    * engine-comparable even with duplicate weights.
    *
    * The oracle is ALGORITHM-INDEPENDENT evidence (the q76 pattern):
    * the cut property says an edge belongs to the unique MST iff its
    * endpoints are disconnected in the prefix graph of strictly
    * lower-ranked edges — one recursive reachability CTE keyed by
    * (rank, x, y), no Borůvka mirror at all.
    *
    * Scale: per round one edge⋈labels join + one per-component argmin
    * (window over the component-keyed min, input already aggregated)
    * + a component-graph CC whose node set is the CURRENT component
    * count — O(log V) rounds, every step keyed, nothing quadratic.
    *
    * The returned forest is a union view over ≤
    * [[Superstep.UnionViewMaxWidth]] per-round cuts; they live as long
    * as the scope that reads the forest. */
  def boruvkaMst(und: DataFrame): DataFrame = {
    val e = und.select(col("a"), col("b"), col("w"))
    Superstep.loop(Int.MaxValue) { r =>
      val comp = r.cut(e.select(explode(array(col("a"), col("b"))).as("node"))
        .distinct()
        .select(col("node"), col("node").as("c")))
      ((comp, Superstep.UnionView.empty), Superstep.Unmeasured)
    } { case ((comp, forest), r) =>
      val labeled = r.cut(e
        .join(comp.select(col("node").as("na"), col("c").as("ca")),
          col("na") === col("a"))
        .join(comp.select(col("node").as("nb"), col("c").as("cb")),
          col("nb") === col("b"))
        .filter(col("ca") =!= col("cb"))
        .select(col("a"), col("b"), col("w"), col("ca"), col("cb")))
      if (labeled.isEmpty) ((comp, forest), 0L)
      else {
        val sides = labeled
          .select(col("ca").as("comp"), col("a"), col("b"), col("w"))
          .union(labeled
            .select(col("cb").as("comp"), col("a"), col("b"), col("w")))
        // per-component lightest edge as one partial agg:
        // min(struct(w, a, b)) is the row_number()-over-
        // (w ASC, a ASC, b ASC) winner without the window sort
        val sel = r.cut(sides.groupBy("comp")
          .agg(min(struct(col("w"), col("a"), col("b"))).as("m"))
          .select(col("m.a").as("a"), col("m.b").as("b"),
            col("m.w").as("w")).distinct())
        val selComp = sel
          .join(labeled.select(col("a"), col("b"), col("ca"), col("cb"))
            .dropDuplicates("a", "b"), Seq("a", "b"))
          .select(col("ca").as("src"), col("cb").as("dst"))
        val sym = selComp.union(selComp.select(col("dst"), col("src")))
        val cnodes = comp.select(col("c").as("node")).distinct()
        val relabel = connectedComponents(cnodes, sym)
          .select(col("node").as("oldc"), col("component"))
        val next = r.cut(comp.join(relabel, col("oldc") === col("c"))
          .select(col("node"), col("component").as("c")))
        ((next, forest.add(sel, r)), Superstep.Unmeasured)
      }
    } { case (_, forest) => if (forest.isEmpty) e.limit(0) else forest.view }
      .out.orderBy("w", "a", "b")
  }

  def q118Mst(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val und = TradeGraph.edges(t)
      .filter(col("src") =!= col("dst"))
      .groupBy(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(min(col("cnt")).as("w"))
    boruvkaMst(und)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_mst" -> (q118Mst _),
    "q113_hits" -> (q113Hits _),
    "q115_link_prediction" -> (q115LinkPrediction _),
    "q117_degree_assortativity" -> (q117DegreeAssortativity _),
    "q11_khop" -> (q11Khop _),
    "q19_dependency_chains" -> (q19DependencyChains _),
    "q66_longest_chains" -> (q66LongestChains _),
    "q67_weighted_shortest_paths" -> (q67WeightedShortestPaths _),
    "q50_all_shortest_paths" -> (q50AllShortestPaths _),
    "q59_subdep_path_counts" -> (q59SubdepPathCounts _),
    "q63_triangle_counts" -> (q63TriangleCounts _),
    "q37_community_members" -> (q37CommunityMembers _),
    "q12_transitive_closure" -> (q12TransitiveClosure _),
    "q13_shortest_paths" -> (q13ShortestPaths _),
    "q14_pagerank" -> (q14Pagerank _),
    "q109_personalized_pagerank" -> (q109PersonalizedPagerank _),
    "q15_connected_components" -> (q15ConnectedComponents _),
    "q16_scc" -> (q16Scc _),
    "q149_scc_condensation" -> (q149SccCondensation _),
    "q65_scc_top_partitions" -> (q65SccTopPartitions _),
    "q17_preferential_attachment" -> (q17PreferentialAttachment _),
    "q18_subdep_counts" -> (q18SubdepCounts _),
  )

  private val T = TradeGraph.sqlCte
  private val U = TradeGraph.sqlUndirectedCte

  /** Unrolled Bellman-Ford relaxation d0..dN — the q67 oracle. N =
    * |V|−1 = 24 relaxation steps reach the unique min-cost fixpoint
    * for any 25-node graph with positive weights, matching the Spark
    * frontier iteration's converged values (schedule-independent). */
  private def weightedSpSql(steps: Int): String = {
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and d(t-1) appears twice per step — unmaterialized,
    // the 24-step unroll re-expands the whole chain (and the 4-table
    // trade derivation) exponentially
    val ctes = (1 to steps).map { t =>
      s"""d$t AS MATERIALIZED (
         |  SELECT node, min(cost) AS cost FROM (
         |    SELECT node, cost FROM d${t - 1}
         |    UNION ALL
         |    SELECT t.dst AS node, d.cost + t.cnt AS cost
         |    FROM d${t - 1} d JOIN te t ON t.src = d.node) z
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $T,
       |te AS MATERIALIZED (SELECT src, dst, cnt FROM trade),
       |d0 AS MATERIALIZED (
       |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost),
       |$ctes
       |SELECT node, cost FROM d$steps ORDER BY node""".stripMargin
  }

  /** The DuckDB mirror of [[damped]] over the trade graph, unrolled
    * into chained CTEs r0..rN, with [[damped]]'s parameters as SQL:
    * `r0` seeds each node's rank and `reset` is its teleport mass (both
    * over the node `n.node`), `share` is the summed per-in-edge term
    * (over the source rank `p.r`, the edge `t` and its source's
    * out-mass `o.od`), and `outMass` aggregates `od` over a source's
    * `trade` rows. Each variant's `share` keeps its Spark float-op
    * order, so the mirror is engine-exact. `out` names the 6dp rank
    * column. */
  private[graph] def dampedSql(outMass: String, share: String, r0: String,
      reset: String, iters: Int, out: String): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         $reset + 0.85 * COALESCE(SUM($share), 0.0) AS r
         |  FROM nodes n
         |  LEFT JOIN trade t ON t.dst = n.node
         |  LEFT JOIN r${i - 1} p ON p.node = t.src
         |  LEFT JOIN outm o ON o.node = t.src
         |  GROUP BY n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $T,
       |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
       |outm AS (SELECT src AS node, CAST($outMass AS BIGINT) AS od
       |         FROM trade GROUP BY 1),
       |r0 AS (SELECT n.node, $r0 AS r FROM nodes n),
       |$steps
       |SELECT node, round(r, 6) AS $out FROM r$iters ORDER BY node""".stripMargin
  }

  /** [[dampedSql]] for [[uniform]]: rank split over the out-degree. */
  private def uniformSql(r0: String, reset: String, iters: Int, out: String): String =
    dampedSql("count(*)", "p.r / o.od", r0, reset, iters, out)

  /** Unrolled HITS mirror: per half-step a raw-sum CTE + a
    * max-normalized CTE (scalar subquery — DuckDB evaluates it once
    * over the MATERIALIZED raw relation). Same float-op order as
    * [[hits]]; only sums bounded by node degree, never a global
    * float sum. */
  private def hitsSql(iters: Int): String = {
    val steps = (1 to iters).flatMap { i =>
      Seq(
        s"""a${i}r AS MATERIALIZED (
           |  SELECT n.node, COALESCE(SUM(h.hub), 0.0) AS raw
           |  FROM nodes n
           |  LEFT JOIN trade t ON t.dst = n.node
           |  LEFT JOIN h${i - 1} h ON h.node = t.src
           |  GROUP BY n.node)""".stripMargin,
        s"""a$i AS MATERIALIZED (
           |  SELECT node, raw / (SELECT max(raw) FROM a${i}r) AS auth
           |  FROM a${i}r)""".stripMargin,
        s"""h${i}r AS MATERIALIZED (
           |  SELECT n.node, COALESCE(SUM(a.auth), 0.0) AS raw
           |  FROM nodes n
           |  LEFT JOIN trade t ON t.src = n.node
           |  LEFT JOIN a$i a ON a.node = t.dst
           |  GROUP BY n.node)""".stripMargin,
        s"""h$i AS MATERIALIZED (
           |  SELECT node, raw / (SELECT max(raw) FROM h${i}r) AS hub
           |  FROM h${i}r)""".stripMargin)
    }.mkString(",\n")
    s"""WITH $T,
       |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
       |h0 AS MATERIALIZED (
       |  SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
       |$steps
       |SELECT a.node, round(h.hub, 6) AS hub, round(a.auth, 6) AS auth
       |FROM a$iters a JOIN h$iters h ON h.node = a.node
       |ORDER BY a.node""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q113_hits" -> hitsSql(HitsIters),

    // cut-property characterization of the unique lex-perturbed MST:
    // edge e is IN iff its endpoints cannot reach each other using
    // only strictly lower-ranked edges
    "q118_mst" ->
      s"""WITH RECURSIVE $T,
         |uw AS (
         |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         |         CAST(min(cnt) AS BIGINT) AS w
         |  FROM trade WHERE src <> dst GROUP BY 1, 2),
         |re AS (
         |  SELECT a, b, w,
         |         CAST(row_number() OVER (ORDER BY w ASC, a ASC, b ASC)
         |              AS BIGINT) AS rk
         |  FROM uw),
         |n2 AS (SELECT a AS node FROM uw UNION SELECT b FROM uw),
         |sym AS (SELECT rk, a, b FROM re UNION ALL SELECT rk, b, a FROM re),
         |reach AS (
         |  SELECT r.rk, n.node AS x, n.node AS y FROM re r, n2 n
         |  UNION
         |  SELECT t.rk, t.x, e.b FROM reach t
         |  JOIN sym e ON e.rk < t.rk AND e.a = t.y
         |)
         |SELECT e.a, e.b, e.w FROM re e
         |WHERE NOT EXISTS (SELECT 1 FROM reach t
         |                  WHERE t.rk = e.rk AND t.x = e.a AND t.y = e.b)
         |ORDER BY e.w, e.a, e.b""".stripMargin,

    "q115_link_prediction" ->
      s"""WITH $T,
         |$U,
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM undirected GROUP BY 1),
         |wedge AS (
         |  SELECT e1.src AS w, e1.dst AS u, e2.dst AS v
         |  FROM undirected e1
         |  JOIN undirected e2 ON e1.src = e2.src AND e1.dst < e2.dst),
         |cn AS (
         |  SELECT wg.u, wg.v, CAST(count(*) AS BIGINT) AS cn,
         |         CAST(sum(CAST(round(1.0 / ln(d.deg), 6)
         |                       AS DECIMAL(18,6))) AS DOUBLE) AS adamic_adar
         |  FROM wedge wg JOIN deg d ON d.node = wg.w
         |  GROUP BY 1, 2)
         |SELECT c.u, c.v, c.cn,
         |       round(CAST(c.cn AS DOUBLE)
         |             / (du.deg + dv.deg - c.cn), 6) AS jaccard,
         |       c.adamic_adar
         |FROM cn c
         |JOIN deg du ON du.node = c.u
         |JOIN deg dv ON dv.node = c.v
         |ORDER BY jaccard DESC, u ASC, v ASC
         |LIMIT $LinkPredTopK""".stripMargin,

    "q117_degree_assortativity" ->
      s"""WITH $T,
         |$U,
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM undirected GROUP BY 1),
         |e AS (SELECT dj.deg AS j, dk.deg AS k
         |      FROM undirected u
         |      JOIN deg dj ON dj.node = u.src
         |      JOIN deg dk ON dk.node = u.dst),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |              CAST(sum(j * k) AS BIGINT) AS sjk,
         |              CAST(sum(j) AS BIGINT) AS sj,
         |              CAST(sum(j * j) AS BIGINT) AS sjj
         |       FROM e)
         |SELECT m AS m_edges,
         |       round(CAST(sjk * m - sj * sj AS DOUBLE)
         |             / (sjj * m - sj * sj), 6) AS assortativity
         |FROM mm""".stripMargin,
    "q11_khop" ->
      s"""WITH RECURSIVE $T,
         |bfs AS (
         |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop
         |  UNION ALL
         |  SELECT t.dst, b.hop + 1 FROM bfs b
         |  JOIN trade t ON t.src = b.node WHERE b.hop < 3
         |)
         |SELECT node, CAST(min(hop) AS BIGINT) AS hop
         |FROM bfs GROUP BY node ORDER BY node""".stripMargin,

    "q12_transitive_closure" ->
      s"""WITH RECURSIVE $T,
         |reach AS (
         |  SELECT src, dst FROM trade
         |  UNION
         |  SELECT r.src, t.dst FROM reach r JOIN trade t ON t.src = r.dst
         |)
         |SELECT CAST(n.n_nationkey AS BIGINT) AS node,
         |       CAST(COALESCE(c.n_reachable, 0) AS BIGINT) AS n_reachable
         |FROM nation n
         |LEFT JOIN (SELECT src, count(*) AS n_reachable
         |           FROM reach GROUP BY 1) c
         |  ON c.src = CAST(n.n_nationkey AS BIGINT)
         |ORDER BY node""".stripMargin,

    // seed restricted to the same node % 5 = 0 source set as the
    // Spark entry; recursion bound = |nations| (25): an upper bound on
    // any simple path length, so the oracle can never drop
    // long-diameter pairs the Spark BFS would find at a different
    // scale factor
    "q13_shortest_paths" ->
      s"""WITH RECURSIVE $T,
         |sp AS (
         |  SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM trade
         |  WHERE src % 5 = 0
         |  UNION
         |  SELECT s.src, t.dst, s.hops + 1 FROM sp s
         |  JOIN trade t ON t.src = s.dst WHERE s.hops < 25
         |)
         |SELECT src, dst, min(hops) AS hops
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q14_pagerank" -> uniformSql("CAST(1.0 AS DOUBLE)", "0.15", 5, "pagerank"),
    // the teleport restricted to the q13 source set
    "q109_personalized_pagerank" -> uniformSql(
      "CASE WHEN n.node % 5 = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END",
      "CASE WHEN n.node % 5 = 0 THEN 0.15 ELSE 0.0 END", 5, "ppr"),

    "q67_weighted_shortest_paths" -> weightedSpSql(24),

    // same (degree, id) orientation as [[orientEdges]] — per-node
    // counts are orientation-invariant, but mirroring the plan keeps
    // the oracle an exact transcript of what runs
    "q63_triangle_counts" ->
      s"""WITH $T,
         |pairs AS (SELECT DISTINCT least(src, dst) AS a,
         |                 greatest(src, dst) AS b
         |          FROM trade WHERE src <> dst),
         |dg AS (SELECT n, count(*) AS d FROM (
         |         SELECT a AS n FROM pairs
         |         UNION ALL SELECT b FROM pairs) z GROUP BY 1),
         |und AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b)
         |               THEN p.a ELSE p.b END AS src,
         |               CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b)
         |               THEN p.b ELSE p.a END AS dst
         |        FROM pairs p
         |        JOIN dg da ON da.n = p.a
         |        JOIN dg db ON db.n = p.b),
         |tri AS (
         |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         |  FROM und e1
         |  JOIN und e2 ON e1.dst = e2.src
         |  JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
         |         SELECT u AS node FROM tri
         |         UNION ALL SELECT v FROM tri
         |         UNION ALL SELECT w FROM tri) z
         |       GROUP BY 1)
         |SELECT CAST(n.n_nationkey AS BIGINT) AS node,
         |       CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles
         |FROM nation n
         |LEFT JOIN pn ON pn.node = CAST(n.n_nationkey AS BIGINT)
         |ORDER BY node""".stripMargin,

    "q59_subdep_path_counts" ->
      s"""WITH RECURSIVE $T,
         |p AS (
         |  SELECT t.dst AS first, t.dst AS leaf,
         |         [CAST(0 AS BIGINT), t.dst] AS path, CAST(0 AS BIGINT) AS depth
         |  FROM trade t WHERE t.src = 0
         |  UNION ALL
         |  SELECT p.first, t.dst, list_append(p.path, t.dst), p.depth + 1
         |  FROM p JOIN trade t ON t.src = p.leaf
         |  WHERE p.depth < 4 AND NOT list_contains(p.path, t.dst)
         |),
         |x AS (SELECT first, leaf FROM p WHERE depth >= 1),
         |c AS (SELECT first, CAST(count(*) AS BIGINT) AS np,
         |             CAST(count(DISTINCT leaf) AS BIGINT) AS nd
         |      FROM x GROUP BY 1)
         |SELECT f.first AS dep,
         |       CAST(COALESCE(c.np, 0) AS BIGINT) AS n_paths,
         |       CAST(COALESCE(c.nd, 0) AS BIGINT) AS n_distinct
         |FROM (SELECT DISTINCT dst AS first FROM trade WHERE src = 0) f
         |LEFT JOIN c USING (first)
         |ORDER BY n_paths DESC, dep ASC""".stripMargin,

    // all shortest paths 0 → farthest node, enumerated on the
    // shortest-path DAG exactly like the Spark side: forward/backward
    // BFS dists bound which edges may appear in any shortest path, so
    // the path recursion is acyclic and needs no depth bound
    "q50_all_shortest_paths" ->
      s"""WITH RECURSIVE $T,
         |walk AS (
         |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
         |  UNION
         |  SELECT t.dst, w.d + 1 FROM walk w
         |  JOIN trade t ON t.src = w.node WHERE w.d < 25
         |),
         |da AS (SELECT node, min(d) AS dist FROM walk GROUP BY 1),
         |tgt AS (SELECT node, dist AS plen FROM da WHERE node <> 0
         |        ORDER BY dist DESC, node DESC LIMIT 1),
         |rwalk AS (
         |  SELECT node, CAST(0 AS BIGINT) AS d FROM tgt
         |  UNION
         |  SELECT t.src, w.d + 1 FROM rwalk w
         |  JOIN trade t ON t.dst = w.node WHERE w.d < 25
         |),
         |db AS (SELECT node, min(d) AS dist FROM rwalk GROUP BY 1),
         |dag AS (
         |  SELECT t.src, t.dst FROM trade t
         |  JOIN da ON da.node = t.src
         |  JOIN db ON db.node = t.dst
         |  WHERE da.dist + 1 + db.dist = (SELECT plen FROM tgt)
         |),
         |paths AS (
         |  SELECT CAST(0 AS BIGINT) AS leaf, [CAST(0 AS BIGINT)] AS path
         |  UNION ALL
         |  SELECT g.dst, list_append(p.path, g.dst)
         |  FROM paths p JOIN dag g ON g.src = p.leaf
         |)
         |SELECT array_to_string(p.path, '->') AS path_str,
         |       CAST(len(p.path) - 1 AS BIGINT) AS hops
         |FROM paths p JOIN tgt ON p.leaf = tgt.node
         |ORDER BY path_str""".stripMargin,

    "q19_dependency_chains" ->
      s"""WITH RECURSIVE $T,
         |p AS (
         |  SELECT CAST(0 AS BIGINT) AS leaf, [CAST(0 AS BIGINT)] AS path,
         |         CAST(0 AS BIGINT) AS depth
         |  UNION ALL
         |  SELECT t.dst, list_append(p.path, t.dst), p.depth + 1
         |  FROM p JOIN trade t ON t.src = p.leaf
         |  WHERE p.depth < 4 AND NOT list_contains(p.path, t.dst)
         |)
         |SELECT array_to_string(path, '->') AS path_str, depth
         |FROM p WHERE depth >= 1 ORDER BY depth, path_str""".stripMargin,

    "q66_longest_chains" ->
      s"""WITH RECURSIVE $T,
         |p AS (
         |  SELECT CAST(0 AS BIGINT) AS leaf, [CAST(0 AS BIGINT)] AS path,
         |         CAST(0 AS BIGINT) AS depth
         |  UNION ALL
         |  SELECT t.dst, list_append(p.path, t.dst), p.depth + 1
         |  FROM p JOIN trade t ON t.src = p.leaf
         |  WHERE p.depth < 4 AND NOT list_contains(p.path, t.dst)
         |),
         |x AS (SELECT array_to_string(path, '->') AS path_str, depth
         |      FROM p WHERE depth >= 1)
         |SELECT path_str, depth FROM x
         |WHERE depth = (SELECT max(depth) FROM x)
         |ORDER BY path_str""".stripMargin,

    "q37_community_members" ->
      s"""WITH RECURSIVE $T, $U,
         |reach AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS node,
         |         CAST(n_nationkey AS BIGINT) AS peer
         |  FROM nation
         |  UNION
         |  SELECT r.node, u.dst FROM reach r
         |  JOIN undirected u ON u.src = r.peer
         |),
         |comp AS (SELECT node, CAST(min(peer) AS BIGINT) AS component
         |         FROM reach GROUP BY node)
         |SELECT c.component, CAST(count(*) AS BIGINT) AS n_members,
         |       string_agg(n.n_name, ',' ORDER BY n.n_name) AS members
         |FROM comp c JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = c.node
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_connected_components" ->
      s"""WITH RECURSIVE $T, $U,
         |reach AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS node,
         |         CAST(n_nationkey AS BIGINT) AS peer
         |  FROM nation
         |  UNION
         |  SELECT r.node, u.dst FROM reach r
         |  JOIN undirected u ON u.src = r.peer
         |)
         |SELECT node, CAST(min(peer) AS BIGINT) AS component
         |FROM reach GROUP BY node ORDER BY node""".stripMargin,

    "q149_scc_condensation" ->
      s"""WITH RECURSIVE $T,
         |reach AS (
         |  SELECT src, dst FROM trade
         |  UNION
         |  SELECT r.src, t.dst FROM reach r JOIN trade t ON t.src = r.dst
         |),
         |mutual AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS node,
         |         CAST(n_nationkey AS BIGINT) AS peer
         |  FROM nation
         |  UNION
         |  SELECT f.src AS node, f.dst AS peer FROM reach f
         |  JOIN reach b ON f.src = b.dst AND f.dst = b.src
         |),
         |lab AS (SELECT node, CAST(min(peer) AS BIGINT) AS scc
         |        FROM mutual GROUP BY node),
         |ce AS (SELECT DISTINCT ls.scc AS src, ld.scc AS dst
         |       FROM trade t
         |       JOIN lab ls ON ls.node = t.src
         |       JOIN lab ld ON ld.node = t.dst
         |       WHERE ls.scc <> ld.scc),
         |d AS (
         |  SELECT scc AS c, CAST(0 AS BIGINT) AS l
         |  FROM (SELECT DISTINCT scc FROM lab) z
         |  UNION
         |  SELECT e.dst, d.l + 1 FROM d JOIN ce e ON e.src = d.c
         |),
         |lv AS (SELECT c, CAST(max(l) AS BIGINT) AS level FROM d GROUP BY 1),
         |sz AS (SELECT scc, CAST(count(*) AS BIGINT) AS n_members
         |       FROM lab GROUP BY 1)
         |SELECT lv.c AS scc, lv.level, sz.n_members
         |FROM lv JOIN sz ON sz.scc = lv.c
         |ORDER BY level, scc""".stripMargin,

    "q16_scc" ->
      s"""WITH RECURSIVE $T,
         |reach AS (
         |  SELECT src, dst FROM trade
         |  UNION
         |  SELECT r.src, t.dst FROM reach r JOIN trade t ON t.src = r.dst
         |),
         |mutual AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS node,
         |         CAST(n_nationkey AS BIGINT) AS peer
         |  FROM nation
         |  UNION
         |  SELECT f.src AS node, f.dst AS peer FROM reach f
         |  JOIN reach b ON f.src = b.dst AND f.dst = b.src
         |)
         |SELECT node, CAST(min(peer) AS BIGINT) AS scc
         |FROM mutual GROUP BY node ORDER BY node""".stripMargin,

    "q65_scc_top_partitions" ->
      s"""WITH RECURSIVE $T,
         |reach AS (
         |  SELECT src, dst FROM trade
         |  UNION
         |  SELECT r.src, t.dst FROM reach r JOIN trade t ON t.src = r.dst
         |),
         |mutual AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS node,
         |         CAST(n_nationkey AS BIGINT) AS peer
         |  FROM nation
         |  UNION
         |  SELECT f.src AS node, f.dst AS peer FROM reach f
         |  JOIN reach b ON f.src = b.dst AND f.dst = b.src
         |),
         |s AS (SELECT node, CAST(min(peer) AS BIGINT) AS scc
         |      FROM mutual GROUP BY node)
         |SELECT s.scc, CAST(count(*) AS BIGINT) AS n_members,
         |       string_agg(n.n_name, ',' ORDER BY n.n_name) AS members
         |FROM s JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = s.node
         |GROUP BY 1
         |ORDER BY n_members DESC, scc ASC
         |LIMIT 10""".stripMargin,

    "q17_preferential_attachment" ->
      s"""WITH $T,
         |degall AS (
         |  SELECT CAST(n.n_nationkey AS BIGINT) AS node,
         |         CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg
         |  FROM nation n
         |  LEFT JOIN (SELECT n2, count(*) AS deg FROM (
         |               SELECT src AS n2 FROM trade
         |               UNION ALL SELECT dst AS n2 FROM trade) b
         |             GROUP BY 1) d
         |    ON d.n2 = CAST(n.n_nationkey AS BIGINT)
         |),
         |deg AS (
         |  SELECT node, deg FROM degall
         |  WHERE deg >= (SELECT min(deg) FROM (
         |                  SELECT deg FROM degall
         |                  ORDER BY deg DESC, node ASC LIMIT 64) topk)
         |)
         |SELECT a.node AS u, b.node AS v, a.deg * b.deg AS score
         |FROM deg a JOIN deg b ON a.node < b.node
         |ORDER BY score DESC, u ASC, v ASC
         |LIMIT 20""".stripMargin,

    "q18_subdep_counts" ->
      s"""WITH $T
         |SELECT t1.dst AS dep, CAST(count(t2.dst) AS BIGINT) AS subdeps
         |FROM trade t1
         |LEFT JOIN trade t2 ON t2.src = t1.dst
         |WHERE t1.src = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
