package graft.graph

import scala.util.chaining._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Checkpoints, Superstep, Tables}
import graft.functions.Md5Prefix

/** Structural graph operators from the Neo4j graph-algorithms library
  * surface the reference leans on for its analytics (reference:
  * documentation/queries.md:82-175 — the community-detection /
  * similarity family next to Louvain and SCC): k-core decomposition,
  * deterministic label propagation, and neighbor-set node similarity.
  *
  * All three are DataFrame join-agg programs:
  *  - k-core is an iterative peel — each round is one degree agg + one
  *    semi-join over the LIVE subgraph, state is O(V) node labels, and
  *    the loop condition reads a scalar count only;
  *  - label propagation is a bounded synchronous sweep (one
  *    neighbor-label agg + one argmax per iteration) with a total
  *    (count desc, label asc) tie order, so the result is
  *    deterministic and oracle-able — unlike classic LPA's random
  *    tie-breaking (GraphX's LabelPropagation remains the RDD
  *    alternative);
  *  - node similarity joins out-neighbor sets ON THE SHARED NEIGHBOR
  *    (never all pairs): cost is Σ_dst indeg(dst)², the standard
  *    blocking for Jaccard over adjacency sets. On a corpus with hub
  *    destinations, cap or sample per-dst fanout, or swap the exact
  *    intersection for the MinHash signatures of
  *    [[graft.functions.MinhashSignature]] — same banding math as the
  *    text near-dup family.
  */
object Cores {

  /** Undirected simple neighbor relation (both directions, self-loops
    * dropped) — degree semantics shared by k-core and LPA. */
  private def simpleUndirected(t: Tables): DataFrame =
    TradeGraph.undirectedEdges(t).filter(col("src") =!= col("dst"))

  // ---------------------------------------------------------------- q68
  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * (undirected, self-loops ignored). Iterative peel: drop nodes of
    * degree < k, recompute degrees over the survivors, repeat to
    * fixpoint — each round one agg + two semi-joins, O(V) state,
    * rounds bounded by |removals|. Returns every node with its core
    * membership and its degree INSIDE the core (0 outside). */
  def kcore(nodes: DataFrame, undirected: DataFrame, k: Int): DataFrame = {
    val live = peel(nodes.select("node")) { live =>
      undirected
        .join(live.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(live.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select("node")
    }
    val coreDeg = undirected
      .join(live.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(live.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
    nodes.select("node")
      .join(live.withColumn("in_core", lit(true)), Seq("node"), "left")
      .join(coreDeg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("in_core"), lit(false)).as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
      .orderBy("node")
  }

  /** Iterative peel to fixpoint (k-core, k-truss): each round keeps
    * the survivors `keep(live)` of the live set; stops once a round
    * removes nothing or nothing is left. Returns the final cut live
    * set. */
  private def peel(seed: DataFrame)(keep: DataFrame => DataFrame): DataFrame = {
    var nLive = 0L
    Superstep.loop(Int.MaxValue) { r =>
      val live = r.cut(seed)
      nLive = Checkpoints.rowCount(live)
      (live, nLive)
    } { (live, r) =>
      val next = r.cut(keep(live))
      val n = Checkpoints.rowCount(next)
      val removed = nLive - n
      nLive = n
      (next, if (n == 0) 0L else removed)
    }(identity).out
  }

  val CoreK = 2

  def q68Kcore(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val u = simpleUndirected(t).pipe(Checkpoints.cut)
    kcore(TradeGraph.nodes(t).select("node"), u, CoreK)
  }

  // ---------------------------------------------------------------- q69
  /** Deterministic label propagation: synchronous sweeps, label(v) ←
    * the most frequent label among v's neighbors with ties to the
    * SMALLEST label (isolated nodes keep their label). The total tie
    * order makes the fixed-budget sweep reproducible on any engine —
    * the property classic random-tie LPA lacks — so the whole run is
    * hash-checkable; GraphX LabelPropagation is the RDD alternative
    * when determinism doesn't matter. Each sweep is one neighbor agg
    * + one per-node argmax (window over the (node, label) counts,
    * |labels per node| ≤ degree). */
  def labelPropagation(nodes: DataFrame, undirected: DataFrame,
      iters: Int): DataFrame = {
    val w = Window.partitionBy("node")
      .orderBy(col("c").desc, col("label").asc)
    Superstep.iterate(nodes.select(col("node"), col("node").as("label")), iters) {
      (lab, _) =>
        val counts = undirected
          .join(lab.select(col("node").as("src"), col("label")), Seq("src"))
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
        val pick = counts.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("node").as("pn"), col("label").as("pl"))
        lab.join(pick, col("node") === col("pn"), "left")
          .select(col("node"), coalesce(col("pl"), col("label")).as("label"))
    }(Superstep.budgetOnly).out
  }

  val LpaIters = 4

  def q69LabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    labelPropagation(TradeGraph.nodes(t).select("node"),
      simpleUndirected(t).pipe(Checkpoints.cut), LpaIters).orderBy("node")
  }

  // ---------------------------------------------------------------- q70
  /** Node similarity (Neo4j GDS nodeSimilarity surface): Jaccard over
    * OUT-neighbor sets for every node pair sharing at least one
    * neighbor, top-[[NodeSimTopK]] by (jaccard desc, u asc, v asc).
    * The pair join is keyed by the shared neighbor — candidate
    * generation is blocked exactly like the text near-dup family,
    * never an all-pairs product. */
  val NodeSimTopK = 20

  def nodeSimilarity(edges: DataFrame, topK: Int): DataFrame = {
    val out = edges.select("src", "dst")
    val deg = out.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val common = out.as("a")
      .join(out.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("u"), col("b.src").as("v"))
      .agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("common"),
        (col("du") + col("dv") - col("common")).as("uni"))
      .select(col("u"), col("v"), col("common"), col("uni"),
        round(col("common").cast("double") / col("uni"), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u").asc, col("v").asc)
      .limit(topK)
  }

  def q70NodeSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val e = TradeGraph.cutEdges(t)
    nodeSimilarity(e, NodeSimTopK)
  }

  // ---------------------------------------------------------------- q78
  /** Deterministic random walks — the node2vec/DeepWalk-style corpus
    * sampler that turns a graph into sequence training data. One walk
    * of [[WalkLen]] steps starts at every node; the step function is
    * PURE: next = neighbors(v) ranked by id, picked at index
    * md5(v:step) mod outdeg — re-runnable with identical output on
    * any cluster layout (the q47 sampling discipline applied to graph
    * walks). Dead ends stop the walk (carry-forward left join).
    * Walks may legitimately revisit nodes — no cycle guard, state is
    * one (start, leaf, path) row per walk, each step one left join
    * keyed by leaf. At 100 TB: neighbor ranking is a per-src window
    * bounded by out-degree, walk state shuffles on the leaf key, and
    * more walks per node = more start rows, never wider state. */
  val WalkLen = 4

  private def stepHash(leaf: org.apache.spark.sql.Column, t: Int) =
    Md5Prefix(concat(leaf.cast("string"), lit(s":$t")), 1, 8).cast("long")

  /** The walk loop itself: one (start, leaf, path) row per walk,
    * shared by q78's listing and q150's co-occurrence statistics. */
  private[graft] def walkPaths(nodes: DataFrame, edges: DataFrame,
      len: Int): DataFrame = Checkpoints.scoped {
    val w = Window.partitionBy("src").orderBy("dst")
    val nb = edges.select("src", "dst").distinct()
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("d", count(lit(1)).over(Window.partitionBy("src")).cast("long"))
      .pipe(Checkpoints.cut)
    Superstep.iterate(nodes.select(col("node").as("start"),
        col("node").as("leaf"), array(col("node")).as("path")), len) { (cur, t) =>
      cur.join(nb,
          col("leaf") === nb("src") &&
            nb("rk") === pmod(stepHash(col("leaf"), t), nb("d")) + 1,
          "left")
        .select(col("start"),
          coalesce(nb("dst"), col("leaf")).as("leaf"),
          when(nb("dst").isNull, col("path"))
            .otherwise(concat(col("path"), array(nb("dst")))).as("path"))
    }(Superstep.budgetOnly).out
  }

  def randomWalks(nodes: DataFrame, edges: DataFrame, len: Int): DataFrame =
    walkPaths(nodes, edges, len).select(col("start"),
      expr("array_join(transform(path, x -> cast(x as string)), '->')")
        .as("path_str"),
      (size(col("path")) - 1).cast("long").as("steps"))
      .orderBy("start")

  def q78RandomWalks(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    randomWalks(TradeGraph.nodes(t).select("node"), TradeGraph.cutEdges(t), WalkLen)
  }

  // ---------------------------------------------------------------- q126
  /** k-truss (Cohen 2008): the maximal subgraph in which every EDGE
    * closes ≥ k−2 triangles — the edge-cohesion refinement of q68's
    * node-degree core (a k-truss is always inside a (k−1)-core, but
    * prunes bridge edges the core keeps). Iterative peel on the
    * canonical (a<b) edge set: per round, one triangle-support count
    * (edge joined to both endpoints' neighbor lists — the q63 wedge
    * shape) and one filter; state is O(E), rounds bounded by
    * |removals|, the loop reads scalar counts only. At 100 TB the
    * support join shuffles on edge endpoints exactly like triangle
    * counting — degree-bounded work, no all-pairs.
    *
    * Returns every canonical edge with membership + in-truss support
    * (0 outside) — all integers. */
  val TrussK = 4

  def ktruss(canonical: DataFrame, k: Int): DataFrame = {
    def support(e: DataFrame): DataFrame = {
      val nb = e.select(col("a").as("x"), col("b").as("y"))
        .union(e.select(col("b").as("x"), col("a").as("y")))
      e.as("e")
        .join(nb.as("na"), col("na.x") === col("e.a"))
        .join(nb.as("nb2"),
          col("nb2.x") === col("e.b") && col("nb2.y") === col("na.y"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(count(lit(1)).as("supp"))
    }
    val live = peel(canonical.select("a", "b")) {
      support(_).filter(col("supp") >= k - 2).select("a", "b")
    }
    canonical
      .join(live.withColumn("in_truss", lit(true)), Seq("a", "b"), "left")
      .join(support(live).withColumnRenamed("supp", "truss_supp"),
        Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("in_truss"), lit(false)).as("in_truss"),
        coalesce(col("truss_supp"), lit(0L)).as("truss_supp"))
      .orderBy("a", "b")
  }

  def q126Ktruss(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val canonical = simpleUndirected(t).filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    ktruss(canonical, TrussK)
  }

  // ---------------------------------------------------------------- q131
  /** Luby's maximal independent set — the classic symmetry-breaking
    * primitive under distributed scheduling/coloring/matching. Each
    * round, every live node whose md5 priority beats ALL live
    * neighbors' joins the MIS and its neighborhood dies; rounds
    * continue until no node is live. With fixed priorities the result
    * is the deterministic lexicographically-first MIS, so the whole
    * run hash-compares (classic Luby redraws per round; one fixed
    * draw keeps the O(log n)-round behavior on non-adversarial
    * graphs). Per round: two semi-joins + one neighbor-min agg + one
    * anti-join, all keyed by node — O(E) work, O(V) state, loop
    * condition reads a scalar count. The md5 hex priorities are
    * unique on any realistic graph (2⁻¹²⁸ collisions; distinctness
    * spec-asserted on both test graphs), which keeps the strict `<`
    * comparison a total order without a tie-break column.
    *
    * Output: every node with `in_mis` and the round it settled
    * (selected, or killed by a selected neighbor). */
  private[graft] def maximalIndependentSet(
      nodes: DataFrame, undirected: DataFrame): DataFrame = Checkpoints.scoped {
    val und = undirected.filter(col("src") =!= col("dst"))
    val pri = nodes.select(col("node"),
      md5(col("node").cast("string")).as("p")).pipe(Checkpoints.cut)
    val settled = Superstep.loop(Int.MaxValue) { r =>
      ((r.cut(pri.select("node")), Superstep.UnionView.empty), Superstep.Unmeasured)
    } { case ((live, settled), r) =>
      val round = r.n.toLong
      val le = und
        .join(live.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(live.select(col("node").as("dst")), Seq("dst"), "left_semi")
      val nm = le
        .join(pri.select(col("node").as("dst"), col("p").as("pd")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(min(col("pd")).as("mn"))
      // isolated-in-live nodes (mn null) always win; two adjacent
      // winners are impossible (one of them sees the other's smaller p)
      val mis = live.join(pri, Seq("node")).join(nm, Seq("node"), "left")
        .filter(col("mn").isNull || col("p") < col("mn"))
        .select("node")
      val killed = le
        .join(mis.select(col("node").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
      val newSettled = r.cut(mis
        .select(col("node"), lit(true).as("in_mis"),
          lit(round).as("settled_round"))
        .union(killed.select(col("node"), lit(false), lit(round))))
      val nextLive = r.cut(live.join(newSettled.select("node"), Seq("node"), "left_anti"))
      ((nextLive, settled.add(newSettled, r)), Checkpoints.rowCount(nextLive))
    }(_._2.view).out
    settled.orderBy("node")
  }

  // ---------------------------------------------------------------- q136
  /** Greedy graph coloring, Jones–Plassmann schedule (the distributed
    * register-allocation / conflict-scheduling primitive; q131's md5
    * priority discipline one step further). Wave t settles every
    * still-uncolored node whose HIGHER-priority neighbors are all
    * colored, giving it the mex (smallest absent value) of their
    * colors — exactly the sequential greedy coloring in priority
    * order, so the result is deterministic and each color ≤ degree.
    * Waves run to fixpoint; the globally minimum-priority live node
    * is always ready, so every wave settles ≥ 1 node and the loop
    * terminates in ≤ |V| waves. The wave count is the DEPTH of the
    * priority DAG — O(log n / log log n) expected on bounded-degree
    * graphs, but ~max-clique-deep on dense ones (the co-purchase
    * graph's order-cliques measure 104 waves for 200 nodes).
    *
    * Per wave: one anti-join (readiness), one neighbor-color agg, an
    * in-row mex (`array_except`/`array_min` over 0..|used|) — O(E)
    * work, O(V) state, scalar loop condition. Returns (node, color,
    * wave) sorted by node. */
  private[graft] def greedyColoring(
      nodes: DataFrame, undirected: DataFrame): DataFrame = Checkpoints.scoped {
    val und = undirected.filter(col("src") =!= col("dst"))
    val pri = nodes.select(col("node"),
      md5(col("node").cast("string")).as("p")).pipe(Checkpoints.cut)
    // (src, dst) where dst is the higher-priority (smaller-p) neighbor
    val hp = und
      .join(pri.select(col("node").as("src"), col("p").as("ps")), Seq("src"))
      .join(pri.select(col("node").as("dst"), col("p").as("pd")), Seq("dst"))
      .filter(col("pd") < col("ps"))
      .select("src", "dst")
      .pipe(Checkpoints.cut)
    Superstep.loop(Int.MaxValue) { r =>
      ((r.cut(pri.select("node")), Superstep.UnionView.empty), Superstep.Unmeasured)
    } { case ((live, settled), r) =>
      val blocked = hp
        .join(live.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src").as("node")).distinct()
      val ready = live.join(blocked, Seq("node"), "left_anti")
      val noColors = array().cast("array<long>")
      val withUsed =
        if (settled.isEmpty) ready.withColumn("cs", noColors)
        else ready.join(hp
            .join(ready.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(settled.view.select(col("node").as("dst"), col("color")), Seq("dst"))
            .groupBy(col("src").as("node"))
            .agg(collect_set(col("color")).as("cs")), Seq("node"), "left")
          .withColumn("cs", coalesce(col("cs"), noColors))
      val colored = r.cut(withUsed.select(col("node"),
        array_min(array_except(
          sequence(lit(0L), size(col("cs")).cast("long")), col("cs")))
          .as("color"),
        lit(r.n.toLong).as("wave")))
      val nextLive = r.cut(live.join(colored.select("node"), Seq("node"), "left_anti"))
      ((nextLive, settled.add(colored, r)), Checkpoints.rowCount(nextLive))
    }(_._2.view).out.orderBy("node")
  }

  def q136Coloring(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    greedyColoring(TradeGraph.nodes(t).select("node"),
      simpleUndirected(t).pipe(Checkpoints.cut))
  }

  def q131Mis(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // cut once: the loop reads the edge relation three times per
    // round, and the raw frame would re-derive it from the base
    // tables each time (q68's discipline)
    maximalIndependentSet(TradeGraph.nodes(t).select("node"),
      simpleUndirected(t).pipe(Checkpoints.cut))
  }

  // ---------------------------------------------------------------- q137
  /** Local clustering coefficient — how close each node's
    * neighborhood is to a clique: lcc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)),
    * 0 where deg < 2. The per-node refinement of q63's triangle
    * counts (same (degree, id)-oriented wedge join, so the same
    * O(m^1.5) bound on any degree distribution) plus one degree agg;
    * the division is a single integer-ratio float per node, 6dp —
    * engine-exact. The global average LCC is one agg away; kept
    * per-node so the output is the analytics surface (find the
    * tightly-knit nodes, not just the summary). */
  def localClustering(nodes: DataFrame, edges: DataFrame,
      undirected: DataFrame): DataFrame = {
    val deg = undirected
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    Algorithms.triangleCounts(nodes, edges)
      .join(deg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        col("n_triangles"),
        when(coalesce(col("degree"), lit(0L)) >= 2,
          round(lit(2.0) * col("n_triangles")
            / (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("lcc"))
      .orderBy("node")
  }

  def q137LocalClustering(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    localClustering(TradeGraph.nodes(t).select("node"),
      TradeGraph.edges(t), simpleUndirected(t))
  }

  // ---------------------------------------------------------------- q142
  /** SimRank (Jeh & Widom, KDD 2002): two nodes are similar when
    * their in-neighbors are similar — s(a,b) = C/(|I(a)|·|I(b)|) ·
    * Σ_{i∈I(a), j∈I(b)} s(i,j), s(v,v) = 1. The citation-style
    * structural-similarity companion to q70's one-hop Jaccard (which
    * only sees SHARED neighbors; SimRank propagates similarity
    * through similar-but-distinct ones).
    *
    * Engine-exact by fixed-point INTEGER arithmetic: scores live in
    * units of 1e-12 and each sweep is s' = (8·Σs) div (10·|I(a)|·|I(b)|)
    * — BIGINT sums (order-free) and floor division, identical in any
    * engine, so a fixed sweep budget is hash-stable with no float
    * drift anywhere. (C = 0.8 is the 8/10 in the division.)
    *
    * Scale shape: the sweep is two edge joins + one (a,b)-keyed agg
    * over the NONZERO score relation only (zero pairs are never
    * materialized — absent = 0). Dense-graph blowup is inherent to
    * all-pairs SimRank; at scale, bound the pair relation by a score
    * threshold per sweep (drop s < ε — the standard truncation, here
    * the floor division already drops sub-1e-12 mass) or restrict to
    * a query node set, which turns each sweep into bounded
    * personalized propagation. At 100 TB score magnitudes want
    * DECIMAL(38) headroom for the Σs·8 product. */
  val SimRankIters = 3
  val SimRankUnit = 1000000000000L

  def simrank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = Checkpoints.scoped {
    val e = edges.select("src", "dst").distinct().pipe(Checkpoints.cut)
    val indeg = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("ind"))
      .pipe(Checkpoints.cut)
    val diag = nodes.select(col("node").as("a"), col("node").as("b"),
      lit(SimRankUnit).as("s"))
    val sims = Superstep.iterate(diag, iters) { (s, _) =>
      val contrib = s
        .join(e.select(col("src").as("a"), col("dst").as("na")), Seq("a"))
        .join(e.select(col("src").as("b"), col("dst").as("nb")), Seq("b"))
        .filter(col("na") =!= col("nb"))
        .groupBy(col("na").as("a"), col("nb").as("b"))
        .agg(sum(col("s")).as("ssum"))
      val upd = contrib
        .join(indeg.select(col("node").as("a"), col("ind").as("da")), Seq("a"))
        .join(indeg.select(col("node").as("b"), col("ind").as("db")), Seq("b"))
        .selectExpr("a", "b", "(8 * ssum) div (10 * da * db) AS s")
        .filter(col("s") > 0)
      diag.unionByName(upd)
    }(Superstep.budgetOnly).out
    sims.filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(col("s").cast("double") / SimRankUnit, 6).as("sim"))
      .orderBy(col("sim").desc, col("a").asc, col("b").asc)
  }

  def q142Simrank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    simrank(TradeGraph.nodes(t).select("node"), TradeGraph.edges(t),
      SimRankIters)
  }

  // ---------------------------------------------------------------- q152
  /** Dyad census + reciprocity — the directed-structure summary
    * (mutual / asymmetric / null dyads, reciprocity = fraction of
    * ordered edges that are reciprocated) behind "is this graph a
    * conversation or a broadcast": trade reciprocity, citation
    * asymmetry, follower-graph health all read off this one row.
    *
    * One distinct edge pass + ONE self-join keyed on the full (src,
    * dst) pair (equi keys — never all-pairs) counts mutual dyads;
    * the rest is integer arithmetic over three broadcast scalars.
    * Engine-exact: the single float is the terminal reciprocity
    * division, 6dp. */
  def dyadCensus(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst").distinct()
      .filter(col("src") =!= col("dst")).pipe(Checkpoints.cut)
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val mu = e.as("x").join(e.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .filter(col("x.src") < col("x.dst"))
      .agg(count(lit(1)).as("mutual_dyads"))
    nn.crossJoin(broadcast(ne)).crossJoin(broadcast(mu))
      .select(col("n_nodes"), col("n_edges"), col("mutual_dyads"),
        (col("n_edges") - lit(2) * col("mutual_dyads")).as("asym_dyads"),
        // div, not /: Column./ is double division and dyad counts
        // must stay integer end to end
        expr("n_nodes * (n_nodes - 1) div 2 - mutual_dyads" +
          " - (n_edges - 2 * mutual_dyads)").as("null_dyads"),
        round(lit(2.0) * col("mutual_dyads") / col("n_edges"), 6)
          .as("reciprocity"))
  }

  def q152DyadCensus(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    dyadCensus(TradeGraph.nodes(t).select("node"), TradeGraph.edges(t))
  }

  // ---------------------------------------------------------------- q150
  /** Walk co-occurrence PMI — the node2vec/DeepWalk TRAINING SIGNAL:
    * q78's deterministic walks become skip-gram pairs (every
    * unordered pair within [[PmiWindow]] walk positions) and each
    * pair scores pmi = ln(P(a,b)/(P(a)P(b))) from the walk corpus.
    * Positive PMI = nodes that co-traverse more than their individual
    * frequencies predict — exactly what a downstream embedding would
    * be trained to encode, exposed as a relation instead.
    *
    * Every count is an integer from deterministic walks (the q47/q78
    * md5 discipline), so the PMI is ONE float expression from four
    * exact integers — engine-exact at 6dp. Pair extraction self-joins
    * each walk's positions keyed by WALK ID (positions per walk ≤
    * len+1, so the join is linear in walks·window); counts are two
    * partial aggs; the scalar totals broadcast as a 1-row frame. */
  val PmiWindow = 2

  def walkPmi(nodes: DataFrame, edges: DataFrame, len: Int,
      window: Int): DataFrame = {
    val tk = walkPaths(nodes, edges, len)
      .select(col("start"), posexplode(col("path")).as(Seq("pos", "node")))
    val pr = tk.as("x").join(tk.as("y"),
        col("x.start") === col("y.start") &&
          (col("y.pos") - col("x.pos")).between(1, window))
      .select(least(col("x.node"), col("y.node")).as("a"),
        greatest(col("x.node"), col("y.node")).as("b"))
    val cab = pr.groupBy("a", "b").agg(count(lit(1)).as("c"))
    val cn = tk.groupBy("node").agg(count(lit(1)).as("cn"))
    val tot = pr.agg(count(lit(1)).as("tp"))
      .crossJoin(tk.agg(count(lit(1)).as("tt")))
    cab
      .join(cn.select(col("node").as("a"), col("cn").as("ca")), Seq("a"))
      .join(cn.select(col("node").as("b"), col("cn").as("cb")), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("c").as("n_cooc"),
        round(log((col("c").cast("double") / col("tp"))
          / ((col("ca").cast("double") / col("tt"))
            * (col("cb").cast("double") / col("tt")))), 6).as("pmi"))
      .orderBy("a", "b")
  }

  def q150WalkPmi(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    walkPmi(TradeGraph.nodes(t).select("node"), TradeGraph.cutEdges(t), WalkLen, PmiWindow)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q126_ktruss" -> (q126Ktruss _),
    "q68_kcore" -> (q68Kcore _),
    "q69_label_propagation" -> (q69LabelPropagation _),
    "q70_node_similarity" -> (q70NodeSimilarity _),
    "q78_random_walks" -> (q78RandomWalks _),
    "q131_mis" -> (q131Mis _),
    "q136_coloring" -> (q136Coloring _),
    "q137_local_clustering" -> (q137LocalClustering _),
    "q142_simrank" -> (q142Simrank _),
    "q150_walk_pmi" -> (q150WalkPmi _),
    "q152_dyad_census" -> (q152DyadCensus _),
  )

  /** Unrolled Jones–Plassmann waves. Each wave settles at least the
    * minimum-priority live node, so `waves` = |V| reaches the
    * fixpoint; trailing waves are empty no-ops. The mex is the same
    * list expression the engine evaluates (0..|used| minus used). */
  private def coloringSql(waves: Int): String = {
    val ctes = (1 to waves).map { t =>
      s"""rd$t AS MATERIALIZED (
         |  SELECT l.node FROM lv${t - 1} l
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM hp h JOIN lv${t - 1} x ON x.node = h.dst
         |    WHERE h.src = l.node)),
         |us$t AS (
         |  SELECT h.src AS node, list(DISTINCT s.color) AS cs
         |  FROM hp h
         |  JOIN rd$t r ON r.node = h.src
         |  JOIN st${t - 1} s ON s.node = h.dst
         |  GROUP BY 1),
         |cl$t AS MATERIALIZED (
         |  SELECT r.node,
         |         CASE WHEN u.cs IS NULL THEN CAST(0 AS BIGINT)
         |              ELSE CAST(list_min(list_filter(
         |                     generate_series(0, len(u.cs)),
         |                     y -> NOT list_contains(u.cs, y))) AS BIGINT)
         |         END AS color,
         |         CAST($t AS BIGINT) AS wave
         |  FROM rd$t r LEFT JOIN us$t u ON u.node = r.node),
         |st$t AS MATERIALIZED (
         |  SELECT node, color FROM st${t - 1}
         |  UNION ALL SELECT node, color FROM cl$t),
         |lv$t AS MATERIALIZED (
         |  SELECT node FROM lv${t - 1}
         |  EXCEPT SELECT node FROM rd$t)""".stripMargin
    }.mkString(",\n")
    val union = (1 to waves).map(t => s"SELECT * FROM cl$t")
      .mkString(" UNION ALL ")
    s"""WITH $T, $U,
       |su AS MATERIALIZED (SELECT src, dst FROM undirected WHERE src <> dst),
       |pri AS MATERIALIZED (
       |  SELECT node, md5(CAST(node AS VARCHAR)) AS p
       |  FROM (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation)),
       |hp AS MATERIALIZED (
       |  SELECT e.src, e.dst FROM su e
       |  JOIN pri ps ON ps.node = e.src
       |  JOIN pri pd ON pd.node = e.dst
       |  WHERE pd.p < ps.p),
       |lv0 AS MATERIALIZED (SELECT node FROM pri),
       |st0 AS (SELECT CAST(NULL AS BIGINT) AS node,
       |               CAST(NULL AS BIGINT) AS color WHERE 1 = 0),
       |$ctes
       |SELECT node, color, wave FROM ($union) ORDER BY node""".stripMargin
  }

  /** Unrolled Luby rounds. Every round the live node with the globally
    * smallest priority enters the MIS, so each non-empty round settles
    * ≥ 1 node and `rounds` = |V| always reaches the fixpoint; in
    * practice the sweep ends in a handful of rounds and the trailing
    * CTEs are empty no-ops. */
  private def misSql(rounds: Int): String = {
    val ctes = (1 to rounds).map { t =>
      s"""nm$t AS (
         |  SELECT e.src AS node, min(p2.p) AS mn
         |  FROM su e
         |  JOIN l${t - 1} a ON a.node = e.src
         |  JOIN l${t - 1} b ON b.node = e.dst
         |  JOIN pri p2 ON p2.node = e.dst
         |  GROUP BY 1),
         |m$t AS MATERIALIZED (
         |  SELECT l.node FROM l${t - 1} l
         |  JOIN pri p ON p.node = l.node
         |  LEFT JOIN nm$t n ON n.node = l.node
         |  WHERE n.mn IS NULL OR p.p < n.mn),
         |k$t AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node
         |  FROM su e
         |  JOIN m$t m ON m.node = e.src
         |  JOIN l${t - 1} b ON b.node = e.dst),
         |l$t AS MATERIALIZED (
         |  SELECT node FROM l${t - 1}
         |  EXCEPT SELECT node FROM m$t
         |  EXCEPT SELECT node FROM k$t)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds).map { t =>
      s"""SELECT node, true AS in_mis, CAST($t AS BIGINT) AS settled_round
         |FROM m$t
         |UNION ALL
         |SELECT node, false, CAST($t AS BIGINT) FROM k$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $T, $U,
       |su AS MATERIALIZED (SELECT src, dst FROM undirected WHERE src <> dst),
       |pri AS MATERIALIZED (
       |  SELECT node, md5(CAST(node AS VARCHAR)) AS p
       |  FROM (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation)),
       |l0 AS MATERIALIZED (SELECT node FROM pri),
       |$ctes
       |SELECT node, in_mis, settled_round FROM (
       |$union
       |) ORDER BY node""".stripMargin
  }

  private val T = TradeGraph.sqlCte
  private val U = TradeGraph.sqlUndirectedCte

  /** Unrolled peel rounds r0..rN — each non-fixpoint round removes at
    * least one node, so N = |V| rounds reach the fixpoint on any
    * 25-node graph. MATERIALIZED: DuckDB inlines plain CTEs and
    * r(t-1) appears twice per round. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val ctes = (1 to rounds).map { t =>
      s"""r$t AS MATERIALIZED (
         |  SELECT r.node FROM r${t - 1} r
         |  JOIN su u ON u.src = r.node
         |  JOIN r${t - 1} r2 ON r2.node = u.dst
         |  GROUP BY r.node HAVING count(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $T, $U,
       |su AS MATERIALIZED (SELECT src, dst FROM undirected WHERE src <> dst),
       |r0 AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
       |$ctes,
       |cd AS (
       |  SELECT r.node, CAST(count(*) AS BIGINT) AS core_deg
       |  FROM r$rounds r
       |  JOIN su u ON u.src = r.node
       |  JOIN r$rounds r2 ON r2.node = u.dst
       |  GROUP BY r.node)
       |SELECT n.node, (c.node IS NOT NULL) AS in_core,
       |       CAST(COALESCE(cd.core_deg, 0) AS BIGINT) AS core_deg
       |FROM r0 n
       |LEFT JOIN r$rounds c ON c.node = n.node
       |LEFT JOIN cd ON cd.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  /** Unrolled synchronous sweeps l0..lN mirroring
    * [[labelPropagation]]'s (count desc, label asc) argmax. */
  private def lpaSql(iters: Int): String = {
    val ctes = (1 to iters).map { t =>
      s"""c$t AS (
         |  SELECT u.dst AS node, l.label, count(*) AS c
         |  FROM su u JOIN l${t - 1} l ON l.node = u.src
         |  GROUP BY 1, 2),
         |p$t AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node
         |                              ORDER BY c DESC, label ASC) AS rk
         |    FROM c$t) z
         |  WHERE rk = 1),
         |l$t AS MATERIALIZED (
         |  SELECT l.node, COALESCE(p.label, l.label) AS label
         |  FROM l${t - 1} l LEFT JOIN p$t p ON p.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $T, $U,
       |su AS MATERIALIZED (SELECT src, dst FROM undirected WHERE src <> dst),
       |l0 AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node,
       |         CAST(n_nationkey AS BIGINT) AS label
       |  FROM nation),
       |$ctes
       |SELECT node, label FROM l$iters ORDER BY node""".stripMargin
  }

  /** Shared walk-construction CTE chain (mirror of [[walkPaths]]):
    * unrolled walk steps w0..w$len with their path list column — the
    * same md5 step function ([[Md5Prefix.hexToLongSql]] mirrors the
    * Spark form), dead-end carry-forward as a LEFT JOIN per step. */
  private def walkCtes(len: Int): String = {
    val ctes = (1 to len).map { t =>
      val h = Md5Prefix.hexToLongSql(
        s"md5(CAST(w.leaf AS VARCHAR) || ':$t')", 1, 8)
      s"""w$t AS MATERIALIZED (
         |  SELECT w.start, COALESCE(n.dst, w.leaf) AS leaf,
         |         CASE WHEN n.dst IS NULL THEN w.path
         |              ELSE list_append(w.path, n.dst) END AS path
         |  FROM w${t - 1} w LEFT JOIN nb n
         |    ON n.src = w.leaf AND n.rk = ($h) % n.d + 1)""".stripMargin
    }.mkString(",\n")
    s"""nb AS MATERIALIZED (
       |  SELECT src, dst,
       |         CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
       |              AS BIGINT) AS rk,
       |         CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS d
       |  FROM (SELECT DISTINCT src, dst FROM trade) z),
       |w0 AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS start,
       |         CAST(n_nationkey AS BIGINT) AS leaf,
       |         [CAST(n_nationkey AS BIGINT)] AS path
       |  FROM nation),
       |$ctes""".stripMargin
  }

  private def walksSql(len: Int): String =
    s"""WITH $T,
       |${walkCtes(len)}
       |SELECT start, array_to_string(path, '->') AS path_str,
       |       CAST(len(path) - 1 AS BIGINT) AS steps
       |FROM w$len ORDER BY start""".stripMargin

  /** Unrolled walk chain + skip-gram pair extraction + the single
    * PMI float expression from four exact integers. */
  private def pmiSql(len: Int, window: Int): String =
    s"""WITH $T,
       |${walkCtes(len)},
       |tk AS (
       |  SELECT start, i AS pos, path[CAST(i AS INT)] AS node
       |  FROM (SELECT start, path,
       |               unnest(generate_series(1, len(path))) AS i
       |        FROM w$len) z),
       |pr AS (
       |  SELECT least(x.node, y.node) AS a, greatest(x.node, y.node) AS b
       |  FROM tk x JOIN tk y ON x.start = y.start
       |   AND y.pos - x.pos BETWEEN 1 AND $window),
       |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
       |        FROM pr GROUP BY 1, 2),
       |cn AS (SELECT node, CAST(count(*) AS BIGINT) AS cn
       |       FROM tk GROUP BY 1),
       |tot AS (SELECT CAST((SELECT count(*) FROM pr) AS BIGINT) AS tp,
       |               CAST((SELECT count(*) FROM tk) AS BIGINT) AS tt)
       |SELECT cab.a, cab.b, cab.c AS n_cooc,
       |       round(ln((CAST(cab.c AS DOUBLE) / tot.tp)
       |         / ((CAST(ca.cn AS DOUBLE) / tot.tt)
       |           * (CAST(cb.cn AS DOUBLE) / tot.tt))), 6) AS pmi
       |FROM cab
       |JOIN cn ca ON ca.node = cab.a
       |JOIN cn cb ON cb.node = cab.b, tot
       |ORDER BY a, b""".stripMargin

  /** Unrolled truss-peel rounds e0..eN. N = 10 comfortably covers the
    * fixpoint (measured ≤ 4 rounds at every SF; a convergence spec
    * asserts the margin), and once the fixpoint is reached every
    * further round is the identity, so over-unrolling is harmless. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val ctes = (1 to rounds).map { t =>
      s"""n$t AS MATERIALIZED (
         |  SELECT a AS x, b AS y FROM e${t - 1}
         |  UNION ALL SELECT b, a FROM e${t - 1}),
         |e$t AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${t - 1} e
         |  JOIN n$t na ON na.x = e.a
         |  JOIN n$t nb ON nb.x = e.b AND nb.y = na.y
         |  GROUP BY e.a, e.b HAVING count(*) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH $T, $U,
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM undirected WHERE src <> dst),
       |$ctes,
       |nf AS (SELECT a AS x, b AS y FROM e$rounds
       |       UNION ALL SELECT b, a FROM e$rounds),
       |fs AS (
       |  SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS truss_supp
       |  FROM e$rounds e
       |  JOIN nf na ON na.x = e.a
       |  JOIN nf nb ON nb.x = e.b AND nb.y = na.y
       |  GROUP BY e.a, e.b)
       |SELECT c.a, c.b, (t.a IS NOT NULL) AS in_truss,
       |       CAST(COALESCE(fs.truss_supp, 0) AS BIGINT) AS truss_supp
       |FROM e0 c
       |LEFT JOIN e$rounds t ON t.a = c.a AND t.b = c.b
       |LEFT JOIN fs ON fs.a = c.a AND fs.b = c.b
       |ORDER BY c.a, c.b""".stripMargin
  }

  /** Unrolled integer-fixed-point SimRank sweeps (mirror of
    * [[simrank]]: same 1e-12 units, same 8/10 floor division). */
  private def simrankSql(iters: Int): String = {
    val ctes = (1 to iters).map { t =>
      s"""c$t AS (
         |  SELECT ea.dst AS a, eb.dst AS b, CAST(sum(s.s) AS BIGINT) AS ssum
         |  FROM s${t - 1} s
         |  JOIN e ea ON ea.src = s.a
         |  JOIN e eb ON eb.src = s.b
         |  WHERE ea.dst <> eb.dst
         |  GROUP BY 1, 2),
         |u$t AS (
         |  SELECT c.a, c.b,
         |         CAST((8 * c.ssum) // (10 * da.ind * db.ind) AS BIGINT) AS s
         |  FROM c$t c
         |  JOIN ind da ON da.node = c.a
         |  JOIN ind db ON db.node = c.b),
         |s$t AS MATERIALIZED (
         |  SELECT * FROM diag
         |  UNION ALL SELECT * FROM u$t WHERE s > 0)""".stripMargin
    }.mkString(",\n")
    s"""WITH $T,
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM trade),
       |ind AS MATERIALIZED (
       |  SELECT dst AS node, CAST(count(*) AS BIGINT) AS ind
       |  FROM e GROUP BY 1),
       |diag AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS a,
       |         CAST(n_nationkey AS BIGINT) AS b,
       |         CAST($SimRankUnit AS BIGINT) AS s
       |  FROM nation),
       |s0 AS MATERIALIZED (SELECT * FROM diag),
       |$ctes
       |SELECT a, b, round(CAST(s AS DOUBLE) / $SimRankUnit, 6) AS sim
       |FROM s$iters WHERE a < b
       |ORDER BY sim DESC, a ASC, b ASC""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q142_simrank" -> simrankSql(SimRankIters),

    "q150_walk_pmi" -> pmiSql(WalkLen, PmiWindow),

    "q152_dyad_census" ->
      s"""WITH $T,
         |e AS (SELECT DISTINCT src, dst FROM trade WHERE src <> dst),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nation),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
         |mu AS (SELECT CAST(count(*) AS BIGINT) AS mutual_dyads
         |       FROM e x JOIN e y ON x.src = y.dst AND x.dst = y.src
         |       WHERE x.src < x.dst)
         |SELECT n_nodes, n_edges, mutual_dyads,
         |       n_edges - 2 * mutual_dyads AS asym_dyads,
         |       n_nodes * (n_nodes - 1) // 2 - mutual_dyads
         |         - (n_edges - 2 * mutual_dyads) AS null_dyads,
         |       round(2.0 * mutual_dyads / n_edges, 6) AS reciprocity
         |FROM nn, ne, mu""".stripMargin,

    // same (degree, id) orientation as q63's triangle oracle, plus
    // the simple-undirected degree and the per-node ratio
    "q137_local_clustering" ->
      s"""WITH $T, $U,
         |su AS (SELECT src, dst FROM undirected WHERE src <> dst),
         |dg0 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
         |        FROM su GROUP BY 1),
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
         |       CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
         |       CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
         |       CASE WHEN COALESCE(d.degree, 0) >= 2
         |            THEN round(2.0 * COALESCE(pn.n_triangles, 0)
         |                   / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
         |            ELSE 0.0 END AS lcc
         |FROM nation n
         |LEFT JOIN dg0 d ON d.node = CAST(n.n_nationkey AS BIGINT)
         |LEFT JOIN pn ON pn.node = CAST(n.n_nationkey AS BIGINT)
         |ORDER BY node""".stripMargin,

    "q126_ktruss" -> ktrussSql(TrussK, 10),

    "q131_mis" -> misSql(25),

    "q136_coloring" -> coloringSql(25),

    "q68_kcore" -> kcoreSql(CoreK, 25),

    "q78_random_walks" -> walksSql(WalkLen),

    "q69_label_propagation" -> lpaSql(LpaIters),

    "q70_node_similarity" ->
      s"""WITH $T,
         |o AS (SELECT src, dst FROM trade),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
         |        FROM o GROUP BY 1),
         |com AS (
         |  SELECT a.src AS u, b.src AS v, CAST(count(*) AS BIGINT) AS common
         |  FROM o a JOIN o b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT c.u, c.v, c.common,
         |       du.d + dv.d - c.common AS uni,
         |       round(CAST(c.common AS DOUBLE)
         |             / (du.d + dv.d - c.common), 6) AS jaccard
         |FROM com c
         |JOIN deg du ON du.node = c.u
         |JOIN deg dv ON dv.node = c.v
         |ORDER BY jaccard DESC, u ASC, v ASC
         |LIMIT $NodeSimTopK""".stripMargin,
  )
}
