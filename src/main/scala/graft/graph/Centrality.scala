package graft.graph

import scala.util.chaining._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Superstep, Tables}

/** Distance- and weight-based centrality — the "node rank /
  * centrality" family of the reference's analytics surface
  * (reference: documentation/queries.md:55-64 degree centrality,
  * 177-190 PageRank): harmonic (closeness-family) centrality and
  * weighted PageRank.
  *
  * Harmonic centrality needs the full distance distribution, which is
  * all-pairs BFS — O(V²) pairs, intrinsic to the definition, sane
  * only on small graphs.
  *
  * Weighted PageRank runs [[Algorithms.pagerank]]'s damped superstep
  * with rank mass split by edge weight (lineitem counts) instead of
  * uniformly — same shuffle shape, oracle unrolled the same way.
  */
object Centrality {

  // ---------------------------------------------------------------- q71
  /** Exact harmonic centrality over directed forward distances:
    * h(v) = Σ_{u ≠ v reachable} 1/d(v,u), plus the reachable count.
    * Nodes with no out-edges score 0. Sum rounded to 6dp (the
    * pagerank float-rounding contract). */
  def harmonic(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val sp = Algorithms.shortestPaths(edges.select("src", "dst").pipe(Checkpoints.cut), None)
    val h = sp.filter(col("src") =!= col("dst"))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_reachable"),
        round(sum(lit(1.0) / col("hops")), 6).as("harmonic"))
    nodes.select("node")
      .join(h, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_reachable"), lit(0L)).as("n_reachable"),
        coalesce(col("harmonic"), lit(0.0)).as("harmonic"))
      .orderBy("node")
  }

  def q71HarmonicCentrality(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    harmonic(TradeGraph.nodes(t), TradeGraph.edges(t))
  }

  // ---------------------------------------------------------------- q72
  /** Weighted PageRank (GraphX semantics, rank mass ∝ edge weight):
    * r ← 0.15 + 0.85 · Σ_in r(src)·w/outw(src), fixed iterations,
    * 6dp. The [[Algorithms.damped]] superstep with the outdegree
    * replaced by the out-weight sum. */
  def weightedPagerank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    Algorithms.damped(nodes, edges.select(col("src"), col("dst"), col("cnt")),
      sum(col("cnt")), col("r") * col("cnt") / col("od"), lit(1.0), lit(0.15),
      iters)(Superstep.budgetOnly).out

  val WprIters = 5

  def q72WeightedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    weightedPagerank(TradeGraph.nodes(t).select("node"),
        TradeGraph.edges(t).pipe(Checkpoints.cut), WprIters)
      .select(col("node"), round(col("r"), 6).as("pagerank"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q76
  /** Betweenness centrality — Brandes' algorithm as a DataFrame
    * program, all sources advanced SIMULTANEOUSLY with state keyed by
    * (source, node):
    *  1. forward BFS counts σ(s,v) = number of shortest s→v paths —
    *     every shortest-path predecessor of a depth-d node sits at
    *     depth d−1, so one groupBy(s, v) sum per level is exact;
    *  2. the shortest-path DAG joins each (s,u) to its successors one
    *     level deeper;
    *  3. backward accumulation per level (deepest first):
    *     δ(s,u) = Σ_w σ(s,u)/σ(s,w) · (1 + δ(s,w)) — Brandes'
    *     pair-dependency recurrence, never a path enumeration;
    *  4. betweenness(v) = Σ_s δ(s,v), v ≠ s.
    * Driver loops are bounded by the diameter (forward) + max depth
    * (backward); every step is a join+agg keyed by (s, v).
    *
    * The source set is the scale control (exactly q13's contract):
    * exact betweenness keys O(|sources|·V) state — all-sources is the
    * oracle-able small-graph entry, pivot SAMPLING (Brandes-Pich) is
    * the 100 TB deployment: pass a sampled source set and the same
    * plan estimates betweenness unbiased at O(|pivots|·V).
    *
    * The DuckDB oracle is algorithm-INDEPENDENT evidence: it
    * enumerates every shortest path over the per-source DAG and sums
    * interior-node fractions σ_st(v)/σ_st directly. */
  def betweenness(nodes: DataFrame, edges: DataFrame,
      sources: Option[DataFrame] = None): DataFrame = {
    val e = edges.select("src", "dst").filter(col("src") =!= col("dst"))
      .distinct().pipe(Checkpoints.cut)
    val srcs = sources.getOrElse(nodes).select(col("node").as("s"))
    // forward: (s, v, d, sigma)
    val visited = Superstep.semiNaive(srcs
        .select(col("s"), col("s").as("v"), lit(0L).as("d"), lit(1L).as("sigma")),
        Int.MaxValue) { (frontier, visited, depth) =>
      frontier.join(e, frontier("v") === e("src"))
        .groupBy(frontier("s"), e("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("s"), col("dst").as("v"), lit(depth.toLong).as("d"), col("sigma"))
        .join(visited.select(col("s").as("s2"), col("v").as("v2")),
          col("s") === col("s2") && col("v") === col("v2"), "left_anti")
    }(_.union(_))
    // shortest-path DAG: (s, u at d, w at d+1, sigu, sigw)
    val dag = visited.as("a").join(e, col("a.v") === e("src"))
      .join(visited.as("b"),
        col("b.s") === col("a.s") && col("b.v") === e("dst") &&
          col("b.d") === col("a.d") + 1)
      .select(col("a.s").as("s"), col("a.v").as("u"), col("b.v").as("w"),
        col("a.d").as("du"), col("a.sigma").as("sigu"), col("b.sigma").as("sigw"))
      .pipe(Checkpoints.cut)
    val maxd = visited.agg(max(col("d"))).first().getLong(0)
    // backward: δ per (s, v), deepest level first — round i settles
    // depth maxd − i
    val deltaAll = Superstep.iterate(visited.filter(col("d") === maxd)
        .select(col("s"), col("v"), lit(0.0).as("delta")), maxd.toInt) {
      (deltaAll, round) =>
        val dep = maxd - round
        val contrib = dag.filter(col("du") === dep)
          .join(deltaAll.select(col("s").as("ds"), col("v").as("dw"), col("delta")),
            col("s") === col("ds") && col("w") === col("dw"))
          .groupBy(col("s"), col("u"))
          .agg(sum(col("sigu").cast("double") / col("sigw")
            * (lit(1.0) + col("delta"))).as("nd"))
        val level = visited.filter(col("d") === dep)
          .select(col("s"), col("v"))
          .join(contrib.select(col("s").as("cs"), col("u"), col("nd")),
            col("s") === col("cs") && col("v") === col("u"), "left")
          .select(col("s"), col("v"), coalesce(col("nd"), lit(0.0)).as("delta"))
        deltaAll.union(level)
    }(Superstep.budgetOnly).out
    val bc = deltaAll.filter(col("v") =!= col("s"))
      .groupBy(col("v").as("node"))
      .agg(sum(col("delta")).as("b"))
    nodes.select("node")
      .join(bc, Seq("node"), "left")
      .select(col("node"), round(coalesce(col("b"), lit(0.0)), 6).as("betweenness"))
      .orderBy("node")
  }

  def q76Betweenness(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    betweenness(TradeGraph.nodes(t), TradeGraph.edges(t))
  }

  // ---------------------------------------------------------------- q88
  /** Eccentricity profile: ecc(v) = max forward distance from v (0
    * when nothing is reachable), plus the reachable count — the
    * per-node form whose max is the graph's diameter and whose min
    * (over reaching nodes) is its radius. Same all-pairs BFS input as
    * [[harmonic]]. */
  def eccentricity(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val sp = Algorithms.shortestPaths(edges.select("src", "dst")
      .filter(col("src") =!= col("dst")).pipe(Checkpoints.cut), None)
    val agg = sp.filter(col("src") =!= col("dst"))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_reachable"), max(col("hops")).as("ecc"))
    nodes.select("node")
      .join(agg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_reachable"), lit(0L)).as("n_reachable"),
        coalesce(col("ecc"), lit(0L)).as("ecc"))
      .orderBy("node")
  }

  def q88Eccentricity(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    eccentricity(TradeGraph.nodes(t), TradeGraph.edges(t))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q71_harmonic_centrality" -> (q71HarmonicCentrality _),
    "q72_weighted_pagerank" -> (q72WeightedPagerank _),
    "q76_betweenness" -> (q76Betweenness _),
    "q88_eccentricity" -> (q88Eccentricity _),
  )

  private val T = TradeGraph.sqlCte

  val oracleSql: Map[String, String] = Map(
    // all-pairs BFS distances (the q13 recursion, unfiltered seed),
    // then Σ 1/d per source; bound 25 = |V| caps any simple path
    "q71_harmonic_centrality" ->
      s"""WITH RECURSIVE $T,
         |sp AS (
         |  SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM trade
         |  UNION
         |  SELECT s.src, t.dst, s.hops + 1 FROM sp s
         |  JOIN trade t ON t.src = s.dst WHERE s.hops < 25
         |),
         |d AS (SELECT src, dst, min(hops) AS hops FROM sp GROUP BY 1, 2),
         |h AS (
         |  SELECT src AS node, CAST(count(*) AS BIGINT) AS n_reachable,
         |         round(sum(1.0 / hops), 6) AS harmonic
         |  FROM d WHERE src <> dst GROUP BY 1)
         |SELECT CAST(n.n_nationkey AS BIGINT) AS node,
         |       CAST(COALESCE(h.n_reachable, 0) AS BIGINT) AS n_reachable,
         |       COALESCE(h.harmonic, 0.0) AS harmonic
         |FROM nation n
         |LEFT JOIN h ON h.node = CAST(n.n_nationkey AS BIGINT)
         |ORDER BY node""".stripMargin,

    // out-weight in place of out-degree, in the Spark association
    // order (r · cnt / od)
    "q72_weighted_pagerank" -> Algorithms.dampedSql("sum(cnt)", "p.r * t.cnt / o.od",
      "CAST(1.0 AS DOUBLE)", "0.15", WprIters, "pagerank"),

    // self-loops excluded from the walk exactly like the Spark side
    "q88_eccentricity" ->
      s"""WITH RECURSIVE $T,
         |te AS (SELECT src, dst FROM trade WHERE src <> dst),
         |sp AS (
         |  SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM te
         |  UNION
         |  SELECT s.src, t.dst, s.hops + 1 FROM sp s
         |  JOIN te t ON t.src = s.dst WHERE s.hops < 25
         |),
         |d AS (SELECT src, dst, min(hops) AS hops FROM sp GROUP BY 1, 2),
         |a AS (
         |  SELECT src AS node, CAST(count(*) AS BIGINT) AS n_reachable,
         |         CAST(max(hops) AS BIGINT) AS ecc
         |  FROM d WHERE src <> dst GROUP BY 1)
         |SELECT CAST(n.n_nationkey AS BIGINT) AS node,
         |       CAST(COALESCE(a.n_reachable, 0) AS BIGINT) AS n_reachable,
         |       CAST(COALESCE(a.ecc, 0) AS BIGINT) AS ecc
         |FROM nation n
         |LEFT JOIN a ON a.node = CAST(n.n_nationkey AS BIGINT)
         |ORDER BY node""".stripMargin,

    // algorithm-independent mirror: enumerate every shortest path on
    // the per-source BFS DAG (acyclic — depth strictly increases, no
    // cycle guard needed), then betweenness(v) = Σ_{s≠t} σ_st(v)/σ_st
    // summed from interior-node counts — where the Spark side runs
    // Brandes' recurrence and never materializes a path
    "q76_betweenness" ->
      s"""WITH RECURSIVE $T,
         |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
         |sp AS (
         |  SELECT node AS s, node AS v, CAST(0 AS BIGINT) AS d FROM nodes
         |  UNION
         |  SELECT sp.s, t.dst, sp.d + 1 FROM sp
         |  JOIN trade t ON t.src = sp.v WHERE sp.d < 25
         |),
         |dist AS (SELECT s, v, min(d) AS d FROM sp GROUP BY 1, 2),
         |dag AS (
         |  SELECT du.s, t.src AS u, t.dst AS w
         |  FROM trade t
         |  JOIN dist du ON du.v = t.src
         |  JOIN dist dv ON dv.s = du.s AND dv.v = t.dst
         |  WHERE dv.d = du.d + 1
         |),
         |walks AS (
         |  SELECT node AS s, node AS leaf, [node] AS path FROM nodes
         |  UNION ALL
         |  SELECT wk.s, g.w, list_append(wk.path, g.w)
         |  FROM walks wk JOIN dag g ON g.s = wk.s AND g.u = wk.leaf
         |),
         |pairs AS (SELECT s, leaf AS t, path FROM walks WHERE s <> leaf),
         |sig AS (SELECT s, t, CAST(count(*) AS BIGINT) AS sigma
         |        FROM pairs GROUP BY 1, 2),
         |thr AS (
         |  SELECT p.s, p.t, x.v, CAST(count(*) AS BIGINT) AS c
         |  FROM pairs p, unnest(p.path[2:len(p.path) - 1]) AS x(v)
         |  GROUP BY 1, 2, 3),
         |bc AS (
         |  SELECT thr.v AS node, sum(CAST(thr.c AS DOUBLE) / sig.sigma) AS b
         |  FROM thr JOIN sig ON sig.s = thr.s AND sig.t = thr.t
         |  GROUP BY 1)
         |SELECT n.node, round(COALESCE(bc.b, 0.0), 6) AS betweenness
         |FROM nodes n LEFT JOIN bc ON bc.node = n.node
         |ORDER BY n.node""".stripMargin,
  )
}
