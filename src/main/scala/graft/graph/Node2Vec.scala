package graft.graph


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** node2vec SECOND-ORDER biased walks (Grover & Leskovec 2016, KDD
  * §3.2) — the sampling strategy DeepWalk's uniform walk (q222)
  * cannot express: the transition out of `cur` depends on where the
  * walk CAME FROM. A candidate next-hop `x` is weighted by the
  * return parameter p (x = prev), distance to prev (x a direct
  * successor of prev → weight 1), or the in-out parameter q (x two
  * hops from prev) — BFS-like local walks for q > 1, DFS-like
  * exploration for q < 1. The graph is directed here (the reference's
  * `DEPENDS_ON` arrows, documentation/queries.md), so "x near prev"
  * is the directed-edge test prev→x — the directed adaptation of the
  * paper's undirected d(prev, x) ≤ 1.
  * (Reference lineage: documentation/queries.md's multi-hop
  * dependency walks — the locality-controlled sampled member.)
  *
  * Determinism contract (the q222/q194/q123 discipline): the walk is
  * a pure function of the graph. α-weights are INTEGERS — scaling
  * (1/p, 1, 1/q) by p·q gives (q, p·q, p) = ([[WReturn]],
  * [[WCommon]], [[WFar]]) — so each state (prev, cur) owns an exact
  * integer partition of [0, tot); the transition picks the candidate
  * whose [lo, hi) interval contains md5(walk_id ':' step) mod tot.
  * No RNG, no float cumulative probabilities — reproducible across
  * engines/layouts/retries and expressible in ANSI SQL, so the full
  * trajectory table is oracle-checkable. Step 0→1 has no `prev` and
  * uses q222's first-order pick (the paper's convention).
  *
  * Scale shape: the second-order transition table `adj2` (the
  * paper's precomputed transition probabilities, §3.2.1) is built
  * ONCE — one adjacency self-join keyed on the shared middle node
  * (Σ out-deg² rows, the known node2vec preprocessing cost) plus one
  * LEFT join against the edge set keyed on (prev, x); the interval
  * arithmetic is a window over (prev, cur) groups, never global.
  * Each walk step is then ONE equi join of the frontier against adj2
  * keyed on (prev, cur) with the interval test as a residual — the
  * frontier stays constant-sized, AQE broadcasts the suite-scale
  * adj2, and a billion-edge adj2 shuffle-joins co-partitioned on its
  * key. The step count is a bounded static unroll. Σ out-deg² is the
  * family's one super-linear relation: [[node2vecWalks]] exposes the
  * `minSupport` edge-weight bound (see [[boundedEdges]]) so a
  * hub-heavy graph never has to build the unbounded table.
  */
object Node2Vec {

  /** Return parameter p (appears as the FAR weight after ×p·q). */
  val P = 2

  /** In-out parameter q > 1: BFS-like, walks stay near the seed. */
  val Q = 4

  /** Integer α·p·q weight for x = prev (α = 1/p). */
  val WReturn: Long = Q.toLong

  /** Integer α·p·q weight for prev→x an edge (α = 1). */
  val WCommon: Long = P.toLong * Q

  /** Integer α·p·q weight otherwise (α = 1/q). */
  val WFar: Long = P.toLong

  /** Second-order transition intervals: for every walk state
    * (prev, cur) — a directed edge — and every out-neighbor `x` of
    * `cur`, the integer pick interval [lo, hi) within [0, tot).
    * Candidates are ordered by the cur→x adjacency rank (cnt desc,
    * dst asc — q222's order), so the partition of [0, tot) is
    * deterministic. A self-loop candidate (x = prev = cur) classifies
    * as RETURN (the `when` order; the paper's α is over distance to
    * prev, and d = 0 wins). `adj` carries (src, dst, rk, od);
    * `edges` the raw (src, dst) set. */
  private[graft] def transitionIntervals(adj: DataFrame,
      edges: DataFrame): DataFrame = {
    val a = graft.Checkpoints.cut(adj)
    val cand = a.select(col("src").as("prev"), col("dst").as("cur"))
      .join(a.select(col("src").as("mid"), col("dst").as("x"),
          col("rk")),
        col("cur") === col("mid"))
      .drop("mid")
    val common = edges.select(col("src").as("prev"), col("dst").as("x"))
      .withColumn("cm", lit(1))
    val w = cand.join(common, Seq("prev", "x"), "left")
      .withColumn("w",
        when(col("x") === col("prev"), lit(WReturn))
          .when(col("cm").isNotNull, lit(WCommon))
          .otherwise(lit(WFar)))
    val byState = Window.partitionBy("prev", "cur")
    val running = byState.orderBy("rk")
    w.withColumn("hi", sum("w").over(running))
      .withColumn("lo", col("hi") - col("w"))
      .withColumn("tot", sum("w").over(byState))
      .select("prev", "cur", "x", "lo", "hi", "tot")
  }

  /** One second-order transition: the (prev, node) frontier joins the
    * interval table on the state key, the hash-interval test riding
    * as a residual (plan-audited). `a2` carries (p2, c2, x, lo, hi,
    * tot); `s` is the step being left. */
  private[graft] def stepJoin(cur: DataFrame, a2: DataFrame,
      s: Int): DataFrame = {
    val pk = expr(
      s"""cast(conv(substring(md5(concat(cast(walk_id as string),
         |  ':', '$s')), 1, 15), 16, 10) as bigint)""".stripMargin) %
      col("tot")
    cur.join(a2,
        col("prev") === col("p2") && col("node") === col("c2"))
      .filter(pk >= col("lo") && pk < col("hi"))
      .select(col("walk_id"), col("x").as("node"),
        col("c2").as("prev"))
  }

  /** Walk rows (walk_id, step, node) for step 0..len: step 1 by the
    * first-order pick, steps ≥ 2 by the (prev, cur) interval pick.
    * Sinks terminate (inner-join drop — q222's semantics). Each step
    * is one [[Superstep]] round, as in [[RandomWalks.walkRows]]. */
  private[graft] def walkRows(seeds: DataFrame, adj: DataFrame,
      adj2: DataFrame, len: Int): DataFrame = {
    def pick(s: Int) = expr(
      s"""cast(conv(substring(md5(concat(cast(walk_id as string),
         |  ':', '$s')), 1, 15), 16, 10) as bigint)""".stripMargin)
    // both lookup relations CACHED pre-partitioned + sorted on their
    // join keys (the walkRows discipline — persist keeps the
    // partitioning a localCheckpoint would lose under AQE): every
    // step's sort-merge join then exchanges only the frontier
    val a = adj.repartition(col("src")).sortWithinPartitions("src")
      .persist()
    val a2 = adj2.select(
        col("prev").as("p2"), col("cur").as("c2"), col("x"),
        col("lo"), col("hi"), col("tot"))
      .repartition(col("p2"), col("c2"))
      .sortWithinPartitions("p2", "c2")
      .persist()
    // round 0 takes the first-order step 1; round r the second-order
    // step r + 1
    val walks = Superstep.loop(len - 1) { r =>
      val cur = r.cut(seeds.join(a, col("node") === col("src"))
        .filter(col("rk") === pick(0) % col("od") + 1)
        .select(col("walk_id"), col("node").as("prev"),
          col("dst").as("node")))
      ((cur, Superstep.UnionView(Vector(RandomWalks.stepRows(seeds, 0),
        RandomWalks.stepRows(cur, 1)))), Superstep.Unmeasured)
    } { case ((cur, acc), r) =>
      val next = r.cut(stepJoin(cur, a2, r.n))
      ((next, acc.add(RandomWalks.stepRows(next, r.n + 1), r)), Superstep.Unmeasured)
    }(_._2.view).out
    // every step is materialized by its cut; the caches can go
    a.unpersist(blocking = false)
    a2.unpersist(blocking = false)
    walks
  }

  /** Edge-support bound for the adj2 quadratic: keep only edges with
    * weight (`cnt`) ≥ `minSupport`. adj2 is Σ out-deg² rows — the
    * paper's own preprocessing cost — and UNBOUNDED hub degrees make
    * it quadratic in practice (measured: 3.1G candidate rows on the
    * 10× co-purchase graph, BENCH_SCALING.md Part 11). Weight
    * thresholding is the q104 repeat-edge answer: hubs are hubs
    * because of a long tail of weight-1 incidental edges, so
    * `minSupport = 2` collapses the same 10× table to ~10k rows while
    * keeping every repeatedly-confirmed transition. `minSupport ≤ 1`
    * is the identity (no filter in the plan at all). */
  def boundedEdges(weighted: DataFrame, minSupport: Long): DataFrame =
    if (minSupport <= 1L) weighted
    else weighted.filter(col("cnt") >= minSupport)

  /** End-to-end second-order walks over ANY weighted edge list
    * (src, dst, cnt) — the user-facing entry point, with the adj2
    * degree bound as a first-class knob. Builds the ranked adjacency
    * and the transition-interval table on the [[boundedEdges]]
    * subgraph (BOTH sides — the α classification's prev→x edge test
    * must see the same edge set the walk moves on, or a dropped edge
    * would still read as "near prev") and unrolls [[walkRows]].
    * `minSupport = 1` reproduces the unbounded construction exactly
    * (spec-pinned bit-equal on the trade graph — the oracled q224
    * path routes through here at 1); at 100 TB on a hub-heavy graph,
    * set it ≥ 2 (or pre-bound the edge list yourself) — the Σ
    * out-deg² table is the one relation in this family that is NOT
    * otherwise linear in the input. */
  def node2vecWalks(seeds: DataFrame, weighted: DataFrame, len: Int,
      minSupport: Long = 1L): DataFrame = {
    val kept = boundedEdges(weighted, minSupport)
    val adj = RandomWalks.rankedAdjacency(kept)
    walkRows(seeds, adj,
      transitionIntervals(adj, kept.select("src", "dst")), len)
  }

  /** q224: [[RandomWalks.WalksPerNode]] node2vec walks of
    * [[RandomWalks.WalkLen]] steps from every nation (p = [[P]],
    * q = [[Q]]), sharing q222's seeds so the two corpora differ only
    * by sampling strategy. */
  def q224Node2vecWalks(spark: SparkSession, dir: String): DataFrame =
    tradeWalks(spark, dir).orderBy("walk_id", "step")

  /** The unsorted q224 trajectory relation — shared by the q224
    * presentation sort and the node2vec-corpus training/audit pair
    * (q226/q227). Routes through [[node2vecWalks]] at minSupport = 1
    * so the oracle gate itself pins the knob's identity case. */
  private[graft] def tradeWalks(spark: SparkSession,
      dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val seeds = t.nation
      .select(col("n_nationkey").cast("long").as("node"))
      .select(col("node"),
        explode(expr(s"sequence(0, ${RandomWalks.WalksPerNode - 1})"))
          .as("w"))
      .select(
        (col("node") * RandomWalks.WalksPerNode + col("w")).as("walk_id"),
        col("node"))
    node2vecWalks(seeds, TradeGraph.edges(t), RandomWalks.WalkLen)
  }

  /** q226: PPMI-factorization embeddings (A39's trainer) over the
    * node2vec corpus — same pair/PPMI/projection contract as q223,
    * only the sampled trajectories differ. */
  def q226Node2vecEmbeddings(spark: SparkSession,
      dir: String): DataFrame =
    NodeEmbeddings.project(
      NodeEmbeddings.ppmiRows(NodeEmbeddings.skipGramPairs(
        tradeWalks(spark, dir), NodeEmbeddings.CtxWindow)),
      NodeEmbeddings.Dims)
      .orderBy("node", "dim")

  /** q227: q225's link-prediction audit over the node2vec-trained
    * table — the DeepWalk-vs-node2vec bake-off row (compare with
    * q225 on the same edge set). */
  def q227Node2vecLinkAuc(spark: SparkSession,
      dir: String): DataFrame = {
    val t = Tables(spark, dir)
    NodeEmbeddings.linkAuc(
      NodeEmbeddings.project(
        NodeEmbeddings.ppmiRows(NodeEmbeddings.skipGramPairs(
          tradeWalks(spark, dir), NodeEmbeddings.CtxWindow)),
        NodeEmbeddings.Dims),
      TradeGraph.edges(t))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_node2vec_walks" -> (q224Node2vecWalks _),
    "q226_node2vec_embeddings" -> (q226Node2vecEmbeddings _),
    "q227_node2vec_link_auc" -> (q227Node2vecLinkAuc _),
  )

  /** The recursive CTE chain ending in `walk(walk_id, step, node)` —
    * the exact q224 trajectory relation (recursion carries `prev` in
    * `walk2`; `walk` is the 3-column view q226/q227's training CTEs
    * consume, name-compatible with [[RandomWalks.walkCteSql]]'s).
    * Must follow a `WITH RECURSIVE` keyword. */
  private[graft] def walkCteSql: String =
    s"""${RandomWalks.adjSeedsCteSql},
       |adj2 AS MATERIALIZED (
       |  SELECT prev, cur, x,
       |         sum(w) OVER (PARTITION BY prev, cur ORDER BY rk)
       |           - w AS lo,
       |         sum(w) OVER (PARTITION BY prev, cur ORDER BY rk)
       |           AS hi,
       |         sum(w) OVER (PARTITION BY prev, cur) AS tot
       |  FROM (
       |    SELECT e1.src AS prev, e1.dst AS cur, e2.dst AS x, e2.rk,
       |           CAST(CASE WHEN e2.dst = e1.src THEN $WReturn
       |                     WHEN t.src IS NOT NULL THEN $WCommon
       |                     ELSE $WFar END AS BIGINT) AS w
       |    FROM adj e1
       |    JOIN adj e2 ON e2.src = e1.dst
       |    LEFT JOIN trade t
       |      ON t.src = e1.src AND t.dst = e2.dst) c),
       |walk2 AS (
       |  SELECT s.walk_id, CAST(1 AS BIGINT) AS step,
       |         s.node AS prev, a.dst AS node
       |  FROM seeds s JOIN adj a ON a.src = s.node
       |  WHERE a.rk = ${graft.text.TextOps.hexToLongSql(
           "md5(CAST(s.walk_id AS VARCHAR) || ':0')", 1, 15)}
       |          % a.od + 1
       |  UNION ALL
       |  SELECT w.walk_id, w.step + 1, w.node, a2.x
       |  FROM walk2 w JOIN adj2 a2
       |    ON a2.prev = w.prev AND a2.cur = w.node
       |  WHERE w.step < ${RandomWalks.WalkLen}
       |    AND ${RandomWalks.pickSql} % a2.tot >= a2.lo
       |    AND ${RandomWalks.pickSql} % a2.tot < a2.hi),
       |walk AS MATERIALIZED (
       |  -- materialized so multi-reference consumers (the trainer's
       |  -- pair self-join reads walk twice) run the recursion ONCE
       |  SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM seeds
       |  UNION ALL
       |  SELECT walk_id, step, node FROM walk2)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q224_node2vec_walks" ->
      s"""WITH RECURSIVE $walkCteSql
         |SELECT walk_id, step, node FROM walk
         |ORDER BY walk_id, step""".stripMargin,
    "q226_node2vec_embeddings" ->
      s"""WITH RECURSIVE $walkCteSql,
         |${NodeEmbeddings.embCteSql}
         |SELECT node, dim, emb FROM emb
         |ORDER BY node, dim""".stripMargin,
    "q227_node2vec_link_auc" ->
      s"""WITH RECURSIVE $walkCteSql,
         |${NodeEmbeddings.embCteSql},
         |${NodeEmbeddings.linkAucTailSql}""".stripMargin,
  )
}
