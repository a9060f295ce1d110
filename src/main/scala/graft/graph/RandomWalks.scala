package graft.graph


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** MULTI-walk corpus generation over the trade graph — DeepWalk's
  * γ-walks-per-node sampling (Perozzi et al. 2014, KDD §4.1), the
  * member [[Cores.walkPaths]] (q78) cannot express: q78's step hash
  * is md5(NODE:step), so every walk starting at a node is the SAME
  * walk, while an embedding corpus needs diverging siblings.
  * (Reference lineage: documentation/queries.md's multi-hop
  * `DEPENDS_ON` walks — the sampled-trajectory member.)
  *
  * The "random" choice is a HASH seeded by the WALK, not an RNG: the
  * transition out of (walk_id, step) picks out-edge rank
  * `md5(walk_id ':' step) mod outdeg + 1` over the (cnt desc, dst)
  * ranked adjacency (preference-ordered, where q78 ranks by id).
  * That keeps the corpus a pure function of the graph — reproducible
  * across engines, layouts, retries and partitionings (the q194/q123
  * sampler-determinism discipline) — and expressible in a DuckDB
  * recursive CTE, so the full trajectory table is oracle-checkable.
  * Sinks TERMINATE the walk (q78 carries forward — both semantics
  * exist in the wild; the CTE recursion stops naturally here).
  *
  * Scale shape: each of the [[WalkLen]] steps is ONE equi join of the
  * frontier (|walks| rows, constant across steps) against the ranked
  * adjacency keyed by src; no hint is forced, so AQE broadcasts the
  * nations-sized adjacency at suite scale, while a billion-edge
  * adjacency shuffle-joins on src with the frontier co-partitioned.
  * Walks at sink nodes terminate (the inner join drops them — same
  * semantics as the CTE recursion). The step count is a bounded
  * static unroll, not a data-dependent driver loop.
  */
object RandomWalks {

  /** Steps per walk (trajectory has [[WalkLen]] + 1 rows max). */
  val WalkLen = 8

  /** Seeded walks started per node. */
  val WalksPerNode = 4

  /** (src, dst, rk, od): out-edges ranked (cnt desc, dst asc) with
    * the out-degree alongside — the relation the hash picks from,
    * over ANY weighted edge list (src, dst, cnt). Public: this is the
    * adjacency constructor a user pairs with [[walkRows]] /
    * [[Node2Vec.node2vecWalks]] on their own graph. One window over
    * src groups — work linear in edges, partitioned by src. */
  def rankedAdjacency(weighted: DataFrame): DataFrame = {
    val w = Window.partitionBy("src").orderBy(col("cnt").desc, col("dst").asc)
    weighted
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("od",
        count(lit(1)).over(Window.partitionBy("src")).cast("long"))
      .select("src", "dst", "rk", "od")
  }

  /** [[rankedAdjacency]] over the trade graph — the oracled queries'
    * instance. */
  private[graft] def adjacency(t: Tables): DataFrame =
    rankedAdjacency(TradeGraph.edges(t))

  /** One walk transition: the frontier joins the ranked adjacency on
    * node = src, the hash pick `md5(walk_id ':' s−1) mod od + 1 = rk`
    * riding as a residual filter (never a theta join — plan-audited).
    * Sink rows drop (the walk terminates). */
  private[graft] def stepJoin(cur: DataFrame, adj: DataFrame,
      s: Int): DataFrame = {
    val pick = expr(
      s"""cast(conv(substring(md5(concat(cast(walk_id as string),
         |  ':', '${s - 1}')), 1, 15), 16, 10) as bigint)""".stripMargin)
    cur.join(adj, col("node") === col("src"))
      .filter(col("rk") === pick % col("od") + 1)
      .select(col("walk_id"), col("dst").as("node"))
  }

  /** Unsorted walk rows over any seed/adjacency pair — the relation
    * downstream consumers (q223's skip-gram pairs) join on walk_id,
    * where a global sort would be a wasted exchange. `seeds` carries
    * (walk_id, node); `adj` carries (src, dst, rk, od). Output:
    * (walk_id, step, node) for step 0..len.
    *
    * Each step is one [[Superstep]] round (uncut, step s's plan would
    * replay joins 1..s and the union O(len²) joins — BENCH_SCALING.md
    * Part 11). The output union view reads every step's frontier, so
    * they outlive the loop; the caller frees them via
    * [[graft.Checkpoints.releaseAll]].
    *
    * The adjacency is CACHED pre-partitioned on src and sorted within
    * partitions — persist, not checkpoint, because a cached plan
    * keeps its output partitioning/ordering where a localCheckpoint
    * under AQE degrades to UnknownPartitioning (verified in the
    * step-join plan: the cached side feeds the sort-merge join with
    * no Exchange and no Sort). Once the frontier outgrows the
    * broadcast threshold, every step then exchanges and sorts ONLY
    * the frontier; without this, each of the len steps re-shuffles
    * and re-sorts the full edge relation (BENCH_SCALING.md Part 11:
    * steady-state step cost at 24M edges ≈ 2.5–3 s = one frontier
    * shuffle + one cached-relation scan, the information-theoretic
    * floor for a Θ(γ·|V|) frontier). The cache is dropped on exit —
    * every step is already materialized by its cut. */
  private[graft] def walkRows(seeds: DataFrame, adj: DataFrame,
      len: Int): DataFrame = {
    val a = adj.repartition(col("src")).sortWithinPartitions("src")
      .persist()
    val walks = Superstep.loop(len) { _ =>
      val cur = seeds.select(col("walk_id"), col("node"))
      ((cur, Superstep.UnionView(Vector(stepRows(cur, 0)))), Superstep.Unmeasured)
    } { case ((cur, acc), r) =>
      val next = r.cut(stepJoin(cur, a, r.n))
      ((next, acc.add(stepRows(next, r.n), r)), Superstep.Unmeasured)
    }(_._2.view).out
    a.unpersist(blocking = false)
    walks
  }

  /** A walk frontier as (walk_id, step, node) output rows. */
  private[graph] def stepRows(cur: DataFrame, step: Int): DataFrame =
    cur.select(col("walk_id"), lit(step.toLong).as("step"), col("node"))

  /** The walk table over any seed/adjacency pair (spec entry point):
    * [[walkRows]] in presentation order. */
  private[graft] def walkTable(seeds: DataFrame, adj: DataFrame,
      len: Int): DataFrame =
    walkRows(seeds, adj, len).orderBy("walk_id", "step")

  /** q222: [[WalksPerNode]] walks of [[WalkLen]] steps from every
    * nation over the trade graph. */
  def q222RandomWalks(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val seeds = t.nation
      .select(col("n_nationkey").cast("long").as("node"))
      .select(col("node"),
        explode(expr(s"sequence(0, ${WalksPerNode - 1})")).as("w"))
      .select((col("node") * WalksPerNode + col("w")).as("walk_id"),
        col("node"))
    walkTable(seeds, adjacency(t), WalkLen)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q222_random_walks" -> (q222RandomWalks _),
  )

  /** The step-transition pick, as SQL over a `walk`-aliased row `w`:
    * md5(walk_id ':' step) as a 60-bit integer (the same hash the
    * Spark loop computes). */
  private[graft] def pickSql: String = graft.text.TextOps.hexToLongSql(
    "md5(CAST(w.walk_id AS VARCHAR) || ':' || CAST(w.step AS VARCHAR))",
    1, 15)

  /** trade + ranked adjacency + γ-per-nation seeds — the non-recursive
    * CTE prefix shared by q222's first-order oracle and q224's
    * second-order one. */
  private[graft] def adjSeedsCteSql: String =
    s"""${TradeGraph.sqlCte},
       |adj AS MATERIALIZED (
       |  SELECT src, dst,
       |         CAST(row_number() OVER (PARTITION BY src
       |                                 ORDER BY cnt DESC, dst ASC)
       |              AS BIGINT) AS rk,
       |         CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS od
       |  FROM trade),
       |seeds AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) * $WalksPerNode + t.w AS walk_id,
       |         CAST(0 AS BIGINT) AS step,
       |         CAST(n_nationkey AS BIGINT) AS node
       |  FROM nation, unnest(generate_series(0, ${WalksPerNode - 1}))
       |         AS t(w))""".stripMargin

  /** The recursive CTE block ending in `walk(walk_id, step, node)` —
    * the exact trajectory relation, shared by q222's oracle and the
    * embedding-training oracle built on the same corpus (q223). Must
    * follow a `WITH RECURSIVE` keyword. */
  private[graft] def walkCteSql: String =
    s"""$adjSeedsCteSql,
       |walk AS (
       |  SELECT walk_id, step, node FROM seeds
       |  UNION ALL
       |  SELECT w.walk_id, w.step + 1, a.dst
       |  FROM walk w JOIN adj a ON a.src = w.node
       |  WHERE w.step < $WalkLen
       |    AND a.rk = $pickSql % a.od + 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q222_random_walks" ->
      s"""WITH RECURSIVE $walkCteSql
         |SELECT walk_id, step, node FROM walk
         |ORDER BY walk_id, step""".stripMargin,
  )
}
