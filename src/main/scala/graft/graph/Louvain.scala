package graft.graph

import scala.util.chaining._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}

/** Modularity-based community detection — the reference's Louvain
  * surface (documentation/queries.md:82-98) as a deterministic
  * DataFrame program, plus the modularity metric itself so community
  * quality is measurable.
  *
  * The local-move phase is the semi-synchronous variant: every node
  * scores each neighboring community c with the standard gain ordering
  * score(n→c) = w_nc/m − deg_n·Σtot_c\n/(2m²) (terms constant across
  * candidates cancel) and adopts the argmax (tie-break: smaller
  * community id) — but only nodes whose id parity matches the sweep
  * parity may move, which deterministically breaks the two-node swap
  * cycles a fully synchronous update oscillates on. Each even sweep's
  * assignment is scored with Q and the best-scoring assignment wins.
  *
  * [[louvainTwoLevel]] adds the REAL Louvain second phase: communities
  * contract into super-nodes (intra-community weight becomes a
  * self-loop, inter-community weights sum), the weighted local move
  * runs again on the contracted graph, and labels map back.
  * Contraction preserves Q exactly (self-loops keep W_c, summed
  * weights keep degrees and m), and each level's argmax-Q starts at
  * the previous level's partition — so multi-level modularity can
  * never decrease (spec-asserted).
  *
  * Scale: one iteration = two joins + two aggs, all keyed by node or
  * community; the only per-iteration driver traffic is the modularity
  * scalar. The contracted graph is |communities| nodes — each level is
  * strictly cheaper than the last.
  */
object Louvain {

  /** Modularity Q = Σ_c [ W_c/m − (d_c/(2m))² ] of `assign` (node,
    * community) over an undirected graph given as one row per edge
    * (self-loops allowed; a self-loop adds 2·w to its node's degree).
    * Edges may carry a `weight` column; absent means weight 1. */
  def modularity(edges: DataFrame, assign: DataFrame): Double = {
    val e = weighted(edges)
    val m = e.agg(sum(col("ew"))).first().getDouble(0)
    if (m == 0) return 0.0
    val a = assign.select(col("node"), col("community"))
    val within = e
      .join(a.select(col("node").as("src"), col("community").as("cs")), "src")
      .join(a.select(col("node").as("dst"), col("community").as("cd")), "dst")
      .filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("community")).agg(sum(col("ew")).as("lc"))
    val deg = e.select(col("src").as("node"), col("ew"))
      .union(e.select(col("dst").as("node"), col("ew")))
      .groupBy("node").agg(sum(col("ew")).as("deg"))
    a.join(deg, Seq("node"), "left")
      .groupBy("community").agg(sum(coalesce(col("deg"), lit(0.0))).as("dc"))
      .join(within, Seq("community"), "left")
      .select(sum(coalesce(col("lc"), lit(0.0)) / m
        - pow(col("dc") / (2.0 * m), 2.0)).as("q"))
      .first().getDouble(0)
  }

  /** (src, dst, ew): normalize the optional `weight` column (absent →
    * 1.0) so every consumer sees one shape. Idempotent: an
    * already-normalized frame passes through unchanged. */
  private def weighted(edges: DataFrame): DataFrame =
    if (edges.columns.contains("ew"))
      edges.select(col("src"), col("dst"), col("ew").cast("double").as("ew"))
    else if (edges.columns.contains("weight"))
      edges.select(col("src"), col("dst"), col("weight").cast("double").as("ew"))
    else edges.select(col("src"), col("dst")).withColumn("ew", lit(1.0))

  /** Louvain local-move phase (semi-synchronous, deterministic):
    * returns (node, community) of the best-modularity assignment among
    * the `iters + 1` sweep results (singleton start included), with
    * ties going to the earliest sweep. `edges` is undirected, one row
    * per edge, optional `weight`.
    *
    * Default sweep budget: 3 full even+odd passes — local moves on
    * the test graphs stop producing changes by pass 3, and
    * semi-synchronous sweeps can limit-cycle (never two consecutive
    * stable sweeps), so a budget beats waiting for strict
    * convergence; the argmax-Q selection makes extra sweeps safe but
    * not useful.
    *
    * Action shape: ONE job per sweep (the assignment checkpoint) and
    * ONE post-loop job that scores every sweep's Q together (tag-union
    * of the iters+1 assignments → per-(sweep, community) aggregates →
    * iters+1 driver scalars). Earlier versions ran a 3-join Q action
    * every second sweep — at 6 sweeps that doubled the job count for a
    * 25-node graph. The trade: all iters+1 assignments stay
    * checkpointed until selection, i.e. O(iters · V) rows of (node,
    * community) transient storage instead of O(V); at a billion nodes
    * prefer a smaller `iters` over per-sweep eviction, which would
    * reintroduce the per-sweep Q actions. */
  def louvain(nodes: DataFrame, edges: DataFrame, iters: Int = 6): DataFrame = {
    val e = weighted(edges).pipe(Checkpoints.cut)
    val out = louvainOn(nodes, e, iters).select("node", "community")
    Checkpoints.release(e)
    out
  }

  /** [[louvain]] over an already-normalized, already-materialized
    * (src, dst, ew) edge list — callers that checkpoint the edges
    * anyway ([[louvainTwoLevel]], q58's shared derivation) use this to
    * avoid a second materialization of the same data. Does NOT release
    * `e`. */
  private def louvainOn(nodes: DataFrame, e: DataFrame, iters: Int): DataFrame = {
    val m = e.agg(sum(col("ew"))).first() match {
      case r if r.isNullAt(0) => 0.0
      case r => r.getDouble(0)
    }
    if (m == 0)
      return nodes.select(col("node"), col("node").as("community"))
        .pipe(Checkpoints.cut)
    // both directions for scoring; self-loops excluded — they move
    // with the node, contributing equally to every candidate
    val und = e.filter(col("src") =!= col("dst"))
    val adj = und.select(col("src").as("node"), col("dst").as("nbr"), col("ew"))
      .union(und.select(col("dst").as("node"), col("src").as("nbr"), col("ew")))
      .pipe(Checkpoints.cut)
    val deg = e.select(col("src").as("node"), col("ew"))
      .union(e.select(col("dst").as("node"), col("ew")))
      .groupBy("node").agg(sum(col("ew")).as("deg"))
      .pipe(Checkpoints.cut)
    // the sweep state CARRIES each node's static degree (r14, guide
    // §2.4): `tot`, `scored` and the post-loop `dc` read deg from the
    // cached assignment instead of re-joining the deg relation — two
    // joins fewer per sweep, one fewer in the Q job. Degrees are
    // integer-valued doubles (unit edges and their contractions), so
    // every sum over them is order-exact and the carried column can
    // not perturb Q.
    //
    // Every sweep's assignment stays live (the state is the whole
    // sequence) until the post-loop Q job picks one; the kernel then
    // frees the rest.
    val best = Superstep.loop(iters) { r =>
      (Vector(r.cut(nodes.select(col("node"), col("node").as("community"))
        .join(deg, Seq("node"), "left").na.fill(0.0, Seq("deg")))),
        Superstep.Unmeasured)
    } { (assigns, r) =>
      val sweep = r.n
      val assign = assigns.last
      val tot = assign
        .groupBy("community").agg(sum(col("deg")).as("dtot"))
      // candidate communities per node: every neighbor community plus
      // the current one (w_nc = 0 for the current if no internal edge)
      val nbrW = adj
        .join(assign.select(col("node").as("nbr"), col("community").as("c")), "nbr")
        .groupBy("node", "c").agg(sum(col("ew")).as("w"))
      val cands = nbrW
        .unionByName(assign.select(col("node"), col("community").as("c"))
          .withColumn("w", lit(0.0)))
        .groupBy("node", "c").agg(max(col("w")).as("w"))
      val scored = cands
        .join(assign, Seq("node"))
        .join(tot.select(col("community").as("c"), col("dtot")), Seq("c"))
        // Σtot of the candidate community EXCLUDING the node itself
        .withColumn("dtot_x",
          when(col("c") === col("community"), col("dtot") - col("deg"))
            .otherwise(col("dtot")))
        .withColumn("score",
          col("w") / m - col("deg") * col("dtot_x") / (2.0 * m * m))
      // argmax as one partial agg (r14, guide §2.4): min(struct(-score,
      // c, …)) picks exactly the row_number()-over-(score DESC, c ASC)
      // winner — scores are never -0.0 (each is a subtraction whose
      // equal-operand case rounds to +0.0), so negation preserves the
      // total order and ties fall through to the smaller c — without
      // the per-sweep window sort. deg is constant per node, so
      // carrying it through the struct keeps it deterministic.
      (assigns :+ r.cut(scored
        .groupBy("node")
        .agg(min(struct((-col("score")).as("ns"), col("c"),
          col("community"), col("deg"))).as("w0"))
        .select(col("node"),
          when(pmod(col("node"), lit(2)) === lit(sweep % 2), col("w0.c"))
            .otherwise(col("w0.community")).as("community"),
          col("w0.deg").as("deg"))), Superstep.Unmeasured)
    } { assigns => bestSweep(e, m, assigns) }.out
    Checkpoints.release(adj, deg)
    best
  }

  /** The assignment of highest modularity among every sweep's, the
    * earliest on ties — one job for all of them. */
  private def bestSweep(e: DataFrame, m: Double,
      assigns: Vector[DataFrame]): DataFrame = {
    // one job: Q of every sweep's assignment at once. The argmax-Q
    // selection absorbs semi-synchronous limit cycles and replaces a
    // convergence test (which a cycle would never satisfy).
    //
    // The per-community Q terms are summed as DECIMAL(38,18), not
    // DOUBLE: symmetric graphs produce DISTINCT partitions with
    // EXACTLY equal Q, and a double sum's partial-agg order would
    // break the earliest-sweep tie deterministically here but
    // differently in the SQL mirror. Each term is a bit-identical
    // double in both engines (integer-valued lc/dc/m, identical
    // operand order, squaring by multiplication — pow() is libm-
    // dependent); casting to decimal makes the SUM order-independent
    // too, so selection is engine-exact.
    val tagged = assigns.zipWithIndex
      .map { case (a, s) => a.withColumn("s", lit(s)) }
      .reduce(_.unionByName(_))
    val within = e
      .join(tagged.select(col("node").as("src"), col("community").as("cs"),
        col("s")), Seq("src"))
      .join(tagged.select(col("node").as("dst"), col("community").as("cd"),
        col("s")), Seq("dst", "s"))
      .filter(col("cs") === col("cd"))
      .groupBy(col("s"), col("cs").as("community")).agg(sum(col("ew")).as("lc"))
    val dc = tagged
      .groupBy(col("s"), col("community"))
      .agg(sum(col("deg")).as("dc"))
    val halfDc = col("dc") / (2.0 * m)
    // bounded collect: one row per SWEEP (iters+1 rows total, a
    // library knob — never data-sized), the per-sweep modularity
    // scalar the driver-side argmax below needs. Same class as the
    // PolicyOps capped vocabulary collect (ADVICE r10 asked for the
    // bound to be stated here rather than re-derived per audit).
    val qBySweep = dc.join(within, Seq("s", "community"), "left")
      .groupBy("s")
      .agg(sum((coalesce(col("lc"), lit(0.0)) / m - halfDc * halfDc)
        .cast("decimal(38,18)")).as("q"))
      .collect()
      .map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    // first index of the maximum: the earliest sweep wins ties.
    // Returned WITH the carried deg column (still the cut frame, so
    // louvainTwoLevel can release it); louvain() projects for callers
    val bestS = assigns.indices.reduce { (b, s) =>
      if (qBySweep(s).compareTo(qBySweep(b)) > 0) s else b
    }
    assigns(bestS)
  }

  /** Phase-2 contraction: communities become super-nodes; intra-
    * community weight becomes a self-loop, inter-community weights
    * sum (canonical direction, so the graph stays one-row-per-edge).
    * Preserves m, degrees, and therefore Q, exactly. */
  def contract(edges: DataFrame, assign: DataFrame): DataFrame =
    weighted(edges)
      .join(assign.select(col("node").as("src"), col("community").as("cs")), "src")
      .join(assign.select(col("node").as("dst"), col("community").as("cd")), "dst")
      .select(least(col("cs"), col("cd")).as("src"),
        greatest(col("cs"), col("cd")).as("dst"), col("ew"))
      .groupBy("src", "dst").agg(sum(col("ew")).as("weight"))

  /** Full two-level Louvain: local moves, contract, local moves on the
    * weighted community graph, map back. Q(two-level) ≥ Q(one-level)
    * by construction (contraction preserves Q; level 2's argmax starts
    * at the contracted singletons = level-1 partition — sweep 0 is
    * always a candidate, at ANY level-2 sweep budget).
    *
    * Level 2 defaults to a SMALLER sweep budget ([[OracleItersL2]]):
    * the contracted graph has |communities| ≪ |V| nodes, local moves
    * there settle in fewer sweeps, and each sweep is a fixed-cost
    * driver action — on small graphs the action count, not the data,
    * is the wall-clock. */
  def louvainTwoLevel(nodes: DataFrame, edges: DataFrame,
      iters: Int = 6, itersL2: Int = OracleItersL2): DataFrame = {
    // one materialization of the level-1 edges feeds both the sweep
    // and the contraction (weighted() is idempotent, so an already-
    // normalized caller frame is not re-derived)
    val e1 = weighted(edges).pipe(Checkpoints.cut)
    val l1 = louvainOn(nodes, e1, iters)
    val superNodes = l1.select(col("community").as("node")).distinct()
    val superEdges = contract(e1, l1)
      .select(col("src"), col("dst"), col("weight").as("ew"))
      .pipe(Checkpoints.cut)
    Checkpoints.release(e1)
    val l2 = louvainOn(superNodes, superEdges, itersL2)
    Checkpoints.release(superEdges)
    val out = l1
      .join(l2.select(col("node").as("community"), col("community").as("c2")),
        Seq("community"))
      .select(col("node"), col("c2").as("community"))
      .pipe(Checkpoints.cut)
    Checkpoints.release(l1)
    if (!(l2 eq out)) Checkpoints.release(l2)
    out
  }

  /** q38: Louvain communities on the undirected trade graph —
    * deterministic (semi-synchronous sweeps, argmax-Q with
    * earliest-sweep ties), hash-checked against the unrolled-CTE
    * DuckDB mirror ([[levelCtes]]); quality is additionally
    * spec-asserted vs random/singleton partitions. */
  def q38Louvain(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // one row per undirected edge, canonical direction only; louvain
    // checkpoints weighted(e) itself, so the lineitem-scale derivation
    // runs exactly once — no outer cut needed for the single-level run
    val e = TradeGraph.edges(t)
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    louvain(TradeGraph.nodes(t).select("node"), e).orderBy("node")
  }

  /** q58: the multi-level (real) Louvain on the same graph — phase 1
    * local moves, community contraction, phase 2 on the weighted
    * super-graph, labels mapped back. Hash-checked against the
    * two-level unrolled oracle; Q(two-level) ≥ Q(one-level) is
    * spec-asserted. */
  def q58LouvainMultilevel(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // louvainTwoLevel materializes weighted(e) once and feeds both the
    // level-1 sweep and the contraction from it — no outer cut needed
    val e = TradeGraph.edges(t)
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    louvainTwoLevel(TradeGraph.nodes(t).select("node"), e).orderBy("node")
  }

  // ---------------------------------------------------------------- q64
  /** The reference's step-2 Louvain report (documentation/
    * queries.md:93-98): communities ranked by member count, each with
    * its alphabetized member names — the "communities with most
    * members" listing it always pairs with the algorithm run. Safe to
    * rank and collect because community count ≪ corpus; the heavy
    * work is the sweep itself. */
  def q64LouvainTopCommunities(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val e = TradeGraph.edges(t)
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    louvain(TradeGraph.nodes(t).select("node"), e)
      .join(TradeGraph.nodes(t), Seq("node"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_members"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("members"))
      .orderBy(col("n_members").desc, col("community").asc)
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_louvain" -> (q38Louvain _),
    "q58_louvain_multilevel" -> (q58LouvainMultilevel _),
    "q64_louvain_top_communities" -> (q64LouvainTopCommunities _),
  )

  /** Sweep budget the oracle unrolls — must match [[louvain]]'s
    * default `iters`. */
  val OracleIters = 6

  /** Level-2 sweep budget (and its oracle unroll) — smaller than
    * level 1's because the contracted graph is |communities| nodes
    * and each sweep is a fixed-cost action. */
  val OracleItersL2 = 4

  /** One Louvain level as chained DuckDB CTEs — the exact SQL mirror
    * of [[louvain]]. Expects CTEs `${p}e` (src, dst, ew DOUBLE) and
    * `${p}nodes` (node) to already exist; emits `${p}a0..aN` (one
    * assignment per sweep, semi-synchronous parity gating), a Q CTE
    * per assignment (same per-community term Spark sums), and
    * `${p}f` = the earliest assignment achieving the max Q — the SQL
    * equivalent of the strict-`>` fold over sweeps in [[louvain]].
    *
    * Float parity: every score/Q expression uses the same operand
    * order and association as the Spark side ((2*m)*m precomputed,
    * w/m − (deg·dtot_x)/(2m²), (dc/(2m))·(dc/(2m))), so each term is
    * the same double in both engines, and the Q sum is DECIMAL(38,18)
    * so it is order-independent — symmetric graphs really do produce
    * distinct partitions with exactly equal Q, and the earliest-sweep
    * tie must resolve identically in both engines. Holds for
    * integer-valued weights (unit edges and their contractions);
    * arbitrary float weights would make lc/dc themselves
    * order-dependent. */
  private def levelCtes(p: String, iters: Int): String = {
    val m = s"(SELECT m FROM ${p}mm)"
    val twoM = s"(SELECT 2 * m FROM ${p}mm)"
    val twoM2 = s"(SELECT 2 * m * m FROM ${p}mm)"
    val base =
      s"""${p}mm AS MATERIALIZED (SELECT sum(ew) AS m FROM ${p}e),
         |${p}adj AS MATERIALIZED (
         |  SELECT src AS node, dst AS nbr, ew FROM ${p}e WHERE src <> dst
         |  UNION ALL
         |  SELECT dst AS node, src AS nbr, ew FROM ${p}e WHERE src <> dst),
         |${p}deg AS MATERIALIZED (
         |  SELECT node, sum(ew) AS deg FROM (
         |    SELECT src AS node, ew FROM ${p}e
         |    UNION ALL SELECT dst AS node, ew FROM ${p}e) z
         |  GROUP BY 1),
         |${p}a0 AS MATERIALIZED (SELECT node, node AS community FROM ${p}nodes)""".stripMargin
    val sweeps = (1 to iters).map { t =>
      s"""${p}tot$t AS MATERIALIZED (
         |  SELECT a.community, sum(COALESCE(d.deg, 0)) AS dtot
         |  FROM ${p}a${t - 1} a LEFT JOIN ${p}deg d ON d.node = a.node
         |  GROUP BY 1),
         |${p}cand$t AS MATERIALIZED (
         |  SELECT node, c, max(w) AS w FROM (
         |    SELECT j.node, a.community AS c, sum(j.ew) AS w
         |    FROM ${p}adj j JOIN ${p}a${t - 1} a ON a.node = j.nbr
         |    GROUP BY 1, 2
         |    UNION ALL
         |    SELECT node, community AS c, CAST(0 AS DOUBLE) AS w
         |    FROM ${p}a${t - 1}) z
         |  GROUP BY 1, 2),
         |${p}sc$t AS MATERIALIZED (
         |  SELECT cd.node, cd.c, a.community,
         |         cd.w / $m
         |         - COALESCE(d.deg, 0)
         |           * (CASE WHEN cd.c = a.community
         |              THEN t.dtot - COALESCE(d.deg, 0) ELSE t.dtot END)
         |           / $twoM2 AS score
         |  FROM ${p}cand$t cd
         |  JOIN ${p}a${t - 1} a ON a.node = cd.node
         |  LEFT JOIN ${p}deg d ON d.node = cd.node
         |  JOIN ${p}tot$t t ON t.community = cd.c),
         |${p}a$t AS MATERIALIZED (
         |  SELECT node,
         |         CASE WHEN node % 2 = ${t % 2} THEN c
         |              ELSE community END AS community
         |  FROM (
         |    SELECT node, c, community,
         |           row_number() OVER (PARTITION BY node
         |                              ORDER BY score DESC, c ASC) AS rk
         |    FROM ${p}sc$t) z
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val qs = (0 to iters).map { t =>
      s"""${p}wq$t AS MATERIALIZED (
         |  SELECT x.community, sum(e.ew) AS lc
         |  FROM ${p}e e
         |  JOIN ${p}a$t x ON x.node = e.src
         |  JOIN ${p}a$t y ON y.node = e.dst
         |  WHERE x.community = y.community
         |  GROUP BY 1),
         |${p}dq$t AS MATERIALIZED (
         |  SELECT a.community, sum(COALESCE(d.deg, 0)) AS dc
         |  FROM ${p}a$t a LEFT JOIN ${p}deg d ON d.node = a.node
         |  GROUP BY 1),
         |${p}q$t AS MATERIALIZED (
         |  SELECT CAST($t AS BIGINT) AS s,
         |         sum(CAST(COALESCE(w.lc, 0) / $m
         |             - (d.dc / $twoM) * (d.dc / $twoM)
         |             AS DECIMAL(38, 18))) AS q
         |  FROM ${p}dq$t d LEFT JOIN ${p}wq$t w USING (community))""".stripMargin
    }.mkString(",\n")
    val allA = (0 to iters)
      .map(t => s"    SELECT node, community, CAST($t AS BIGINT) AS s FROM ${p}a$t")
      .mkString("\n    UNION ALL\n")
    val allQ = (0 to iters).map(t => s"  SELECT s, q FROM ${p}q$t")
      .mkString("\n  UNION ALL\n")
    s"""$base,
       |$sweeps,
       |$qs,
       |${p}qs AS MATERIALIZED (
       |$allQ),
       |${p}win AS MATERIALIZED (SELECT s FROM ${p}qs ORDER BY q DESC, s ASC LIMIT 1),
       |${p}f AS MATERIALIZED (
       |  SELECT node, community FROM (
       |$allA) z
       |  WHERE s = (SELECT s FROM ${p}win))""".stripMargin
  }

  private val T = TradeGraph.sqlCte

  /** Shared q38/q58 preamble: canonical undirected trade edges with
    * unit weight (mirror of the [[q38Louvain]] edge derivation +
    * [[weighted]]). */
  private val edgeCtes: String =
    s"""und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS src,
       |               greatest(src, dst) AS dst FROM trade),
       |e AS MATERIALIZED (SELECT src, dst, CAST(1 AS DOUBLE) AS ew FROM und),
       |nodes AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q38_louvain" ->
      s"""WITH $T,
         |$edgeCtes,
         |${levelCtes("", OracleIters)}
         |SELECT node, community FROM f ORDER BY node""".stripMargin,

    // level 2 = the same sweep machinery over the contracted weighted
    // graph (intra-community weight → self-loop, inter sums; mirror of
    // Louvain.contract), then labels map back through level 1
    "q58_louvain_multilevel" ->
      s"""WITH $T,
         |$edgeCtes,
         |${levelCtes("", OracleIters)},
         |bnodes AS MATERIALIZED (SELECT DISTINCT community AS node FROM f),
         |be AS MATERIALIZED (
         |  SELECT least(x.community, y.community) AS src,
         |         greatest(x.community, y.community) AS dst,
         |         sum(e.ew) AS ew
         |  FROM e
         |  JOIN f x ON x.node = e.src
         |  JOIN f y ON y.node = e.dst
         |  GROUP BY 1, 2),
         |${levelCtes("b", OracleItersL2)}
         |SELECT l1.node AS node, bf.community AS community
         |FROM f l1 JOIN bf ON bf.node = l1.community
         |ORDER BY l1.node""".stripMargin,

    "q64_louvain_top_communities" ->
      s"""WITH $T,
         |$edgeCtes,
         |${levelCtes("", OracleIters)}
         |SELECT f.community, CAST(count(*) AS BIGINT) AS n_members,
         |       string_agg(n.n_name, ',' ORDER BY n.n_name) AS members
         |FROM f JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = f.node
         |GROUP BY 1
         |ORDER BY n_members DESC, community ASC
         |LIMIT 10""".stripMargin,
  )
}
