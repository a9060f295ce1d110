package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Md5Prefix

/** Node-embedding TRAINING from the walk corpus — the step DeepWalk
  * (Perozzi et al. 2014) runs after q222's sampling: skip-gram
  * co-occurrence over the trajectories, then an embedding per node.
  * SGD word2vec is a sequential optimizer; the distribution-friendly
  * equivalent is the Levy & Goldberg 2014 result that skip-gram with
  * negative sampling factorizes the shifted positive-PMI matrix — so
  * the engine materializes the PPMI row for each node EXACTLY (it is
  * a pair-count aggregation, not an optimization) and reduces it to
  * [[Dims]] dimensions with a deterministic signed-hash random
  * projection (Achlioptas 2003 database-friendly JL: entries ±1 from
  * a hash of (context, dim), never a stored matrix). Rows are then
  * L2-normalized, cosine-ready for the ANN family (q24/q25/q41).
  * (Reference lineage: documentation/queries.md's dependency-graph
  * analytics — the representation-learning member.)
  *
  * Everything is a pure function of the graph: the walk corpus is
  * q222's hash-seeded table, the projection signs are md5 parities —
  * reproducible across engines/layouts/retries (the q194/q123
  * sampler-determinism discipline) and expressible in ANSI SQL, so
  * the trained embedding table itself is oracle-checkable, not just
  * spot-audited.
  *
  * Float contract: each PPMI cell is rounded to 6dp and carried as
  * DECIMAL(18,6); the projection sum is ±1-weighted DECIMAL addition
  * (accumulation-order-free); only the final normalize divides as
  * double, rounded to 6dp (the q183/q188 discipline).
  *
  * Scale shape: the skip-gram pair relation is ONE self-join of the
  * walk table keyed on walk_id with a bounded ±[[CtxWindow]] step
  * band — linear in corpus size (≤ 2·W·len pairs per walk), never
  * all-pairs. PPMI joins are keyed on the co-occurrence vocabulary
  * (nnz of the matrix, linear in corpus). The projection crossJoins
  * only the broadcast [[Dims]]-row dimension relation (explode ×16),
  * and both the (node, dim) sum and the per-node norm are partial
  * aggs. A billion-node corpus shuffles on node/pair keys only; at
  * JL fidelity Dims grows O(log n) — a constructor param, not a new
  * plan.
  */
object NodeEmbeddings {

  /** Skip-gram context radius (steps on either side). */
  val CtxWindow = 2

  /** Embedding width. 16 suits the suite-scale graph; JL fidelity at
    * larger vocabularies wants O(log n) — same plan, wider explode. */
  val Dims = 16

  /** 6dp half-away-from-zero rounding spelled as explicit IEEE ops —
    * floor(x·10⁶ + 0.5)/10⁶, sign-mirrored — instead of the engine's
    * `round`. Engines disagree at representation boundaries (Spark
    * rounds the exact binary expansion of the double HALF_UP via
    * BigDecimal; DuckDB rounds the once-rounded product rint(x·10⁶),
    * and its tie/ulp behavior has shifted across releases), so a cell
    * that lands on a boundary hashes differently between the trained
    * table and its oracle even though both are "round(x, 6)" —
    * the q228 driver-red/builder-green split of round 14. Multiply,
    * add, floor and divide are IEEE-pinned and identical in every
    * engine, so with this spelling (mirrored verbatim in
    * [[round6Sql]]) the two sides agree BY CONSTRUCTION for any
    * |x| < 2⁵²/10⁶. */
  private[graft] def round6(x: Column): Column =
    (when(x >= 0, floor(x * lit(1e6) + lit(0.5)))
      .otherwise(-floor(-x * lit(1e6) + lit(0.5)))) / lit(1e6)

  /** [[round6]]'s SQL spelling — `x` must be a DOUBLE expression
    * (textually duplicated; every sub-op is deterministic). */
  private[graft] def round6Sql(x: String): String =
    s"""(CASE WHEN ($x) >= 0 THEN floor(($x) * 1000000.0 + 0.5)
       |      ELSE -floor(-($x) * 1000000.0 + 0.5) END / 1000000.0)"""
      .stripMargin

  /** (u, v, n_uv): co-occurrence counts within ±`window` steps on the
    * same walk, both directions (the symmetric skip-gram corpus). */
  private[graft] def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    val w = graft.Checkpoints.cut(
      walks.select(col("walk_id"), col("step"), col("node")))
    w.as("x").join(w.as("y"),
        col("x.walk_id") === col("y.walk_id") &&
          abs(col("x.step") - col("y.step")).between(1, window))
      .groupBy(col("x.node").as("u"), col("y.node").as("v"))
      .agg(count(lit(1)).as("n_uv"))
  }

  /** Positive rows of the PPMI matrix over the pair counts:
    * max(0, ln(#(u,v)·D / (#u·#v))), 6dp, DECIMAL. The marginal #u
    * is the row sum (symmetric corpus ⇒ also the context marginal).
    * `pairs` feeds three consumers (marginals, total, the join spine),
    * so it is cut unless it already is a cut (q229 hands in its
    * shared pair cut). */
  private[graft] def ppmiRows(pairs: DataFrame): DataFrame = {
    val p = graft.Checkpoints.cutOnce(pairs)
    val marg = p.groupBy("u").agg(sum("n_uv").as("n_u"))
    val tot = p.agg(sum("n_uv").as("d_tot"))
    p.join(marg, "u")
      .join(marg.select(col("u").as("v"), col("n_u").as("n_v")), "v")
      .crossJoin(broadcast(tot))
      .withColumn("ppmi",
        round6(greatest(lit(0d),
          log(col("n_uv").cast("double") * col("d_tot") /
            (col("n_u").cast("double") * col("n_v")))))
          .cast("decimal(18,6)"))
      .filter(col("ppmi") > 0)
      .select("u", "v", "ppmi")
  }

  /** ±1 from the md5 parity of (v ':' dim) — the projection matrix as
    * a hash, never materialized. */
  private def signCol: Column = {
    val bit = expr(s"cast(${Md5Prefix.sql(
      "concat(cast(v as string), ':', cast(dim as string))", 1, 15)} as bigint) % 2")
    (lit(1) - lit(2) * bit).cast("int")
  }

  /** (node, dim, emb): signed-hash projection of each PPMI row to
    * `dims` dimensions, L2-normalized (unordered). Nodes whose every
    * PMI is ≤ 0 have no positive row and are absent (no
    * co-occurrence signal). The norm is one exact DECIMAL sum of
    * squares per u, cast to double once; e arrives partitioned by u
    * (it ends in a u-keyed agg), so the norm agg and the join reuse
    * that clustering. */
  private[graft] def project(ppmi: DataFrame, dims: Int): DataFrame = {
    val spark = ppmi.sparkSession
    val dimRel = spark.range(0, dims.toLong).select(col("id").as("dim"))
    // cut: e feeds BOTH the norm agg and the final join — without it
    // the whole PPMI subtree (pair join + marginals) is recomputed
    // once per consumer
    val e = graft.Checkpoints.cut(ppmi.crossJoin(broadcast(dimRel))
      .withColumn("sgn", signCol)
      .groupBy("u", "dim")
      .agg(sum(col("ppmi") * col("sgn")).cast("decimal(18,6)").as("e")))
    val nr = e.groupBy("u")
      .agg(sqrt(sum(col("e") * col("e")).cast("double")).as("nrm"))
    e.join(nr, "u")
      .withColumn("emb",
        when(col("nrm") === 0, lit(0d))
          .otherwise(round6(col("e").cast("double") / col("nrm"))))
      .select(col("u").as("node"), col("dim"), col("emb"))
  }

  /** The trained table over the trade graph (unordered — q223 adds
    * the presentation sort; q225 consumes it sort-free). */
  private[graft] def tradeEmbeddings(spark: SparkSession,
      dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val seeds = t.nation
      .select(col("n_nationkey").cast("long").as("node"))
      .select(col("node"),
        explode(expr(s"sequence(0, ${RandomWalks.WalksPerNode - 1})")).as("w"))
      .select((col("node") * RandomWalks.WalksPerNode + col("w")).as("walk_id"),
        col("node"))
    val walks = RandomWalks.walkRows(
      seeds, RandomWalks.adjacency(t), RandomWalks.WalkLen)
    project(ppmiRows(skipGramPairs(walks, CtxWindow)), Dims)
  }

  /** q223: embeddings for every node of the trade graph from q222's
    * walk corpus (γ = [[RandomWalks.WalksPerNode]], len =
    * [[RandomWalks.WalkLen]], window = [[CtxWindow]], d = [[Dims]]). */
  def q223NodeEmbeddings(spark: SparkSession, dir: String): DataFrame =
    tradeEmbeddings(spark, dir).orderBy("node", "dim")

  /** Link-prediction AUC of the trained table against an edge set —
    * the evaluation DeepWalk/node2vec run after training (Grover &
    * Leskovec 2016 §4.3), and the audit that tells a pipeline owner
    * whether the trained table is USABLE before it feeds the ANN
    * family. TWO scores per candidate pair, because the
    * factorization makes them mean different things (Levy &
    * Goldberg 2014):
    *
    *  - `wc` (word·CONTEXT): the factorization's own link score —
    *    w_u·c_v reconstructs PMI(u, v). Under the signed-hash
    *    projection the context vector of v IS the ±1 sign row
    *    sgn(v, ·), never stored, so wc(u,v) = Σ_d emb(u,d)·sgn(v,d)
    *    ≈ PPMI(u,v)·d/‖e_u‖ + JL noise. Its AUC against the exact-
    *    PPMI score's ceiling measures how much signal d dimensions
    *    retain (measured 0.648 vs 0.698 at d = 16 on the trade
    *    graph).
    *  - `ww` (word·word cosine): context-SIMILARITY — high when u
    *    and v play the same role, not when they are linked; on the
    *    hub-and-spoke trade graph it anti-predicts edges (measured
    *    0.29), which is exactly what this audit exists to surface
    *    before cosine scores feed the ANN stage.
    *
    * Candidates are all ordered pairs (u ≠ v) of EMBEDDED nodes —
    * bounded by the audited graph (at corpus scale one samples
    * negatives; the positive set is the edge list either way). Both
    * scores are EXACT integer dot products over the 6dp-scaled cells
    * ([[scoreVectors]]) — order-free like the decimal sums they
    * replace, and order-isomorphic to them, so the rank-based report
    * is unchanged.
    * Each AUC is the tie-corrected Mann–Whitney rank-sum computed
    * GROUPED: ranks come from one window over the DISTINCT score
    * values per score kind (average rank per tie group = preceding
    * count + (c+1)/2), never a per-row global sort; rank sums are
    * exact integer-plus-half doubles. Self-loop edges can never be
    * positives (u ≠ v). */
  /** Per-node SCORE VECTORS for the link audits:
    * `liv[d]` = the trained cell emb(node, d) as its exact 6dp
    * integer (emb·10⁶ — precisely the DECIMAL(18,6) value the old
    * per-dim scoring summed, times 10⁶), `sgn[d]` = the ±1 context
    * hash row, both materialized ONCE per node instead of per
    * (candidate pair × dim) joined row. Stored as array<double> so
    * the codegen'd [[graft.functions.DotProduct]] runs the scoring
    * loop; |cell| ≤ 10⁶, so every product (≤ 10¹²) and 16-term sum
    * (≤ 1.6·10¹³) stays far under 2⁵³ — the double arithmetic IS
    * exact integer arithmetic. The resulting scores are the old
    * decimal scores scaled by 10¹² (ww) and 10⁶ (wc): strictly
    * monotone injective maps per score kind, and [[aucReport]] is a
    * rank statistic over per-kind score groups, so n_pos/n_neg and
    * both AUCs are IDENTICAL (spec- and oracle-pinned). */
  private def scoreVectors(emb: DataFrame): DataFrame = {
    val li = (when(col("emb") >= 0, floor(col("emb") * lit(1e6) + lit(0.5)))
      .otherwise(-floor(-col("emb") * lit(1e6) + lit(0.5)))).cast("double")
    emb.select(col("node"), col("dim"), li.as("li"))
      .groupBy("node")
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, li))), x -> x.li)")
        .as("liv"))
      .withColumn("sgn", expr(
        s"""transform(sequence(0, size(liv) - 1), d ->
           |  cast(1 - 2 * (cast(${Md5Prefix.sql(
             "concat(cast(node as string), ':', cast(d as string))", 1, 15)}
           |    as bigint) % 2) as double))""".stripMargin))
  }

  /** (u, v, ww, wc, pos): both link scores for every ordered pair of
    * embedded nodes, labeled against the edge set — the pre-cut
    * relation [[linkAuc]] ranks (factored out so the plan audit sees
    * the joins before the checkpoint truncates lineage). Scores are
    * the [[scoreVectors]] scaled integers — two node-keyed vector
    * joins + an in-row dot product, replacing the ×dims exploded
    * score join and its (u, v)-keyed re-aggregation. */
  private[graft] def scoredPairs(emb: DataFrame,
      edges: DataFrame): DataFrame = {
    val sv = graft.Checkpoints.cut(scoreVectors(emb))
    val en = sv.select("node")
    val pairs = en.select(col("node").as("u"))
      .join(en.select(col("node").as("v")), col("u") =!= col("v"))
    pairs
      .join(sv.select(col("node").as("u"), col("liv").as("lu")), Seq("u"))
      .join(sv.select(col("node").as("v"), col("liv").as("lv"),
        col("sgn").as("sgv")), Seq("v"))
      .select(col("u"), col("v"),
        graft.functions.GraftFunctions.dot(col("lu"), col("lv"))
          .cast("long").as("ww"),
        graft.functions.GraftFunctions.dot(col("lu"), col("sgv"))
          .cast("long").as("wc"))
      .join(
        edges.select(col("src").as("u"), col("dst").as("v")).distinct()
          .withColumn("p", lit(1)),
        Seq("u", "v"), "left")
      .withColumn("pos", col("p").isNotNull)
      .select("u", "v", "ww", "wc", "pos")
  }

  private[graft] def linkAuc(emb: DataFrame, edges: DataFrame): DataFrame =
    aucReport(graft.Checkpoints.cut(scoredPairs(emb, edges)))

  /** The SAMPLED-negative audit — the 100 TB path q225's exhaustive
    * candidate relation cannot take (all ordered pairs of a 20k-part
    * vocabulary is 4·10⁸ rows): positives are the edge pairs with
    * both endpoints embedded; negatives are `negK` deterministic
    * hash-ranked draws per positive (v' = embedded node at rank
    * md5(u:v:j) mod n + 1 — sampling WITH replacement, the word2vec
    * convention), minus self-pairs and accidental real edges
    * (left-anti). Everything stays keyed: the draw is one join
    * against the rank-indexed embedded-node relation, scores are the
    * usual per-dim equi joins — candidate volume is |E|·(negK+1),
    * never |V|². */
  private[graft] def linkAucSampled(emb: DataFrame, edges: DataFrame,
      negK: Int): DataFrame =
    aucReport(graft.Checkpoints.cut(scoredSampledPairs(emb, edges, negK)))

  /** (u, v, j, ww, wc, pos): the sampled audit's labeled score
    * relation (pre-cut; j = 0 marks positives, 1..negK the draws).
    * Scores are the [[scoreVectors]] scaled integers — node-keyed
    * vector joins + in-row dot products, no per-dim explode and no
    * (u, v, j)-keyed re-aggregation. */
  private[graft] def scoredSampledPairs(emb: DataFrame, edges: DataFrame,
      negK: Int): DataFrame = {
    val sv = graft.Checkpoints.cut(scoreVectors(emb))
    // vocabulary ordinal via the distributed sort+zipWithIndex
    // primitive (graft.Ordinals) — NOT an unpartitioned row_number
    // window, which would sort the full embedded node set in one task
    // (the 100 TB vocabulary funnel).
    // Ranks over distinct sorted nodes are bit-identical either way.
    val ranked = graft.Checkpoints.cut(
      graft.Ordinals.dense(sv.select("node"), Seq("node"), "rk"))
    val nRel = ranked.agg(count(lit(1)).as("n_nodes"))
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .distinct()
    val pos = sym
      .join(ranked.select(col("node").as("u")), Seq("u"))
      .join(ranked.select(col("node").as("v")), Seq("v"))
      .filter(col("u") =!= col("v"))
      .select(col("u"), col("v"), lit(0L).as("j"), lit(true).as("pos"))
    val draw = expr(s"cast(${Md5Prefix.sql(
      "concat(cast(u as string), ':', cast(v as string), ':', cast(j as string))",
      1, 15)} as bigint)")
    val neg = pos.select(col("u"), col("v"))
      .withColumn("j", explode(expr(
        s"sequence(cast(1 as bigint), cast($negK as bigint))")))
      .crossJoin(broadcast(nRel))
      .withColumn("vr", draw % col("n_nodes") + 1)
      .join(ranked.select(col("rk").as("vr"), col("node").as("nv")),
        Seq("vr"))
      .select(col("u"), col("nv").as("v"), col("j"))
      .filter(col("u") =!= col("v"))
      .join(sym, Seq("u", "v"), "left_anti")
      .withColumn("pos", lit(false))
    // Multiplicity m: two different positives (u, v₁), (u, v₂) can
    // DRAW the same negative (u, v', j). The previous per-dim join +
    // groupBy collapsed those duplicates into one row whose sums
    // counted every dim m times (the oracle's GROUP BY does the
    // same), so the vector form groups candidates first and scales
    // the dot by m — one global ×1e6/×1e12 scaling per score kind
    // still, since m rides inside both the old and new value.
    val cand = pos.unionByName(neg)
      .groupBy("u", "v", "j", "pos").agg(count(lit(1)).as("m"))
    cand
      .join(sv.select(col("node").as("u"), col("liv").as("lu")), Seq("u"))
      .join(sv.select(col("node").as("v"), col("liv").as("lv"),
        col("sgn").as("sgv")), Seq("v"))
      .select(col("u"), col("v"), col("j"), col("pos"),
        (col("m").cast("double") *
          graft.functions.GraftFunctions.dot(col("lu"), col("lv")))
          .cast("long").as("ww"),
        (col("m").cast("double") *
          graft.functions.GraftFunctions.dot(col("lu"), col("sgv")))
          .cast("long").as("wc"))
  }

  /** The grouped tie-corrected Mann–Whitney report over any labeled
    * score relation `lab(ww, wc, pos)` — shared by the exhaustive
    * (q225/q227) and sampled-negative (q229) audits. */
  private[graft] def aucReport(lab: DataFrame): DataFrame = {
    val melted = lab.select(lit("wc").as("kind"),
        col("wc").cast("decimal(38,12)").as("score"), col("pos"))
      .unionByName(lab.select(lit("ww").as("kind"),
        col("ww").cast("decimal(38,12)").as("score"), col("pos")))
    val g = melted.groupBy("kind", "score").agg(
      count(lit(1)).as("c"),
      sum(when(col("pos"), 1L).otherwise(0L)).as("cp"))
    val w = Window.partitionBy("kind").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val rk = g.withColumn("cumb", coalesce(sum("c").over(w), lit(0L)))
    val per = rk.groupBy("kind").agg(
        sum("cp").as("np"), (sum("c") - sum("cp")).as("nn"),
        sum(col("cp") * (col("cumb") + (col("c") + 1) / 2.0))
          .as("prs"))
      .withColumn("auc",
        round((col("prs") - col("np") * (col("np") + 1) / 2.0) /
          (col("np") * col("nn")), 6))
    per.agg(
      max("np").as("n_pos"), max("nn").as("n_neg"),
      max(when(col("kind") === "wc", col("auc"))).as("auc_wc"),
      max(when(col("kind") === "ww", col("auc"))).as("auc_ww"))
  }

  /** q225: link-prediction AUC of q223's trained table against the
    * trade-graph edge set it was trained on. */
  def q225EmbeddingLinkAuc(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    linkAuc(tradeEmbeddings(spark, dir), TradeGraph.edges(t))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q223_node_embeddings" -> (q223NodeEmbeddings _),
    "q225_embedding_link_auc" -> (q225EmbeddingLinkAuc _),
  )

  /** The CTE chain from q222's walk relation to `emb(node, dim,
    * emb)` — the trained table, shared by q223's oracle and the
    * audits built over the embeddings (q225). Must follow
    * [[RandomWalks.walkCteSql]] under a `WITH RECURSIVE`. */
  private[graft] def embCteSql: String =
    s"""pr AS MATERIALIZED (
       |  SELECT x.node AS u, y.node AS v, CAST(count(*) AS BIGINT) AS n_uv
       |  FROM walk x JOIN walk y
       |    ON x.walk_id = y.walk_id
       |   AND abs(x.step - y.step) BETWEEN 1 AND $CtxWindow
       |  GROUP BY 1, 2),
       |$embFromPrCteSql""".stripMargin

  /** The CTE chain from ANY co-occurrence relation `pr(u, v, n_uv)`
    * to `emb(node, dim, emb)` — the trainer is corpus-agnostic
    * (walk skip-grams, order baskets, session sequences all feed the
    * same PPMI + signed-hash projection). */
  private[graft] def embFromPrCteSql: String = {
    // the projection hash feeds on the CONTEXT node and the dim. The
    // md5 is computed ONCE per (pair, dim) row in a subquery and the
    // 15-nibble-to-long expansion reads the hash column — inlining
    // the md5 into each digit term evaluates it 15× per row, which
    // at q228's 24M-row projection grain made the DuckDB oracle
    // minutes-slow.
    val bitV = Md5Prefix.hexToLongSql("h", 1, 15)
    val ppmiArg = """greatest(0.0,
       |              ln(CAST(p.n_uv AS DOUBLE) * t.d_tot /
       |                 (CAST(mu.n_u AS DOUBLE) * mv.n_u)))""".stripMargin
    s"""mg AS MATERIALIZED (SELECT u, CAST(sum(n_uv) AS BIGINT) AS n_u
       |       FROM pr GROUP BY 1),
       |tot AS MATERIALIZED (
       |       SELECT CAST(sum(n_uv) AS BIGINT) AS d_tot FROM pr),
       |pp AS (
       |  SELECT p.u, p.v,
       |         CAST(${round6Sql(ppmiArg)}
       |              AS DECIMAL(18,6)) AS ppmi
       |  FROM pr p
       |  JOIN mg mu ON mu.u = p.u
       |  JOIN mg mv ON mv.u = p.v, tot t),
       |ppf AS MATERIALIZED (SELECT * FROM pp WHERE ppmi > 0),
       |dims AS (SELECT CAST(unnest(generate_series(0, ${Dims - 1}))
       |                     AS BIGINT) AS dim),
       |e AS MATERIALIZED (
       |  SELECT u, dim,
       |         CAST(sum(ppmi * (1 - 2 * ($bitV % 2)))
       |              AS DECIMAL(18,6)) AS e
       |  FROM (SELECT p.u, d.dim, p.ppmi,
       |               md5(CAST(p.v AS VARCHAR) || ':' ||
       |                   CAST(d.dim AS VARCHAR)) AS h
       |        FROM ppf p, dims d) hx
       |  GROUP BY 1, 2),
       |nr AS MATERIALIZED (
       |       SELECT u, sqrt(CAST(sum(e * e) AS DOUBLE)) AS nrm
       |       FROM e GROUP BY 1),
       |emb AS MATERIALIZED (
       |  SELECT e.u AS node, e.dim,
       |         CASE WHEN nr.nrm = 0 THEN 0.0
       |              ELSE ${round6Sql("CAST(e.e AS DOUBLE) / nr.nrm")}
       |         END AS emb
       |  FROM e JOIN nr ON nr.u = e.u)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q223_node_embeddings" ->
      s"""WITH RECURSIVE ${RandomWalks.walkCteSql},
         |$embCteSql
         |SELECT node, dim, emb FROM emb
         |ORDER BY node, dim""".stripMargin,
    "q225_embedding_link_auc" ->
      s"""WITH RECURSIVE ${RandomWalks.walkCteSql},
         |$embCteSql,
         |$linkAucTailSql""".stripMargin,
  )

  /** CTE tail from an `emb(node, dim, emb)` relation (and the `trade`
    * edge CTE) to the one-row (n_pos, n_neg, auc_wc, auc_ww) audit —
    * shared by q225 and the node2vec-corpus audit q227. */
  private[graft] def linkAucTailSql: String = {
    val sgnBit = Md5Prefix.hexToLongSql(
      "md5(CAST(p.v AS VARCHAR) || ':' || CAST(eu.dim AS VARCHAR))",
      1, 15)
    s"""en AS MATERIALIZED (SELECT DISTINCT node FROM emb),
         |pairsq AS (
         |  SELECT a.node AS u, b.node AS v
         |  FROM en a, en b WHERE a.node <> b.node),
         |sc AS (
         |  SELECT p.u, p.v,
         |         sum(CAST(eu.emb AS DECIMAL(18,6)) *
         |             CAST(ev.emb AS DECIMAL(18,6))) AS ww,
         |         sum(CAST(eu.emb AS DECIMAL(18,6)) *
         |             (1 - 2 * ($sgnBit % 2))) AS wc
         |  FROM pairsq p
         |  JOIN emb eu ON eu.node = p.u
         |  JOIN emb ev ON ev.node = p.v AND ev.dim = eu.dim
         |  GROUP BY 1, 2),
         |lab AS MATERIALIZED (
         |  SELECT s.ww, s.wc, (t.src IS NOT NULL) AS pos
         |  FROM sc s
         |  LEFT JOIN (SELECT DISTINCT src, dst FROM trade) t
         |    ON t.src = s.u AND t.dst = s.v),
         |$aucFromLabSql""".stripMargin
  }

  /** The grouped Mann–Whitney block from a `lab(ww, wc, pos)` CTE to
    * the final one-row report — [[aucReport]]'s SQL mirror, shared by
    * the exhaustive and sampled audits. Ends the statement. */
  private[graft] def aucFromLabSql: String =
    s"""melted AS (
       |  SELECT 'wc' AS kind, CAST(wc AS DECIMAL(38,12)) AS score,
       |         pos FROM lab
       |  UNION ALL
       |  SELECT 'ww' AS kind, CAST(ww AS DECIMAL(38,12)) AS score,
       |         pos FROM lab),
       |g AS (
       |  SELECT kind, score, count(*) AS c,
       |         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp
       |  FROM melted GROUP BY 1, 2),
       |rk AS (
       |  SELECT kind, c, cp,
       |         coalesce(sum(c) OVER (PARTITION BY kind ORDER BY score
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           0) AS cumb
       |  FROM g),
       |per AS (
       |  SELECT kind,
       |         CAST(sum(cp) AS BIGINT) AS np,
       |         CAST(sum(c) - sum(cp) AS BIGINT) AS nn,
       |         sum(CAST(cp AS DOUBLE) *
       |             (CAST(cumb AS DOUBLE) + (c + 1) / 2.0)) AS prs
       |  FROM rk GROUP BY 1),
       |pera AS (
       |  SELECT kind, np, nn,
       |         round((prs - np * (np + 1) / 2.0) / (np * nn), 6)
       |           AS auc
       |  FROM per)
       |SELECT max(np) AS n_pos, max(nn) AS n_neg,
       |       max(CASE WHEN kind = 'wc' THEN auc END) AS auc_wc,
       |       max(CASE WHEN kind = 'ww' THEN auc END) AS auc_ww
       |FROM pera""".stripMargin
}
