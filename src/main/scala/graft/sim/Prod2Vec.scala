package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.{CoPurchase, NodeEmbeddings}

/** prod2vec — item embeddings from order baskets (Barkan &
  * Koenigstein 2016): the A39 trainer (exact PPMI + signed-hash JL
  * projection, `graph/NodeEmbeddings.scala`) fed by basket
  * co-occurrence instead of walk skip-grams. The co-occurrence
  * relation is the market-basket one the co-purchase family (q61)
  * already mines: parts sharing an order, counted over all orders —
  * word2vec's "sentence" is the basket, the window is the whole
  * basket (the paper's convention). Downstream contract identical to
  * q223: PPMI cells 6dp DECIMAL, ±1 md5-parity projection to
  * [[NodeEmbeddings.Dims]] dims, L2-normalized, cosine-ready.
  * (Reference lineage: documentation/queries.md's dependency
  * analytics — the representation-learning member over the
  * co-purchase domain.)
  *
  * q229 is the SAMPLED-negative audit — the scale path q225's
  * exhaustive candidate relation cannot take at this vocabulary
  * (20k parts → 4·10⁸ ordered pairs): positives are the
  * repeat-co-purchase edges (support ≥ 2, the q104 thresholding),
  * negatives [[NegK]] deterministic hash draws per positive from the
  * rank-indexed embedded vocabulary (sampling with replacement, the
  * word2vec convention), so the audit's candidate volume is
  * |E|·(NegK+1) at ANY vocabulary size.
  *
  * Scale shape: the basket self-join is keyed on the order and
  * bounded by Σ basket² (baskets are small by domain — the relation
  * is linear in lineitem); PPMI marginals/total are partial aggs;
  * the sampler is one equi join against the ranked vocabulary.
  */
object Prod2Vec {

  /** Negative draws per positive edge in q229. */
  val NegK = 8

  /** Support floor on the trainer's pair input — word2vec's
    * `min_count` pruning (Mikolov et al. 2013) and the node2vec
    * `minSupport` pattern ([[graft.graph.Node2Vec]]), applied at the
    * pair grain: a pair co-purchased in ONE order is coincidence, not
    * signal (the same adjudication [[CoPurchase.repeatEdges]] makes
    * for the graph family), and at scale the singleton tail DOMINATES
    * the relation — measured 2.39M pairs → 7.1k at sf0.1 (335×), with
    * every repeat-co-purchase edge's endpoints still embedded at all
    * three SFs, so q229's positive set is untouched. Tied to
    * [[CoPurchase.TriMinSupport]] so the trainer's vocabulary and the
    * audit's positive edges share one threshold. */
  val MinSupport: Long = CoPurchase.TriMinSupport

  /** (u, v, n_uv): symmetric basket co-occurrence counts over
    * distinct (order, part) pairs, floored at [[MinSupport]] distinct
    * orders — [[CoPurchase.pairSupport]]'s (src < dst, m) rows, kept
    * at the floor and emitted in both directions (n_uv = n_vu: both
    * count the orders holding the two parts). The floor runs after
    * the partial-agg count — map-side combine still sees every pair,
    * but only the repeat tail survives into the PPMI stage. */
  private[graft] def basketPairs(t: Tables): DataFrame = {
    val rep = CoPurchase.pairSupport(t).filter(col("m") >= MinSupport)
    rep.select(col("src").as("u"), col("dst").as("v"), col("m").as("n_uv"))
      .union(rep.select(col("dst").as("u"), col("src").as("v"),
        col("m").as("n_uv")))
  }

  /** The trained table (unordered — q228 adds the presentation
    * sort; q229 consumes it sort-free).
    *
    * IN-SUITE RECOMPUTATION IS THE CONTRACT: q229 re-runs the same
    * trainer chain (over its own shared-cut pair relation)
    * rather than reading q228's result because Verify/Bench execute
    * every query hermetically — `Checkpoints.releaseAll` between
    * queries frees all cached blocks (the hygiene that makes
    * per-query bench walls attributable and each oracle row
    * independent), so a cross-query memo would hold dead block
    * references. A production caller avoids the recompute by nature
    * of the API: train once (`embeddings(...)`, `Checkpoints.cut` it
    * or write it), then hand the SAME relation to
    * [[NodeEmbeddings.linkAucSampled]] and any other consumer —
    * both functions take the trained table as a DataFrame argument,
    * never a path, so reuse is the default outside the suite. */
  private[graft] def embeddings(spark: SparkSession,
      dir: String): DataFrame =
    NodeEmbeddings.project(
      NodeEmbeddings.ppmiRows(basketPairs(Tables(spark, dir))),
      NodeEmbeddings.Dims)

  /** q228: prod2vec embeddings for every part with basket
    * co-occurrence signal. */
  def q228Prod2vec(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).orderBy("node", "dim")

  /** q229: sampled-negative link audit of the q228 table against the
    * repeat-co-purchase edge set (both directions).
    *
    * ONE basket build, two consumers: with the trainer floored at
    * [[MinSupport]] == [[CoPurchase.TriMinSupport]], the floored
    * symmetric pair relation IS the audit's positive edge set
    * (repeatEdges ∪ its reverse — both are "ordered part pairs
    * sharing ≥ 2 distinct orders"), so the lineitem self-join that
    * used to run twice (trainer input + repeatEdges) runs once,
    * is cut, and feeds both the PPMI chain and the positives.
    * ppmiRows takes its
    * input through `Checkpoints.cutOnce`, so the pre-cut pairs
    * relation is re-read, not materialized a second time. */
  def q229Prod2vecLinkAuc(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.Checkpoints.cut(basketPairs(Tables(spark, dir)))
    val emb = NodeEmbeddings.project(
      NodeEmbeddings.ppmiRows(pairs), NodeEmbeddings.Dims)
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
    NodeEmbeddings.linkAucSampled(emb, sym, NegK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q228_prod2vec" -> (q228Prod2vec _),
    "q229_prod2vec_link_auc" -> (q229Prod2vecLinkAuc _),
  )

  /** Basket-pair CTEs shared by both oracles: distinct (order, part)
    * → symmetric co-occurrence `pr(u, v, n_uv)`, floored at
    * [[MinSupport]] (the trainer's min_count). */
  private val basketCteSql: String =
    s"""ba AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
      |  FROM lineitem),
      |pr AS MATERIALIZED (
      |  SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS n_uv
      |  FROM ba a JOIN ba b ON a.o = b.o AND a.p <> b.p
      |  GROUP BY 1, 2
      |  HAVING count(*) >= $MinSupport)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q228_prod2vec" ->
      s"""WITH $basketCteSql,
         |${NodeEmbeddings.embFromPrCteSql}
         |SELECT node, dim, emb FROM emb
         |ORDER BY node, dim""".stripMargin,
    "q229_prod2vec_link_auc" -> {
      // both hashes are computed ONCE per row in a subquery and the
      // 15-nibble expansion reads the hash column — inlining the md5
      // into the join key made DuckDB nested-loop the draw join with
      // 15 md5 evaluations per COMPARISON (it spilled the disk dry
      // at sf0.1 before this restructure)
      val drawBit = graft.text.TextOps.hexToLongSql("h", 1, 15)
      val sgnBit = graft.text.TextOps.hexToLongSql("h", 1, 15)
      s"""WITH $basketCteSql,
         |${NodeEmbeddings.embFromPrCteSql},
         |sym AS (
         |  -- the floored symmetric pair relation IS the positive
         |  -- edge set (repeat pairs, both directions) — mirrors the
         |  -- Spark side's one-basket-build sharing
         |  SELECT u, v FROM pr),
         |en AS (SELECT DISTINCT node FROM emb),
         |ranked AS MATERIALIZED (
         |  SELECT node, CAST(row_number() OVER (ORDER BY node)
         |               AS BIGINT) AS rk
         |  FROM en),
         |ncnt AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes
         |         FROM ranked),
         |pos AS MATERIALIZED (
         |  SELECT s.u, s.v, CAST(0 AS BIGINT) AS j, TRUE AS pos
         |  FROM sym s
         |  JOIN ranked ru ON ru.node = s.u
         |  JOIN ranked rv ON rv.node = s.v
         |  WHERE s.u <> s.v),
         |draws AS (
         |  SELECT u, v, j, $drawBit % n_nodes + 1 AS vr
         |  FROM (
         |    SELECT p.u, p.v, t.j, c.n_nodes,
         |           md5(CAST(p.u AS VARCHAR) || ':' ||
         |               CAST(p.v AS VARCHAR) || ':' ||
         |               CAST(t.j AS VARCHAR)) AS h
         |    FROM pos p
         |    CROSS JOIN unnest(generate_series(1, $NegK)) AS t(j)
         |    CROSS JOIN ncnt c) q),
         |neg AS (
         |  SELECT d.u, r.node AS v, d.j, FALSE AS pos
         |  FROM draws d JOIN ranked r ON r.rk = d.vr
         |  WHERE r.node <> d.u
         |    AND NOT EXISTS (SELECT 1 FROM sym s
         |                    WHERE s.u = d.u AND s.v = r.node)),
         |cand AS (SELECT * FROM pos UNION ALL SELECT * FROM neg),
         |lab AS MATERIALIZED (
         |  SELECT u, v, j, pos,
         |         sum(eu_emb * ev_emb) AS ww,
         |         sum(eu_emb * (1 - 2 * ($sgnBit % 2))) AS wc
         |  FROM (
         |    SELECT c.u, c.v, c.j, c.pos,
         |           CAST(eu.emb AS DECIMAL(18,6)) AS eu_emb,
         |           CAST(ev.emb AS DECIMAL(18,6)) AS ev_emb,
         |           md5(CAST(c.v AS VARCHAR) || ':' ||
         |               CAST(eu.dim AS VARCHAR)) AS h
         |    FROM cand c
         |    JOIN emb eu ON eu.node = c.u
         |    JOIN emb ev ON ev.node = c.v AND ev.dim = eu.dim) x
         |  GROUP BY 1, 2, 3, 4),
         |${NodeEmbeddings.aucFromLabSql}""".stripMargin
    },
  )
}
