package graft.sim

import scala.util.chaining._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Superstep, Tables}
import graft.functions.GraftFunctions.dot

/** Distributed Lloyd k-means over the embedding corpus — the centroid
  * trainer for the IVF coarse quantizer (Similarity.q41 uses
  * md5-derived directions as its deterministic stand-in; this is the
  * real training path, made deterministic by fixed seeding so it stays
  * oracle-checkable).
  *
  * Scale shape per iteration (the canonical distributed k-means):
  *  - centroids are k·d scalars — broadcast, never shuffled with the
  *    corpus;
  *  - assignment is a broadcast cross join + codegen squared distance
  *    (|x|² + |c|² − 2·x·c via [[graft.functions.DotProduct]]) + one
  *    window argmin, all streaming over the corpus once;
  *  - the centroid update aggregates (cell, dim) partial sums — a
  *    shuffle of k·d·partitions rows, independent of corpus size.
  * The loop runs on [[graft.Superstep]], which frees superseded
  * centroid/assignment cuts each round, so memory is O(corpus + k·d),
  * not O(iters · corpus).
  *
  * Determinism: init = the first k vectors by vec_id; every join/agg
  * is keyed; the only float nondeterminism is partial-agg order in the
  * per-dim mean, which moves centroids by ~1 ulp — far below the
  * assignment margins of this corpus, so the integer outputs
  * (assignments, sizes) are stable and hash-comparable. A cell that
  * empties vanishes from both engines identically (no reseeding). */
object KMeans {

  val K = 8
  val Iters = 3

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  private def sqDist(e: Column, c: Column): Column =
    dot(e, e) + dot(c, c) - lit(2.0) * dot(e, c)

  /** Lloyd loop: (assignment aₜ, centroids cₜ₋₁ — the ones that
    * produced it). Both are cuts; they live as long as the caller's
    * scope reads them.
    *
    * `grp` trains INDEPENDENT k-means instances per group value in
    * ONE program — every iteration is still exactly one broadcast
    * join + one aggregation regardless of group count, so M parallel
    * trainings (PQ's per-subspace codebooks) cost the same number of
    * cluster-wide barriers as one. Per group, the math is identical
    * to the ungrouped loop: same first-k-by-id init, same (dist asc,
    * cell asc) argmin, same per-dim mean update. */
  private def lloyd(v: DataFrame, k: Int, iters: Int,
      grp: Seq[String] = Nil): (DataFrame, DataFrame) = {
    require(iters >= 1, "kmeans needs at least one assignment pass")
    val g = grp.map(col)
    // argmin as one partial agg: min(struct(dist,
    // cell)) is exactly the row_number()-over-(dist ASC, cell ASC)
    // winner (ties fall through to the smaller cell) without the
    // per-iteration window sort; dist ≥ 0, no sign games needed.
    def assignTo(cent: DataFrame): DataFrame =
      (if (grp.isEmpty) v.crossJoin(broadcast(cent)) else v.join(broadcast(cent), grp))
        .withColumn("dist", sqDist(col("e"), col("c")))
        .groupBy(g :+ col("vec_id"): _*)
        .agg(min(struct(col("dist"), col("cell"))).as("w0"))
        .select(g :+ col("vec_id") :+ col("w0.cell").as("cell"): _*)
    // per-dim means; rebuild the centroid array ordered by dim
    def centroids(assign: DataFrame): DataFrame =
      assign.join(v, grp :+ "vec_id")
        .select(g :+ col("cell") :+ posexplode(col("e")).as(Seq("i", "x")): _*)
        .groupBy(g ++ Seq(col("cell"), col("i")): _*).agg(avg(col("x")).as("cx"))
        .groupBy(g :+ col("cell"): _*)
        .agg(array_sort(collect_list(struct(col("i"), col("cx")))).as("p"))
        .select(g :+ col("cell") :+ expr("transform(p, q -> q.cx)").as("c"): _*)
    // round 0: c₀ and a₁; round t: cₜ and aₜ₊₁
    Superstep.loop(iters - 1) { r =>
      val cent = r.cut(v.filter(col("vec_id") < k)
        .select(g :+ col("vec_id").cast("int").as("cell") :+ col("e").as("c"): _*))
      ((r.cut(assignTo(cent)), cent), Superstep.Unmeasured)
    } { case ((assign, _), r) =>
      val cent = r.cut(centroids(assign))
      ((r.cut(assignTo(cent)), cent), Superstep.Unmeasured)
    }(identity).out
  }

  /** (final assignment, the centroids that produced it) — for the
    * assignment-margin spec, which asserts every runner-up distance
    * clears the winner by far more than float accumulation noise. */
  private[graft] def model(v: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) =
    lloyd(v, k, iters)

  /** (vec_id, cell) after `iters` Lloyd iterations from the
    * first-k-by-id init. */
  def assignments(v: DataFrame, k: Int, iters: Int): DataFrame =
    Checkpoints.scoped(lloyd(v, k, iters)._1)

  // ---------------------------------------------------------------- q48
  /** Final assignment + cluster sizes after [[Iters]] iterations with
    * k = [[K]] — deterministic, mirrored by an unrolled SQL oracle. */
  def q48Kmeans(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val assign = assignments(v, K, Iters)
    val sizes = assign.groupBy("cell").agg(count(lit(1)).as("cluster_size"))
    assign.join(broadcast(sizes), "cell")
      .select(col("vec_id"), col("cell"), col("cluster_size"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q49
  /** IVF ANN over the TRAINED quantizer — the full composition
    * (train → index → probe → rerank) that q41's md5-direction cells
    * stand in for: queries rank the learned centroids by squared
    * distance, probe the best [[NProbe]] cells, and rerank only those
    * cells' members with exact cosine. Per-query corpus work is
    * ~nprobe/k of a scan over the cell-assigned index; the quantizer
    * cost is amortized across every search that reuses it. */
  val NProbe = 2
  val NQueries = 5
  val TopK = 5

  def q49IvfTrainedSearch(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val (assign, cent) = lloyd(v, K, Iters)
    val q = v.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_vec"), col("e").as("qe"))
    val wp = Window.partitionBy("q_vec").orderBy(col("dist").asc, col("cell").asc)
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("dist", sqDist(col("qe"), col("c")))
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= NProbe)
      .select(col("q_vec"), col("qe"), col("cell"))
    val scored = assign.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec"))
      .join(v, "vec_id")
      .select(col("q_vec"), col("vec_id").as("cand"),
        Similarity.cosine(col("qe"), col("e")).as("sim"))
    val wr = Window.partitionBy("q_vec").orderBy(col("sim").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_vec"), col("cand"), round(col("sim"), 6).as("sim"),
        col("rank"))
      .orderBy("q_vec", "rank")
  }

  // ---------------------------------------------------------------- q116
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication over the embedding space. The trained k-means
    * cells are the BLOCKING structure — exact cosine runs only
    * WITHIN a cell, dup pairs (cos ≥ [[SemDedupTau]]) are clustered
    * by connected components, and each cluster keeps its minimum-id
    * representative. The within-cell restriction is the method's
    * defining trade: cross-cell dup pairs are missed in exchange for
    * ~k× less pair work — at 100 TB, k scales with the corpus so a
    * cell stays a few thousand vectors and the in-cell join stays
    * bounded; the CC loop runs over PAIRED vectors only (q44's
    * singleton discipline). τ is tuned to this synthetic corpus's
    * near-random similarity tail (0.42 keeps a stable dup signal at
    * every SF); a real embedding corpus runs 0.9+. */
  val SemDedupTau = 0.42

  def q116SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    // the assignment dies once the in-cell pairs are cut
    val pairs = Checkpoints.scoped {
      val withE = assignments(v, K, Iters).join(v, "vec_id")
      withE.as("x").join(withE.as("y"),
          col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          Similarity.cosine(col("x.e"), col("y.e")).as("sim"))
        .filter(col("sim") >= SemDedupTau)
        .select("a", "b")
        .pipe(Checkpoints.cut)
    }
    // CC via the structure-routed ccAuto (q244's router): semantic
    // near-dup chains are min-label's high-diameter collapse mode
    // (BENCH_SCALING Parts 14/18); labels identical (min member id),
    // q116's oracle untouched.
    val paired = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node"))).distinct()
    val comp = graft.graph.StarContraction.ccAuto(paired,
      pairs.select(col("a").as("u"), col("b").as("v")))
    v.select(col("vec_id"))
      .join(comp.select(col("node").as("vec_id"), col("component")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster"))
      .withColumn("is_rep",
        (col("cluster") === col("vec_id")).cast("long"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q121
  /** Product quantization (Jégou et al., PAMI 2011): split the
    * [[Similarity.Dims]]-dim embedding into [[PqM]] subspaces, train
    * an independent k-means codebook per subspace (the same Lloyd
    * loop as q48), and encode every vector as [[PqM]] small codes —
    * the memory-compression layer under IVF-PQ ANN serving: 64
    * doubles become 4 bytes/vector at [[PqK]]=8, with `err` (the sum
    * of per-subspace squared residuals) quantifying the fidelity
    * trade. Codebook training cost is per-subspace independent and
    * the encode pass streams the corpus once per subspace; at 100 TB
    * the codebooks train on a sample and broadcast (k·d scalars),
    * exactly the q48 scale shape.
    *
    * Engine contract: per-subspace distances reuse the
    * |x|²+|c|²−2·x·c expansion (q48's oracle convention); the total
    * err adds the [[PqM]] chosen sub-distances in one fixed
    * left-associated expression, rounded 6dp. */
  val PqM = 4
  val PqK = 8
  val PqIters = 2

  /** Train the [[PqM]] per-subspace codebooks and COLLECT them: the
    * full model is PqM·PqK·(Dims/PqM) = Dims·PqK doubles — aggregated
    * state the size of a loop scalar, the piece every PQ serving
    * system ships to its searchers. Returned as (cell, centroid)
    * pairs per subspace, cell-ascending. */
  private[graft] def pqCodebooks(v: DataFrame): IndexedSeq[IndexedSeq[(Int, Seq[Double])]] = {
    val subDim = Similarity.Dims / PqM
    // all PqM subspace trainings fold into ONE grouped Lloyd run:
    // explode each vector into its (s, subvector) slices and key the
    // loop by s — per iteration one broadcast join + one agg total,
    // instead of PqM sequential loops' worth of cluster barriers
    val sv = v.select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${PqM - 1}),
           |  s -> struct(s AS s, slice(e, s * $subDim + 1, $subDim) AS e))"""
          .stripMargin)).as("p"))
      .select(col("p.s").as("s"), col("vec_id"), col("p.e").as("e"))
    val bySub = Checkpoints.scoped(lloyd(sv, PqK, PqIters, grp = Seq("s"))._2.collect())
      .map(r => (r.getAs[Int]("s"),
        r.getAs[Int]("cell"), r.getAs[scala.collection.Seq[Double]]("c").toSeq))
      .groupBy(_._1)
    (0 until PqM).map(s =>
      bySub(s).map(t => t._2 -> t._3).sortBy(_._1).toIndexedSeq)
  }

  /** In-row (dist, cell) candidate array for one subspace against its
    * collected codebook — `array_min` over it is the argmin with the
    * (dist asc, cell asc) tie order every Lloyd step uses. */
  private def subDists(e: Column, s: Int,
      book: IndexedSeq[(Int, Seq[Double])]): Column = {
    val subDim = Similarity.Dims / PqM
    val sl = slice(e, s * subDim + 1, subDim)
    array(book.map { case (cell, c) =>
      struct(sqDist(sl, typedLit(c)).as("dist"), lit(cell).as("cell"))
    }: _*)
  }

  def q121PqEncode(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val books = pqCodebooks(v)
    // encode = ONE projection pass: per subspace, the argmin over the
    // collected codebook is evaluated in-row — no joins, no shuffle
    // beyond the output sort, regardless of corpus size
    val withBest = (0 until PqM).foldLeft(v) { (acc, s) =>
      acc.withColumn(s"b$s", array_min(subDists(col("e"), s, books(s))))
    }
    withBest.select(
      col("vec_id") +:
        (0 until PqM).map(s => col(s"b$s.cell").as(s"code$s")) :+
        round((0 until PqM).map(s => col(s"b$s.dist")).reduce(_ + _), 6)
          .as("err"): _*)
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q122
  /** IVF-PQ search with asymmetric distance computation (Jégou et
    * al., PAMI 2011 §IV) — the serving path the q48/q121 trainers
    * exist for: coarse cells (q48's quantizer) prune the corpus to
    * [[NProbe]]/[[K]] inverted lists, and within them candidate
    * distances come from the PQ codes alone: a per-query lookup
    * table of query-slice→codeword distances ([[PqM]]·[[PqK]] = 32
    * floats/query, broadcast) turns each candidate's scan cost into
    * [[PqM]] table adds — the corpus embeddings are NEVER touched at
    * query time. At 100 TB that is the entire point: the index holds
    * 4-byte codes instead of 512-byte vectors, and a probe streams
    * codes at memory bandwidth.
    *
    * Engine contract: each LUT entry is one |q|²+|c|²−2·q·c sub-sum
    * (the q48 expansion); adc adds the [[PqM]] entries in one fixed
    * left-associated expression; ranking reads the UNROUNDED adc
    * with a candidate-id tie-break (equal codes ⇒ bit-equal adc on
    * both engines), output rounds 6dp. */
  def q122IvfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val subDim = Similarity.Dims / PqM

    // train both quantizers, collect the (tiny) models: coarse = K
    // full-dim centroids, PQ = Dims·PqK scalars — the state every PQ
    // searcher ships. The corpus itself is never collected.
    val coarse = Checkpoints.scoped(lloyd(v, K, Iters)._2.collect())
      .map(r => r.getAs[Int]("cell") ->
        r.getAs[scala.collection.Seq[Double]]("c").toSeq)
      .sortBy(_._1).toIndexedSeq
    val books = pqCodebooks(v)

    def coarseDists(e: Column): Column = array(coarse.map { case (cell, c) =>
      struct(sqDist(e, typedLit(c)).as("dist"), lit(cell).as("cell"))
    }: _*)

    // index build: ONE corpus projection — coarse cell + PQ codes,
    // all argmins in-row over the collected models (the materialized
    // form a serving system writes once and probes forever)
    val index = (0 until PqM).foldLeft(
        v.withColumn("cell", array_min(coarseDists(col("e"))).getField("cell"))) {
        (acc, s) =>
      acc.withColumn(s"code$s",
        array_min(subDists(col("e"), s, books(s))).getField("cell"))
    }.select(col("vec_id") +: col("cell") +:
      (0 until PqM).map(s => col(s"code$s")): _*)

    // query relation: NQueries rows carrying probed cells + per-
    // subspace cell→distance lookup maps — broadcast to the index scan
    val qrel = (0 until PqM).foldLeft(
        v.filter(col("vec_id") < NQueries)
          .withColumn("cds", coarseDists(col("e")))
          .withColumn("cells", transform(
            slice(array_sort(col("cds")), 1, NProbe), x => x.getField("cell")))) {
        (acc, s) =>
      acc.withColumn(s"m$s", map_from_entries(
        transform(subDists(col("e"), s, books(s)),
          x => struct(x.getField("cell"), x.getField("dist")))))
    }.select(col("vec_id").as("q_vec") +: col("cells") +:
      (0 until PqM).map(s => col(s"m$s")): _*)

    val adc = (0 until PqM)
      .map(s => element_at(col(s"m$s"), col(s"code$s"))).reduce(_ + _)
    val wr = Window.partitionBy("q_vec").orderBy(col("adc").asc, col("cand").asc)
    index.join(broadcast(qrel),
        array_contains(col("cells"), col("cell")) &&
          col("vec_id") =!= col("q_vec"))
      .withColumnRenamed("vec_id", "cand")
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_vec"), col("cand"),
        round(col("adc"), 6).as("adc"), col("rank"))
      .orderBy("q_vec", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q48_kmeans" -> (q48Kmeans _),
    "q49_sim_ann_ivf_trained" -> (q49IvfTrainedSearch _),
    "q116_semantic_dedup" -> (q116SemanticDedup _),
    "q121_pq_encode" -> (q121PqEncode _),
    "q122_ivfpq_search" -> (q122IvfPqSearch _),
  )

  /** Unrolled Lloyd iterations as chained CTEs (exact mirror of
    * [[lloyd]]: a_t from c_(t-1), c_t from a_t). Ends with a$iters and
    * c${iters-1} available to the caller's final SELECT.
    *
    * The distance uses the SAME |x|² + |c|² − 2·x·c expansion as
    * [[sqDist]] — not sum((x−c)²), which rounds differently and could
    * flip a near-tied argmin as data grows. Residual risk is only
    * per-sum accumulation order (~1 ulp); the assignment-margin spec
    * in KMeansSpec asserts every runner-up distance clears that by a
    * wide factor. */
  private def lloydCtes(k: Int, iters: Int): String = {
    val steps = (1 to iters).map { t =>
      val cent = if (t < iters)
        s""",
           |c$t AS (
           |  SELECT a.cell, v.i, avg(v.x) AS cx
           |  FROM a$t a JOIN vv v ON a.vec_id = v.vec_id
           |  GROUP BY 1, 2)""".stripMargin
      else ""
      s"""d$t AS (
         |  SELECT v.vec_id, c.cell,
         |         sum(v.x * v.x) + sum(c.cx * c.cx)
         |           - 2 * sum(v.x * c.cx) AS dist
         |  FROM vv v JOIN c${t - 1} c ON v.i = c.i
         |  GROUP BY 1, 2),
         |a$t AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist ASC, cell ASC) AS rk
         |    FROM d$t) z
         |  WHERE rk = 1)$cent""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, embedding FROM embeddings),
       |vd AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
       |       embedding FROM v),
       |vv AS (SELECT vec_id, i,
       |       CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x FROM vd),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, i, x AS cx FROM vv
       |       WHERE vec_id < $k),
       |$steps""".stripMargin
  }

  private def kmeansSql(k: Int, iters: Int): String =
    s"""WITH ${lloydCtes(k, iters)},
       |sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS cluster_size
       |          FROM a$iters GROUP BY 1)
       |SELECT a.vec_id, a.cell, s.cluster_size
       |FROM a$iters a JOIN sizes s ON a.cell = s.cell
       |ORDER BY vec_id""".stripMargin

  private def ivfTrainedSql(k: Int, iters: Int): String =
    s"""WITH ${lloydCtes(k, iters)},
       |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM vv GROUP BY 1),
       |qd AS (
       |  SELECT v.vec_id AS q_vec, c.cell,
       |         sum(v.x * v.x) + sum(c.cx * c.cx)
       |           - 2 * sum(v.x * c.cx) AS dist
       |  FROM vv v JOIN c${iters - 1} c ON v.i = c.i
       |  WHERE v.vec_id < $NQueries GROUP BY 1, 2),
       |probe AS (
       |  SELECT q_vec, cell FROM (
       |    SELECT q_vec, cell,
       |           row_number() OVER (PARTITION BY q_vec
       |                              ORDER BY dist ASC, cell ASC) AS rk
       |    FROM qd) z
       |  WHERE rk <= $NProbe),
       |cand AS (
       |  SELECT p.q_vec, a.vec_id AS cand
       |  FROM a$iters a JOIN probe p ON a.cell = p.cell
       |  WHERE a.vec_id <> p.q_vec),
       |dp AS (
       |  SELECT c.q_vec, c.cand, sum(xq.x * xc.x) AS dp
       |  FROM cand c
       |  JOIN vv xq ON xq.vec_id = c.q_vec
       |  JOIN vv xc ON xc.vec_id = c.cand AND xc.i = xq.i
       |  GROUP BY 1, 2),
       |sim AS (
       |  SELECT d.q_vec, d.cand, d.dp / (nq.nrm * nc.nrm) AS sim
       |  FROM dp d
       |  JOIN nrm nq ON nq.vec_id = d.q_vec
       |  JOIN nrm nc ON nc.vec_id = d.cand)
       |SELECT q_vec, cand, round(sim, 6) AS sim, rank FROM (
       |  SELECT q_vec, cand, sim,
       |         CAST(row_number() OVER (PARTITION BY q_vec
       |                                 ORDER BY sim DESC, cand ASC) AS BIGINT)
       |           AS rank
       |  FROM sim) z
       |WHERE rank <= $TopK
       |ORDER BY q_vec, rank""".stripMargin

  /** Mirror of [[q116SemanticDedup]]: lloyd assignment → in-cell
    * pairs → cosine threshold → recursive min-label reach (q44's CC
    * shape) → singleton labeling via the left-join-free reach base
    * (every vector seeds its own reach row). */
  private def semanticDedupSql(k: Int, iters: Int): String =
    s"""WITH RECURSIVE ${lloydCtes(k, iters)},
       |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM vv GROUP BY 1),
       |cand AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b
       |  FROM a$iters x JOIN a$iters y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id),
       |dp AS (
       |  SELECT c.a, c.b, sum(xa.x * xb.x) AS dp
       |  FROM cand c
       |  JOIN vv xa ON xa.vec_id = c.a
       |  JOIN vv xb ON xb.vec_id = c.b AND xb.i = xa.i
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT d.a, d.b FROM dp d
       |  JOIN nrm na ON na.vec_id = d.a
       |  JOIN nrm nb ON nb.vec_id = d.b
       |  WHERE d.dp / (na.nrm * nb.nrm) >= $SemDedupTau),
       |und AS (SELECT a AS src, b AS dst FROM pairs
       |        UNION SELECT b, a FROM pairs),
       |reach AS (
       |  SELECT vec_id AS node, vec_id AS peer FROM v
       |  UNION
       |  SELECT r.node, u.dst FROM reach r JOIN und u ON u.src = r.peer
       |)
       |SELECT node AS vec_id, CAST(min(peer) AS BIGINT) AS cluster,
       |       CAST(CASE WHEN min(peer) = node THEN 1 ELSE 0 END AS BIGINT)
       |         AS is_rep
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** One subspace's unrolled Lloyd chain, CTE names prefixed so the
    * [[PqM]] independent codebooks coexist in one WITH clause. The
    * subspace view re-indexes dims to 1..len (mirror of `slice`). */
  private def lloydSubCtes(p: String, k: Int, iters: Int,
      lo: Int, len: Int): String = {
    val steps = (1 to iters).map { t =>
      val cent = if (t < iters)
        s""",
           |${p}c$t AS (
           |  SELECT a.cell, v.i, avg(v.x) AS cx
           |  FROM ${p}a$t a JOIN ${p}vv v ON a.vec_id = v.vec_id
           |  GROUP BY 1, 2)""".stripMargin
      else ""
      s"""${p}d$t AS (
         |  SELECT v.vec_id, c.cell,
         |         sum(v.x * v.x) + sum(c.cx * c.cx)
         |           - 2 * sum(v.x * c.cx) AS dist
         |  FROM ${p}vv v JOIN ${p}c${t - 1} c ON v.i = c.i
         |  GROUP BY 1, 2),
         |${p}a$t AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist ASC, cell ASC) AS rk
         |    FROM ${p}d$t) z
         |  WHERE rk = 1)$cent""".stripMargin
    }.mkString(",\n")
    s"""${p}vv AS (SELECT vec_id, i - $lo + 1 AS i, x FROM vv
       |           WHERE i BETWEEN $lo AND ${lo + len - 1}),
       |${p}c0 AS (SELECT CAST(vec_id AS INT) AS cell, i, x AS cx
       |           FROM ${p}vv WHERE vec_id < $k),
       |$steps,
       |${p}best AS (
       |  SELECT d.vec_id, d.cell, d.dist
       |  FROM ${p}d$iters d JOIN ${p}a$iters a
       |    ON a.vec_id = d.vec_id AND a.cell = d.cell)""".stripMargin
  }

  private def pqSql(m: Int, k: Int, iters: Int): String = {
    val subDim = Similarity.Dims / m
    val chains = (0 until m)
      .map(s => lloydSubCtes(s"s${s}_", k, iters, s * subDim + 1, subDim))
      .mkString(",\n")
    val joins = (1 until m)
      .map(s => s"JOIN s${s}_best b$s ON b$s.vec_id = b0.vec_id")
      .mkString("\n")
    val codes = (0 until m).map(s => s"b$s.cell AS code$s").mkString(", ")
    val err = (0 until m).map(s => s"b$s.dist").mkString(" + ")
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |vd AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
       |       embedding FROM v),
       |vv AS (SELECT vec_id, i,
       |       CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x FROM vd),
       |$chains
       |SELECT b0.vec_id, $codes, round($err, 6) AS err
       |FROM s0_best b0
       |$joins
       |ORDER BY b0.vec_id""".stripMargin
  }

  /** Mirror of [[q122IvfPqSearch]]: the coarse chain's probe/cand is
    * verbatim [[ivfTrainedSql]]'s; each subspace's d$iters CTE already
    * holds every (vector, codeword) distance on the code-producing
    * centroids, so restricted to query ids it IS the ADC lookup
    * table, and restricted to the final assignment it gives each
    * candidate's code. */
  private def ivfPqSql(m: Int, k: Int, iters: Int): String = {
    val subDim = Similarity.Dims / m
    val chains = (0 until m)
      .map(s => lloydSubCtes(s"s${s}_", k, iters, s * subDim + 1, subDim))
      .mkString(",\n")
    val lutJoins = (0 until m).map { s =>
      s"""  JOIN s${s}_a$iters b$s ON b$s.vec_id = c.cand
         |  JOIN s${s}_d$iters l$s
         |    ON l$s.vec_id = c.q_vec AND l$s.cell = b$s.cell""".stripMargin
    }.mkString("\n")
    val adc = (0 until m).map(s => s"l$s.dist").mkString(" + ")
    s"""WITH ${lloydCtes(K, Iters)},
       |$chains,
       |qd AS (
       |  SELECT v.vec_id AS q_vec, c.cell,
       |         sum(v.x * v.x) + sum(c.cx * c.cx)
       |           - 2 * sum(v.x * c.cx) AS dist
       |  FROM vv v JOIN c${Iters - 1} c ON v.i = c.i
       |  WHERE v.vec_id < $NQueries GROUP BY 1, 2),
       |probe AS (
       |  SELECT q_vec, cell FROM (
       |    SELECT q_vec, cell,
       |           row_number() OVER (PARTITION BY q_vec
       |                              ORDER BY dist ASC, cell ASC) AS rk
       |    FROM qd) z
       |  WHERE rk <= $NProbe),
       |cand AS (
       |  SELECT p.q_vec, a.vec_id AS cand
       |  FROM a$Iters a JOIN probe p ON a.cell = p.cell
       |  WHERE a.vec_id <> p.q_vec),
       |adc AS (
       |  SELECT c.q_vec, c.cand, $adc AS adc
       |  FROM cand c
       |$lutJoins)
       |SELECT q_vec, cand, round(adc, 6) AS adc, rank FROM (
       |  SELECT q_vec, cand, adc,
       |         CAST(row_number() OVER (PARTITION BY q_vec
       |                                 ORDER BY adc ASC, cand ASC) AS BIGINT)
       |           AS rank
       |  FROM adc) z
       |WHERE rank <= $TopK
       |ORDER BY q_vec, rank""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q48_kmeans" -> kmeansSql(K, Iters),
    "q49_sim_ann_ivf_trained" -> ivfTrainedSql(K, Iters),
    "q116_semantic_dedup" -> semanticDedupSql(K, Iters),
    "q121_pq_encode" -> pqSql(PqM, PqK, PqIters),
    "q122_ivfpq_search" -> ivfPqSql(PqM, PqK, PqIters),
  )
}
