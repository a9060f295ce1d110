package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.functions._
import graft.graph.NodeEmbeddings

class NodeEmbeddingsSpec extends SparkSpec {
  import spark.implicits._

  /** The operator's projection sign, recomputed scalar-side: parity
    * of the first 15 md5 hex nibbles of "context:dim". */
  private def signOf(v: Long, dim: Long): Int = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$v:$dim".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
  }

  private val Half = BigDecimal.RoundingMode.HALF_UP

  test("pipeline matches a scalar PPMI+projection reference on a designed corpus") {
    val corpus = Seq(
      (1L, Seq(10L, 11L, 12L, 10L, 13L)),
      (2L, Seq(11L, 10L, 13L)),
      (3L, Seq(12L, 12L, 10L)))
    val walks = corpus.flatMap { case (id, ns) =>
      ns.zipWithIndex.map { case (n, s) => (id, s.toLong, n) }
    }.toDF("walk_id", "step", "node")
    val dims = 4
    val window = 2

    val got = NodeEmbeddings.project(
      NodeEmbeddings.ppmiRows(NodeEmbeddings.skipGramPairs(walks, window)),
      dims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // scalar reference of the same contract
    val pairs = mutable.Map[(Long, Long), Long]()
    for ((_, ns) <- corpus; i <- ns.indices; j <- ns.indices
         if i != j && math.abs(i - j) <= window)
      pairs((ns(i), ns(j))) = pairs.getOrElse((ns(i), ns(j)), 0L) + 1L
    val nU = pairs.groupBy(_._1._1).map { case (u, m) => u -> m.values.sum }
    val dTot = pairs.values.sum
    val ppmi = pairs.flatMap { case ((u, v), n) =>
      val x = math.max(0.0,
        math.log(n.toDouble * dTot / (nU(u).toDouble * nU(v))))
      val r = BigDecimal(x).setScale(6, Half)
      if (r > 0) Some(((u, v), r)) else None
    }
    val e = mutable.Map[(Long, Long), BigDecimal]()
    for (((u, v), p) <- ppmi; dim <- 0L until dims.toLong)
      e((u, dim)) = e.getOrElse((u, dim), BigDecimal(0)) + p * signOf(v, dim)
    val norm = e.groupBy(_._1._1).map { case (u, m) =>
      u -> math.sqrt(m.values.map(x => (x * x).toDouble).sum)
    }
    val want = e.map { case ((u, dim), x) =>
      val out = if (norm(u) == 0) 0.0
        else BigDecimal(x.toDouble / norm(u)).setScale(6, Half).toDouble
      (u, dim, out)
    }.toSet

    assert(got == want)
    assert(got.nonEmpty)
  }

  /** Tie-corrected Mann–Whitney AUC, scalar side. */
  private def aucRef(scored: Seq[(BigDecimal, Boolean)]): Double = {
    val byScore = scored.groupBy(_._1).toSeq.sortBy(_._1)
    var cum = 0L
    var posRankSum = 0.0
    for ((_, grp) <- byScore) {
      val c = grp.length
      val cp = grp.count(_._2)
      posRankSum += cp * (cum + (c + 1) / 2.0)
      cum += c
    }
    val p = scored.count(_._2).toLong
    val n = scored.length - p
    val u = posRankSum - p * (p + 1) / 2.0
    BigDecimal(u / (p * n)).setScale(6, Half).toDouble
  }

  test("linkAuc matches a scalar Mann–Whitney reference on a designed fixture") {
    // 3 nodes, d = 2; unit-norm rows with deliberate cosine ties:
    // ww(1,2) = 1.0, every pair touching node 3 scores 0.0, so the
    // average-rank tie path is exercised on the ww side; the wc side
    // gets md5-sign-dependent scores recomputed scalar-side.
    val emb = Seq(
      (1L, 0L, 1.0), (1L, 1L, 0.0),
      (2L, 0L, 1.0), (2L, 1L, 0.0),
      (3L, 0L, 0.0), (3L, 1L, 1.0))
    val edges = Seq((1L, 2L), (1L, 3L))
    val embDf = emb.toDF("node", "dim", "emb")
    val r = graph.NodeEmbeddings.linkAuc(embDf, edges.toDF("src", "dst"))
      .collect().head

    val vecs = emb.groupBy(_._1).map { case (n, rs) =>
      n -> rs.sortBy(_._2).map(x => BigDecimal(x._3).setScale(6, Half))
    }
    val nodes = vecs.keys.toSeq.sorted
    val pairs = for (u <- nodes; v <- nodes if u != v) yield (u, v)
    val eset = edges.toSet
    val ww = pairs.map { case (u, v) =>
      (vecs(u).zip(vecs(v)).map { case (a, b) => a * b }.sum,
        eset.contains((u, v)))
    }
    val wc = pairs.map { case (u, v) =>
      (vecs(u).zipWithIndex.map { case (e, d) =>
        e * signOf(v, d.toLong)
      }.sum, eset.contains((u, v)))
    }
    assert(r.getAs[Long]("n_pos") == 2L)
    assert(r.getAs[Long]("n_neg") == 4L)
    assert(r.getAs[Double]("auc_ww") == aucRef(ww))
    assert(r.getAs[Double]("auc_wc") == aucRef(wc))
    // the designed ww ties: four 0.0s (avg rank 2.5), two 1.0s (avg
    // rank 5.5); positives hold {2.5, 5.5} -> U = 5, AUC = 5/8
    assert(r.getAs[Double]("auc_ww") == 0.625)
  }

  test("q225 audits the trained table: both AUCs in [0,1], wc beats ww on the trade graph") {
    val r = graph.NodeEmbeddings.q225EmbeddingLinkAuc(spark, sfDir())
      .collect().head
    assert(r.getAs[Long]("n_pos") > 0L)
    assert(r.getAs[Long]("n_neg") > 0L)
    val wc = r.getAs[Double]("auc_wc")
    val ww = r.getAs[Double]("auc_ww")
    assert(wc >= 0.0 && wc <= 1.0, s"auc_wc $wc")
    assert(ww >= 0.0 && ww <= 1.0, s"auc_ww $ww")
    // the factorization's own link score must retain real signal
    // (the word-word cosine measures role similarity instead — on
    // the hub-heavy trade graph it lands BELOW wc; see Scaladoc)
    assert(wc > 0.5, s"word-context AUC $wc lost the PPMI signal")
    assert(wc > ww, s"wc $wc should beat ww $ww here")
  }

  test("q223 rows are unit-norm per node across all dims") {
    val rows = NodeEmbeddings.q223NodeEmbeddings(spark, sfDir())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val byNode = rows.groupBy(_._1)
    for ((n, rs) <- byNode) {
      assert(rs.length == NodeEmbeddings.Dims, s"node $n dim count")
      val sq = rs.map(r => r._3 * r._3).sum
      assert(sq == 0.0 || math.abs(sq - 1.0) < 1e-4, s"node $n norm² $sq")
    }
  }

  test("output is invariant to the input partitioning (DECIMAL sums)") {
    val t = Tables(spark, sfDir())
    val seeds = t.nation
      .select(col("n_nationkey").cast("long").as("node"))
      .select(col("node"),
        explode(expr(s"sequence(0, ${graft.graph.RandomWalks.WalksPerNode - 1})"))
          .as("w"))
      .select(
        (col("node") * graft.graph.RandomWalks.WalksPerNode + col("w"))
          .as("walk_id"),
        col("node"))
    val walks = graft.graph.RandomWalks.walkRows(
      seeds, graft.graph.RandomWalks.adjacency(t),
      graft.graph.RandomWalks.WalkLen)
    def run(parts: Int) = NodeEmbeddings.project(
      NodeEmbeddings.ppmiRows(NodeEmbeddings.skipGramPairs(
        walks.repartition(parts), NodeEmbeddings.CtxWindow)),
      NodeEmbeddings.Dims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(1) == run(7))
  }
}
