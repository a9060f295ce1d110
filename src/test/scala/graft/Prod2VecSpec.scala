package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.sim.Prod2Vec

class Prod2VecSpec extends SparkSpec {
  import spark.implicits._

  test("basket pairs are symmetric co-occurrence counts, never self-pairs") {
    val t = Tables(spark, sfDir())
    val rows = Prod2Vec.basketPairs(t).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(rows.nonEmpty)
    assert(rows.keys.forall { case (u, v) => u != v }, "self-pair")
    for (((u, v), n) <- rows)
      assert(rows.get((v, u)).contains(n), s"asymmetric ($u,$v)")
  }

  test("q104, q228 and q229 give identical rows at 1 and 7 shuffle partitions") {
    // all three read CoPurchase.pairSupport, the one basket-pair relation
    val names = Seq("q104_copurchase_triangles", "q228_prod2vec",
      "q229_prod2vec_link_auc")
    def rows: Map[String, Seq[Row]] = names.map { q =>
      val out = SparkEntry.queries(q)(spark, sfDir()).collect().toSeq
      Checkpoints.releaseAll(spark)
      q -> out
    }.toMap
    val one = withConf("spark.sql.shuffle.partitions", "1")(rows)
    val seven = withConf("spark.sql.shuffle.partitions", "7")(rows)
    names.foreach { q =>
      assert(one(q).nonEmpty, q)
      assert(seven(q) == one(q), s"$q differs between 1 and 7 shuffle partitions")
    }
  }

  test("q228 rows are unit-norm per node") {
    val rows = Prod2Vec.q228Prod2vec(spark, sfDir())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    for ((n, rs) <- rows.groupBy(_._1)) {
      assert(rs.length == graph.NodeEmbeddings.Dims, s"node $n dim count")
      val sq = rs.map(r => r._3 * r._3).sum
      assert(sq == 0.0 || math.abs(sq - 1.0) < 1e-4, s"node $n norm² $sq")
    }
  }

  test("train-once reuse path: audit over a materialized q228 table equals q229") {
    // the pipeline guidance in BENCH_NOTES_r10.md §2, as tested API:
    // materialize the trained table once (E7-style parquet), feed the
    // read-back into linkAucSampled — must equal the independent q229
    // (which re-trains). This is the shared-reuse contract a
    // deployment running q228+q229 relies on.
    val t = Tables(spark, sfDir())
    val out = java.nio.file.Files
      .createTempDirectory("graft-p2v-reuse").toString
    Prod2Vec.q228Prod2vec(spark, sfDir()).write
      .mode("overwrite").parquet(out)
    val rep = graph.CoPurchase.repeatEdges(t, graph.CoPurchase.TriMinSupport)
    val sym = rep.unionByName(
      rep.select(col("dst").as("src"), col("src").as("dst")))
    val reused = graph.NodeEmbeddings.linkAucSampled(
      spark.read.parquet(out), sym, Prod2Vec.NegK).collect().head
    val direct = Prod2Vec.q229Prod2vecLinkAuc(spark, sfDir())
      .collect().head
    assert(reused == direct,
      s"reuse path diverged: $reused vs $direct")
  }

  test("sampled audit: draws follow the hash, volume is |E|-bounded, labels honest") {
    // designed embedding/edge fixture exercising the sampler
    val emb = (1L to 6L).flatMap(n => Seq((n, 0L, 1.0), (n, 1L, 0.0)))
      .toDF("node", "dim", "emb")
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val negK = 3
    val got = graph.NodeEmbeddings
      .scoredSampledPairs(emb, edges, negK)
      .collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"),
        r.getAs[Long]("j"), r.getAs[Boolean]("pos")))

    // scalar reference of the sampler contract
    def md5long(s: String): Long = {
      val md = MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val nodes = (1L to 6L).toSeq // ranked by node: rank i = node i
    val sym = Set((1L, 2L), (3L, 4L))
    val pos = sym.toSeq.map { case (u, v) => (u, v, 0L, true) }
    val neg = for {
      (u, v) <- sym.toSeq
      j <- 1L to negK.toLong
      nv = nodes((md5long(s"$u:$v:$j") % nodes.length).toInt)
      if nv != u && !sym.contains((u, nv))
    } yield (u, nv, j, false)
    assert(got.sorted.toSeq == (pos ++ neg).sorted)
    assert(got.count(_._4) == 2)
    assert(got.length <= 2 * (negK + 1))
  }

  test("q229 sampled audit: both AUCs in [0,1], volumes bounded by |E|·(K+1)") {
    val r = Prod2Vec.q229Prod2vecLinkAuc(spark, sfDir()).collect().head
    val np = r.getAs[Long]("n_pos")
    val nn = r.getAs[Long]("n_neg")
    assert(np > 0L)
    assert(nn > 0L)
    assert(nn <= np * Prod2Vec.NegK, s"neg volume $nn vs ${np} positives")
    val wc = r.getAs[Double]("auc_wc")
    val ww = r.getAs[Double]("auc_ww")
    assert(wc >= 0.0 && wc <= 1.0, s"auc_wc $wc")
    assert(ww >= 0.0 && ww <= 1.0, s"auc_ww $ww")
  }
}
