package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import graft.graph.{Node2Vec, RandomWalks, TradeGraph}

class Node2VecSpec extends SparkSpec {
  import spark.implicits._

  private def pick(walkId: Long, step: Long): Long = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$walkId:$step".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  test("transition intervals carry the exact (q, pq, p) weight classes") {
    // state (prev=0, cur=1); 1 -> {0, 2, 3} ranked 1..3.
    // 0->2 is an edge (common), 0->3 is not (far), 0 is prev (return).
    val adj = Seq(
      (0L, 1L, 1L, 2L), (0L, 2L, 2L, 2L),
      (1L, 0L, 1L, 3L), (1L, 2L, 2L, 3L), (1L, 3L, 3L, 3L))
      .toDF("src", "dst", "rk", "od")
    val edges = adj.select("src", "dst")
    val rows = Node2Vec.transitionIntervals(adj, edges)
      .filter(col("prev") === 0L && col("cur") === 1L)
      .orderBy("lo")
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // rank order 0,2,3: return(4) | common(8) | far(2), tot 14
    val (wr, wc, wf) = (Node2Vec.WReturn, Node2Vec.WCommon, Node2Vec.WFar)
    assert(rows.toSeq == Seq(
      (0L, 0L, wr, wr + wc + wf),
      (2L, wr, wr + wc, wr + wc + wf),
      (3L, wr + wc, wr + wc + wf, wr + wc + wf)))
  }

  test("walks match a scalar second-order reference on a designed graph") {
    // 0 -> {1, 2}, 1 -> {0, 2, 3}, 2 -> {0, 1}, 3 is a SINK
    val edgeSeq = Seq(
      (0L, 1L), (0L, 2L), (1L, 0L), (1L, 2L), (1L, 3L),
      (2L, 0L), (2L, 1L))
    val adjMap = edgeSeq.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).sorted // rank = dst order (cnt ties)
    }
    val adj = adjMap.toSeq.flatMap { case (s, ds) =>
      ds.zipWithIndex.map { case (d, i) =>
        (s, d, i + 1L, ds.length.toLong)
      }
    }.toDF("src", "dst", "rk", "od")
    val edges = edgeSeq.toDF("src", "dst")
    val seeds = (0L until 6L).map(i => (i * 10L, i % 3L))
      .toDF("walk_id", "node")
    val len = 6
    val got = Node2Vec.walkRows(seeds, adj,
        Node2Vec.transitionIntervals(adj, edges), len)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val edgeSet = edgeSeq.toSet
    def weight(prev: Long, x: Long): Long =
      if (x == prev) Node2Vec.WReturn
      else if (edgeSet.contains((prev, x))) Node2Vec.WCommon
      else Node2Vec.WFar
    def ref(id: Long, start: Long): Seq[(Long, Long, Long)] = {
      var out = Seq((id, 0L, start))
      adjMap.get(start) match {
        case None => return out
        case Some(ns) =>
          var prev = start
          var node = ns((pick(id, 0L) % ns.length).toInt)
          out :+= ((id, 1L, node))
          var step = 1L
          var alive = true
          while (alive && step < len) {
            adjMap.get(node) match {
              case Some(cands) =>
                val ws = cands.map(weight(prev, _))
                val tot = ws.sum
                val p = pick(id, step) % tot
                var cum = 0L
                var chosen = -1L
                for ((c, w) <- cands.zip(ws)) {
                  if (chosen < 0 && p < cum + w) chosen = c
                  cum += w
                }
                prev = node
                node = chosen
                step += 1
                out :+= ((id, step, node))
              case None => alive = false
            }
          }
      }
      out
    }
    val want = (0L until 6L)
      .flatMap(i => ref(i * 10L, i % 3L)).sorted
    assert(got.sorted.toSeq == want)
    // the interval pick actually exercised >1 weight class: some walk
    // visits a state with mixed candidates (guard against a fixture
    // where every pick degenerates to uniform)
    assert(got.length > seeds.count())
  }

  test("q226 node2vec embeddings are unit-norm and trained on a DIFFERENT corpus than q223") {
    val rows = Node2Vec.q226Node2vecEmbeddings(spark, sfDir())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    for ((n, rs) <- rows.groupBy(_._1)) {
      assert(rs.length == graph.NodeEmbeddings.Dims, s"node $n dim count")
      val sq = rs.map(r => r._3 * r._3).sum
      assert(sq == 0.0 || math.abs(sq - 1.0) < 1e-4, s"node $n norm² $sq")
    }
    val dw = graph.NodeEmbeddings.q223NodeEmbeddings(spark, sfDir())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.toSet != dw, "node2vec training reproduced the DeepWalk table")
  }

  test("q227 bake-off audit: both AUCs in [0,1], wc retains signal on the biased corpus") {
    val r = Node2Vec.q227Node2vecLinkAuc(spark, sfDir()).collect().head
    assert(r.getAs[Long]("n_pos") > 0L)
    assert(r.getAs[Long]("n_neg") > 0L)
    val wc = r.getAs[Double]("auc_wc")
    val ww = r.getAs[Double]("auc_ww")
    assert(wc >= 0.0 && wc <= 1.0, s"auc_wc $wc")
    assert(ww >= 0.0 && ww <= 1.0, s"auc_ww $ww")
    assert(wc > 0.5, s"word-context AUC $wc lost the PPMI signal")
  }

  test("q224 trajectories are valid trade-graph walks that differ from q222's") {
    val df = Node2Vec.q224Node2vecWalks(spark, sfDir())
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val t = Tables(spark, sfDir())
    val nNations = t.nation.count()
    val step0 = rows.filter(_._2 == 0L)
    assert(step0.length == nNations * RandomWalks.WalksPerNode)
    assert(step0.forall { case (id, _, node) =>
      id / RandomWalks.WalksPerNode == node })
    rows.groupBy(_._1).foreach { case (id, ws) =>
      val steps = ws.map(_._2).sorted.toList
      assert(steps == (0L until steps.length).toList, s"gap in walk $id")
    }
    val edges = TradeGraph.edges(t)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.groupBy(_._1).foreach { case (id, ws) =>
      ws.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, a), (_, _, b)) =>
          assert(edges.contains((a, b)), s"non-edge $a->$b in walk $id")
        case _ =>
      }
    }
    // step 1 is q222's first-order pick (shared seeds + shared rule)
    val fo = RandomWalks.q222RandomWalks(spark, sfDir())
      .filter(col("step") === 1L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val so1 = rows.filter(_._2 == 1L).map(r => (r._1, r._3)).toMap
    assert(so1 == fo)
    // ...but the full corpora diverge (the bias is live somewhere)
    val q222 = RandomWalks.q222RandomWalks(spark, sfDir()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.toSet != q222, "second-order corpus identical to first-order")
  }
}
