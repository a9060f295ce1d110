package graft

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.graphx.lib.LabelPropagation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, CoPurchase, Louvain, TradeGraph}

class AlgorithmsSpec extends SparkSpec {
  import spark.implicits._

  // cycle 1→2→3→1, spur 1→5, isolated 4
  private lazy val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
  private lazy val edges =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 5L)).toDF("src", "dst")
  private lazy val undirected = {
    val e = edges
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** [[Algorithms.pagerank]] instrumented with the per-iteration L1
    * movement — convergence evidence. */
  private def pagerankWithDeltas(nodes: DataFrame, edges: DataFrame,
      iters: Int): (DataFrame, List[Double]) = {
    val deltas = scala.collection.mutable.ListBuffer.empty[Double]
    val run = Algorithms.uniform(nodes, edges, lit(1.0), lit(0.15), iters) { (prev, next) =>
      deltas += Algorithms.movement(prev, next)
      Superstep.Unmeasured
    }
    (run.out, deltas.toList)
  }

  /** (node) + (src, dst) frames as a GraphX graph, for the parity
    * checks against GraphX's Pregel implementations. */
  private def toGraph(nodes: DataFrame, edges: DataFrame): Graph[Long, Long] =
    Graph(nodes.select(col("node").cast("long")).rdd
        .map(r => (r.getLong(0), r.getLong(0))),
      edges.select(col("src").cast("long"), col("dst").cast("long")).rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1L)))

  /** The closure formulation scc(v) = min{u : v→*u and u→*v} — it
    * materializes the O(V²) reachability pair set, so it serves only
    * as the agreement reference for [[Algorithms.sccLabels]]. */
  private def sccViaClosure(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e = Checkpoints.cut(edges.select("src", "dst").distinct())
    val reach = Algorithms.transitiveClosure(e) // eager fixpoint
    Checkpoints.release(e)
    val mutual = reach.as("f")
      .join(reach.as("b"),
        col("f.src") === col("b.dst") && col("f.dst") === col("b.src"))
      .select(col("f.src").as("node"), col("f.dst").as("peer"))
    nodes.select(col("node"), col("node").as("peer"))
      .union(mutual)
      .groupBy("node").agg(min(col("peer")).as("scc"))
  }

  test("transitive closure finds the cycle and the spur") {
    val reach = Algorithms.transitiveClosure(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reach.filter(_._1 == 1L).map(_._2) == Set(1L, 2L, 3L, 5L))
    assert(reach.filter(_._1 == 5L).isEmpty)
  }

  test("connected components: min-id per undirected component") {
    val comp = Algorithms.connectedComponents(nodes, undirected)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 4L -> 4L))
  }

  test("link prediction: 4-cycle diagonals score jaccard 1, hand AA") {
    // square 1-2-3-4-1: only the diagonals share neighbors (both of
    // them), adjacent pairs share none and must be absent
    val und0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    val und = und0.union(und0.select(col("dst"), col("src")))
    val rows = Algorithms.linkPrediction(und, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows.keySet == Set((1L, 3L), (2L, 4L)))
    val aa = 2 * BigDecimal(1.0 / math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.values.foreach { case (cn, jac, adar) =>
      assert(cn == 2L && jac == 1.0 && math.abs(adar - aa) < 1e-9)
    }
  }

  test("boruvka mst: hand tree, lex tie-break, forest on disconnect") {
    def mst(rows: (Long, Long, Long)*) =
      Algorithms.boruvkaMst(rows.toDF("a", "b", "w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // square + heavy diagonal: the diagonal and the heaviest side lose
    assert(mst((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (1L, 4L, 4L),
      (1L, 3L, 5L)) == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)))
    // all-tie triangle: the (w, a, b) order keeps the two lex-smallest
    assert(mst((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L)) ==
      Set((1L, 2L, 5L), (1L, 3L, 5L)))
    // two components: a spanning FOREST, one tree each
    assert(mst((1L, 2L, 9L), (10L, 11L, 1L), (11L, 12L, 1L),
      (10L, 12L, 2L)) ==
      Set((1L, 2L, 9L), (10L, 11L, 1L), (11L, 12L, 1L)))
  }

  test("assortativity: a pure star is exactly -1") {
    val und0 = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val und = und0.union(und0.select(col("dst"), col("src")))
    val r = Algorithms.degreeAssortativity(und).collect().head
    assert(r.getLong(0) == 6L)
    assert(r.getDouble(1) == -1.0, "hub-leaf mixing is maximally disassortative")
  }

  test("hits: sources have zero authority, sinks zero hub, max is 1") {
    // 1→3, 2→3, 3→4: node 3 is the sole strong hub-and-authority mix,
    // 1/2 are pure sources (auth 0), 4 is a pure sink (hub 0)
    val ns = Seq(1L, 2L, 3L, 4L).toDF("node")
    val es = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val h = Algorithms.hits(ns, es, Algorithms.HitsIters)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(h.values.forall { case (a, hb) =>
      a >= 0.0 && a <= 1.0 && hb >= 0.0 && hb <= 1.0 })
    assert(h(1L)._1 == 0.0 && h(2L)._1 == 0.0, "pure sources: auth 0")
    assert(h(4L)._2 == 0.0, "pure sink: hub 0")
    assert(h(3L)._1 == 1.0, "node 3 is the top authority")
    assert(h.values.map(_._2).max == 1.0, "hub scores max-normalized")
  }

  test("pagerank: no-in-edge nodes hold the base 0.15; iterates stably") {
    val pr = Algorithms.pagerank(nodes, edges, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(4L) - 0.15) < 1e-12)
    assert(pr.values.forall(_ >= 0.15 - 1e-12))
    assert(pr(1L) > pr(5L), "cycle member should outrank leaf")
  }

  test("GraphX bridge agrees with DataFrame PageRank (scale-path parity)") {
    // the iteration is the same by construction (A4 documents the
    // GraphX convention: r0 = 1, r <- 0.15 + 0.85 * sum(r/outdeg)),
    // but GraphX's staticPageRank additionally rescales the result so
    // the TOTAL rank equals n (SPARK-18847 — mass lost to sinks is
    // restored by a global n/sum factor). On a sink-free graph that
    // factor is exactly 1 (rank mass is conserved), so the two paths
    // must agree per node; on a sinked graph they must agree up to
    // that one documented global factor.
    val cycleN = Seq(1L, 2L, 3L).toDF("node")
    val cycleE = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val gxc = toGraph(cycleN, cycleE).staticPageRank(5).vertices.collect().toMap
    val dfc = Algorithms.pagerank(cycleN, cycleE, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gxc.keySet == dfc.keySet)
    dfc.foreach { case (n, v) =>
      assert(math.abs(gxc(n) - v) < 1e-9,
        s"sink-free parity drift at node $n: graphx ${gxc(n)} vs df $v")
    }
    // the sinked fixture (spur 1->5, isolated 4): same up to n/sum
    val gx = toGraph(nodes, edges).staticPageRank(5).vertices.collect().toMap
    val df = Algorithms.pagerank(nodes, edges, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gx.keySet == df.keySet)
    val scale = df.size / df.values.sum
    df.foreach { case (n, v) =>
      assert(math.abs(gx(n) - v * scale) < 1e-9,
        s"sinked parity drift at node $n: graphx ${gx(n)} vs scaled df ${v * scale}")
    }
  }

  test("GraphX bridge agrees with DataFrame connected components") {
    val gx = toGraph(nodes, edges).connectedComponents().vertices.collect().toMap
    val df = Algorithms.connectedComponents(nodes, undirected)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gx == df) // both use min-vertex-id as component label
  }

  test("GraphX label propagation produces a community per node") {
    val lp = LabelPropagation.run(toGraph(nodes, edges), 5).vertices.collect()
    assert(lp.length == 5)
  }

  test("GraphX SCC agrees with the DataFrame SCC (scale-path parity)") {
    val t = Tables(spark, sfDir())
    val df = Algorithms.q16Scc(spark, sfDir())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = toGraph(TradeGraph.nodes(t).select("node"), TradeGraph.edges(t))
      .stronglyConnectedComponents(50).vertices.collect().toMap
    assert(gx == df) // both label an SCC with its minimum vertex id
  }

  test("louvain finds the two triangles and beats baseline partitions") {
    val ns = (1L to 6L).toDF("node")
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val lv = Louvain.louvain(ns, es)
    val q = Louvain.modularity(es, lv)
    val singleton = ns.select(col("node"), col("node").as("community"))
    val random = ns.select(col("node"), (col("node") % 2).as("community"))
    assert(q > Louvain.modularity(es, singleton))
    assert(q >= Louvain.modularity(es, random))
    val m = lv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L) && m(2L) == m(3L))
    assert(m(4L) == m(5L) && m(5L) == m(6L))
    assert(m(1L) != m(4L))
  }

  test("q38 louvain modularity on the trade graph beats a random split") {
    val t = Tables(spark, sfDir())
    val e = TradeGraph.edges(t)
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    val lv = Louvain.q38Louvain(spark, sfDir())
      .select(col("node"), col("community"))
    val nodes = TradeGraph.nodes(t).select("node")
    val rand = nodes.select(col("node"), (col("node") % 5).as("community"))
    assert(Louvain.modularity(e, lv) >= Louvain.modularity(e, rand))
  }

  test("weighted local move follows edge weights (the level-2 contract)") {
    val ns = Seq(1L, 2L).toDF("node")
    // heavy self-loops, light link: communities must stay separate
    val separate = Seq((1L, 1L, 10.0), (2L, 2L, 10.0), (1L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    val a = Louvain.louvain(ns, separate)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a(1L) != a(2L), "heavy self-loops must keep super-nodes apart")
    // light self-loops, heavy link: merging wins
    val merge = Seq((1L, 1L, 0.5), (2L, 2L, 0.5), (1L, 2L, 10.0))
      .toDF("src", "dst", "weight")
    val b = Louvain.louvain(ns, merge)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) == b(2L), "heavy link must merge super-nodes")
  }

  test("contraction preserves modularity exactly") {
    val ns = (1L to 6L).toDF("node")
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val l1 = Louvain.louvain(ns, es)
    val ctr = Louvain.contract(es, l1)
    // singleton partition of the contracted graph == l1 on the original
    val superSingleton = l1.select(col("community")).distinct()
      .select(col("community").as("node"), col("community"))
    val q1 = Louvain.modularity(es, l1)
    val q2 = Louvain.modularity(ctr, superSingleton)
    assert(math.abs(q1 - q2) < 1e-12, s"contraction drifted Q: $q1 vs $q2")
  }

  test("two-level louvain never decreases modularity and stays a partition") {
    // path of 8 nodes: parity-limited local moves stop at small groups,
    // contraction lets pairs merge further
    val ns = (1L to 8L).toDF("node")
    val es = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val l1 = Louvain.louvain(ns, es)
    val l2 = Louvain.louvainTwoLevel(ns, es)
    val q1 = Louvain.modularity(es, l1)
    val q2 = Louvain.modularity(es, l2)
    info(f"path graph: one-level Q=$q1%.4f two-level Q=$q2%.4f")
    assert(q2 >= q1 - 1e-12)
    assert(l2.select("node").distinct().count() == 8)
    // ring C12: single-node moves stall at small arcs; contraction
    // merges arcs (optimum groups 3-4 consecutive nodes, Q ≈ 0.4167)
    val rn = (0L to 11L).toDF("node")
    val re = (0L to 11L).map(i => (i, (i + 1) % 12)).toDF("src", "dst")
    val r1 = Louvain.louvain(rn, re)
    val r2 = Louvain.louvainTwoLevel(rn, re)
    val rq1 = Louvain.modularity(re, r1)
    val rq2 = Louvain.modularity(re, r2)
    info(f"ring graph: one-level Q=$rq1%.4f two-level Q=$rq2%.4f")
    assert(rq2 >= rq1 - 1e-12)
    // trade graph instance (q58 vs q38)
    val e = TradeGraph.edges(Tables(spark, sfDir()))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst")).distinct()
    val a38 = Louvain.q38Louvain(spark, sfDir())
    val a58 = Louvain.q58LouvainMultilevel(spark, sfDir())
    val t1 = Louvain.modularity(e, a38)
    val t2 = Louvain.modularity(e, a58)
    info(f"trade graph: one-level Q=$t1%.4f two-level Q=$t2%.4f")
    assert(t2 >= t1 - 1e-12)
    // determinism
    val again = Louvain.q58LouvainMultilevel(spark, sfDir()).collect().toSeq
    assert(again == a58.collect().toSeq)
  }

  test("source-set shortest paths equals the all-pairs slice") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 5L)).toDF("src", "dst")
    val all = Algorithms.shortestPaths(es)
      .filter(col("src") === 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromOne = Algorithms.shortestPaths(es, Some(Seq(1L).toDF("node")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromOne == all)
    assert(fromOne == Set((1L, 2L, 1L), (1L, 3L, 2L), (1L, 1L, 3L), (1L, 5L, 1L)))
  }

  test("dependency chains enumerate cycle-free paths with the guard") {
    // 1→2→3→1 cycle with spur 1→5: paths from 1 stop at the revisit
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 5L)).toDF("src", "dst")
    val paths = Algorithms.dependencyChains(es, 1L, 4)
      .collect().map(_.getString(0)).toSet
    assert(paths == Set("1->2", "1->5", "1->2->3"))
  }

  test("q59 path counts equal a driver-side guarded enumeration") {
    val es = TradeGraph.edges(Tables(spark, sfDir())).select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = es.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // enumerate cycle-free paths 0 -> first -> ... up to 4 tail steps
    def walk(first: Long): (Long, Long) = {
      var tails = Seq(Seq(0L, first))
      val ends = Seq.newBuilder[Long]
      for (_ <- 1 to 4) {
        tails = tails.flatMap(p =>
          adj.getOrElse(p.last, Nil).filterNot(p.contains).map(p :+ _))
        ends ++= tails.map(_.last)
      }
      val all = ends.result()
      (all.size.toLong, all.distinct.size.toLong)
    }
    val want = adj.getOrElse(0L, Nil).distinct
      .map(f => f -> walk(f)).toMap
    val got = Algorithms.q59SubdepPathCounts(spark, sfDir()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("q50 equals a driver-side brute-force all-shortest-paths") {
    // trade graph is ≤75 edges — recompute the exact answer in Scala
    val es = TradeGraph.edges(Tables(spark, sfDir())).select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = es.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // BFS dists from 0
    val dist = scala.collection.mutable.Map(0L -> 0L)
    var frontier = Seq(0L)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .distinct.filterNot(dist.contains)
      frontier.foreach(v => dist(v) = d)
    }
    val reach = dist.toSeq.filter(_._1 != 0L)
    assume(reach.nonEmpty)
    val (tgt, plen) = reach.maxBy { case (n, d) => (d, n) }
    // enumerate all length-plen paths 0→tgt
    def extend(paths: Seq[Seq[Long]]): Seq[Seq[Long]] =
      paths.flatMap(p => adj.getOrElse(p.last, Nil).map(p :+ _))
    var ps: Seq[Seq[Long]] = Seq(Seq(0L))
    (1L to plen).foreach(_ => ps = extend(ps))
    val want = ps.filter(_.last == tgt).map(_.mkString("->")).toSet
    val got = Algorithms.q50AllShortestPaths(spark, sfDir())
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.map(_._1).toSet == want)
    assert(got.forall(_._2 == plen))
  }

  test("reliable checkpoint dir is honored when configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.conf.set(Checkpoints.ConfKey, dir.toString)
    try {
      val out = Algorithms.khop(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), 1L, 2)
      assert(out.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
      val entries = java.nio.file.Files.walk(dir).count()
      assert(entries > 1, "no reliable checkpoint data written under the dir")
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("triangle counts match a known graph, orientation-insensitive") {
    // triangles 1-2-3 and 3-4-5 sharing node 3, pendant 5-6; edges
    // given in MIXED direction with a duplicate — must canonicalize
    val ns = (1L to 6L).toDF("node")
    val es = Seq((1L, 2L), (3L, 2L), (1L, 3L), (3L, 4L), (5L, 4L),
      (3L, 5L), (5L, 6L), (2L, 1L)).toDF("src", "dst")
    val got = Algorithms.triangleCounts(ns, es)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L,
      5L -> 1L, 6L -> 0L))
  }

  test("weighted shortest paths prefer cheap multi-hop routes") {
    // direct 0->1 costs 10 but 0->2->1 costs 3; 3 is best reached
    // through the improved node 1 (a relaxation that only fires after
    // 1's cost drops — exercises the re-expansion of settled nodes)
    val es = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 1L, 2L),
      (1L, 3L, 1L), (2L, 3L, 9L)).toDF("src", "dst", "cnt")
    val d = Algorithms.weightedShortestPaths(es, 0L).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cost")).toMap
    assert(d == Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 4L))
  }

  test("sccLabels agrees with the closure reference, no closure built") {
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("scc")).sortBy(_._1).toSeq
    // the trade graph itself
    val t = Tables(spark, sfDir())
    val ns = TradeGraph.nodes(t).select("node")
    val es = TradeGraph.edges(t)
    assert(labels(Algorithms.sccLabels(ns, es)) ==
      labels(sccViaClosure(ns, es)))
    // random digraph with planted cycles and cross edges
    val rnd = new scala.util.Random(7)
    val n = 40L
    val planted = Seq((3L, 11L), (11L, 27L), (27L, 3L), // 3-cycle
      (30L, 31L), (31L, 30L)) // 2-cycle
    val random = (1 to 120).map(_ => (rnd.nextLong(n), rnd.nextLong(n)))
    val rn = (0L until n).toDF("node")
    val re = (planted ++ random).toDF("src", "dst")
    assert(labels(Algorithms.sccLabels(rn, re)) ==
      labels(sccViaClosure(rn, re)))
    // the worst case for round count: an ascending-id chain of
    // singleton SCCs (one root unlocked per round) — must still
    // terminate and label each node itself
    val cn = (0L to 5L).toDF("node")
    val ce = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(labels(Algorithms.sccLabels(cn, ce)) ==
      (0L to 5L).map(i => i -> i))
  }

  test("scc mark-view re-cut: one deep cycle past the width cap stays exact") {
    // a single directed cycle of 48 nodes = one SCC whose backward
    // BFS runs 48 hops — past Superstep.UnionViewMaxWidth (32), so
    // the accumulated-mark union view is re-cut mid-walk at least
    // once; the labels must be unaffected (every node -> min id 0)
    val n = 48L
    val cn = (0L until n).toDF("node")
    val ce = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val got = Algorithms.sccLabels(cn, ce).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("scc")).toMap
    assert(got == (0L until n).map(_ -> 0L).toMap)
  }

  test("connected components fails loudly on an edge endpoint outside nodes") {
    val ns = Seq(1L, 2L).toDF("node")
    val bad = Seq((1L, 2L), (2L, 9L), (9L, 2L)).toDF("src", "dst")
    val ex = intercept[Exception] {
      Algorithms.connectedComponents(ns, bad).collect()
    }
    assert(ex.getMessage != null)
  }

  test("degree orientation keeps wedges bounded on a skewed star") {
    // a relay hub the id orientation mishandles: 40 low-id spokes point
    // at node 100, node 100 points at 40 high-id spokes. Canonical
    // (src < dst) orientation leaves the hub with in=40 AND out=40 →
    // 1600 wedges through it (for 0 triangles); (degree, id) makes the
    // hub ≺-largest, so every edge points INTO it and no wedge opens.
    val es = ((1L to 40L).map(i => (i, 100L)) ++
      (101L to 140L).map(j => (100L, j))).toDF("src", "dst")
    val oriented = Algorithms.orientEdges(es)
    assert(oriented.filter(col("dst") === 100L).count() == 80L,
      "every hub edge must point into the hub")
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src")).count()
    assert(wedges == 0L, s"skewed star opened $wedges wedges")
    // id orientation on the same graph: the count the hardening avoids
    val canonical = es
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst")).distinct()
    val naive = canonical.as("e1")
      .join(canonical.as("e2"), col("e1.dst") === col("e2.src")).count()
    assert(naive == 1600L, s"fixture lost its skew: $naive")
    // and the counts on it are still right (all zero)
    val ns = ((1L to 40L) ++ (100L to 140L)).toDF("node")
    assert(Algorithms.triangleCounts(ns, es)
      .filter(col("n_triangles") =!= 0L).count() == 0L)
  }

  test("iterative algorithms run unchanged on the large co-purchase graph") {
    val t = Tables(spark, sfDir())
    val (nodes, e) = CoPurchase.graph(t)
    val nNodes = nodes.count()
    val nEdges = e.count()
    // genuinely larger than the 25-node trade graph
    assert(nNodes > 100 && nEdges > 1000,
      s"co-purchase graph unexpectedly small: $nNodes nodes / $nEdges edges")
    // CC: valid partition, labels are member min-ids
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val comp = Algorithms.connectedComponents(nodes, und)
    assert(comp.count() == nNodes)
    assert(comp.filter(col("component") > col("node")).count() == 0,
      "component label must be the minimum member id")
    // PageRank: mass conserved within the usual damping bound
    val pr = Algorithms.pagerank(nodes, e, iters = 3)
    val total = pr.agg(sum("r")).first().getDouble(0)
    assert(total > 0.15 * nNodes && total < 1.05 * nNodes,
      s"pagerank mass off: $total for $nNodes nodes")
  }

  test("louvain scales to the co-purchase graph and finds real structure") {
    val t = Tables(spark, sfDir())
    val (nodes, e) = CoPurchase.graph(t)
    val und = e.select(least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst")).distinct()
    val part = Louvain.louvain(nodes.select("node"), und, iters = 4)
    assert(part.count() == nodes.count(), "every node labeled exactly once")
    val q = Louvain.modularity(und, part)
    val singletons = nodes.select(col("node"), col("node").as("community"))
    val qSingle = Louvain.modularity(und, singletons)
    assert(q > qSingle + 1e-6,
      s"louvain Q $q must beat the singleton baseline $qSingle")
    assert(q > 0.0, s"a clustered basket graph has positive modularity, got $q")
  }

  test("pagerank movement contracts geometrically on the co-purchase graph") {
    // the reference runs 100 iterations at damping 0.85
    // (documentation/queries.md:180-182); the evidence that a budget
    // OR a tolerance both work is geometric contraction of the L1
    // movement, at asymptotic rate ≈ the damping factor
    val t = Tables(spark, sfDir())
    val (nodes, e) = CoPurchase.graph(t)
    val (_, deltas) = pagerankWithDeltas(nodes, e, 20)
    assert(deltas.length == 20)
    deltas.sliding(2).foreach { case List(a, b) =>
      assert(b <= a * 0.9 + 1e-12, s"movement rose: $a -> $b in $deltas")
    }
    assert(deltas.last <= deltas.head * math.pow(0.9, 19),
      s"contraction slower than geometric: $deltas")
    // and the tolerance-based stop fires once the target is reached
    // (trade graph: small, so the ~log(tol)/log(0.85) iterations stay
    // cheap in the suite)
    val tn = TradeGraph.nodes(t).select("node")
    val te = TradeGraph.edges(t)
    val n = tn.count()
    val (ranks, iters, residual) =
      Algorithms.pagerankConverged(tn, te, tol = 1e-4 * n)
    assert(residual <= 1e-4 * n)
    assert(iters > 5 && iters < 100,
      s"tolerance stop fired implausibly ($iters iters)")
    assert(ranks.count() == n)
    // a budget too small to reach the tolerance fails loudly, naming
    // the iteration count and the residual movement
    val ex = intercept[IllegalStateException] {
      Algorithms.pagerankConverged(tn, te, tol = 1e-4 * n, maxIters = 2)
    }
    assert(ex.getMessage.contains("after 2 iterations"), ex.getMessage)
    assert(ex.getMessage.contains("L1 movement"), ex.getMessage)
  }

  test("trade graph: ≤3 out-edges per src, deterministic across runs") {
    val t = Tables(spark, sfDir())
    val e1 = TradeGraph.edges(t).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e2 = TradeGraph.edges(t).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e1 == e2)
    val outdeg = e1.groupBy(_._1).map(_._2.size)
    assert(outdeg.forall(_ <= 3))
  }

  test("personalized pagerank: mass stays inside the source-reachable set") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 0→1→2 reachable from source 0; 3→4 is a separate component
    val nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("node")
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("src", "dst")
    val r = Algorithms.personalizedPagerank(nodes, edges,
        col("node") === 0L, 5).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(3L) == 0.0 && r(4L) == 0.0, "unreachable nodes must hold 0")
    assert(r(0L) >= 0.15, "the source keeps at least its teleport mass")
    assert(r(1L) > r(2L), "mass decays with distance from the source")
    // global pagerank gives every node nonzero rank — the variants differ
    val g = Algorithms.pagerank(nodes, edges, 5).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(g(3L) > 0.0 && g(4L) > 0.0)
  }

  test("q104 ranks agree with the full per-node triangle relation") {
    val t = Tables(spark, sfDir())
    val full = Algorithms.triangleCounts(
        t.part.selectExpr("cast(p_partkey as long) as node"),
        graft.graph.CoPurchase.repeatEdges(
          t, graft.graph.CoPurchase.TriMinSupport)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).filter(_._2 > 0)
    val expect = full.sortBy { case (n, c) => (-c, n) }
      .take(graft.graph.CoPurchase.TriTopK)
    val got = graft.graph.CoPurchase.q104CopurchaseTriangles(spark, sfDir())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == (1L to got.length).toSeq, "ranks dense from 1")
    assert(got.map(g => (g._2, g._3)).toSeq == expect.toSeq)
  }

  test("butterfly census: hand-counted K22 fixture, cheaper wedge side chosen") {
    // K2,2 on customers {1,2} × parts {10,11} (= 1 butterfly) plus a
    // pendant edge (3,10). Wedge sums: part side d={3,2} → 3+1=4,
    // cust side d={2,2,1} → 1+1+0=2 → the census must generate from
    // the CUSTOMER side; the butterfly total is side-invariant so the
    // hand count from the part side (pair (1,2) shares co=2 parts →
    // C(2,2)=1; pairs with 3 share co=1 → 0) still applies.
    val bip = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L))
      .toDF("c", "p")
    val r = CoPurchase.butterflyCensus(bip).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(0) == 3L, "n_customers")
    assert(row.getLong(1) == 2L, "n_parts")
    assert(row.getLong(2) == 5L, "n_edges")
    assert(row.getLong(3) == 4L, "wedges_part_side")
    assert(row.getLong(4) == 2L, "wedges_cust_side")
    assert(row.getString(5) == "cust", "wedge side")
    assert(row.getLong(6) == 1L, "n_butterflies")
  }

  test("butterfly census: hub star has wedges but zero butterflies") {
    // one part shared by three customers: 3 wedges on the part side,
    // no second shared part anywhere → no (2,2)-biclique
    val bip = Seq((1L, 10L), (2L, 10L), (3L, 10L)).toDF("c", "p")
    val row = CoPurchase.butterflyCensus(bip).collect()(0)
    assert(row.getLong(3) == 3L && row.getLong(4) == 0L)
    assert(row.getString(5) == "cust")
    assert(row.getLong(6) == 0L)
  }
}
