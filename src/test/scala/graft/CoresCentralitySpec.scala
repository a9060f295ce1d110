package graft

import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, Centrality, Cores, TradeGraph}

class CoresCentralitySpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- k-core
  test("kcore: triangle survives k=2, pendant and isolated peel off") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val out = Cores.kcore(nodes, und, 2)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(out(1L) == ((true, 2L)) && out(2L) == ((true, 2L)) && out(3L) == ((true, 2L)))
    assert(out(4L) == ((false, 0L)) && out(5L) == ((false, 0L)))
  }

  test("kcore: a chain peels to nothing under k=2 (multi-round cascade)") {
    val nodes = (1L to 6L).toDF("node")
    val und = (1L to 5L).map(i => (i, i + 1))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val out = Cores.kcore(nodes, und, 2).collect()
    assert(out.forall(r => !r.getBoolean(1)), "chain interior degrades as ends peel")
  }

  // ------------------------------------------------------------- k-truss
  test("ktruss: K4 is a 4-truss, attached triangle edges peel off") {
    // K4 on {1,2,3,4}: every edge closes exactly 2 triangles. The
    // pendant triangle {3,4,5} adds edges (3,5),(4,5) with support 1
    // — peeled at k=4, and (3,4) keeps support 2 afterwards.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (3L, 5L), (4L, 5L)).toDF("a", "b")
    val out = Cores.ktruss(edges, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getBoolean(2), r.getLong(3)))).toMap
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    k4.foreach(e => assert(out(e) == ((true, 2L)), s"$e should survive"))
    assert(out((3L, 5L)) == ((false, 0L)))
    assert(out((4L, 5L)) == ((false, 0L)))
  }

  test("ktruss: a triangle chain cascades to empty under k=4") {
    // triangles {1,2,3} and {2,3,4} share edge (2,3): the four outer
    // edges have support 1 and peel first; (2,3)'s support then drops
    // 2 -> 0 — the multi-round cascade a one-shot filter would miss
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val out = Cores.ktruss(edges, 4).collect()
    assert(out.forall(r => !r.getBoolean(2)), "cascade must empty the truss")
  }

  test("ktruss: corpus 4-truss sits inside the 3-core and is a fixpoint") {
    val t = Tables(spark, sfDir())
    val truss = Cores.q126Ktruss(spark, sfDir()).collect()
    val trussEdges = truss.filter(_.getBoolean(2))
    // fixpoint witness: every surviving edge's in-truss support >= k-2
    trussEdges.foreach(r =>
      assert(r.getLong(3) >= Cores.TrussK - 2, "not a fixpoint"))
    assert(trussEdges.nonEmpty, "4-truss vanished from the trade graph")
    assert(truss.exists(r => !r.getBoolean(2)),
      "peel removed nothing — fixture uninformative")
    // Cohen 2008: a k-truss is contained in the (k-1)-core
    val und = TradeGraph.undirectedEdges(t).filter(col("src") =!= col("dst"))
    val core = Cores.kcore(TradeGraph.nodes(t).select("node"), und,
        Cores.TrussK - 1).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    trussEdges.foreach { r =>
      assert(core(r.getLong(0)) && core(r.getLong(1)),
        s"truss edge (${r.getLong(0)},${r.getLong(1)}) outside the 3-core")
    }
  }

  // ------------------------------------------- label propagation
  /** In-memory mirror of the deterministic sync sweep: label(v) ← min
    * label among the most frequent neighbor labels. */
  private def lpaRef(nodes: Seq[Long], und: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    var lab = nodes.map(n => n -> n).toMap
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for (_ <- 1 to iters) {
      val prev = lab
      lab = nodes.map { v =>
        val counts = nbrs.getOrElse(v, Nil).map(prev).groupBy(identity)
          .view.mapValues(_.size).toMap
        if (counts.isEmpty) v -> prev(v)
        else {
          val best = counts.values.max
          v -> counts.filter(_._2 == best).keys.min
        }
      }.toMap
    }
    lab
  }

  test("label propagation matches the in-memory reference on a random graph") {
    val rnd = new scala.util.Random(7)
    val ns = (0L until 30L).toSeq
    val pairs = (for (_ <- 1 to 60) yield {
      val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
    val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val got = Cores.labelPropagation(ns.toDF("node"),
        und.toDF("src", "dst"), Cores.LpaIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lpaRef(ns, und, Cores.LpaIters))
  }

  test("label propagation is deterministic across runs") {
    val t = Tables(spark, sfDir())
    val u = TradeGraph.undirectedEdges(t).filter(col("src") =!= col("dst"))
    val n = TradeGraph.nodes(t).select("node")
    val a = Cores.labelPropagation(n, u, 4).collect().sortBy(_.getLong(0)).toSeq
    val b = Cores.labelPropagation(n, u, 4).collect().sortBy(_.getLong(0)).toSeq
    assert(a == b)
  }

  // ------------------------------------------------ node similarity
  test("node similarity: exact jaccard over out-neighbor sets") {
    val e = Seq((1L, 100L), (1L, 101L), (2L, 100L), (2L, 101L), (3L, 101L))
      .toDF("src", "dst")
    val rows = Cores.nodeSimilarity(e, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.toSeq == Seq(
      (1L, 2L, 2L, 2L, 1.0),
      (1L, 3L, 1L, 2L, 0.5),
      (2L, 3L, 1L, 2L, 0.5)))
  }

  // ------------------------------------------------------- harmonic
  test("harmonic centrality: hand-checked path graph") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val h = Centrality.harmonic(nodes, e)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(h(1L) == ((2L, 1.5)) && h(2L) == ((1L, 1.0)) && h(3L) == ((0L, 0.0)))
  }

  test("eccentricity: max distance per node on a hand-checked path") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = Centrality.eccentricity(nodes, e)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2L, 2L)) && out(2L) == ((1L, 1L)) && out(3L) == ((0L, 0L)))
  }

  // ------------------------------------------------ random walks
  test("random walks: deterministic md5 step choice, dead ends stop the walk") {
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("node")
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst") // star, leaves dead-end
    val out = Cores.randomWalks(nodes, e, 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // JVM-side mirror of the step function: md5("0:1") first 8 hex % 3
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("0:1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val pick = java.lang.Long.parseLong(hex.take(8), 16) % 3 + 1 // rank among (1,2,3)
    assert(out(0L) == ((s"0->$pick", 1L)), "one step then a dead end")
    assert(out(1L) == (("1", 0L)) && out(3L) == (("3", 0L)))
  }

  test("random walks revisit nodes on cycles and are reproducible") {
    val nodes = Seq(1L, 2L).toDF("node")
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val a = Cores.randomWalks(nodes, e, 4).collect().map(_.toSeq).toSeq
    assert(a.map(_(1)).toSet == Set("1->2->1->2->1", "2->1->2->1->2"))
    val b = Cores.randomWalks(nodes, e, 4).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  // ------------------------------------------------ betweenness
  test("betweenness: interior node of a path carries the one pair") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val bc = Centrality.betweenness(nodes, e)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc == Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0))
  }

  test("betweenness: diamond splits the dependency across equal paths") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val bc = Centrality.betweenness(nodes, e)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc == Map(1L -> 0.0, 2L -> 0.5, 3L -> 0.5, 4L -> 0.0))
  }

  test("betweenness: pivot sampling sums only the chosen sources' dependencies") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val fromLeaf = Centrality.betweenness(nodes, e, Some(Seq(3L).toDF("node")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fromLeaf.values.forall(_ == 0.0))
    val fromRoot = Centrality.betweenness(nodes, e, Some(Seq(1L).toDF("node")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fromRoot == Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0))
  }

  test("mis: independent, maximal, and few-round on the co-purchase graph") {
    val t = Tables(spark, sfDir())
    val (nodes, e) = graft.graph.CoPurchase.graph(t)
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val out = graft.graph.Cores.maximalIndependentSet(nodes, und)
    val rows = out.collect()
    assert(rows.length == nodes.count(), "every node must settle")
    val mis = rows.filter(_.getAs[Boolean]("in_mis"))
      .map(_.getAs[Long]("node")).toSet
    val edges = e.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    // independence: no edge joins two selected nodes
    assert(!edges.exists { case (a, b) => mis(a) && mis(b) })
    // maximality: every unselected node has a selected neighbor
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    rows.filterNot(_.getAs[Boolean]("in_mis")).foreach { r =>
      val v = r.getAs[Long]("node")
      assert(nbrs.getOrElse(v, Set.empty).exists(mis),
        s"node $v settled without a selected neighbor")
    }
    // Luby's O(log n) behavior: thousands of nodes, a handful of rounds
    val maxRound = rows.map(_.getAs[Long]("settled_round")).max
    assert(maxRound <= 10, s"took $maxRound rounds")
    // the strict-< priority order is total: md5 hex values distinct
    val n = nodes.count()
    assert(nodes.select(md5(col("node").cast("string"))).distinct().count() == n)
  }

  test("coloring: proper and equal to sequential greedy on a sparse graph") {
    import spark.implicits._
    // deterministic sparse pseudo-random graph (300 nodes, avg degree
    // 4): the bounded-degree regime where Jones-Plassmann's wave
    // count stays shallow (dense graphs go ~max-clique-deep — the
    // Scaladoc's measured-104-waves co-purchase caveat)
    val n = 300L
    val edges = (0L until n).flatMap(i =>
      Seq((i, (i * 7 + 1) % n), (i, (i * 13 + 2) % n)))
      .filter { case (a, b) => a != b }.distinct
    val nodes = (0L until n).toDF("node")
    val e = edges.toDF("src", "dst")
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val out = graft.graph.Cores.greedyColoring(nodes, und).collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("color"), r.getAs[Long]("wave")))).toMap
    // proper: no edge joins two same-colored nodes
    edges.foreach { case (a, b) =>
      assert(out(a)._1 != out(b)._1, s"edge ($a,$b) monochrome")
    }
    // exact agreement with the sequential greedy in priority order
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val order = out.keys.toSeq.sortBy(v => md5hex(v.toString))
    val ref = scala.collection.mutable.Map[Long, Long]()
    order.foreach { v =>
      val used = nbrs.getOrElse(v, Set.empty).flatMap(ref.get)
      ref(v) = Iterator.from(0).map(_.toLong).find(!used(_)).get
    }
    out.foreach { case (v, (c, _)) =>
      assert(c == ref(v), s"node $v: wave color $c != greedy ${ref(v)}")
    }
    // bounded degree → shallow priority DAG
    val maxWave = out.values.map(_._2).max
    assert(maxWave <= 40, s"took $maxWave waves for ${out.size} nodes")
  }

  test("q94: degree histogram accounts for every node and every edge end") {
    val t = Tables(spark, sfDir())
    val dist = graft.graph.CoPurchase.q94DegreeDistribution(spark, sfDir())
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val nParts = t.part.count()
    assert(dist.map(_._2).sum == nParts, "every part appears exactly once")
    val edgeEnds = dist.map { case (d, n) => d * n }.sum
    val nEdges = graft.graph.CoPurchase.edges(t, None).count()
    assert(edgeEnds == 2 * nEdges, "sum of degrees must be twice the edge count")
  }

  // --------------------------------------- thousands-node scale smoke
  test("kcore/LPA/betweenness-with-pivots run on the co-purchase graph " +
      "and hold their invariants") {
    val t = Tables(spark, sfDir())
    val (nodes, e) = graft.graph.CoPurchase.graph(t)
    val und = e.select("src", "dst")
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().filter(col("src") =!= col("dst"))
    // k-core: every member's degree INSIDE the core is ≥ k by definition
    val core = Cores.kcore(nodes.select("node"), und, 3)
    val members = core.filter(col("in_core")).cache()
    val nCore = members.count()
    assert(nCore > 0, "a dense co-purchase graph has a 3-core")
    assert(members.filter(col("core_deg") < 3).count() == 0)
    members.unpersist()
    // LPA: labels are node ids, deterministic partition on a real graph
    val lab = Cores.labelPropagation(nodes.select("node"), und, 2)
    assert(lab.count() == nodes.count())
    // betweenness with sampled pivots (the 100 TB deployment shape):
    // finite, nonnegative, zero for pivots' pure leaves
    val pivots = nodes.select("node").orderBy("node").limit(3)
    val bc = Centrality.betweenness(nodes.select("node"), e, Some(pivots))
    val rows = bc.collect()
    assert(rows.length == nodes.count())
    assert(rows.forall(_.getDouble(1) >= 0.0))
  }

  // ------------------------------------------------ weighted pagerank
  test("weighted pagerank with uniform weights equals unweighted pagerank") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L))
    val uw = e.map { case (s, d) => (s, d, 7L) }.toDF("src", "dst", "cnt")
    val pr = Algorithms.pagerank(nodes, e.toDF("src", "dst"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wpr = Centrality.weightedPagerank(nodes, uw, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == wpr.keySet)
    pr.foreach { case (n, r) => assert(math.abs(r - wpr(n)) < 1e-9, s"node $n") }
  }

  test("weighted pagerank: heavier edges carry more rank") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val e = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "cnt")
    val wpr = Centrality.weightedPagerank(nodes, e, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wpr(2L) > wpr(3L))
  }

  test("local clustering: triangle scores 1, star center 0, pendant bridges partially") {
    // triangle {1,2,3} + pendant 4 on node 1: lcc(2)=lcc(3)=1 (their
    // neighborhoods are cliques), lcc(1)=2*1/(3*2)=1/3, lcc(4)=0
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val dir = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val und = dir.flatMap(r => Seq((r.getLong(0), r.getLong(1)),
      (r.getLong(1), r.getLong(0)))).toDF("src", "dst")
    val out = Cores.localClustering(nodes, dir, und).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((3L, 1L, 0.333333)))
    assert(out(2L) == ((2L, 1L, 1.0)) && out(3L) == ((2L, 1L, 1.0)))
    assert(out(4L) == ((1L, 0L, 0.0)))
  }

  test("simrank: shared in-neighbor scores C, no in-neighbors scores nothing") {
    // c -> a, c -> b: s(a,b) = C * s(c,c) = 0.8 after one sweep and
    // stays (the only in-neighbor pair is the diagonal); c pairs with
    // nothing (no in-neighbors)
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val e = Seq((3L, 1L), (3L, 2L)).toDF("src", "dst")
    val out = Cores.simrank(nodes, e, Cores.SimRankIters).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out == Map((1L, 2L) -> 0.8))
  }

  test("dyad census: hand-counted mutual, asymmetric, null dyads") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val r = Cores.dyadCensus(nodes, e).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 3L, 1L, 1L, 4L)))
    assert(r.getDouble(5) == 0.666667) // 2 of 3 ordered edges reciprocated
  }

  test("scc condensation: chained cycles level up in dependency order") {
    // 1<->2 -> 3<->4 -> 5: components {1,2} lvl 0, {3,4} lvl 1, {5} lvl 2
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val out = Algorithms.sccCondensation(nodes, e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((0L, 2L)), 3L -> ((1L, 2L)), 5L -> ((2L, 1L))))
  }

  test("walk pmi matches an in-memory recount of the same walks") {
    val t = Tables(spark, sfDir())
    val e = TradeGraph.edges(t).select("src", "dst")
    val paths = Cores.walkPaths(TradeGraph.nodes(t).select("node"), e, Cores.WalkLen)
      .collect().map(_.getAs[scala.collection.Seq[Long]]("path").toIndexedSeq)
    // recount skip-gram pairs and token counts in memory
    val pairs = paths.flatMap { p =>
      for {
        i <- p.indices; j <- p.indices
        if j > i && j - i <= Cores.PmiWindow
      } yield (math.min(p(i), p(j)), math.max(p(i), p(j)))
    }
    val toks = paths.flatten
    val cab = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cn = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (tp, tt) = (pairs.size.toDouble, toks.size.toDouble)
    val out = Cores.q150WalkPmi(spark, sfDir()).collect()
    assert(out.length == cab.size)
    out.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == cab(k), s"cooc count mismatch at $k")
      val want = math.log((cab(k) / tp) / ((cn(k._1) / tt) * (cn(k._2) / tt)))
      assert(math.abs(r.getDouble(3) - want) < 1e-6, s"pmi mismatch at $k")
    }
  }

  test("simrank: similarity decays through longer common paths") {
    // two chains from a shared root: r -> x1 -> x2, r -> y1 -> y2.
    // s(x1,y1) = C (shared in-neighbor), s(x2,y2) = C*s(x1,y1) = C²
    // after two sweeps — propagation through similar-but-distinct
    // parents, the property one-hop Jaccard (q70) cannot see.
    val nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("node")
    val e = Seq((0L, 1L), (0L, 3L), (1L, 2L), (3L, 4L)).toDF("src", "dst")
    val out = Cores.simrank(nodes, e, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 3L)) == 0.8)
    assert(out((2L, 4L)) == 0.64)
    // fixed-point floor division never exceeds the exact value
    assert(out.values.forall(v => v <= 0.8))
  }
}
