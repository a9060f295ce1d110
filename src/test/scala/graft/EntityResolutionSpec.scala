package graft

import org.apache.spark.sql.functions._
import graft.operators.EntityResolution

class EntityResolutionSpec extends SparkSpec {
  import spark.implicits._

  /** Scalar reference: brute-force all-pairs Jaccard ≥ tau, union-find
    * components labeled by min member, max-(price, -id) survivorship. */
  private def refEr(rows: Seq[(Long, String, String, String, Long, Double)],
      tau: Double): Seq[(Long, Long, Long, String, Double)] = {
    val toks = rows.map(r =>
      r._1 -> (r._2.split(" ").toSet ++ Set(r._3, r._4, s"sz${r._5}"))).toMap
    val byId = rows.map(r => r._1 -> r).toMap
    val parent = scala.collection.mutable.Map(toks.keys.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    val ids = toks.keys.toSeq.sorted
    for { a <- ids; b <- ids if a < b } {
      val (ta, tb) = (toks(a), toks(b))
      val c = (ta intersect tb).size
      if (c.toDouble / (ta.size + tb.size - c) >= tau)
        parent(find(a)) = find(b)
    }
    ids.groupBy(find).map { case (_, members) =>
      val entity = members.min
      val canon = members.map(byId)
        .minBy(r => (-r._6, r._1)) // max price, tie → min id
      (entity, members.size.toLong, canon._1, canon._2, canon._6)
    }.toSeq.sortBy(_._1)
  }

  private def toDf(rows: Seq[(Long, String, String, String, Long, Double)]) =
    rows.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice")

  test("q178 core == scalar union-find reference on a designed fixture") {
    val rows = Seq(
      // entity {1,2,3}: a transitive CHAIN — 1~2 (size differs),
      // 2~3 (brand differs), but 1 vs 3 disagree on two fields;
      // single-link clustering merges all three (the documented
      // transitive semantic)
      (1L, "red widget", "B1", "ECONOMY", 10L, 900.0),
      (2L, "red widget", "B1", "ECONOMY", 11L, 905.0),
      (3L, "red widget", "B2", "ECONOMY", 11L, 910.0),
      // entity {4,5}: name-word order must not matter (sorted set)
      (4L, "small ring", "B3", "SMALL", 7L, 800.0),
      (5L, "ring small", "B3", "SMALL", 7L, 801.0),
      // singletons: share too little with anything
      (6L, "blue bolt", "B4", "LARGE", 3L, 700.0),
      (7L, "green nut", "B5", "MEDIUM", 9L, 600.0),
      // entity {8,9}: a SUBSET pair — 8's repeated name word
      // array_distincts to a 4-token signature contained in 9's
      // 5-token one (J = 4/5 ≥ tau). Leave-one-out keys alone never
      // pair these (3-token keys vs 4-token keys); the drop-zero
      // full-set key must catch it.
      (8L, "gear gear", "B6", "TINY", 5L, 500.0),
      (9L, "gold gear", "B6", "TINY", 5L, 501.0),
    )
    val got = EntityResolution.resolveEntities(toDf(rows), EntityResolution.ErTau)
      .as[(Long, Long, Long, String, Double)].collect().toSeq
    val ref = refEr(rows, EntityResolution.ErTau)
    assert(got == ref)
    val byEntity = got.map(r => r._1 -> r).toMap
    assert(byEntity(1L)._2 == 3L, "chain 1~2~3 must merge")
    assert(byEntity(1L)._3 == 3L, "canonical = max price member")
    assert(byEntity(4L)._2 == 2L, "word order must not split an entity")
    assert(byEntity(6L)._2 == 1L && byEntity(7L)._2 == 1L)
    assert(byEntity(8L)._2 == 2L,
      "subset pair (4-token sig ⊂ 5-token sig) must block together")
  }

  test("q203 incremental: bridge merge, statuses, equality with global") {
    val rb = 5L
    val rows = Seq(
      // registry entities {1} and {2}: NOT matches of each other
      // (J = 3/7 < 0.6) — only batch record 5 bridges them
      (1L, "alpha beta", "B1", "T1", 1L, 100.0),
      (2L, "alpha beta", "B2", "T2", 1L, 101.0),
      // registry singleton that nothing in the batch touches
      (4L, "solo thing", "B9", "T9", 9L, 50.0),
      // batch: 5 matches BOTH 1 and 2 (J = 4/6 each) — the classic
      // incremental complication: one increment record merging two
      // standing entities; the union must relabel to the global min
      (5L, "alpha beta", "B1", "T2", 1L, 102.0),
      // batch-only pair → a NEW entity
      (6L, "dup item", "B5", "T5", 5L, 70.0),
      (7L, "dup item", "B5", "T5", 6L, 71.0),
    )
    val inc = EntityResolution.resolveIncremental(
        toDf(rows), rb, EntityResolution.ErTau)
      .as[(Long, Long, String, Long, String, Double)].collect().toSeq
    val byEntity = inc.map(r => r._1 -> r).toMap
    assert(byEntity(1L)._2 == 3L && byEntity(1L)._3 == "grew",
      "batch bridge must merge the two registry entities under the global min")
    assert(byEntity(4L)._3 == "unchanged" && byEntity(4L)._2 == 1L)
    assert(byEntity(6L)._2 == 2L && byEntity(6L)._3 == "new")
    // incremental == global resolution over registry ∪ batch, exactly
    val global = EntityResolution.resolveEntities(
        toDf(rows), EntityResolution.ErTau)
      .as[(Long, Long, Long, String, Double)].collect().toSeq
    assert(inc.map(r => (r._1, r._2, r._4, r._5, r._6)) == global)
  }

  test("membership path == global: persisted registry, one CC") {
    val rb = 5L
    val rows = Seq(
      // registry entity {1, 2}: a real standing merge (J = 4/6 ≥ tau)
      // — its membership STAR edge (2 → 1) is what the production
      // path feeds instead of re-verifying registry pairs
      (1L, "alpha beta", "B1", "T1", 1L, 100.0),
      (2L, "alpha beta", "B1", "T1", 2L, 101.0),
      // registry entity {3, 4}: untouched by the batch — must ride
      // the membership edge into the output unchanged
      (3L, "gamma delta", "B2", "T2", 3L, 90.0),
      (4L, "gamma delta", "B2", "T2", 4L, 91.0),
      // batch record joining the standing entity {1, 2}
      (6L, "alpha beta", "B1", "T1", 1L, 102.0),
      // batch-only pair → a new entity
      (7L, "dup item", "B5", "T5", 5L, 70.0),
      (8L, "dup item", "B5", "T5", 6L, 71.0),
    )
    // the persisted membership table a deployment would feed in
    val membership = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("node", "component")
    val viaMembership = EntityResolution.resolveIncrementalFromMembership(
        toDf(rows), membership, rb, EntityResolution.ErTau)
      .as[(Long, Long, String, Long, String, Double)].collect().toSeq
    val viaGlobal = EntityResolution.resolveIncremental(
        toDf(rows), rb, EntityResolution.ErTau)
      .as[(Long, Long, String, Long, String, Double)].collect().toSeq
    assert(viaMembership == viaGlobal)
    val byEntity = viaMembership.map(r => r._1 -> r).toMap
    assert(byEntity(1L)._2 == 3L && byEntity(1L)._3 == "grew")
    assert(byEntity(3L)._2 == 2L && byEntity(3L)._3 == "unchanged",
      "an untouched standing entity must survive via its membership star")
    assert(byEntity(7L)._2 == 2L && byEntity(7L)._3 == "new")
  }

  test("q203 on the sf corpus == global resolution + member-strata status") {
    val part = Tables(spark, sfDir()).part
    val rb = (part.agg(max(col("p_partkey")).cast("long")).first()
      .getLong(0) + 1) / 10
    val inc = EntityResolution.q203IncrementalEr(spark, sfDir())
      .as[(Long, Long, String, Long, String, Double)].collect().toSeq
    val global = EntityResolution.resolveEntities(
        part.filter(col("p_partkey") < 2 * rb), EntityResolution.ErTau)
      .as[(Long, Long, Long, String, Double)].collect().toSeq
    assert(inc.map(r => (r._1, r._2, r._4, r._5, r._6)) == global)
    inc.foreach { r =>
      assert(Set("unchanged", "new", "grew")(r._3))
      // entity label below the bound can only be 'new' if... never:
      // a label is the min member, so a 'new' entity's label is ≥ rb
      if (r._3 == "new") assert(r._1 >= rb) else assert(r._1 < rb)
    }
  }

  /** Scalar reference for the GUARDED form: sequential leader
    * clustering — walk ids ascending; a record leads unless it holds
    * a verified edge to a smaller leader; members join their minimum
    * verified leader (refineByCenter's documented fixpoint). */
  private def refGuarded(
      rows: Seq[(Long, String, String, String, Long, Double)],
      tau: Double): Seq[(Long, Long, Long, String, Double)] = {
    val toks = rows.map(r =>
      r._1 -> (r._2.split(" ").toSet ++ Set(r._3, r._4, s"sz${r._5}"))).toMap
    val byId = rows.map(r => r._1 -> r).toMap
    def verified(a: Long, b: Long): Boolean = {
      val (ta, tb) = (toks(a), toks(b))
      val c = (ta intersect tb).size
      c.toDouble / (ta.size + tb.size - c) >= tau
    }
    val ids = toks.keys.toSeq.sorted
    val leaders = scala.collection.mutable.ArrayBuffer.empty[Long]
    val assign = scala.collection.mutable.Map.empty[Long, Long]
    for (m <- ids) {
      val vl = leaders.filter(l => verified(l, m))
      if (vl.isEmpty) { leaders += m; assign(m) = m }
      else assign(m) = vl.min
    }
    ids.groupBy(assign).map { case (entity, members) =>
      val canon = members.map(byId).minBy(r => (-r._6, r._1))
      (entity, members.size.toLong, canon._1, canon._2, canon._6)
    }.toSeq.sortBy(_._1)
  }

  test("q231 guard splits what single-link merges (A≈B≈C, A≉C)") {
    val rows = Seq(
      // the q178 fixture's chain: 1~2, 2~3, but 1≉3 (J = 3/7). The
      // guard must keep the verified star {1,2} and re-center 3 alone
      // — the production answer to the mega-component collapse.
      (1L, "red widget", "B1", "ECONOMY", 10L, 900.0),
      (2L, "red widget", "B1", "ECONOMY", 11L, 905.0),
      (3L, "red widget", "B2", "ECONOMY", 11L, 910.0),
      // a clean star survives the guard untouched
      (4L, "small ring", "B3", "SMALL", 7L, 800.0),
      (5L, "ring small", "B3", "SMALL", 7L, 801.0),
      // a 5-link sliding-window chain (consecutive J = 5/7 ≥ tau,
      // distance-2 J = 4/8 < tau): exercises MULTI-round refinement —
      // round 1 keeps {20,21}, round 2 {22,23}, round 3 {24}
      (20L, "k1 k2 k3", "k4", "k5", 1L, 100.0),
      (21L, "k2 k3 k4", "k5", "k6", 1L, 101.0),
      (22L, "k3 k4 k5", "k6", "k7", 1L, 102.0),
      (23L, "k4 k5 k6", "k7", "k8", 1L, 103.0),
      (24L, "k5 k6 k7", "k8", "k9", 1L, 104.0),
    )
    val guarded = EntityResolution.resolveEntitiesGuarded(
        toDf(rows), EntityResolution.ErTau)
      .as[(Long, Long, Long, String, Double)].collect().toSeq
    assert(guarded == refGuarded(rows, EntityResolution.ErTau))
    val byEntity = guarded.map(r => r._1 -> r).toMap
    assert(byEntity(1L)._2 == 2L && byEntity(1L)._3 == 2L,
      "guard must keep only the verified star {1,2} around center 1")
    assert(byEntity(3L)._2 == 1L,
      "the unverified chain end must split into its own entity")
    assert(byEntity(4L)._2 == 2L, "a verified star must survive intact")
    assert(byEntity(20L)._2 == 2L && byEntity(22L)._2 == 2L &&
      byEntity(24L)._2 == 1L,
      "the 5-link chain must decompose into verified stars over rounds")
    // the unguarded form merges each chain by transitivity — exactly
    // the hazard the guard exists for
    val single = EntityResolution.resolveEntities(
        toDf(rows), EntityResolution.ErTau)
      .as[(Long, Long, Long, String, Double)].collect().toSeq
      .map(r => r._1 -> r._2).toMap
    assert(single(1L) == 3L && single(20L) == 5L)
    // the guard re-partitions clusters; it never drops or duplicates
    // a record
    assert(guarded.map(_._2).sum == single.values.sum)
  }

  test("hashPriority guard: md5 peeling order, same invariants, fast on the adversarial chain") {
    import org.apache.spark.sql.DataFrame
    // the adversarial input for min-id priority: an id-ORDERED match
    // chain (sequentially assigned ids whose id-neighbors are
    // match-similar). Min-id peeling retires exactly one star (2
    // nodes) per round -> n/2 rounds; the md5 order breaks the
    // monotone dependency path.
    val n = 40
    val pathPairs: DataFrame =
      (1L until n.toLong).map(i => (i, i + 1)).toDF("a", "b")
    def runRefine(hash: Boolean): (Map[Long, Long], Int) = {
      val run = EntityResolution.refineByCenter(pathPairs, hash)
      (run.out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, run.rounds)
    }
    val (minId, minIdRounds) = runRefine(hash = false)
    val (hashed, hashRounds) = runRefine(hash = true)
    assert(minIdRounds == n / 2,
      s"min-id peeling on the id-ordered $n-path must take n/2 rounds, " +
        s"got $minIdRounds")
    assert(hashRounds < minIdRounds,
      s"hash priority must break the adversarial order " +
        s"($hashRounds vs $minIdRounds rounds)")
    // scalar reference: sequential greedy leader clustering in key
    // order; key = id (min-id) or (md5-60bit, id) (hash) — the same
    // md5 integerization Spark computes (first 15 hex chars, base 16)
    def md5Key(id: Long): (BigInt, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (BigInt(hex.take(15), 16), id)
    }
    def refLeader(key: Long => (BigInt, Long)): Map[Long, Long] = {
      val ids = (1L to n.toLong).sortBy(key)
      val nbrs = (i: Long) => Set(i - 1, i + 1).filter(j => j >= 1 && j <= n)
      val leaders = scala.collection.mutable.ArrayBuffer.empty[Long]
      val assign = scala.collection.mutable.Map.empty[Long, Long]
      for (m <- ids) {
        val vl = leaders.filter(nbrs(m))
        if (vl.isEmpty) { leaders += m; assign(m) = m }
        else assign(m) = vl.minBy(key)
      }
      assign.toMap
    }
    assert(minId == refLeader(i => (BigInt(i), i)))
    assert(hashed == refLeader(md5Key))
    // invariants hold under EITHER priority: every non-center member
    // holds a DIRECT verified edge to its center; counts preserved
    Seq(minId, hashed).foreach { m =>
      assert(m.size == n)
      m.foreach { case (node, c) =>
        assert(node == c || (node - c).abs == 1,
          s"member $node assigned to non-adjacent center $c")
      }
    }
  }

  test("q178 on the sf0.001 batch == brute-force all-pairs reference") {
    val rows = Tables(spark, sfDir()).part
      .filter(col("p_partkey") < EntityResolution.ErBatch)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size").cast("long"), col("p_retailprice"))
      .as[(Long, String, String, String, Long, Double)].collect().toSeq
    val got = EntityResolution.q178EntityResolution(spark, sfDir())
      .as[(Long, Long, Long, String, Double)].collect().toSeq
    assert(got == refEr(rows, EntityResolution.ErTau))
    assert(got.exists(_._2 > 1), "fixture data must contain real merges")
  }
}
