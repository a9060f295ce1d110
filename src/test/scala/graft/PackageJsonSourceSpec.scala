package graft

import org.apache.spark.sql.functions.col
import graft.sources.PackageJsonSource

class PackageJsonSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val manifests =
    PackageJsonSource.read(spark, "src/test/resources/manifests.jsonl")

  test("manifest read applies the explicit schema (no inference)") {
    assert(manifests.schema == PackageJsonSource.manifestSchema)
    assert(manifests.count() == 4) // raw, includes the duplicate line
  }

  test("entities are deduplicated on natural keys (idempotent upsert)") {
    val e = PackageJsonSource.entities(manifests)
    assert(e.users.collect().map(_.getString(0)).sorted.toSeq == Seq("ada", "bob"))
    assert(e.repos.count() == 3)
    // alpha→beta, alpha→gamma, beta→gamma (DEP), alpha→testlib,
    // gamma→testlib (DEV), beta→alpha (PEER)
    assert(e.edges.count() == 6)
    val types = e.edges.groupBy("edge_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types == Map("DEPENDS_ON" -> 3L, "DEV_DEPENDS_ON" -> 2L,
      "PEER_DEPENDS_ON" -> 1L))
    // module universe includes dep-only targets (testlib, no version)
    val mods = e.modules.collect().map(r => r.getString(0)).toSet
    assert(mods == Set("alpha", "beta", "gamma", "testlib"))
  }

  test("re-ingest of the same manifests changes nothing (idempotency)") {
    val once = PackageJsonSource.entities(manifests)
    val twice = PackageJsonSource.entities(manifests.union(manifests))
    assert(once.edges.count() == twice.edges.count())
    assert(once.modules.count() == twice.modules.count())
    assert(once.users.count() == twice.users.count())
  }

  test("cascade delete drops edge types first, then orphaned modules") {
    val e = PackageJsonSource.entities(manifests)
    val before = e.modules.count()
    // drop dev+peer: modules only reachable through those edges vanish
    val after = PackageJsonSource.cascadeDelete(e,
      Set("DEV_DEPENDS_ON", "PEER_DEPENDS_ON"))
    assert(after.edges.select("edge_type").distinct()
      .collect().map(_.getString(0)).toSet == Set("DEPENDS_ON"))
    // declared modules always survive (they exist as manifests)
    val declared = e.modules.filter(col("version").isNotNull).count()
    assert(after.modules.count() >= declared)
    assert(after.modules.count() <= before)
    // no surviving edge may reference a deleted module
    val dangling = after.edges
      .join(after.modules.select(col("name").as("dst_module")),
        Seq("dst_module"), "left_anti").count()
    assert(dangling == 0, "edge references a deleted module")
    // dropping every type leaves exactly the declared modules
    val bare = PackageJsonSource.cascadeDelete(e,
      Set("DEPENDS_ON", "DEV_DEPENDS_ON", "PEER_DEPENDS_ON"))
    assert(bare.edges.count() == 0)
    assert(bare.modules.count() == declared)
  }

  test("lenient read quarantines malformed manifest lines") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifests")
    val f = dir.resolve("mixed.jsonl")
    java.nio.file.Files.writeString(f,
      """{"name": "ok1", "owner": "ada", "dependencies": {"beta": "^1"}}
        |{not json at all
        |{"name": "ok2", "owner": "bob"}
        |""".stripMargin)
    val r = PackageJsonSource.readLenientManaged(spark, f.toString)
    assert(r.good.count() == 2)
    assert(r.good.collect().map(_.getAs[String]("name")).toSet == Set("ok1", "ok2"))
    assert(r.bad.count() == 1)
    assert(r.bad.first().getString(0).contains("not json"))
    r.release()
  }

  test("salted skew join returns exactly the plain join's rows") {
    import org.apache.spark.sql.functions._
    import graft.operators.SkewJoin
    // heavy skew: 90% of facts share key 1
    val fact = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong % 7 + 2, i.toLong))).toDF("k", "payload")
    val build = Seq((1L, "hot"), (2L, "warm"), (3L, "cool")).toDF("bk", "label")
    val plain = fact.join(build, col("k") === col("bk"))
      .select("k", "payload", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    // buckets per key derived from measured counts; hot key 1 gets >1
    // bucket, cold keys 1 — results exactly the plain join's
    val profile = graft.operators.Profile.skewProfile(
      fact.select(col("k")), "k")
    val byProfile = SkewJoin.saltedByProfile(fact, build, "k", "bk",
        profile, targetPerBucket = 100)
      .select("k", "payload", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(byProfile.toSeq == plain.toSeq)
    // the hot key's derived bucket count spreads its 900 rows over
    // ceil(900/100)=9 buckets
    val hotSalts = SkewJoin.saltedByProfile(fact, build, "k", "bk",
        profile, targetPerBucket = 100)
      .filter(col("k") === 1L)
    assert(hotSalts.count() == 900L)
  }

  test("null-name manifest: dep targets keep their nodes, null-src edges drop") {
    // the audit-universe contract: a
    // manifest line with no name still CONTRIBUTES its dependency
    // targets to the module universe (entities() builds modules from
    // all dep targets), while moduleGraph drops both the null-name
    // node and its null-src edges — and the q230 oracle mirrors
    // exactly this split (mods from e0, medge filtered).
    val dir = java.nio.file.Files.createTempDirectory("graft-nullname")
    java.nio.file.Files.write(dir.resolve("m.jsonl"),
      ("""{"name":"named","version":"1.0.0","dependencies":{"shared":"^1"}}""" +
        "\n" +
        """{"version":"0.0.1","dependencies":{"ghostdep":"^2"}}""" + "\n")
        .getBytes("UTF-8"))
    val e = PackageJsonSource.entities(
      PackageJsonSource.read(spark, dir.resolve("m.jsonl").toString))
    val (nodes, edges) = PackageJsonSource.moduleGraph(e)
    val names = nodes.collect().map(_.getString(1)).toSet
    // ghostdep (referenced ONLY by the anonymous manifest) is a node;
    // the null name itself is not
    assert(names == Set("named", "shared", "ghostdep"))
    // only the named manifest's edge survives (null src dropped)
    assert(edges.count() == 1)
  }

  test("manifest graph end-to-end: ingest → khop / pagerank / CC") {
    import org.apache.spark.sql.functions._
    val (nodes, edges) = PackageJsonSource.moduleGraph(
      PackageJsonSource.entities(manifests))
    val id = nodes.collect().map(r => r.getString(1) -> r.getLong(0)).toMap

    // alpha depends (any type) on beta, gamma, testlib — all 1 hop
    val hops = graph.Algorithms.khop(edges, id("alpha"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops == Map(id("alpha") -> 0L, id("beta") -> 1L,
      id("gamma") -> 1L, id("testlib") -> 1L))

    // undirected CC: the fixture graph is one component
    val und = edges.union(
      edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val comp = graph.Algorithms.connectedComponents(nodes.select("node"), und)
      .collect().map(_.getLong(1)).toSet
    assert(comp.size == 1)

    // pagerank: gamma (fed by alpha AND beta) outranks beta (alpha only)
    val pr = graph.Algorithms.pagerank(nodes.select("node"), edges, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(id("gamma")) > pr(id("beta")))
    assert(pr.values.forall(_ >= 0.15 - 1e-12))
  }
}
