package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("cutOnce is a no-op on an already-cut frame, a cut otherwise") {
    val df = (1L to 100L).toDF("x").filter(col("x") % 2 === 0)
    val once = Checkpoints.cutOnce(df)
    // a live plan gets cut: the result's root is a checkpointed RDD
    assert(once.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    // cutting the cut frame again returns the SAME frame — no second
    // materialization of an identical relation (ADVICE r12, the
    // q244/fingerprintPairs double-cut)
    assert(Checkpoints.cutOnce(once) eq once)
    assert(once.count() == 50)
  }

  test("cutOnce still cuts a non-checkpoint LogicalRDD (RDD lineage replays)") {
    // a createDataFrame/zipWithIndex frame has a LogicalRDD root but
    // NO materialized blocks — skipping its cut would re-execute the
    // RDD lineage once per consumer
    val viaRdd = Ordinals.dense((1L to 10L).toDF("x"), Seq("x"), "rk")
    val cut = Checkpoints.cutOnce(viaRdd)
    assert(cut ne viaRdd)
    assert(cut.count() == 10)
  }

  private def stats(df: DataFrame) = df.queryExecution.analyzed.stats

  /** `body` with every cut taking the reliable `checkpoint` path. */
  private def reliably[T](body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try body finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("a cut's measured rowCount equals count() on both cut paths, empty frames included") {
    val frames = Seq(
      (1L to 100L).toDF("x").filter(col("x") % 3 === 0),
      (1L to 100L).toDF("x").filter(col("x") < 0),
      spark.range(0).toDF("x"),
      (1L to 1000L).toDF("x").groupBy((col("x") % 7).as("k")).count())
    // each frame is cut twice: every cut reads its own observation
    for (path <- Seq("local", "reliable"); df <- frames; _ <- 1 to 2) Checkpoints.scoped {
      val c = if (path == "local") Checkpoints.cut(df) else reliably(Checkpoints.cut(df))
      assert(stats(c).rowCount.contains(BigInt(df.count())), s"$path: ${df.count()} rows")
      assert(Checkpoints.rowCount(c) == c.count())
    }
  }

  test("cut(df, where) counts the matching rows in the cut's own job") {
    val df = (1L to 100L).toDF("x").withColumn("y", when(col("x") > 90, lit(null)).otherwise(col("x")))
    for (path <- Seq("local", "reliable")) Checkpoints.scoped {
      val (c, n) =
        if (path == "local") Checkpoints.cut(df, col("y") % 2 === 0)
        else reliably(Checkpoints.cut(df, col("y") % 2 === 0))
      // a null predicate counts as no match, as in filter
      assert(n == df.filter(col("y") % 2 === 0).count(), path)
      assert(Checkpoints.rowCount(c) == 100)
    }
  }

  test("a cut's sizeInBytes is measured: string bytes observed, fixed widths counted") {
    Checkpoints.scoped {
      val long = (1 to 50).map(i => (i.toLong, "é" * 5000 + i)).toDF("id", "s")
      val realBytes = long.agg(sum(octet_length(col("s")))).first().getLong(0)
      val c = Checkpoints.cut(long)
      assert(realBytes > 50L * 10000)
      assert(stats(c).sizeInBytes >= realBytes, s"${stats(c).sizeInBytes} < $realBytes")
      // the plan's own estimate (20 B per string) would be far below
      assert(stats(c).sizeInBytes < 2 * realBytes)
      val ints = Checkpoints.cut((1L to 10L).toDF("x").withColumn("b", lit(true)))
      assert(stats(ints).sizeInBytes == 10 * (8 + 8 + 1))
      // a nested column keeps the planner's size estimate, not the row count
      val nested = Checkpoints.cut((1L to 7L).toDF("x").withColumn("a", array(col("x"))))
      assert(stats(nested).rowCount.contains(BigInt(7)))
    }
  }

  test("cutOnce, release and loop liveness see the re-rooted cut as a cut root") {
    val rdd = Checkpoints.scoped {
      val c = Checkpoints.cut((1L to 10L).toDF("x"))
      val rdd = cutRdd(c)
      assert(rdd.isCheckpointed)
      assert(Checkpoints.cutOnce(c) eq c)
      // the re-rooted frame and any frame derived from it read the same
      // RDD, which is what a scope's liveness keys on
      val derived = c.select((col("x") + 1).as("x"))
      assert(derived.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id } ==
        Seq(rdd.id))
      assert(persisted(rdd.id))
      assert(derived.agg(sum("x")).first().getLong(0) == 65)
      rdd
    }
    // the scope's result (the RDD handle itself) reads no frame
    assert(!persisted(rdd.id))
  }

  private def cutRdd(c: DataFrame) = c.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd
    case other => fail(s"cut root is ${other.nodeName}")
  }

  private def persisted(id: Int): Boolean = spark.sparkContext.getPersistentRDDs.contains(id)

  test("a scope frees the cuts its result does not read and keeps those it reads") {
    var dead, leaf, sub = -1
    val out = Checkpoints.scoped {
      val d = Checkpoints.cut((1L to 10L).toDF("x"))
      val l = Checkpoints.cut((1L to 5L).toDF("x"))
      val s = Checkpoints.cut((1L to 3L).toDF("y"))
      dead = cutRdd(d).id
      leaf = cutRdd(l).id
      sub = cutRdd(s).id
      assert(d.count() == 10)
      // l is a leaf of the answer's plan, s a leaf of its subquery only
      l.filter(col("x") > s.agg(max("y")).scalar())
    }
    assert(!persisted(dead))
    assert(persisted(leaf) && persisted(sub))
    assert(out.as[Long].collect().sorted.toSeq == Seq(4L, 5L))
    Checkpoints.releaseAll(spark)
  }

  test("a scope keeps a cut its result reads only through RDD lineage") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("x", LongType), StructField("i", LongType)))
    // frames over an RDD built from the cut: a non-checkpoint
    // LogicalRDD leaf (rows and a schema) and an ExternalRDD leaf
    // (products), each reading the cut only through its lineage
    val builds = Seq[(String, org.apache.spark.rdd.RDD[(Row, Long)] => DataFrame)](
      "LogicalRDD" -> (z => spark.createDataFrame(
        z.map { case (r, i) => Row(r.getLong(0), i) }, schema)),
      "ExternalRDD" -> (z => spark.createDataFrame(
        z.map { case (r, i) => (r.getLong(0), i) }).toDF("x", "i")))
    for ((leaf, build) <- builds) {
      var id = -1
      val out = Checkpoints.scoped {
        val c = Checkpoints.cut((1L to 10L).toDF("x"))
        id = cutRdd(c).id
        build(c.sort("x").rdd.zipWithIndex())
      }
      assert(out.queryExecution.analyzed.collectLeaves().map(_.nodeName) == Seq(leaf))
      assert(persisted(id), leaf)
      assert(out.agg(sum(col("x") * col("i"))).first().getLong(0) ==
        (1L to 10L).map(x => x * (x - 1)).sum)
      Checkpoints.releaseAll(spark)
    }
  }

  test("a nested scope hands the cuts its result reads to the enclosing scope") {
    var kept, dead = -1
    Checkpoints.scoped {
      val inner = Checkpoints.scoped {
        val k = Checkpoints.cut((1L to 4L).toDF("x"))
        val d = Checkpoints.cut((1L to 8L).toDF("x"))
        kept = cutRdd(k).id
        dead = cutRdd(d).id
        k.join(d, "x").count()
        k.select((col("x") * 2).as("x"))
      }
      assert(!persisted(dead))
      assert(persisted(kept))
      assert(inner.agg(sum("x")).first().getLong(0) == 20)
    }
    // the enclosing scope's result reads nothing: the handed-on cut goes
    assert(!persisted(kept))
  }

  test("a registered query leaves persisted only the cuts its answer reads") {
    val names = Seq("q11_khop", "q12_transitive_closure", "q13_shortest_paths",
      "q16_scc", "q19_dependency_chains", "q38_louvain", "q44_neardup_clusters",
      "q50_all_shortest_paths", "q58_louvain_multilevel", "q59_subdep_path_counts",
      "q65_scc_top_partitions", "q66_longest_chains", "q67_weighted_shortest_paths",
      "q69_label_propagation", "q71_harmonic_centrality", "q72_weighted_pagerank",
      "q76_betweenness", "q78_random_walks", "q88_eccentricity", "q113_hits",
      "q116_semantic_dedup", "q118_mst", "q122_ivfpq_search", "q131_mis",
      "q136_coloring", "q142_simrank", "q149_scc_condensation", "q150_walk_pmi",
      "q166_epoch_schedule", "q231_entity_resolution_guarded",
      "q232_entity_resolution_guarded_hash", "q233_cc_star_contraction",
      "q236_suffix_array", "q242_sa_duplicate_spans")
    val sc = spark.sparkContext
    for (name <- names) {
      Checkpoints.releaseAll(spark)
      val out = SparkEntry.queries(name)(spark, sfDir())
      val left = sc.getPersistentRDDs.values.filter(_.isCheckpointed).map(_.id).toSet
      val read = Checkpoints.reads(out)
      assert(left.subsetOf(read), s"$name keeps cuts its answer does not read: ${left -- read}")
      // and what it keeps is enough to compute the answer
      out.collect()
    }
    Checkpoints.releaseAll(spark)
  }
}
