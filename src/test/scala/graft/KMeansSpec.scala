package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.dot
import graft.sim.{KMeans, Similarity}

class KMeansSpec extends SparkSpec {

  private def vecs: DataFrame = Tables(spark, sfDir()).embeddings
    .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  /** WCSS of an assignment under its own induced centroids. */
  private def wcss(v: DataFrame, assign: DataFrame): Double = {
    val cent = assign.join(v, "vec_id")
      .select(col("cell"), posexplode(col("e")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(avg(col("x")).as("cx"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("i"), col("cx")))).as("p"))
      .select(col("cell"), expr("transform(p, q -> q.cx)").as("c"))
    assign.join(v, "vec_id").join(cent, "cell")
      .select((dot(col("e"), col("e")) + dot(col("c"), col("c"))
        - lit(2.0) * dot(col("e"), col("c"))).as("d"))
      .agg(sum(col("d"))).first().getDouble(0)
  }

  test("q48 is a partition of the corpus with consistent sizes") {
    val rows = KMeans.q48Kmeans(spark, sfDir()).collect()
    val n = vecs.count()
    assert(rows.length == n, "every vector assigned exactly once")
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == n)
    rows.foreach(r => assert((0 until KMeans.K).contains(r.getAs[Int]("cell"))))
    val bySize = rows.groupBy(_.getAs[Int]("cell"))
    bySize.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("cluster_size")).distinct.toSeq ==
        Seq(rs.length.toLong))
    }
  }

  test("Lloyd iterations do not increase the within-cluster SS") {
    val v = vecs
    val w1 = wcss(v, KMeans.assignments(v, KMeans.K, 1))
    val w3 = wcss(v, KMeans.assignments(v, KMeans.K, 3))
    assert(w3 <= w1 * (1 + 1e-9), s"wcss rose: 1 iter $w1 -> 3 iters $w3")
  }

  test("assignments are deterministic across runs") {
    val a = KMeans.q48Kmeans(spark, sfDir()).collect().toSeq
    val b = KMeans.q48Kmeans(spark, sfDir()).collect().toSeq
    assert(a == b)
  }

  test("final-assignment margins dwarf float accumulation noise") {
    // the Spark side computes |x|²+|c|²−2xc and the DuckDB oracle now
    // mirrors that expansion; the residual cross-engine risk is per-sum
    // accumulation order (~1 ulp relative). A near-tied (winner,
    // runner-up) centroid pair could then flip the row_number argmin —
    // so assert every vector's runner-up distance clears the winner by
    // a margin orders of magnitude above ulp noise.
    val v = vecs
    val (assign, cent) = KMeans.model(v, KMeans.K, KMeans.Iters)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dist").asc, col("cell").asc)
    val m = v.crossJoin(broadcast(cent))
      .withColumn("dist", dot(col("e"), col("e")) + dot(col("c"), col("c"))
        - lit(2.0) * dot(col("e"), col("c")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy("vec_id")
      .agg((max(col("dist")) - min(col("dist"))).as("margin"),
        max(col("dist")).as("scale"))
      .agg(min(col("margin") / (col("scale") + lit(1.0))).as("rel"),
        min(col("margin")).as("abs"))
      .first()
    Checkpoints.release(assign, cent)
    info(f"min runner-up margin: abs ${m.getDouble(1)}%.3e, " +
      f"rel ${m.getDouble(0)}%.3e")
    assert(m.getDouble(0) > 1e-9,
      f"assignment margin ${m.getDouble(0)}%.3e is within float noise")
  }

  test("q49 reranks exactly within the probed cells") {
    val v = vecs
    val rows = KMeans.q49IvfTrainedSearch(spark, sfDir()).collect()
    assert(rows.length == KMeans.NQueries * KMeans.TopK)

    // per-query ranks are 1..TopK with non-increasing sim
    rows.groupBy(_.getAs[Long]("q_vec")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to KMeans.TopK.toLong))
      val sims = sorted.map(_.getAs[Double]("sim"))
      sims.sliding(2).foreach { case Array(hi, lo) => assert(hi >= lo) }
    }

    // every reported sim is the exact cosine of (query, candidate)
    import spark.implicits._
    val reported = rows.map(r => (r.getAs[Long]("q_vec"),
      r.getAs[Long]("cand"), r.getAs[Double]("sim"))).toSeq
      .toDF("q_vec", "cand", "sim")
    val exact = reported
      .join(v.select(col("vec_id").as("q_vec"), col("e").as("qe")), "q_vec")
      .join(v.select(col("vec_id").as("cand"), col("e").as("ce")), "cand")
      .select(col("sim"),
        round(Similarity.cosine(col("qe"), col("ce")), 6).as("want"))
      .collect()
    exact.foreach(r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("q49 recall@5 vs brute force is reported and sane") {
    val v = vecs
    val ivf = KMeans.q49IvfTrainedSearch(spark, sfDir()).collect()
      .groupBy(_.getAs[Long]("q_vec"))
      .view.mapValues(_.map(_.getAs[Long]("cand")).toSet).toMap
    // brute-force top-5 per query over the same candidate universe
    val brute = v.filter(col("vec_id") < KMeans.NQueries)
      .select(col("vec_id").as("q_vec"), col("e").as("qe"))
      .crossJoin(v.select(col("vec_id").as("cand"), col("e").as("ce")))
      .filter(col("cand") =!= col("q_vec"))
      .select(col("q_vec"), col("cand"),
        Similarity.cosine(col("qe"), col("ce")).as("sim"))
      .collect()
      .groupBy(_.getAs[Long]("q_vec"))
      .view.mapValues(_.sortBy(r => (-r.getAs[Double]("sim"),
        r.getAs[Long]("cand"))).take(KMeans.TopK)
        .map(_.getAs[Long]("cand")).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      (ivf.getOrElse(q, Set.empty) & truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"q49 IVF recall@5 (nprobe=${KMeans.NProbe}/${KMeans.K}): $mean%.3f")
    // near-random embeddings put no structure in the cells; nprobe/k of
    // the corpus must still recover at least a probe-share of the truth
    assert(mean >= KMeans.NProbe.toDouble / KMeans.K * 0.5,
      f"recall collapsed: $mean%.3f")
  }

  test("q121 PQ encode: one code word per vector, codes in range") {
    val rows = KMeans.q121PqEncode(spark, sfDir()).collect()
    val n = vecs.count()
    assert(rows.length == n, "every vector encoded exactly once")
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == n)
    rows.foreach { r =>
      (0 until KMeans.PqM).foreach { s =>
        val c = r.getAs[Int](s"code$s")
        assert(c >= 0 && c < KMeans.PqK, s"code$s=$c out of range")
      }
      assert(r.getAs[Double]("err") >= 0.0, "negative quantization residual")
    }
  }

  test("q121 residual beats the induced-centroid lower bound") {
    // reported err measures each slice against the centroids that
    // PRODUCED its code; re-deriving centroids as the per-code slice
    // means (Lloyd's centroid step) can only lower the total WCSS, so
    // the induced total bounds the reported total from below — a
    // wrong slice offset, code column, or distance expansion breaks it
    val subDim = Similarity.Dims / KMeans.PqM
    val enc = KMeans.q121PqEncode(spark, sfDir())
    val reported = enc.agg(sum(col("err"))).first().getDouble(0)
    val induced = (0 until KMeans.PqM).map { s =>
      val sv = vecs.select(col("vec_id"),
        slice(col("e"), s * subDim + 1, subDim).as("e"))
      val assign = enc.select(col("vec_id"), col(s"code$s").as("cell"))
      wcss(sv, assign)
    }.sum
    info(f"PQ residual: induced $induced%.4f <= reported $reported%.4f")
    assert(induced <= reported * (1 + 1e-9),
      s"induced WCSS $induced exceeds reported $reported")
    assert(reported <= induced * 10,
      "reported residual implausibly far above the induced optimum")
  }

  test("q122 IVF-PQ: shape, monotone adc, probe confinement") {
    val v = vecs
    val rows = KMeans.q122IvfPqSearch(spark, sfDir()).collect()
    assert(rows.length == KMeans.NQueries * KMeans.TopK)
    rows.groupBy(_.getAs[Long]("q_vec")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to KMeans.TopK.toLong))
      val ds = sorted.map(_.getAs[Double]("adc"))
      assert(ds.forall(_ >= 0.0))
      ds.sliding(2).foreach { case Array(lo, hi) => assert(lo <= hi) }
    }
    // every reported candidate lives in one of its query's probed
    // cells — the inverted-list pruning actually confined the scan
    val (assign, cent) = KMeans.model(v, KMeans.K, KMeans.Iters)
    val cells = assign.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_vec").orderBy(col("dist").asc, col("cell").asc)
    val probed = v.filter(col("vec_id") < KMeans.NQueries)
      .select(col("vec_id").as("q_vec"), col("e").as("qe"))
      .crossJoin(broadcast(cent))
      .withColumn("dist", dot(col("qe"), col("qe")) + dot(col("c"), col("c"))
        - lit(2.0) * dot(col("qe"), col("c")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KMeans.NProbe)
      .collect()
      .groupBy(_.getAs[Long]("q_vec"))
      .view.mapValues(_.map(_.getAs[Int]("cell")).toSet).toMap
    Checkpoints.release(assign, cent)
    rows.foreach { r =>
      val q = r.getAs[Long]("q_vec")
      assert(probed(q).contains(cells(r.getAs[Long]("cand"))),
        s"candidate outside $q's probed cells")
    }
  }

  test("q122 ADC recall vs exact distance over the same pool") {
    val v = vecs
    val adcTop = KMeans.q122IvfPqSearch(spark, sfDir()).collect()
      .groupBy(_.getAs[Long]("q_vec"))
      .view.mapValues(_.map(_.getAs[Long]("cand")).toSet).toMap
    // exact squared-L2 top-5 restricted to the probed-cell pool: the
    // ranking ADC is an estimate of (32-bit codes vs 512-byte vectors)
    val (assign, cent) = KMeans.model(v, KMeans.K, KMeans.Iters)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_vec").orderBy(col("dist").asc, col("cell").asc)
    val probes = v.filter(col("vec_id") < KMeans.NQueries)
      .select(col("vec_id").as("q_vec"), col("e").as("qe"))
      .crossJoin(broadcast(cent))
      .withColumn("dist", dot(col("qe"), col("qe")) + dot(col("c"), col("c"))
        - lit(2.0) * dot(col("qe"), col("c")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KMeans.NProbe)
      .select(col("q_vec"), col("qe"), col("cell"))
    val exact = assign.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec"))
      .join(v, "vec_id")
      .select(col("q_vec"), col("vec_id").as("cand"),
        (dot(col("qe"), col("qe")) + dot(col("e"), col("e"))
          - lit(2.0) * dot(col("qe"), col("e"))).as("d"))
      .collect()
      .groupBy(_.getAs[Long]("q_vec"))
      .view.mapValues(_.sortBy(r => (r.getAs[Double]("d"),
        r.getAs[Long]("cand"))).take(KMeans.TopK)
        .map(_.getAs[Long]("cand")).toSet).toMap
    Checkpoints.release(assign, cent)
    val recalls = exact.map { case (q, truth) =>
      (adcTop.getOrElse(q, Set.empty) & truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"q122 ADC recall@5 vs exact (pool-restricted): $mean%.3f")
    // 32-bit codes on 64-dim near-random vectors are a coarse ruler,
    // but a working LUT must still beat chance (5 of ~60-per-pool)
    assert(mean >= 0.2, f"ADC recall collapsed: $mean%.3f")
  }

  test("q116 semantic dedup: partition, min-id reps, real dup signal") {
    val rows = KMeans.q116SemanticDedup(spark, sfDir()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == vecs.count(), "every vector is labeled")
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      assert(members.map(_._1).min == c, s"cluster $c not min-id labeled")
      members.foreach { case (id, _, rep) =>
        assert((rep == 1L) == (id == c), s"rep flag wrong for $id")
      }
    }
    // τ is tuned so the synthetic corpus yields dup structure at
    // every SF — a vacuously all-singleton result must fail
    assert(rows.count(_._3 == 0L) > 0, "no semantic dups found")
    // every dropped vector shares its cluster's cell-blocked origin:
    // its representative is strictly smaller
    rows.filter(_._3 == 0L).foreach { case (id, c, _) => assert(c < id) }
  }
}
