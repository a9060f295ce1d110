package graft

import org.apache.spark.sql.functions._
import graft.sim.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine is 1 on itself, -1 on the negation") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(-1.0, -2.0, -3.0))).toDF("a", "b")
    val r = df.select(
      Similarity.cosine(col("a"), col("a")).as("self"),
      Similarity.cosine(col("a"), col("b")).as("neg")).first()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) + 1.0) < 1e-12)
  }

  test("q24 returns a full descending top-10 per query vector") {
    val rows = Similarity.q24SimTopk(spark, sfDir()).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_vec"))
    assert(byQ.size == 5)
    byQ.values.foreach { rs =>
      assert(rs.length == 10)
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim")).toSeq
      assert(sims == sims.sorted.reverse)
      sims.foreach(s => assert(s >= -1.0 && s <= 1.0))
    }
  }

  private def vecs(dir: String = sfDir()) = Tables(spark, dir).embeddings
    .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  test("q25 multi-table ANN recall@5 vs brute force ≥ 0.9 (50 queries)") {
    val v = vecs()
    val nq = 50
    // brute-force top-5 per query
    val q = v.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qv"), col("e").as("qe"))
    val scored = v.join(broadcast(q), col("vec_id") =!= col("qv"))
      .select(col("qv"), col("vec_id").as("cand"),
        Similarity.cosine(col("qe"), col("e")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qv").orderBy(col("sim").desc, col("cand").asc)
    val truth = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).select("qv", "cand")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidates reachable through any of the 12 hash tables
    val banded = Similarity.bandedBuckets(v, Similarity.AnnRows, Similarity.AnnTables)
      .select(col("vec_id"), col("j"), col("bkt"))
    val qb = Similarity.bandedBuckets(v.filter(col("vec_id") < nq),
        Similarity.AnnRows, Similarity.AnnTables)
      .select(col("vec_id").as("qv"), col("j").as("qj"), col("bkt").as("qbkt"))
    val cand = banded.join(qb,
        col("j") === col("qj") && col("bkt") === col("qbkt") &&
          col("vec_id") =!= col("qv"))
      .select(col("qv"), col("vec_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & cand).size.toDouble / truth.size
    assert(recall >= 0.9, s"ANN recall@5 $recall over $nq queries")
  }

  test("q26 banded near-dup recall vs brute force ≥ 0.9 at cos ≥ 0.4") {
    for (sf <- Seq("0.001", "0.01")) {
      val v = vecs(sfDir(sf))
      val truth = v.as("x").join(v.as("y"), col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          Similarity.cosine(col("x.e"), col("y.e")).as("sim"))
        .filter(col("sim") >= Similarity.NeardupThreshold)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.nonEmpty)
      val cand = Similarity.neardupPairs(v,
          Similarity.NeardupRows, Similarity.NeardupBands)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (truth & cand).size.toDouble / truth.size
      assert(recall >= 0.9, s"sf$sf near-dup recall $recall (truth ${truth.size})")
    }
  }

  test("dedup-regime banding (r=8, L=6): planted dups recalled, candidates sub-quadratic") {
    // the 100 TB configuration: true duplicates sit at cos ≥ 0.99, so
    // wider bands (256 buckets each) keep recall ~1 while background
    // collisions decay as 2^-r — planted-dup corpus built in-test
    val rnd = new scala.util.Random(42)
    val base = (0 until 200).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian())))
    val dups = (0 until 20).map { i =>
      (1000L + i, base(i)._2.map(x => x + 0.05 * rnd.nextGaussian()))
    }
    val df = (base ++ dups).toDF("vec_id", "e")
    val pairs = Similarity.neardupPairs(df, 8, 6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(i => (i.toLong, 1000L + i)).toSet
    val recall = (planted & pairs).size.toDouble / planted.size
    val allPairs = 220 * 219 / 2
    assert(recall >= 0.9, s"planted-dup recall $recall")
    assert(pairs.size <= allPairs / 10,
      s"candidate pairs ${pairs.size} not sub-quadratic (all $allPairs)")
  }

  test("q41 IVF: per-query results stay within probed cells, ranked") {
    val rows = Similarity.q41SimAnnIvf(spark, sfDir()).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("q_vec"))
    byQ.values.foreach { rs =>
      assert(rs.length <= 5)
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim")).toSeq
      assert(sims == sims.sorted.reverse, "rerank must be descending")
    }
  }

  test("graft_dot yields null (not a truncated score) on length mismatch") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    // codegen path
    val r = df.select(graft.functions.GraftFunctions.dot(col("a"), col("b")).as("d"))
    assert(r.first().isNullAt(0))
    assert(r.schema("d").nullable, "mismatch-null must be declared nullable")
    // interpreted path: direct eval of the expression
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val interp = graft.functions.DotProduct(
      Literal.create(Seq(1.0, 2.0, 3.0), ArrayType(DoubleType)),
      Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType))).eval(null)
    assert(interp == null)
  }

  test("graft_dot is callable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .first().getDouble(0)
    assert(r == 11.0)
  }

  test("hyperplane weights are deterministic and in [-1, 1]") {
    val w1 = Similarity.hyperplane(3, 17)
    val w2 = Similarity.hyperplane(3, 17)
    assert(w1 == w2)
    assert(w1 >= -1.0 && w1 <= 1.0)
  }

  test("q127 outliers are exactly the distance tail above the p99 cut") {
    val rows = Similarity.q127EmbeddingOutliers(spark, sfDir()).collect()
    val n = rows.length
    assert(n == vecs().count())
    val (out, in) = rows.partition(_.getAs[Boolean]("is_outlier"))
    assert(out.nonEmpty && out.length <= math.max(1, (n * 0.02).toInt),
      s"${out.length} outliers of $n is not a 1% tail")
    // separation: every outlier is strictly farther than every inlier
    val minOut = out.map(_.getAs[Double]("dist")).min
    val maxIn = in.map(_.getAs[Double]("dist")).max
    assert(minOut > maxIn, "outlier/inlier distances overlap")
    // recompute one vector's distance from first principles
    val embs = vecs().collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("e")).toMap
    val dims = embs.values.head.length
    val medians = (0 until dims).map { i =>
      val xs = embs.values.map(_(i)).toArray.sorted
      // (n-1)·p linear interpolation at p = 0.5
      val pos = (xs.length - 1) * 0.5
      val lo = xs(pos.toInt); val hi = xs(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - pos.toInt)
    }
    val want = embs(0L).zip(medians).map { case (x, m) => (x - m) * (x - m) }.sum
    val got = rows.find(_.getAs[Long]("vec_id") == 0L).get.getAs[Double]("dist")
    assert(math.abs(got - math.rint(want * 1e6) / 1e6) < 1e-6,
      s"dist recompute drifted: $got vs $want")
  }

  test("q128 reports the true max-cosine benchmark match per vector") {
    val rows = Similarity.q128SemanticDecontamination(spark, sfDir()).collect()
    val embs = vecs().collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("e").toArray).toMap
    assert(rows.length == embs.size - Similarity.DecontamBench,
      "one row per corpus (non-benchmark) vector")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var dp = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val bench = embs.filter(_._1 < Similarity.DecontamBench)
    rows.foreach { r =>
      val v = embs(r.getAs[Long]("vec_id"))
      val (bestId, bestSim) = bench
        .map { case (id, be) => (id, cos(v, be)) }
        .maxBy { case (id, s) => (s, -id) }
      assert(r.getAs[Long]("closest_bench") == bestId)
      assert(math.abs(r.getAs[Double]("max_sim") - bestSim) < 1e-6)
      assert(r.getAs[Boolean]("is_contaminated") ==
        (bestSim >= Similarity.DecontamTau - 1e-12))
    }
    val flagged = rows.count(_.getAs[Boolean]("is_contaminated"))
    info(s"q128: $flagged of ${rows.length} corpus vectors flagged")
    assert(flagged > 0, "tau leaves no contamination signal at this SF")
    assert(flagged < rows.length, "tau flags everything — uninformative")
  }

  test("centroid separation: identical clusters score 1, orthogonal score 0") {
    import spark.implicits._
    // labels 1 and 2 occupy the same axis; label 3 an orthogonal one.
    // medians are exact per-dim selections, so the scores are exact.
    val v = Seq(
      (1L, 1L, Seq(1.0, 0.0)), (2L, 1L, Seq(3.0, 0.0)), (3L, 1L, Seq(2.0, 0.0)),
      (4L, 2L, Seq(5.0, 0.0)), (5L, 2L, Seq(7.0, 0.0)),
      (6L, 3L, Seq(0.0, 2.0)), (7L, 3L, Seq(0.0, 4.0)))
      .toDF("vec_id", "label", "e")
    val out = Similarity.centroidSeparation(v).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out((1L, 2L)) == ((3L, 2L, 1.0)))
    assert(out((1L, 3L)) == ((3L, 2L, 0.0)))
    assert(out((2L, 3L)) == ((2L, 2L, 0.0)))
  }

  test("q191 rrf: fused list matches the scalar fusion of the two side rankings") {
    // lexical side from the separately-specced BM25 operator
    val lex = graft.text.TermOps.bm25(
        graft.text.TextOps.docs(spark, sfDir()),
        graft.text.TermOps.Bm25Terms, Similarity.RrfSideK)
      .collect().map(_.getLong(0)) // already (score desc, doc_id asc)
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    // vector side recomputed from raw embeddings
    val vecs = Tables(spark, sfDir()).embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = vecs(Similarity.RrfQueryVec)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vec = vecs.toSeq.filter(_._1 != Similarity.RrfQueryVec)
      .map { case (id, v) => id -> r6(cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(Similarity.RrfSideK)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val ref = (lex.keySet ++ vec.keySet).toSeq.map { id =>
      val s = lex.get(id).map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0) +
        vec.get(id).map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0)
      (id, lex.get(id), vec.get(id), r6(s))
    }.sortBy { case (id, _, _, s) => (-s, id) }.take(Similarity.RrfTopN)
    val got = Similarity.q191RrfFusion(spark, sfDir()).collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getDouble(3))
    }.toSeq
    assert(got == ref)
    // a doc present on both side lists must outscore one with only a
    // deeper single-list rank — the point of fusion
    assert(got.nonEmpty && got.map(_._4).toSeq == got.map(_._4).sorted.reverse)
  }
}
