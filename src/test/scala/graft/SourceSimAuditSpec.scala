package graft

import org.apache.spark.sql.functions._
import graft.sim.Similarity
import graft.text.SourceOps
import graft.functions.Hll
import graft.operators.Olap

/** Specs for the corpus-composition audits (q174–q176), the ANN
  * recall audit (q172), hard-negative mining (q173) and TPC-H Q10
  * (q177) — each against an independent scalar reference. */
class SourceSimAuditSpec extends SparkSpec {
  import spark.implicits._

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ---- shared scalar reference bits over the sf0.001 embeddings ----

  private lazy val (vecById, labelById) = {
    val rows = Tables(spark, sfDir()).embeddings.collect()
    val v = rows.map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val l = rows.map(r => r.getAs[Long]("vec_id") ->
      r.getAs[Int]("label").toLong).toMap
    (v, l)
  }

  /** Ascending-dim accumulation — the DotProduct convention, so
    * doubles match the operator bit-for-bit. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def cos(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  private def cellOf(e: Array[Double]): Int = {
    val dots = (0 until Similarity.IvfCells).map { c =>
      val w = (0 until Similarity.Dims)
        .map(d => Similarity.hyperplane(100 + c, d)).toArray
      dot(w, e)
    }
    dots.indexOf(dots.max) // first occurrence = smallest cell on ties
  }

  test("q172 recall audit == scalar IVF-vs-brute-force reference") {
    val ids = vecById.keys.toSeq.sorted
    val cells = ids.map(id => id -> cellOf(vecById(id))).toMap
    val ref = ids.filter(_ < Similarity.AuditQueries).map { q =>
      val qe = vecById(q)
      val exact = ids.filter(_ != q)
        .map(c => (c, cos(qe, vecById(c))))
        .sortBy { case (c, s) => (-s, c) }.take(Similarity.AuditK)
        .map(_._1).toSet
      val probeDots = (0 until Similarity.IvfCells).map { c =>
        val w = (0 until Similarity.Dims)
          .map(d => Similarity.hyperplane(100 + c, d)).toArray
        (c, dot(w, qe))
      }
      val probes = probeDots.sortBy { case (c, s) => (-s, c) }
        .take(Similarity.IvfProbes).map(_._1).toSet
      val cands = ids.filter(c => c != q && probes.contains(cells(c))).toSet
      val nHit = (exact intersect cands).size.toLong
      (q, cands.size.toLong, nHit,
        round6(nHit.toDouble / Similarity.AuditK))
    }
    val got = Similarity.q172AnnRecallAudit(spark, sfDir())
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == ref)
    assert(got.exists(_._4 < 1.0), "audit should catch some misses")
    assert(got.exists(_._4 > 0.0), "audit should catch some hits")
  }

  test("q173 hard negatives == scalar mining reference") {
    val ids = vecById.keys.toSeq.sorted
    val ref = ids.filter(_ < Similarity.MineQueries).flatMap { q =>
      val qe = vecById(q); val ql = labelById(q)
      val scored = ids.filter(_ != q)
        .map(c => (c, labelById(c), cos(qe, vecById(c))))
        .sortBy { case (c, _, s) => (-s, c) }
      val (posId, posSim) = scored.collectFirst {
        case (c, l, s) if l == ql => (c, s) }.get
      scored.filter(_._2 != ql).take(Similarity.MineNegK).zipWithIndex.map {
        case ((c, _, s), i) =>
          (q, ql, posId, round6(posSim), (i + 1).toLong, c, round6(s),
            round6(posSim - s))
      }
    }
    val got = Similarity.q173HardNegatives(spark, sfDir())
      .as[(Long, Long, Long, Double, Long, Long, Double, Double)]
      .collect().toSeq
    assert(got == ref)
    assert(got.size == Similarity.MineQueries * Similarity.MineNegK)
  }

  // ---- text-side audits on inline fixtures ----

  private def shingleSet(s: String, k: Int): Set[String] =
    s.split(" ", -1).toSeq.sliding(k).filter(_.size == k)
      .map(_.mkString(" ")).toSet

  private val srcCorpus = Seq(
    ("a", "one two three four five"),
    ("a", "one two three nine ten"),
    ("b", "one two three four six"),
    ("b", "totally different words here now"),
    ("c", "zz yy xx ww vv"),
    ("c", "no overlap with anything else at all"),
  )

  test("q174 overlap matrix == scalar set reference (k=3, full matrix)") {
    val k = 3
    val bySrc = srcCorpus.groupBy(_._1).view
      .mapValues(_.map(d => shingleSet(d._2, k)).reduce(_ ++ _)).toMap
    val srcs = bySrc.keys.toSeq.sorted
    val ref = (for {
      a <- srcs; b <- srcs if a < b
      ga = bySrc(a); gb = bySrc(b); common = (ga intersect gb).size.toLong
    } yield (a, b, ga.size.toLong, gb.size.toLong, common,
      round6(common.toDouble / (ga.size + gb.size - common))))
      .sortBy(t => (t._1, t._2))
    val got = SourceOps.overlapMatrix(
      srcCorpus.toDF("source", "s"), k)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == ref)
    assert(got.size == srcs.size * (srcs.size - 1) / 2) // zero pairs kept
    assert(got.exists(_._5 > 0) && got.exists(_._5 == 0))
  }

  private val boilerCorpus = Seq(
    (1L, "alpha beta gamma delta epsilon"),   // 2 of 3 grams shared w/ 2
    (2L, "alpha beta gamma delta other"),
    (3L, "unique content nothing shared here"),
    (4L, "wo rd"),                            // < k words → no grams, absent
  )

  test("q175 boilerplate score == scalar doc-frequency reference (k=3)") {
    val k = 3
    val gramsByDoc = boilerCorpus.map { case (id, s) => id -> shingleSet(s, k) }
      .filter(_._2.nonEmpty).toMap
    val df = gramsByDoc.values.flatten.groupBy(identity).view
      .mapValues(_.size).toMap
    val ref = gramsByDoc.toSeq.sortBy(_._1).map { case (id, gs) =>
      val dup = gs.count(g => df(g) >= 2).toLong
      val ratio = dup.toDouble / gs.size
      (id, gs.size.toLong, dup, round6(ratio), ratio >= SourceOps.BoilerplateTau)
    }
    val got = SourceOps.boilerplate(boilerCorpus.toDF("doc_id", "s"), k)
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(got == ref)
    assert(!got.exists(_._1 == 4L)) // sub-k doc carries no grams
    assert(got.exists(_._5) && got.exists(!_._5))
  }

  test("q176 OOV audit == scalar vocabulary reference (K=2)") {
    val corpus = Seq(
      (1L, "en", "aa aa bb cc"),
      (2L, "de", "aa bb bb dd ee"),
      (3L, "fr", "ff gg"),
    )
    // global counts: aa=3 bb=3 cc=1 dd=1 ee=1 ff=1 gg=1 → top2 = aa, bb
    val vocab = Set("aa", "bb")
    val ref = corpus.map { case (id, lang, s) =>
      val ws = s.split(" ", -1).toSeq
      val oov = ws.count(!vocab.contains(_)).toLong
      (id, lang, ws.size.toLong, oov, round6(oov.toDouble / ws.size))
    }
    val got = SourceOps.oovAudit(corpus.toDF("doc_id", "lang", "s"), 2)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(got == ref)
  }

  test("q177 TPC-H Q10 matches the SQL-path formulation") {
    val t = Tables(spark, sfDir())
    Seq("customer" -> t.customer, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "nation" -> t.nation)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    val ref = spark.sql(
      s"""SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
         |       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM customer c, orders o, lineitem l, nation n
         |WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
         |  AND c.c_nationkey = n.n_nationkey AND l.l_returnflag = 'R'
         |  AND o.o_orderdate >= DATE '${Olap.Q10Start}'
         |  AND o.o_orderdate < DATE '${Olap.Q10End}'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin)
      .as[(Long, String, String, Double, Double)].collect().toSeq
    val got = Olap.q177TpchQ10(spark, sfDir())
      .as[(Long, String, String, Double, Double)].collect().toSeq
    assert(got == ref)
    assert(got.nonEmpty && got.size <= 20)
    assert(got.map(_._5) == got.map(_._5).sorted.reverse)
  }

  test("q182 manifest fingerprint: scalar md5-xor reference on sf0.001") {
    def fp(text: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val docs = Tables(spark, sfDir()).documents
      .select("source", "lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val ref = docs.groupBy(d => (d._1, d._2)).map { case ((src, lang), ds) =>
      val norm = ds.map(_._3.trim.toLowerCase.replaceAll("\\s+", " "))
      (src, lang, ds.length.toLong,
        ds.map(_._3.length.toLong).sum,
        norm.map(_.split(" ", -1).length.toLong).sum,
        ds.map(d => fp(d._3)).reduce(_ ^ _))
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = graft.text.SourceOps.q182CorpusManifest(spark, sfDir())
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == ref)
    // the fingerprint must be order-free but content-sensitive:
    // xor is commutative, and flipping any single doc flips the group
    val g0 = ref.head
    val flipped = g0._6 ^ fp("changed") ^ fp(docs
      .find(d => (d._1, d._2) == (g0._1, g0._2)).get._3)
    assert(flipped != g0._6)
  }

  test("q183 JS divergence: bounds, zero on identical sources, ln2 on disjoint") {
    import org.apache.spark.sql.functions.col
    // build a corpus where two sources are IDENTICAL, one is DISJOINT
    val rows = Seq(
      (901L, "twin words alike here"), (902L, "more twin content words"),
      (903L, "twin words alike here"), (904L, "more twin content words"),
      (905L, "zz qq ww rr"), (906L, "ss tt uu vv"),
    )
    val docs = rows.map { case (id, t) =>
      val src = if (id <= 902) "sA" else if (id <= 904) "sB" else "sC"
      (id, t, src)
    }.toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.lower(col("text")).as("s"))
    val got = graft.text.SourceOps.divergenceCore(docs)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._6)).toMap
    assert(got(("sA", "sB")) == 0.0, "identical distributions must score 0")
    assert(math.abs(got(("sA", "sC")) - math.log(2.0)) < 1e-5,
      "disjoint vocabularies must score ln 2")
    got.values.foreach(v => assert(v >= 0.0 && v <= math.log(2.0) + 1e-9))
  }

  // ------------------------------------------------------------- q187

  test("q187: sketch estimate == scalar HLL reference on the same grams") {
    val docs = Tables(spark, sfDir()).documents
      .select(col("source"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("s"))
      .collect()
    // scalar register construction mirroring the operator exactly
    val bySource = docs.groupBy(_.getString(0)).view.mapValues { rows =>
      rows.flatMap { r =>
        val s = r.getString(1)
        if (s.length < 5) Seq.empty
        else (0 to s.length - 5).map(i => s.substring(i, i + 5))
      }.toSet
    }.toMap
    val ref = bySource.map { case (src, grams) =>
      val regs = new Array[Int](Hll.M)
      grams.foreach { g =>
        val v = HllSpec.md5Prefix(g, 1, 15)
        val bucket = (v >>> 54).toInt
        val w = v & ((1L << 54) - 1)
        val rho = if (w == 0) 55 else 54 - (63 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > regs(bucket)) regs(bucket) = rho
      }
      val sumT = regs.map(m => 1L << (55 - m)).sum
      val z = regs.count(_ == 0)
      val raw = Hll.Alpha * Hll.M * Hll.M *
        math.pow(2, 55) / sumT
      val est = if (raw <= 2.5 * Hll.M && z > 0)
        Hll.M * math.log(Hll.M.toDouble / z) else raw
      src -> (grams.size.toLong,
        BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = SourceOps.q187HllCardinality(spark, sfDir()).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (src, (exact, est)) =>
      assert(exact == ref(src)._1, s"$src exact")
      assert(math.abs(est - ref(src)._2) < 1e-6, s"$src estimate")
      // m=64 standard error is ~13%; 4 sigma guards against a broken sketch
      assert(math.abs(est - exact) / exact < 0.52, s"$src error implausible")
    }
  }

  // ------------------------------------------------------------- q189

  test("q189: fates partition both snapshots and the char delta is conserved") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(s: String): Long =
      java.lang.Long.parseLong(md.digest(s.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)
    val docs = Tables(spark, sfDir()).documents
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    case class Ref(var add: Long = 0, var rem: Long = 0, var chg: Long = 0,
      var unchg: Long = 0, var delta: Long = 0)
    val ref = scala.collection.mutable.Map.empty[String, Ref]
    docs.foreach { case (id, src, text) =>
      val h = h32(id.toString)
      val r = ref.getOrElseUpdate(src, Ref())
      if (h % 11 == 0) { r.rem += 1; r.delta -= text.length }
      else if (h % 7 == 0) { r.chg += 1; r.delta += 5 }
      else r.unchg += 1
      if (h % 13 == 0) { r.add += 1; r.delta += text.length + 4 }
    }
    val got = graft.text.SourceOps.q189SnapshotDiff(spark, sfDir()).collect()
    assert(got.map(_.getString(0)).toSet == ref.keySet)
    got.foreach { row =>
      val r = ref(row.getString(0))
      assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
        == ((r.add, r.rem, r.chg, r.unchg)), s"fates ${row.getString(0)}")
      assert(row.getLong(5) == r.delta, s"delta ${row.getString(0)}")
    }
    // every v1 doc has exactly one fate; fates cover both snapshots
    val n1 = docs.length.toLong
    val gotTot = got.map(r => r.getLong(2) + r.getLong(3) + r.getLong(4)).sum
    assert(gotTot == n1, "removed+changed+unchanged must partition v1")
  }

  // ------------------------------------------------------------- q192

  test("q192: temperature flattening — weights sum to 1 and compress raw shares") {
    val got = graft.text.SourceOps.q192TemperatureMix(spark, sfDir()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty)
    // weights are a distribution (up to the per-source 6dp rounds)
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-4)
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-4)
    // α < 1 compresses: every source's weight is pulled toward uniform
    val u = 1.0 / got.length
    got.foreach { case (src, _, p, w, _) =>
      if (p > u) assert(w <= p + 1e-9, s"$src above-uniform must shrink")
      if (p < u) assert(w >= p - 1e-9, s"$src below-uniform must grow")
    }
    // expected epochs: w·B/n, scalar recheck
    got.foreach { case (src, n, _, w, e) =>
      val ref = BigDecimal(w * graft.text.SourceOps.MixBudgetTokens / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(e == ref, s"$src epochs")
    }
    // ordering of weights preserves ordering of sizes (monotone transform)
    val bySize = got.sortBy(_._2).map(_._4)
    assert(bySize.zip(bySize.tail).forall { case (a, b) => a <= b + 1e-9 })
  }

  // ------------------------------------------------------------- q199

  test("q199: scorecard columns match a scalar recompute per source") {
    val docs = Tables(spark, sfDir()).documents
      .select(col("doc_id"), col("source"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val fpCount = docs.groupBy(_._4).view.mapValues(_.length).toMap
    def tokens(t: String): Long =
      t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").length.toLong
    val got = graft.text.SourceOps.q199SourceScorecard(spark, sfDir())
      .collect()
    assert(got.map(_.getString(0)).toSet == docs.map(_._2).toSet)
    got.foreach { r =>
      val src = r.getString(0)
      val mine = docs.filter(_._2 == src)
      assert(r.getLong(1) == mine.length)
      assert(r.getLong(2) == mine.map(d => tokens(d._4)).sum, s"$src tokens")
      val nDup = mine.count(d => fpCount(d._4) > 1)
      val refDup = BigDecimal(nDup.toDouble / mine.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == refDup, s"$src dup_rate")
      // argmax with (count desc, lang asc) tie-break
      val byLang = mine.groupBy(_._3).view.mapValues(_.length).toSeq
        .sortBy { case (l, c) => (-c, l) }
      assert(r.getString(4) == byLang.head._1, s"$src top_lang")
      val refShare = BigDecimal(byLang.head._2.toDouble / mine.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) == refShare, s"$src top_lang_share")
    }
  }

  test("q215: estimates track the exact overlap within sketch error") {
    val rows = SourceOps.sketchOverlap(
      graft.text.TextOps.docs(spark, sfDir()), SourceOps.AuditShingle)
      .collect()
    assert(rows.length == 190) // C(20, 2) source pairs
    rows.foreach { r =>
      val na = r.getAs[Long]("n_a"); val nb = r.getAs[Long]("n_b")
      val nc = r.getAs[Long]("n_common")
      val ha = r.getAs[Double]("hll_a"); val hb = r.getAs[Double]("hll_b")
      val hu = r.getAs[Double]("hll_union")
      val hc = r.getAs[Double]("hll_common")
      // m = 64 registers -> rse ≈ 1.04/√64 ≈ 13%; allow 4σ + slack
      assert(math.abs(ha - na) <= 0.52 * na + 2, s"hll_a $ha vs $na")
      assert(math.abs(hb - nb) <= 0.52 * nb + 2, s"hll_b $hb vs $nb")
      val union = na + nb - nc
      assert(math.abs(hu - union) <= 0.52 * union + 2, s"hll_union $hu vs $union")
      assert(hc >= 0.0, "inclusion-exclusion clamp")
      assert(r.getAs[Double]("hll_jaccard") >= 0.0)
    }
  }

  test("q215: register merge is lossless — pair union == physically merged source") {
    // relabel src1 into src0 and re-run: the single-source estimate of
    // the merged source must EQUAL the pair's union estimate from the
    // unmerged run (HLL union is exact at the register level, so the
    // two paths compute identical registers -> identical 4dp doubles)
    val base = graft.text.TextOps.docs(spark, sfDir())
      .filter(col("source").isin("src0", "src1", "src2"))
    val orig = SourceOps.sketchOverlap(base, SourceOps.AuditShingle)
      .collect()
    val u12 = orig.find(r => r.getString(0) == "src0" &&
      r.getString(1) == "src1").get.getAs[Double]("hll_union")
    val merged = SourceOps.sketchOverlap(
      base.withColumn("source",
        when(col("source") === "src1", "src0").otherwise(col("source"))),
      SourceOps.AuditShingle).collect()
    val mergedEst = merged.find(r => r.getString(0) == "src0" &&
      r.getString(1) == "src2").get.getAs[Double]("hll_a")
    assert(mergedEst == u12,
      s"merged-source estimate $mergedEst != pair union estimate $u12")
  }

  test("greedy coverage: hand-worked order, ties lexicographic, zero gains kept") {
    // B covers 4 tokens, then A and C tie at gain 1 → A first (lex)
    val tok = Seq(
      ("A", "a"), ("A", "b"), ("A", "c"),
      ("B", "b"), ("B", "c"), ("B", "d"), ("B", "e"),
      ("C", "e"), ("C", "f"))
      .toDF("source", "w")
    val got = SourceOps.greedyCoverage(tok).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "B", 4L, 4L), (2L, "A", 1L, 5L), (3L, "C", 1L, 6L)))

    // a fully-shadowed source still appears, with zero gain
    val tok2 = Seq(("A", "x"), ("B", "x")).toDF("source", "w")
    val got2 = SourceOps.greedyCoverage(tok2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got2.toSeq == Seq((1L, "A", 1L, 1L), (2L, "B", 0L, 1L)))
  }

  test("greedy coverage past the bitmask bound: 22 sources == scalar greedy") {
    // s00..s21: source i covers the window t(2i)..t(2i+3), so each
    // source overlaps its neighbours in 2 tokens; s15 also covers six
    // private tokens. Greedy: s15 first (gain 10), then every source
    // of gain 4 in name order (s00, s02, …, s12, s17, s19, s21), then
    // s13 (gain 2, t28 t29), then the rest at gain 0: cum 52 tokens.
    val names = (0 until 22).map(i => f"s$i%02d")
    val cover = names.zipWithIndex.map { case (s, i) =>
      s -> ((2 * i until 2 * i + 4).map(n => s"t$n") ++
        (if (i == 15) (0 until 6).map(n => s"x$n") else Nil)).toSet
    }.toMap
    assert(names.length > SourceOps.CoverageMaskMaxSources)
    val tok = cover.toSeq.flatMap { case (s, ws) => ws.map(s -> _) }
      .toDF("source", "w")
    val got = SourceOps.greedyCoverage(tok).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // scalar greedy max-coverage: max gain, ties to the smaller name
    val ref = Iterator.iterate((Set.empty[String], names.toSet, 0L,
        Seq.empty[(Long, String, Long, Long)])) { case (covered, left, cum, out) =>
      val (gain, src) = left.toSeq.map(s => ((cover(s) -- covered).size.toLong, s))
        .minBy { case (g, s) => (-g, s) }
      (covered ++ cover(src), left - src, cum + gain,
        out :+ ((out.length + 1L, src, gain, cum + gain)))
    }.drop(names.length).next()._4
    assert(got == ref)
    assert(got.take(2) == Seq((1L, "s15", 10L, 10L), (2L, "s00", 4L, 14L)))
    assert(got.map(_._2).slice(1, 13) == Seq("s00", "s02", "s04", "s06", "s08",
      "s10", "s12", "s17", "s19", "s21", "s13", "s01"))
    assert(got.map(_._3).drop(11).forall(_ <= 2L) && got.last._4 == 52L)
  }
}
