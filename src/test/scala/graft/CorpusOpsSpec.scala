package graft

import org.apache.spark.sql.functions._
import graft.functions.{RepetitionStats, WordShingles}
import graft.text.{CorpusOps, TextOps}

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private def randomTexts(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("a", "bb", "ccc", "dd", "e", "spark", "data")
    (0 until n).map { _ =>
      (0 until rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    } ++ Seq("", "one", "one two", "x x x x x x x x x x")
  }

  test("WordShingles == HOF slice/array_join formulation") {
    val d = randomTexts(60, 3L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "s")
    val custom = d.select(col("doc_id"), WordShingles(col("s"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val hof = d.selectExpr("doc_id",
      """CASE WHEN size(split(s, ' ', -1)) >= 3
        |THEN array_distinct(transform(
        |  sequence(1, size(split(s, ' ', -1)) - 2),
        |  i -> array_join(slice(split(s, ' ', -1), i, 3), ' ')))
        |ELSE array() END AS g""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(custom == hof)
  }

  test("RepetitionStats == HOF word/bigram formulation") {
    val d = randomTexts(60, 5L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "s")
    val custom = d.select(col("doc_id"), RepetitionStats(col("s")).as("st"))
      .selectExpr("doc_id", "st.n_words", "st.n_distinct_words",
        "st.top_word_count", "st.n_bigrams", "st.n_distinct_bigrams")
      .collect()
      .map(r => r.getLong(0) -> (2 to 5).map(r.getInt).prepended(r.getInt(1)))
      .toMap
    val hof = d
      .selectExpr("doc_id", "split(s, ' ', -1) AS ws")
      .selectExpr("doc_id",
        "cast(size(ws) AS int) AS n_words",
        "cast(size(array_distinct(ws)) AS int) AS n_distinct_words",
        "cast(array_max(transform(array_distinct(ws), w -> size(filter(ws, x -> x = w)))) AS int) AS top_word_count",
        "cast(greatest(size(ws) - 1, 0) AS int) AS n_bigrams",
        """cast(CASE WHEN size(ws) >= 2
          |THEN size(array_distinct(transform(sequence(1, size(ws) - 1),
          |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))))
          |ELSE 0 END AS int) AS n_distinct_bigrams""".stripMargin)
      .collect()
      .map(r => r.getLong(0) -> (2 to 5).map(r.getInt).prepended(r.getInt(1)))
      .toMap
    assert(custom == hof)
  }

  test("q45 fractions are in [0,1] and the flag splits the corpus") {
    val rows = CorpusOps.q45RepetitionScores(spark, sfDir()).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      Seq("dup_word_frac", "top_word_frac", "dup_bigram_frac").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c=$v out of range")
      }
    }
    val flagged = rows.count(_.getAs[Boolean]("flagged"))
    assert(flagged > 0 && flagged < rows.length,
      s"flag threshold degenerate: $flagged/${rows.length}")
  }

  test("q46 finds the planted near-duplicates of the benchmark slice") {
    val rows = CorpusOps.q46Decontamination(spark, sfDir()).collect()
    assert(rows.nonEmpty, "no contamination hits — planted dups missed")
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") >= CorpusOps.BenchmarkCutoff)
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_shingles"))
      val c = r.getAs[Double]("contamination")
      assert(c > 0.0 && c <= 1.0)
    }
  }

  test("q47 sampling is deterministic and respects per-lang rates") {
    val a = CorpusOps.q47StratifiedSample(spark, sfDir()).collect()
    val b = CorpusOps.q47StratifiedSample(spark, sfDir()).collect()
    assert(a.toSeq == b.toSeq, "sample must be identical across runs")
    val all = Tables(spark, sfDir()).documents
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    // zh keeps everything (rate 1.0); en is downsampled hardest (0.25)
    assert(kept("zh") == all("zh"))
    val enRate = kept.getOrElse("en", 0).toDouble / all("en")
    val zhRate = kept("zh").toDouble / all("zh")
    assert(enRate < zhRate)
    assert(enRate > 0.05 && enRate < 0.5, s"en keep rate $enRate far from 0.25")
  }

  test("q55 packing tiles each shard's token stream without gaps") {
    val rows = CorpusOps.q55SequencePacking(spark, sfDir()).collect()
    val n = Tables(spark, sfDir()).documents.count()
    assert(rows.length == n, "every document packed")
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      var off = 0L
      for (r <- sorted) {
        assert(r.getAs[Long]("start_off") == off, "gap or overlap in stream")
        assert(r.getAs[Long]("end_off") ==
          off + r.getAs[Long]("nt"))
        off = r.getAs[Long]("end_off")
      }
    }
    // bin spans follow from offsets
    rows.foreach { r =>
      val L = CorpusOps.PackSeqLen
      assert(r.getAs[Long]("first_bin") == r.getAs[Long]("start_off") / L)
      assert(r.getAs[Long]("n_bins") ==
        (r.getAs[Long]("end_off") - 1) / L - r.getAs[Long]("start_off") / L + 1)
    }
  }

  test("a different pack shard count re-keys the layout, packs the same stream") {
    // a different shard count re-keys the layout but packs the same
    // stream: per-shard tiling still gapless, same per-doc token counts
    val docs = TextOps.docs(spark, sfDir())
    val rows = CorpusOps.packSequences(docs, 7).collect()
    assert(rows.map(_.getAs[Long]("shard")).distinct.forall(s => s >= 0 && s < 7))
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      var off = 0L
      for (r <- sorted) {
        assert(r.getAs[Long]("start_off") == off)
        off = r.getAs[Long]("end_off")
      }
    }
    val nt7 = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("nt")).toMap
    val nt16 = CorpusOps.q55SequencePacking(spark, sfDir()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("nt")).toMap
    assert(nt7 == nt16, "shard count must not change what gets packed")
  }

  test("q57 assigns every document exactly one consistent fate") {
    val rows = CorpusOps.q57CurationPipeline(spark, sfDir()).collect()
    val n = Tables(spark, sfDir()).documents.count()
    assert(rows.length == n, "pipeline must account for every doc")
    val fates = Set("benchmark", "repetition", "contaminated",
      "exact_dup", "sampled_out", "kept")
    assert(rows.map(_.getAs[String]("fate")).toSet.subsetOf(fates))
    // the eval slice is exactly the benchmark fate
    rows.foreach { r =>
      val isBench = r.getAs[Long]("doc_id") < CorpusOps.BenchmarkCutoff
      assert(isBench == (r.getAs[String]("fate") == "benchmark"))
    }
    // stage order: kept docs survive q45 and q46 individually
    val keptIds = rows.filter(_.getAs[String]("fate") == "kept")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds.nonEmpty, "pipeline killed the whole corpus")
    val flagged = CorpusOps.q45RepetitionScores(spark, sfDir())
      .filter(col("flagged")).collect().map(_.getAs[Long]("doc_id")).toSet
    val contaminated = CorpusOps.q46Decontamination(spark, sfDir())
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert((keptIds & flagged).isEmpty)
    assert((keptIds & contaminated).isEmpty)
  }

  test("q56 vocab ranks by count with monotone coverage ending < 1") {
    val rows = CorpusOps.q56VocabBuild(spark, sfDir()).collect()
    // exact row count: K entries, or every distinct word if fewer exist
    val distinctWords = TextOps.docs(spark, sfDir())
      .select(explode(split(col("s"), " ")).as("word"))
      .select("word").distinct().count()
    assert(rows.length == math.min(CorpusOps.VocabK.toLong, distinctWords),
      s"vocab truncated: ${rows.length} of " +
        s"min($distinctWords, ${CorpusOps.VocabK})")
    val cnts = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cnt"))
    cnts.sliding(2).foreach { case Array(hi, lo) => assert(hi >= lo) }
    val cov = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("coverage"))
    cov.sliding(2).foreach { case Array(a, b) => assert(b >= a) }
    assert(cov.last <= 1.0 && cov.head > 0.0)
  }

  test("q123 weighted sample: brute-force A-ES agreement and margins") {
    val rows = CorpusOps.q123WeightedSample(spark, sfDir()).collect()
    assert(rows.length == CorpusOps.WSampleN)
    assert(rows.map(_.getAs[Long]("rank")).toSeq ==
      (1L to CorpusOps.WSampleN.toLong))
    // recompute every key driver-side from first principles
    val all = TextOps.docs(spark, sfDir())
      .select(col("doc_id"),
        greatest(size(split(col("s"), " ")).cast("long"), lit(1L)).as("w"),
        TextOps.md5Uniform(col("doc_id")).as("u"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("w"),
        StrictMath.log(r.getAs[Double]("u")) / r.getAs[Long]("w")))
    val ranked = all.sortBy { case (id, _, k) => (-k, id) }
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq ==
      ranked.take(CorpusOps.WSampleN).map(_._1).toSeq,
      "selection disagrees with the brute-force A-ES ranking")
    rows.zip(ranked).foreach { case (r, (_, w, k)) =>
      assert(r.getAs[Long]("w") == w)
      assert(math.abs(r.getAs[Double]("key") -
        math.rint(k * 1e6) / 1e6) < 1e-12)
    }
    // the rank-N boundary must clear cross-engine libm drift by far
    val boundary = ranked(CorpusOps.WSampleN - 1)._3 -
      ranked(CorpusOps.WSampleN)._3
    info(f"q123 boundary gap: $boundary%.3e")
    assert(boundary > 1e-9, f"selection boundary within float noise")
    // inclusion ∝ length: the sample must skew long
    val meanAll = all.map(_._2).sum.toDouble / all.length
    val meanSample = rows.map(_.getAs[Long]("w")).sum.toDouble / rows.length
    info(f"mean tokens: corpus $meanAll%.1f, sample $meanSample%.1f")
    assert(meanSample > meanAll, "length-weighted sample failed to skew long")
  }

  test("q110 collocation counts match a hand count of the corpus") {
    import org.apache.spark.sql.functions._
    val rows = CorpusOps.q110Collocations(spark, sfDir()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length == CorpusOps.CollocK)
    assert(rows.map(_._1).toSeq == (1L to CorpusOps.CollocK).toSeq)
    val ns = rows.map(_._3)
    ns.sliding(2).foreach { case Array(hi, lo) => assert(hi >= lo); case _ => }
    // recount the top bigram by brute force over the normalized docs
    val counts = scala.collection.mutable.Map.empty[String, Long]
    graft.text.TextOps.docs(spark, sfDir()).select(col("s")).collect()
      .foreach { r =>
        val ws = r.getString(0).split(" ")
        ws.sliding(2).foreach { case Array(a, b) =>
          val k = s"$a $b"; counts(k) = counts.getOrElse(k, 0L) + 1
        case _ => }
      }
    val bruteTop = counts.toSeq.sortBy { case (b, n) => (-n, b) }
      .take(CorpusOps.CollocK)
    assert(rows.map(r => (r._2, r._3)).toSeq == bruteTop)
  }

  test("q97 keeps the maximal within-budget prefix of every stratum") {
    import org.apache.spark.sql.functions._
    val kept = CorpusOps.q97TokenBudgetMix(spark, sfDir()).collect()
    assert(kept.nonEmpty)
    val byLang = kept.groupBy(_.getAs[String]("lang"))
    // the full md5-ordered ranking, recomputed independently
    val all = graft.text.TextOps.docs(spark, sfDir())
      .select(col("doc_id"), col("lang"),
        size(split(col("s"), " ")).cast("long").as("nt"),
        md5(col("doc_id").cast("string")).as("hx"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("hx"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("nt")))
      .groupBy(_._1).map { case (l, rs) =>
        l -> rs.sortBy(r => (r._2, r._3)).map(r => (r._3, r._4))
      }
    all.foreach { case (lang, ranked) =>
      val keptIds = byLang.get(lang).toSeq.flatten
        .map(_.getAs[Long]("doc_id")).toSet
      val total = byLang.get(lang).toSeq.flatten
        .map(_.getAs[Long]("nt")).sum
      assert(total <= CorpusOps.MixBudget, s"$lang over budget")
      // kept = exactly the ranking's prefix, and the next doc overflows
      val prefix = ranked
        .scanLeft((0L, 0L)) { case ((_, c), (id, nt)) => (id, c + nt) }
        .drop(1)
      val expect = prefix.takeWhile(_._2 <= CorpusOps.MixBudget)
      assert(keptIds == expect.map(_._1).toSet, s"$lang not the prefix")
      prefix.drop(expect.length).headOption.foreach { case (_, c) =>
        assert(c > CorpusOps.MixBudget, s"$lang selection not maximal")
      }
    }
  }

  test("dsir: target-vocabulary docs outrank off-target ones") {
    // target (doc 0) speaks {x, y}; doc 1 repeats the target
    // vocabulary, doc 2 shares half, doc 3 is fully off-target. The
    // importance order must be 1 > 2 > 3, and top-1 selection keeps
    // exactly doc 1.
    val d = Seq(
      0L -> "x y x y x y",
      1L -> "x y x y",
      2L -> "x z x z",
      3L -> "z w z w").toDF("doc_id", "s")
    val out = CorpusOps.dsirWeights(d, cutoff = 1L, keepN = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("lw"), r.getAs[Long]("rank"),
          r.getAs[Boolean]("keep")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "benchmark docs must not score")
    assert(out(1L)._1 > out(2L)._1 && out(2L)._1 > out(3L)._1)
    assert(out(1L)._2 == 1L && out(1L)._3)
    assert(!out(2L)._3 && !out(3L)._3)
  }

  test("q166 schedule: per-epoch permutations, curriculum first, partition-invariant") {
    val n = 97
    val docs = (0 until n).map { i =>
      (i.toLong, (i * 37 % 101 + 10).toLong) // varied n_chars
    }.toDF("doc_id", "n_chars")
    val out = CorpusOps.epochSchedule(docs, 3)
      .as[(Long, Long, Long)].collect().toSeq
    // order_idx is the contiguous 1..3n global sequence
    assert(out.map(_._2).sorted == (1L to 3L * n).toSeq)
    // each epoch is a full permutation of the doc ids
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet == Set(1L, 2L, 3L))
    byEpoch.values.foreach(e => assert(e.map(_._3).sorted == (0L until n).toSeq))
    // epochs are ordered blocks: every epoch-1 step precedes epoch 2
    assert(byEpoch(1L).map(_._2).max < byEpoch(2L).map(_._2).min)
    // epoch 1 is the curriculum: n_chars non-decreasing along the order
    val lenOf = docs.as[(Long, Long)].collect().toMap
    val e1 = byEpoch(1L).sortBy(_._2).map(t => lenOf(t._3))
    assert(e1.sliding(2).forall { case Seq(a, b) => a <= b; case _ => true })
    // epochs 2 and 3 are DIFFERENT permutations (seeded reshuffle)
    assert(byEpoch(2L).sortBy(_._2).map(_._3) !=
      byEpoch(3L).sortBy(_._2).map(_._3))
    // result is independent of the input partitioning
    val repart = CorpusOps.epochSchedule(docs.repartition(13), 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(repart.sortBy(_._2) == out.sortBy(_._2))
  }

  test("q219 containment join finds planted leaks, exact vs brute force") {
    // bench doc 1 fully inside corpus doc 10; bench doc 2 half-inside
    // corpus doc 11 (exactly at theta on shingles is avoided — the
    // planted overlap is either full or far below theta)
    val benchA = (1 to 12).map(i => s"tok$i").mkString(" ")      // 5 shingles
    val benchB = (21 to 32).map(i => s"tok$i").mkString(" ")
    val fixture = Seq(
      1L -> benchA,
      2L -> benchB,
      10L -> (benchA + " " + (41 to 60).map(i => s"pad$i").mkString(" ")),
      11L -> ((21 to 28).map(i => s"tok$i").mkString(" ") + " " +
        (61 to 80).map(i => s"pad$i").mkString(" ")),           // 1 of B's 5
      12L -> (81 to 110).map(i => s"oth$i").mkString(" "),
    ).toDF("doc_id", "s")
    val got = CorpusOps.containmentPairs(fixture, 10L, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toList
    assert(got == List((1L, 10L, 1.0)))
    // corpus-scale: q219 equals brute-force bench x corpus containment
    val docs = graft.text.TextOps.docs(spark, sfDir())
      .select("doc_id", "s").as[(Long, String)].collect()
    def shingles(s: String): Set[String] = {
      val ws = s.split(" ", -1)
      if (ws.length < CorpusOps.ShingleWidth) Set.empty
      else ws.sliding(CorpusOps.ShingleWidth).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._1 < CorpusOps.BenchmarkCutoff)
    val corpus = docs.filter(_._1 >= CorpusOps.BenchmarkCutoff)
    val want = (for {
      (bid, bs) <- bench; gb = shingles(bs) if gb.nonEmpty
      (cid, cs) <- corpus
      c = (gb intersect shingles(cs)).size
      cont = BigDecimal(c.toDouble / gb.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cont >= CorpusOps.ContainTheta
    } yield (bid, cid, cont)).toSet
    val real = CorpusOps.q219ContainmentJoin(spark, sfDir())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(real == want)
    assert(real.nonEmpty)
  }
}
