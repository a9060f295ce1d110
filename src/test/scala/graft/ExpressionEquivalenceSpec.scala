package graft

import org.apache.spark.sql.functions._
import graft.functions.{CharGrams, Int8QuantStats, MinhashSignature, SimhashSignature}

/** Randomized equivalence tests pinning the custom single-loop
  * Catalyst expressions to the HOF formulations they replaced — the
  * HOF forms are what the DuckDB oracles mirror, so equivalence here
  * is what keeps the optimized plans oracle-faithful on arbitrary
  * input, not just the test corpus. Inputs are seeded (deterministic
  * across runs) and include empty strings, single words, repeats, and
  * sub-5-char edge cases. */
class ExpressionEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def randomTexts(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = "abcdefghij0123 " // small alphabet → repeats + spaces
    (0 until n).map { _ =>
      val len = rnd.nextInt(40)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        .replaceAll(" +", " ").trim
    } ++ Seq("", "a", "abcd", "abcde", "aaaaaaaaaa", "one two one two",
      // non-BMP (supplementary) characters: gram windows must count
      // CODE POINTS like Spark substring/length, not UTF-16 units
      "a😀bc😀de", "😀😁xyz ab",
      "😀😁😂😃")
  }

  test("MinhashSignature lanes == HOF md5-slice formulation") {
    val d = randomTexts(60, 7L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "s")
    val custom = d.filter(length(col("s")) >= 5)
      .select(col("doc_id"), MinhashSignature(col("s"), 2).as("sig"))
      .selectExpr("doc_id", "sig.nn AS nn", "sig.lanes AS lanes")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[String](2).toList))
      .toSet
    val hof = d.filter(length(col("s")) >= 5)
      .selectExpr("doc_id",
        "array_distinct(transform(sequence(1, length(s) - 4), i -> substring(s, i, 5))) AS grams")
      .selectExpr("doc_id", "cast(size(grams) as int) AS nn",
        "transform(grams, g -> md5(concat('0:', g))) AS m0",
        "transform(grams, g -> md5(concat('1:', g))) AS m1")
      .selectExpr(Seq("doc_id", "nn") ++
        (for (k <- 0 to 1; l <- 0 to 7)
          yield s"array_min(transform(m$k, h -> substring(h, ${1 + 4 * l}, 4))) AS h${8 * k + l}"): _*)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        (2 to 17).map(r.getString).toList))
      .toSet
    assert(custom == hof)
  }

  test("SimhashSignature == HOF aggregate/zip_with formulation") {
    val d = randomTexts(60, 11L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "s")
    val custom = d.select(col("doc_id"), SimhashSignature(col("s")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counts =
      """aggregate(
        |  transform(split(s, ' '),
        |            w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)),
        |  array_repeat(cast(0 as bigint), 60),
        |  (cnt, h) -> zip_with(cnt,
        |    transform(sequence(0, 59),
        |              b -> if(shiftright(h, b) % 2 = 1, cast(1 as bigint), cast(-1 as bigint))),
        |    (x, y) -> x + y))""".stripMargin
    val hof = d.selectExpr("doc_id",
      s"""element_at(transform(array($counts),
         |  c -> aggregate(sequence(0, 59), cast(0 as bigint),
         |    (acc, j) -> acc + if(element_at(c, j + 1) > 0,
         |      shiftleft(cast(1 as bigint), j), cast(0 as bigint)))), 1) AS sig""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(custom == hof)
  }

  test("Int8QuantStats == HOF max/floor formulation") {
    val rnd = new scala.util.Random(17L)
    val vecs = (0 until 40).map { i =>
      val n = if (i < 3) i else 1 + rnd.nextInt(80) // incl. empty + 1-dim
      (i.toLong, (0 until n).map(_ =>
        math.rint((rnd.nextDouble() * 4 - 2) * 1e6) / 1e6).toArray)
    } :+ (99L, Array(0.0, 0.0, 0.0)) // zero vector → all-zero quant
    val d = vecs.toDF("vec_id", "e")
    val custom = d.select(col("vec_id"), Int8QuantStats(col("e")).as("st"))
      .selectExpr("vec_id", "st.max_abs", "st.n_zero", "st.qsum", "st.qnorm2")
      .collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val hof = d.selectExpr("vec_id",
      "aggregate(e, cast(0 as double), (m, x) -> greatest(m, abs(x))) AS max_abs")
      .join(d, "vec_id")
      .selectExpr("vec_id", "max_abs",
        """if(max_abs = 0d, transform(e, x -> cast(0 as bigint)),
          |   transform(e, x -> cast(floor(x / (max_abs / 127d) + 0.5) as bigint))) AS q""".stripMargin)
      .selectExpr("vec_id", "max_abs",
        "cast(size(filter(q, x -> x = 0)) as bigint) AS n_zero",
        "coalesce(aggregate(q, cast(0 as bigint), (a, x) -> a + x), 0L) AS qsum",
        "coalesce(aggregate(q, cast(0 as bigint), (a, x) -> a + x * x), 0L) AS qnorm2")
      .collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(custom == hof)
    // a null element nulls the result (as the HOF chain would),
    // never a silent 0-read — and the output schema declares it
    val withNull = Seq((0L, Seq[java.lang.Double](1.0, null, 3.0)))
      .toDF("vec_id", "e")
      .select(Int8QuantStats(col("e")).as("st"))
    assert(withNull.schema("st").nullable)
    assert(withNull.first().isNullAt(0))
  }

  test("TopKAgg == window top-k and partial-aggregates across partitions") {
    val rnd = new scala.util.Random(23L)
    val rows = (0 until 500).map(i =>
      (i % 7, math.rint(rnd.nextDouble() * 1e8) / 100.0))
    val d = rows.toDF("g", "v").repartition(11) // force map-side partials
    val agg = d.groupBy("g")
      .agg(graft.functions.TopKAgg.topk(col("v"), 3).as("tops"))
    val custom = agg
      .select(col("g"), posexplode(col("tops")).as(Seq("pos", "v")))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc)
    val window = d.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("g"), (col("rk") - 1).as("pos"), col("v"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(custom == window)
    // the plan must partial-aggregate (map-side combine), not shuffle rows
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("graft_topk"), s"aggregate missing from plan:\n$plan")
    assert(plan.contains("partial_graft_topk"),
      s"no partial (map-side) aggregation:\n$plan")
  }

  test("TopKKeyedAgg == keyed window top-k, ties to the smaller id") {
    val rnd = new scala.util.Random(29L)
    // duplicate values on purpose so the id tie-break is exercised
    val rows = (0 until 400).map(i =>
      (i % 5, (rnd.nextInt(40) * 10).toDouble, i.toLong))
    val d = rows.toDF("g", "v", "id").repartition(11)
    val agg = d.groupBy("g")
      .agg(graft.functions.TopKAgg.topkKeyed(col("v"), col("id"), 4).as("tops"))
    val custom = agg
      .select(col("g"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("g"), col("pos"), col("t.v"), col("t.id"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val window = d.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 4)
      .select(col("g"), (col("rk") - 1).as("pos"), col("v"), col("id"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    assert(custom == window)
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk_keyed"),
      s"no partial (map-side) aggregation:\n$plan")
  }

  test("TopKKeyedAgg: non-long payloads keep their type (ADVICE r13)") {
    // a STRING join key — the documented 'prospective join key' shape
    // skewProfile feeds this aggregate; the pre-fix form threw
    // ClassCastException here and narrowed int keys to long
    val rnd = new scala.util.Random(31L)
    val rows = (0 until 300).map(i =>
      (i % 4, (rnd.nextInt(25) * 10).toDouble, f"key_${i % 37}%03d"))
    val d = rows.toDF("g", "v", "id").repartition(7)
    val agg = d.groupBy("g")
      .agg(graft.functions.TopKAgg.topkKeyed(col("v"), col("id"), 5).as("tops"))
    // output id field keeps StringType
    val idField = agg.schema("tops").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]("id")
    assert(idField.dataType == org.apache.spark.sql.types.StringType,
      s"id field must keep the payload type, got ${idField.dataType}")
    val custom = agg
      .select(col("g"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("g"), col("pos"), col("t.v"), col("t.id"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getString(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val window = d.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("g"), (col("rk") - 1).as("pos"), col("v"), col("id"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getString(3))).toSet
    assert(custom == window)
    // and skewProfile itself now takes a string key end-to-end
    val sp = graft.operators.Profile.skewProfile(
      rows.toDF("g", "v", "id").select(col("id")), "id")
    assert(sp.schema("key").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(sp.count() == graft.operators.Profile.SkewTopK)
  }

  test("every custom expression is callable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  graft_minhash_signature('abcdef', 1).nn AS mh_nn,
        |  graft_simhash('a b c') AS sh,
        |  size(graft_grams('abcdef')) AS ng,
        |  size(graft_word_shingles('a b c d', 2)) AS nsh,
        |  graft_repetition_stats('a a b').n_words AS nw,
        |  graft_int8_quant_stats(array(1.0d, -2.0d)).qnorm2 AS qn,
        |  graft_phrase_hits('a b a', array('a b', 'b a')).n_hits AS ph,
        |  graft_phrase_redact('x a b y', array('a b')).red AS pr
        |""".stripMargin).first()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)   // grams of 'abcdef': 2 distinct 5-grams
    assert(!r.isNullAt(2))
    assert(r.getInt(3) == 2)
    assert(r.getInt(4) == 3)   // 'a b','b c','c d'
    assert(r.getInt(5) == 3)
    assert(r.getLong(6) == 127L * 127 + 64L * 64) // q = [64, -127]
    assert(r.getLong(7) == 2L)  // 'a b' + 'b a' in 'a b a'
    assert(r.getString(8) == "x <term> <term> y")
    // the aggregate registers too (used in GROUP BY context)
    val tops = spark.sql(
      """SELECT g, graft_topk(v, 2) AS t
        |FROM VALUES (1, 5.0d), (1, 9.0d), (1, 7.0d), (2, 1.0d) AS tab(g, v)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(tops(0).getSeq[Double](1) == Seq(9.0, 7.0))
    assert(tops(1).getSeq[Double](1) == Seq(1.0))
  }

  test("CharGrams == array_distinct/transform formulation") {
    val d = randomTexts(60, 13L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "s")
      .filter(length(col("s")) >= 5)
    val custom = d.select(col("doc_id"), CharGrams(col("s")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val hof = d.selectExpr("doc_id",
      "array_distinct(transform(sequence(1, length(s) - 4), i -> substring(s, i, 5))) AS g")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(custom == hof)
  }

  test("PositionedGrams == sequence/substring formulation, positions included") {
    val texts = Seq("abcdefghij", "aaaa", "abc", "", "héllo wörld ok",
      "x" * 50) ++ (0 until 40).map(i => s"doc $i padded out to here $i")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "s")
    val k = 4
    val custom = d.select(col("doc_id"),
        graft.functions.PositionedGrams(col("s"), k).as("g"))
      .selectExpr("doc_id", "transform(g, p -> concat(p.pos, ':', p.gram)) AS g")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val hof = d.selectExpr("doc_id",
      s"""CASE WHEN length(s) >= $k
         |THEN transform(sequence(1, length(s) - $k + 1),
         |  i -> concat(i, ':', substring(s, i, $k)))
         |ELSE array() END AS g""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(custom == hof)
  }

  test("PhraseHits/PhraseRedact == brute-force word-window reference (randomized)") {
    // tiny alphabet maximizes overlapping/nested/back-to-back matches
    val rnd = new scala.util.Random(41L)
    def word() = ("" + ('a' + rnd.nextInt(3)).toChar) * (1 + rnd.nextInt(2))
    val texts = (0 until 120).map { _ =>
      (0 until (1 + rnd.nextInt(12))).map(_ => word()).mkString(" ")
    }
    val phrases = new scala.util.Random(43L).shuffle(
      (for {
        l <- 1 to 3
        _ <- 1 to 6
      } yield (0 until l).map(_ => word()).mkString(" ")).distinct.toList
    ).take(12)
    // brute force: try every phrase at every word offset
    def ref(s: String): (Long, Int, String, Int) = {
      val ws = s.split(" ", -1)
      val covered = new Array[Boolean](ws.length)
      var hits = 0L
      val seen = scala.collection.mutable.Set.empty[Int]
      for ((p, pi) <- phrases.zipWithIndex) {
        val pw = p.split(" ", -1)
        for (o <- 0 to ws.length - pw.length
             if ws.slice(o, o + pw.length).sameElements(pw)) {
          hits += 1
          seen += pi
          (o until o + pw.length).foreach(covered(_) = true)
        }
      }
      val red = ws.zipWithIndex
        .map { case (w, i) => if (covered(i)) "<term>" else w }
        .mkString(" ")
      (hits, seen.size, red, covered.count(identity))
    }
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "s")
    val got = d.select(col("doc_id"),
        graft.functions.PhraseHits(col("s"), phrases).as("h"),
        graft.functions.PhraseRedact(col("s"), phrases).as("r"))
      .select(col("doc_id"), col("h.n_hits"), col("h.n_terms"),
        col("r.red"), col("r.n_covered"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getString(3), r.getInt(4)))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == ref(t), s"mismatch on doc $i: '$t'")
    }
    // the random family must actually exercise matches
    assert(texts.map(ref).map(_._1).sum > 50, "degenerate random family")
  }
}
