package graft

import org.apache.spark.sql.functions._
import graft.operators.SetSimJoin

class SetSimJoinSpec extends SparkSpec {
  import spark.implicits._

  test("prefix-filtered join equals brute force exactly (completeness proof)") {
    // real sf0.001 part names: 200 items → 19 900 brute-force pairs,
    // small enough to enumerate and still drawn from the target data
    val items = Tables(spark, sfDir()).part
      .select(col("p_partkey").cast("long").as("id"), col("p_name").as("name"))
    val filtered = SetSimJoin.setSimJoin(items, SetSimJoin.Theta).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val toks = items.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    val ids = toks.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = (toks(a) & toks(b)).size
      jac = inter.toDouble / (toks(a) ++ toks(b)).size
      if jac >= SetSimJoin.Theta
    } yield (a, b) -> (math.rint(jac * 1e6) / 1e6)).toMap
    assert(filtered.keySet == brute.keySet,
      s"missed: ${(brute.keySet -- filtered.keySet).take(5)}; " +
        s"extra: ${(filtered.keySet -- brute.keySet).take(5)}")
    filtered.foreach { case (k, v) =>
      assert(math.abs(v - brute(k)) < 1e-9, s"jac differs at $k") }
  }

  test("theta <= 0.5 single-key path equals brute force on mixed-length names") {
    // low θ admits pairs sharing ONE token (e.g. {a} vs {a b}: 1/2),
    // the regime the pair-key scheme cannot serve — deterministic
    // pseudo-random names of 1..5 tokens from a 10-word vocabulary
    val vocab = Vector("red", "blue", "green", "hot", "cold",
      "anvil", "bolt", "gear", "ring", "plate")
    def name(i: Long): String = {
      val n = (i * 2654435761L % 5 + 1).toInt
      (0 until n).map(j => vocab(((i * 31 + j * 17) % 10).toInt))
        .distinct.mkString(" ")
    }
    val theta = 0.45
    val items = (1L to 80L).map(i => (i, name(i))).toDF("id", "name")
    val got = SetSimJoin.setSimJoin(items, theta).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val toks = (1L to 80L).map(i => i -> name(i).split(" ").toSet).toMap
    val brute = (for {
      a <- 1L to 80L; b <- (a + 1) to 80L
      inter = (toks(a) & toks(b)).size
      jac = inter.toDouble / (toks(a) ++ toks(b)).size
      if jac >= theta
    } yield (a, b) -> (math.rint(jac * 1e6) / 1e6)).toMap
    assert(got.keySet == brute.keySet,
      s"missed: ${(brute.keySet -- got.keySet).take(5)}; " +
        s"extra: ${(got.keySet -- brute.keySet).take(5)}")
    got.foreach { case (k, v) =>
      assert(math.abs(v - brute(k)) < 1e-9, s"jac differs at $k") }
    assert(brute.nonEmpty, "fixture must produce qualifying pairs")
    // the fixture must actually exercise the one-shared-token regime
    assert(brute.keys.exists { case (a, b) => (toks(a) & toks(b)).size == 1 },
      "fixture lacks single-shared-token qualifying pairs")
  }

  test("a frequent shared token outside both prefixes still can't lose a pair") {
    // A and B share 4 of 5 tokens; 'zz'/'yy' are globally rare so the
    // COMMON tokens are pushed to the prefix tail — the adversarial
    // case for prefix pruning. jac = 4/6 ≈ 0.667 ≥ 0.6 must survive.
    val items = Seq(
      (1L, "red blue green white zz"),
      (2L, "red blue green white yy"),
      (3L, "red red red red red"), // repeats collapse to one token
      (4L, "black olive plum tan snow"))
      .toDF("id", "name")
    val out = SetSimJoin.setSimJoin(items, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.contains((1L, 2L)), "the 4/6 pair must be found")
    assert(math.abs(out((1L, 2L)) - 4.0 / 6.0) < 1e-6)
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "the single-token item matches nothing at 0.6")
  }
}
