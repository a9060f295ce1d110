package graft

import org.apache.spark.sql.functions._
import graft.functions.{Hll, Md5Prefix}

/** The one HLL sketch ([[graft.functions.Hll]]) on crafted 60-bit
  * hashes: register placement at the edges of the hash (w = 0, the top
  * bucket, a single low bit), duplicate-idempotence, lossless merge,
  * and both estimator branches — each against the scalar HLL
  * reference of SourceSimAuditSpec's q187 test. */
class HllSpec extends SparkSpec {
  import spark.implicits._

  private def h(bucket: Long, w: Long): Long = (bucket << 54) | w

  // scalar reference: register construction and estimate as q187's spec
  private def scalarRegs(hs: Seq[Long]): Seq[Int] = {
    val regs = new Array[Int](Hll.M)
    hs.foreach { v =>
      val bucket = (v >>> 54).toInt
      val w = v & ((1L << 54) - 1)
      val rho = if (w == 0) 55 else 54 - (63 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    regs.toSeq
  }

  private def scalarEst(regs: Seq[Int]): Double = {
    val sumT = regs.map(m => 1L << (55 - m)).sum
    val z = regs.count(_ == 0)
    val raw = Hll.Alpha * Hll.M * Hll.M * math.pow(2, 55) / sumT
    val est = if (raw <= 2.5 * Hll.M && z > 0)
      Hll.M * math.log(Hll.M.toDouble / z) else raw
    BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** (registers, estimate) per group of (g, hash) rows, spread over
    * several partitions so partial aggregates merge. */
  private def sketch(rows: Seq[(Int, Long)]): Map[Int, (Seq[Int], Double)] =
    rows.toDF("g", "h").repartition(3)
      .groupBy("g").agg(Hll.registers(col("h")).as("r"))
      .select(col("g"), col("r"), Hll.estimate(col("r")).as("est"))
      .collect()
      .map(r => r.getInt(0) -> (r.getSeq[Int](1), r.getDouble(2))).toMap

  test("registers: w = 0 is rho 55, the top bucket, a single low bit, duplicates") {
    val hs = Seq(
      h(5, 0L),        // w = 0: no set bit in 54 -> rho 55
      h(63, 1L << 53), // top bucket, highest sub-bucket bit -> rho 1
      h(63, 1L),       // single lowest bit -> rho 54 (max'd over rho 1)
      h(0, 1L),
      h(1, 1L << 20),  // rho 54 - 20 = 34
      h(63, 1L << 53), h(1, 1L << 20)) // duplicates change nothing
    val (regs, est) = sketch(hs.map(1 -> _))(1)
    val want = Seq.tabulate(Hll.M) {
      case 0 => 54; case 1 => 34; case 5 => 55; case 63 => 54; case _ => 0
    }
    assert(regs == want)
    assert(regs == scalarRegs(hs))
    assert(math.abs(est - scalarEst(want)) < 1e-6)
  }

  test("estimate: linear-counting branch and both raw-branch cases") {
    // 4 registers set: raw is tiny, z = 60 -> linear counting
    val small = Seq(h(0, 1L), h(1, 1L << 20), h(5, 0L), h(63, 1L))
    // every register at rho 1: raw = α·m·2 ≤ 2.5m, but z = 0 -> raw
    val full = (0L until Hll.M).map(b => h(b, 1L << 53))
    // 63 registers at rho 10, one empty: z > 0 but raw > 2.5m -> raw
    val wide = (1L until Hll.M).map(b => h(b, 1L << 44))
    val got = sketch(small.map(1 -> _) ++ full.map(2 -> _) ++ wide.map(3 -> _))
    val lc = Hll.M * math.log(Hll.M / 60.0)
    assert(math.abs(got(1)._2 - lc) < 1e-4)
    assert(math.abs(got(2)._2 - Hll.Alpha * Hll.M * 2) < 1e-6)
    assert(got(3)._2 > 2.5 * Hll.M)
    assert(got(3)._1.count(_ == 0) == 1)
    for ((g, hs) <- Seq(1 -> small, 2 -> full, 3 -> wide)) {
      assert(got(g)._1 == scalarRegs(hs), s"group $g registers")
      assert(math.abs(got(g)._2 - scalarEst(scalarRegs(hs))) < 1e-6,
        s"group $g estimate")
    }
  }

  test("merge is the sketch of the union; a missing side contributes nothing") {
    val a = Seq(h(0, 1L), h(7, 1L << 30), h(63, 0L))
    val b = Seq(h(0, 1L << 53), h(7, 1L << 2), h(12, 1L))
    val regs = (a.map(1 -> _) ++ b.map(2 -> _)).toDF("g", "h")
      .groupBy("g").agg(Hll.registers(col("h")).as("r"))
    val ra = regs.filter(col("g") === 1).select(col("r").as("ra"))
    val rb = regs.filter(col("g") === 2).select(col("r").as("rb"))
    val row = ra.crossJoin(rb)
      .select(Hll.merge(col("ra"), col("rb")),
        Hll.merge(col("ra"), lit(null).cast("array<int>")))
      .collect().head
    assert(row.getSeq[Int](0) == scalarRegs(a ++ b))
    assert(row.getSeq[Int](1) == scalarRegs(a))
  }

  test("hash60 is the first 15 hex digits of md5 over the string form") {
    val got = Seq(("abcde", 42L)).toDF("s", "n")
      .select(Hll.hash60(col("s")), Hll.hash60(col("n"))).collect().head
    assert(got.getLong(0) == HllSpec.md5Prefix("abcde", 1, 15))
    assert(got.getLong(1) == HllSpec.md5Prefix("42", 1, 15))
    // both Spark forms of the md5-prefix integer, at every (start,
    // digits) the library reads
    val words = Seq("abcde", "42", "", "größe 7:3")
    val pairs = Seq((1, 2), (1, 4), (1, 8), (1, 10), (1, 15), (5, 4), (9, 2))
    val cols = pairs.flatMap { case (st, n) =>
      Seq(Md5Prefix(col("s"), st, n).cast("long"),
        expr(Md5Prefix.sql("s", st, n)).cast("long"))
    }
    val rows = words.toDF("s").select(col("s") +: cols: _*).collect()
    for (r <- rows; ((st, n), i) <- pairs.zipWithIndex) {
      val want = HllSpec.md5Prefix(r.getString(0), st, n)
      assert(r.getLong(1 + 2 * i) == want, s"Column form at ($st, $n)")
      assert(r.getLong(2 + 2 * i) == want, s"SQL form at ($st, $n)")
    }
  }
}

object HllSpec {
  /** JVM reference for [[graft.functions.Md5Prefix]]: `digits` hex
    * digits of the md5 of `s`'s UTF-8 bytes, from 1-based `start`. */
  def md5Prefix(s: String, start: Int, digits: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(start - 1, start - 1 + digits), 16)
  }
}
