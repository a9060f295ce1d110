package graft

import graft.operators.Olap
import org.apache.spark.sql.functions.{col, count, lit, max, sum}

class OlapSpec extends SparkSpec {
  import spark.implicits._

  test("rollup: levels nest exactly — nations sum to regions, regions to the grand total") {
    val rows = Olap.q84Rollup(spark, sfDir()).collect()
    val grand = rows.filter(_.getLong(2) == 3L)
    assert(grand.length == 1)
    val regions = rows.filter(_.getLong(2) == 1L)
    val nations = rows.filter(_.getLong(2) == 0L)
    assert(regions.map(_.getLong(3)).sum == grand.head.getLong(3))
    assert(nations.map(_.getLong(3)).sum == grand.head.getLong(3))
    // per-region: its nations' order counts add up
    regions.foreach { r =>
      val mine = nations.filter(_.getString(0) == r.getString(0))
      assert(mine.map(_.getLong(3)).sum == r.getLong(3), s"region ${r.getString(0)}")
    }
  }

  test("moving window: seq is dense per customer, last3 is bounded by cum") {
    val rows = Olap.q85MovingWindow(spark, sfDir()).collect()
    val byCust = rows.groupBy(_.getLong(0))
    byCust.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length).toSeq)
    }
    assert(rows.forall(r => r.getDouble(5) <= r.getDouble(4) + 1e-9))
    // a customer's cumulative spend is nondecreasing in seq
    byCust.foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getLong(3)).map(_.getDouble(4))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => b >= a - 1e-9 })
    }
  }

  test("spend deciles: near-equal populations, nonincreasing average spend") {
    val rows = Olap.q91SpendDeciles(spark, sfDir()).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, "ntile keeps buckets within 1")
    val avg = rows.map(r => r.getDouble(3) / r.getLong(1))
    assert(avg.zip(avg.tail).forall { case (a, b) => a >= b - 1e-6 },
      "top deciles must out-spend lower ones")
  }

  test("pivot: per-user type counts add back to the user's event total") {
    val rows = Olap.q86Pivot(spark, sfDir()).collect()
    val totals = Tables(spark, sfDir()).events
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val sum = (1 to 5).map(r.getLong).sum
      assert(sum == totals(r.getLong(0)), s"user ${r.getLong(0)}")
    }
    assert(rows.length == totals.size)
  }

  test("rfm: quintile marginals balance, revenue reconciles with deciles") {
    val rows = Olap.q106RfmSegments(spark, sfDir()).collect()
    val n = rows.map(_.getLong(3)).sum
    // each score dimension partitions all customers into 5 near-equal bins
    Seq(0, 1, 2).foreach { dim =>
      val byScore = rows.groupBy(_.getLong(dim))
        .view.mapValues(_.map(_.getLong(3)).sum)
      assert(byScore.keySet == (1L to 5L).toSet, s"dim $dim missing scores")
      assert(byScore.values.max - byScore.values.min <= 1, s"dim $dim skewed")
    }
    // total revenue equals the decile report's total (same money, 2 cuts)
    val deciles = Olap.q91SpendDeciles(spark, sfDir()).collect()
    assert(math.abs(rows.map(_.getDouble(4)).sum -
      deciles.map(_.getDouble(3)).sum) < 1e-4)
    assert(deciles.map(_.getLong(1)).sum == n)
  }

  test("rfm: one-pass melted ranking == three chained ntileBy passes") {
    // VERDICT r13 #6 pinned bit-equal: the melted single-sort form in
    // q106 must reproduce the chained-per-metric form exactly — same
    // per-metric ordering (desc) and same cust tie-break
    val per = Tables(spark, sfDir()).orders
      .groupBy(col("o_custkey").as("cust"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    val chained = Ordinals.ntileBy(
        Ordinals.ntileBy(
          Ordinals.ntileBy(per,
            Seq(col("last_order").desc, col("cust").asc), 5, "r"),
          Seq(col("freq").desc, col("cust").asc), 5, "f"),
        Seq(col("spend").desc, col("cust").asc), 5, "m")
      .groupBy("r", "f", "m")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).cast("double").as("revenue"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val melted = Olap.q106RfmSegments(spark, sfDir()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(melted == chained, "melted one-pass RFM diverged")
  }

  test("rfm: recency orders same-day last orders by their time of day") {
    // customers 1 and 2 last ordered on the same day, 1 in the morning
    // and 2 in the evening: 2 is the more recent and takes recency
    // bucket 1, although the cust tie-break alone would pick 1
    val dir = java.nio.file.Files.createTempDirectory("graft-rfm").toString
    val day = java.time.LocalDateTime.of(2024, 1, 10, 0, 0)
    Seq((1L, day.plusHours(9), 100.0),
        (2L, day.plusHours(17), 200.0),
        (3L, day.minusDays(1), 300.0),
        (4L, day.minusDays(2), 400.0),
        (5L, day.minusDays(3), 500.0))
      .map { case (c, d, p) => (c, c, "O", p, d, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    // one customer per (r, f, m) cell; its revenue names it
    val recency = Olap.q106RfmSegments(spark, dir).collect()
      .map(r => r.getDouble(4) -> r.getLong(0)).toMap
    assert(recency == Map(200.0 -> 1L, 100.0 -> 2L, 300.0 -> 3L, 400.0 -> 4L,
      500.0 -> 5L))
  }

  test("cohort revenue: offset 0 everywhere, cumulative never decreases") {
    val rows = Olap.q107CohortRevenue(spark, sfDir()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (c, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._2 == 0L, s"cohort $c lacks offset 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4 >= a._4 - 1e-9, s"cohort $c cum decreases")
        case _ =>
      }
      assert(math.abs(sorted.last._4 - rs.map(_._3).sum) < 1e-4,
        s"cohort $c cum != sum of cells")
    }
  }

  test("supplier hhi: bounded by [1/n, 1], reconciles with lineitem volume") {
    val rows = Olap.q111SupplierHhi(spark, sfDir()).collect()
    val t = Tables(spark, sfDir())
    // one row per nation that has at least one supplier with lineitem volume
    val expected = t.lineitem.select("l_suppkey")
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .select("s_nationkey").distinct().count()
    assert(rows.length == expected)
    rows.foreach { r =>
      val n = r.getLong(1)
      val hhi = r.getDouble(3)
      // Σ share² is minimized at perfect equality (1/n), maximized at 1
      assert(hhi >= 1.0 / n - 1e-6 && hhi <= 1.0 + 1e-9, r.getString(0))
    }
    // every lineitem is attributed to exactly one nation
    assert(rows.map(_.getLong(2)).sum == t.lineitem.count())
  }

  test("cube: every grouping set present, margins sum to the grand total") {
    val rows = Olap.q95Cube(spark, sfDir()).collect()
    val byLvl = rows.groupBy(_.getLong(2))
    assert(byLvl.keySet == Set(0L, 1L, 2L, 3L))
    val grand = byLvl(3L)
    assert(grand.length == 1)
    val n = grand.head.getLong(3)
    // both one-dimensional margins and the cells sum to the total
    Seq(0L, 1L, 2L).foreach { lvl =>
      assert(byLvl(lvl).map(_.getLong(3)).sum == n, s"lvl $lvl")
    }
    // cell count can never exceed |status margin| × |priority margin|
    // (lvl 1 = status kept, lvl 2 = priority kept)
    assert(byLvl(0L).length <= byLvl(1L).length * byLvl(2L).length)
    // per-status margin equals the sum of its cells
    byLvl(1L).foreach { m =>
      val cells = byLvl(0L).filter(_.getString(0) == m.getString(0))
      assert(cells.map(_.getLong(3)).sum == m.getLong(3))
    }
  }

  test("gini: equal spends score 0, one whale scores the hand value") {
    import spark.implicits._
    val per = (Seq(("eq", 1L, "1.00"), ("eq", 2L, "1.00"),
      ("eq", 3L, "1.00"), ("eq", 4L, "1.00"),
      ("wh", 1L, "1.00"), ("wh", 2L, "1.00"),
      ("wh", 3L, "1.00"), ("wh", 4L, "97.00")))
      .toDF("grp", "ent", "s")
      .select(col("grp"), col("ent"), col("s").cast("decimal(18,2)").as("spend"))
    val out = Olap.gini(per).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("eq") == 0.0)
    // ascending ranks: 2*(1+2+3+4*97)/(4*100) - 5/4 = 0.72
    assert(out("wh") == 0.72)
  }

  test("tpch q3: top-10 by revenue, both date predicates respected") {
    val rows = Olap.q147TpchQ3(spark, sfDir()).collect()
    assert(rows.length == 10)
    val revs = rows.map(_.getDouble(1))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b },
      "revenue must be nonincreasing")
    val cutoff = java.time.LocalDateTime.parse("1997-01-01T00:00:00")
    rows.foreach { r =>
      assert(r.getAs[java.time.LocalDateTime](2).isBefore(cutoff),
        s"order ${r.getLong(0)} too new")
    }
    // every reported order comes from the BUILDING segment
    val t = Tables(spark, sfDir())
    val segKeys = t.customer
      .filter(col("c_mktsegment") === Olap.Q3Segment)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val orderCust = t.orders.select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(segKeys.contains(orderCust(r.getLong(0)))))
  }

  test("gini: every nation's coefficient is in [0, 1)") {
    val rows = Olap.q138GiniSpend(spark, sfDir()).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val g = r.getDouble(3)
      assert(g >= 0.0 && g < 1.0, s"${r.getString(0)}: $g")
    }
  }

  test("tpch q1: groups == scalar decimal reference") {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    def r(x: Double, s: Int) = JBD.valueOf(x).setScale(s, RM.HALF_UP)
    val cutoff = java.time.LocalDateTime.parse(Olap.Q1Cutoff + "T00:00:00")
    val rows = Tables(spark, sfDir()).lineitem
      .select("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate").collect()
      .filter(!_.getAs[java.time.LocalDateTime]("l_shipdate").isAfter(cutoff))
    val ref = rows.groupBy(x => (x.getString(0), x.getString(1))).map {
      case ((rf, ls), g) =>
        val n = g.length
        def sum(f: org.apache.spark.sql.Row => JBD): JBD =
          g.map(f).reduce(_.add(_))
        val sq = sum(x => r(x.getDouble(2), 2))
        val sb = sum(x => r(x.getDouble(3), 2))
        val sd = sum(x => r(x.getDouble(3) * (1 - x.getDouble(4)), 4))
        val sc = sum(x => r(x.getDouble(3) * (1 - x.getDouble(4))
          * (1 + x.getDouble(5)), 6))
        val sdisc = sum(x => r(x.getDouble(4), 4))
        def avg6(s: JBD) = JBD.valueOf(s.doubleValue() / n)
          .setScale(6, RM.HALF_UP).doubleValue()
        (rf, ls, sq.doubleValue(), sb.doubleValue(), sd.doubleValue(),
          sc.doubleValue(), avg6(sq), avg6(sb), avg6(sdisc), n.toLong)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = Olap.q179TpchQ1(spark, sfDir())
      .as[(String, String, Double, Double, Double, Double, Double, Double,
        Double, Long)].collect().toSeq
    assert(got == ref)
    assert(got.nonEmpty)
  }

  test("tpch q6: revenue == scalar decimal reference") {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    val lo = java.time.LocalDateTime.parse(Olap.Q6Year + "-01-01T00:00:00")
    val hi = lo.plusYears(1)
    val rows = Tables(spark, sfDir()).lineitem
      .select("l_extendedprice", "l_discount", "l_quantity", "l_shipdate")
      .collect()
      .filter { x =>
        val d = x.getAs[java.time.LocalDateTime]("l_shipdate")
        !d.isBefore(lo) && d.isBefore(hi) &&
          x.getDouble(1) >= 0.05 && x.getDouble(1) <= 0.07 &&
          x.getDouble(2) < 24
      }
    val ref = rows.map(x => JBD.valueOf(x.getDouble(0) * x.getDouble(1))
        .setScale(4, RM.HALF_UP))
      .foldLeft(JBD.ZERO)(_.add(_)).doubleValue()
    val got = Olap.q180TpchQ6(spark, sfDir()).collect()(0).getDouble(0)
    assert(got == ref)
    assert(got > 0.0)
  }

  test("tpch q4: each order counted once regardless of late-line multiplicity") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir())
    // reference: per-order any-late flag computed row-at-a-time
    val lines = t.lineitem.select("l_orderkey", "l_shipdate").collect()
      .groupBy(_.getLong(0))
    val ref = t.orders
      .select("o_orderkey", "o_orderdate", "o_orderpriority").collect()
      .filter { o =>
        val d = o.getAs[java.time.LocalDateTime]("o_orderdate")
        val lo = java.time.LocalDateTime.parse(Olap.Q4Start + "T00:00:00")
        val hi = java.time.LocalDateTime.parse(Olap.Q4End + "T00:00:00")
        !d.isBefore(lo) && d.isBefore(hi) &&
          lines.getOrElse(o.getLong(0), Array.empty).exists { l =>
            l.getAs[java.time.LocalDateTime]("l_shipdate").toLocalDate
              .isAfter(d.toLocalDate.plusDays(Olap.Q4LateDays))
          }
      }
      .groupBy(_.getString(2)).view.mapValues(_.length.toLong).toMap
    val got = Olap.q184TpchQ4(spark, sfDir()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == ref)
    assert(got.values.sum > 0)
  }

  test("tpch q14: promo share == scalar decimal reference and sits in (0,100)") {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    val t = Tables(spark, sfDir())
    val promo = t.part.collect()
      .filter(_.getAs[String]("p_type").startsWith("PROMO"))
      .map(_.getAs[Long]("p_partkey")).toSet
    val lo = java.time.LocalDateTime.parse(Olap.Q14Month + "-01T00:00:00")
    val hi = lo.plusMonths(1)
    val rows = t.lineitem
      .select("l_partkey", "l_extendedprice", "l_discount", "l_shipdate")
      .collect()
      .filter { x =>
        val d = x.getAs[java.time.LocalDateTime]("l_shipdate")
        !d.isBefore(lo) && d.isBefore(hi)
      }
    var tot = JBD.ZERO; var pro = JBD.ZERO
    rows.foreach { x =>
      val r = JBD.valueOf(x.getDouble(1) * (1.0 - x.getDouble(2)))
        .setScale(4, RM.HALF_UP)
      tot = tot.add(r)
      if (promo(x.getLong(0))) pro = pro.add(r)
    }
    val row = Olap.q185TpchQ14(spark, sfDir()).collect()(0)
    assert(row.getDouble(1) == tot.doubleValue())
    val refPct = JBD.valueOf(100.0 * pro.doubleValue() / tot.doubleValue())
      .setScale(6, RM.HALF_UP).doubleValue()
    assert(row.getDouble(0) == refPct)
    assert(row.getDouble(0) > 0.0 && row.getDouble(0) < 100.0)
  }

  test("tpch q18: every reported order clears the threshold and the cut is exact") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir())
    val got = Olap.q186TpchQ18(spark, sfDir()).collect()
    assert(got.nonEmpty && got.length <= 100)
    assert(got.forall(_.getDouble(5) > Olap.Q18MinQty))
    // exact per-order quantity recomputed independently
    val qty = t.lineitem.select("l_orderkey", "l_quantity").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => BigDecimal(r.getDouble(1)).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble).toMap
    got.foreach { r =>
      assert(qty(r.getLong(2)) == r.getDouble(5), s"order ${r.getLong(2)}")
    }
    // nothing above the threshold was dropped (result below the limit cap)
    if (got.length < 100)
      assert(qty.values.count(_ > Olap.Q18MinQty) == got.length)
    // ordering contract: o_totalprice desc
    val prices = got.map(_.getDouble(4)).toSeq
    assert(prices == prices.sorted.reverse)
  }

  test("tpch q7: direction-resolved pair revenue == scalar reference") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir())
    val suppNation = t.supplier.join(t.nation,
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val custNation = t.customer.join(t.nation,
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val orderCust = t.orders.select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lo = java.time.LocalDateTime.parse(Olap.Q7Start + "T00:00:00")
    val hi = java.time.LocalDateTime.parse(Olap.Q7End + "T00:00:00")
    var ref = Map.empty[(String, String, Long), BigDecimal]
    t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice",
        "l_discount", "l_shipdate").collect().foreach { x =>
      val d = x.getAs[java.time.LocalDateTime]("l_shipdate")
      if (!d.isBefore(lo) && d.isBefore(hi)) {
        val sn = suppNation(x.getLong(1))
        val cn = custNation(orderCust(x.getLong(0)))
        val dirOk =
          (sn == Olap.Q7NationA && cn == Olap.Q7NationB) ||
            (sn == Olap.Q7NationB && cn == Olap.Q7NationA)
        if (dirOk) {
          val k = (sn, cn, d.getYear.toLong)
          val r = BigDecimal(x.getDouble(2) * (1.0 - x.getDouble(3)))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP)
          ref = ref.updated(k, ref.getOrElse(k, BigDecimal(0)) + r)
        }
      }
    }
    val got = Olap.q196TpchQ7(spark, sfDir()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(got.keySet == ref.keySet && got.nonEmpty)
    ref.foreach { case (k, v) => assert(got(k) == v.toDouble, s"$k") }
    // both directions must be distinguishable in the output
    assert(got.keys.map(k => (k._1, k._2)).toSet.size >= 1)
  }

  test("tpch q8: market share sits in [0,1] and equals the scalar ratio") {
    import org.apache.spark.sql.functions.col
    val got = Olap.q197TpchQ8(spark, sfDir()).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) > 0.0)
    }
    // independent recompute of one year's share via DataFrame algebra
    // restricted to the same predicates (trusting only raw tables)
    val t = Tables(spark, sfDir())
    val base = t.lineitem
      .join(t.part.filter(col("p_type") === Olap.Q8Type), col("l_partkey") === col("p_partkey"))
      .join(t.orders.filter(col("o_orderdate") >= Olap.Q8Start &&
        col("o_orderdate") < Olap.Q8End), col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.nation.as("cn"), col("c_nationkey") === col("cn.n_nationkey"))
      .join(t.region.filter(col("r_name") === Olap.Q8Region),
        col("cn.n_regionkey") === col("r_regionkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(t.nation.as("sn"), col("s_nationkey") === col("sn.n_nationkey"))
      .select(col("o_orderdate"), col("sn.n_name").as("supp_n"),
        col("l_extendedprice"), col("l_discount")).collect()
    val years = base.map(_.getAs[java.time.LocalDateTime]("o_orderdate").getYear.toLong).distinct
    years.foreach { y =>
      val rows = base.filter(_.getAs[java.time.LocalDateTime]("o_orderdate").getYear.toLong == y)
      def s(f: org.apache.spark.sql.Row => Boolean) =
        rows.filter(f).map(x => BigDecimal(x.getDouble(2) * (1.0 - x.getDouble(3)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
      val share = BigDecimal(s(_.getString(1) == Olap.Q8Nation).toDouble /
        s(_ => true).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val r = got.find(_.getLong(0) == y).get
      assert(r.getDouble(1) == share, s"year $y")
    }
  }

  test("tpch q13: count-of-counts conserves customers and orders") {
    val t = Tables(spark, sfDir())
    val got = Olap.q201TpchQ13(spark, sfDir()).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // Σ custdist = n_customers (the LEFT OUTER keeps orderless ones)
    assert(got.map(_._2).sum == t.customer.count())
    // Σ c_count·custdist = n_orders (every order counted exactly once)
    assert(got.map { case (c, d) => c * d }.sum == t.orders.count())
    // histogram buckets are distinct
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("tpch q22: lapsed high-balance customers — scalar threshold and anti-join") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir())
    val cust = t.customer
      .select("c_custkey", "c_nationkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val pos = cust.map(_._3).filter(_ > 0.0)
    val thr = pos.map(v => BigDecimal(v).setScale(2,
      BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / pos.length
    val cutoff = java.time.LocalDateTime.parse(Olap.Q22Cutoff + "T00:00:00")
    val active = t.orders.select("o_custkey", "o_orderdate").collect()
      .filter(!_.getAs[java.time.LocalDateTime]("o_orderdate").isBefore(cutoff))
      .map(_.getLong(0)).toSet
    val refRows = cust.filter(c => c._3 > thr && !active(c._1))
    val ref = refRows.groupBy(_._2).view.mapValues { rs =>
      (rs.length.toLong, rs.map(r => BigDecimal(r._3).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
    }.toMap
    val got = Olap.q202TpchQ22(spark, sfDir()).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == ref.keySet && got.nonEmpty)
    ref.foreach { case (nk, v) => assert(got(nk) == v, s"nation $nk") }
  }

  private def asLong(r: org.apache.spark.sql.Row, name: String): Long =
    r.getAs[Number](name).longValue

  private def dec(v: Double, scale: Int): BigDecimal =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP)

  test("tpch q15: max-revenue supplier(s) == scalar decimal reference") {
    val lo = java.time.LocalDateTime.parse(Olap.Q15Start + "T00:00:00")
    val hi = java.time.LocalDateTime.parse(Olap.Q15End + "T00:00:00")
    val rev = Tables(spark, sfDir()).lineitem
      .select("l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .collect()
      .filter { x =>
        val d = x.getAs[java.time.LocalDateTime]("l_shipdate")
        !d.isBefore(lo) && d.isBefore(hi)
      }
      .groupBy(x => asLong(x, "l_suppkey")).view.mapValues(_.map(x =>
        dec(x.getAs[Double]("l_extendedprice") *
          (1.0 - x.getAs[Double]("l_discount")), 4)).sum).toMap
    val mx = rev.values.max
    val expect = rev.filter(_._2 == mx).keySet
    val got = Olap.q205TpchQ15(spark, sfDir()).collect()
    assert(got.map(r => asLong(r, "s_suppkey")).toSet == expect)
    got.foreach(r => assert(r.getAs[Double]("total_revenue") == mx.toDouble))
    assert(got.nonEmpty)
  }

  test("tpch q17: small-quantity revenue == scalar reference") {
    val t = Tables(spark, sfDir())
    val pk = t.part.collect().filter(p =>
        p.getAs[String]("p_brand") == Olap.Q17Brand &&
        p.getAs[String]("p_type") == Olap.Q17Type)
      .map(p => asLong(p, "p_partkey")).toSet
    val li = t.lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
      .collect().filter(x => pk(asLong(x, "l_partkey")))
    val avgQ = li.groupBy(x => asLong(x, "l_partkey")).view.mapValues { rs =>
      rs.map(r => dec(r.getAs[Double]("l_quantity"), 2)).sum.toDouble / rs.length
    }.toMap
    val ref = li.filter(x => x.getAs[Double]("l_quantity") <
        0.2 * avgQ(asLong(x, "l_partkey")))
      .map(x => dec(x.getAs[Double]("l_extendedprice"), 2))
      .sum.toDouble / 7.0
    val got = Olap.q206TpchQ17(spark, sfDir()).collect()(0)
    if (li.nonEmpty)
      assert(got.getAs[Double]("avg_yearly") ==
        dec(ref, 4).toDouble || (ref == 0.0 && got.isNullAt(0)))
  }

  test("tpch q19: disjunctive-band revenue == scalar reference") {
    val t = Tables(spark, sfDir())
    val parts = t.part.collect().map(p => asLong(p, "p_partkey") ->
      ((p.getAs[String]("p_brand"), asLong(p, "p_size")))).toMap
    val ref = t.lineitem
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .collect()
      .filter { x =>
        val (b, sz) = parts(asLong(x, "l_partkey"))
        val q = x.getAs[Double]("l_quantity")
        (b == "Brand#12" && sz >= 1 && sz <= 10 && q >= 1 && q <= 11) ||
        (b == "Brand#15" && sz >= 11 && sz <= 25 && q >= 10 && q <= 20) ||
        (b == "Brand#24" && sz >= 26 && sz <= 50 && q >= 20 && q <= 30)
      }
      .map(x => dec(x.getAs[Double]("l_extendedprice") *
        (1.0 - x.getAs[Double]("l_discount")), 4))
      .sum.toDouble
    val got = Olap.q207TpchQ19(spark, sfDir()).collect()(0)
    if (!got.isNullAt(0)) assert(got.getAs[Double]("revenue") == ref)
  }

  test("tpch q11: every reported part clears the mean-multiple threshold, none missed") {
    val t = Tables(spark, sfDir())
    val regKeys = t.region.collect()
      .filter(_.getAs[String]("r_name") == Olap.Q11Region)
      .map(r => asLong(r, "r_regionkey")).toSet
    val region = t.nation.collect()
      .filter(r => regKeys(asLong(r, "n_regionkey")))
      .map(r => asLong(r, "n_nationkey")).toSet
    val supp = t.supplier.collect()
      .filter(r => region(asLong(r, "s_nationkey")))
      .map(r => asLong(r, "s_suppkey")).toSet
    val value = t.lineitem
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .collect().filter(x => supp(asLong(x, "l_suppkey")))
      .groupBy(x => asLong(x, "l_partkey")).view.mapValues(_.map(x =>
        dec(x.getAs[Double]("l_extendedprice") *
          (1.0 - x.getAs[Double]("l_discount")), 4)).sum).toMap
    val thr = value.values.sum.toDouble / value.size * Olap.Q11MeanMult
    val expect = value.filter(_._2.toDouble > thr)
    val got = Olap.q208TpchQ11(spark, sfDir()).collect()
      .map(r => asLong(r, "p_partkey") -> r.getAs[Double]("value")).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (k, v) => assert(got(k) == v.toDouble) }
    assert(got.nonEmpty, "threshold must be non-degenerate at this SF")
  }

  test("tpch q16: supplier counts == distinct-pair reference, exclusions applied") {
    val t = Tables(spark, sfDir())
    val bad = t.supplier.collect().filter(_.getAs[Double]("s_acctbal") < 0)
      .map(r => asLong(r, "s_suppkey")).toSet
    val sizes = Olap.Q16Sizes.map(_.toLong).toSet
    val pmeta = t.part.collect().map(p => asLong(p, "p_partkey") ->
      ((p.getAs[String]("p_brand"), p.getAs[String]("p_type"),
        asLong(p, "p_size")))).toMap
    val ref = t.lineitem.select("l_partkey", "l_suppkey").collect()
      .map(x => (asLong(x, "l_partkey"), asLong(x, "l_suppkey"))).distinct
      .filter { case (pk, sk) =>
        val (b, ty, sz) = pmeta(pk)
        !bad(sk) && b != Olap.Q16ExcludedBrand &&
          !ty.startsWith("PROMO") && sizes(sz)
      }
      .groupBy { case (pk, _) => pmeta(pk) }.view
      .mapValues(_.map(_._2).distinct.length.toLong).toMap
    val got = Olap.q209TpchQ16(spark, sfDir()).collect()
      .map(r => (r.getAs[String]("p_brand"), r.getAs[String]("p_type"),
        asLong(r, "p_size")) -> r.getAs[Long]("supplier_cnt")).toMap
    assert(got == ref && got.nonEmpty)
  }

  test("tpch q21: per-order aggregate form == correlated exists/not-exists reference") {
    val t = Tables(spark, sfDir())
    val odate = t.orders.collect()
      .filter(_.getAs[String]("o_orderstatus") == "F")
      .map(o => asLong(o, "o_orderkey") ->
        o.getAs[java.time.LocalDateTime]("o_orderdate").toLocalDate).toMap
    val byOrder = t.lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
      .collect().filter(x => odate.contains(asLong(x, "l_orderkey")))
      .groupBy(x => asLong(x, "l_orderkey"))
    // the literal benchmark semantics, supplier by supplier: s is
    // charged for order o iff s shipped late in o AND there EXISTS a
    // line of o from another supplier AND there does NOT EXIST a LATE
    // line of o from another supplier
    val ref = byOrder.toSeq.flatMap { case (ok, lines) =>
      val d = odate(ok)
      def late(x: org.apache.spark.sql.Row) =
        x.getAs[java.time.LocalDateTime]("l_shipdate").toLocalDate
          .isAfter(d.plusDays(Olap.Q4LateDays))
      val supps = lines.map(x => asLong(x, "l_suppkey")).distinct
      supps.filter { sVal =>
        lines.exists(x => asLong(x, "l_suppkey") == sVal && late(x)) &&
        lines.exists(x => asLong(x, "l_suppkey") != sVal) &&
        !lines.exists(x => asLong(x, "l_suppkey") != sVal && late(x))
      }
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Olap.q210TpchQ21(spark, sfDir()).collect()
      .map(r => asLong(r, "s_suppkey") -> r.getAs[Long]("numwait")).toMap
    assert(got == ref && got.nonEmpty)
  }

  test("tpch q9: nation-year profit == scalar decimal reference") {
    val t = Tables(spark, sfDir())
    val pmeta = t.part.collect()
      .filter(_.getAs[String]("p_type") == Olap.Q9Type)
      .map(p => asLong(p, "p_partkey") -> p.getAs[Double]("p_retailprice")).toMap
    val oyear = t.orders.collect().map(o => asLong(o, "o_orderkey") ->
      o.getAs[java.time.LocalDateTime]("o_orderdate").getYear.toLong).toMap
    val snat = t.supplier.collect().map(r =>
      asLong(r, "s_suppkey") -> asLong(r, "s_nationkey")).toMap
    val nname = t.nation.collect().map(r =>
      asLong(r, "n_nationkey") -> r.getAs[String]("n_name")).toMap
    val ref = t.lineitem
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .collect().filter(x => pmeta.contains(asLong(x, "l_partkey")))
      .groupBy(x => (nname(snat(asLong(x, "l_suppkey"))),
        oyear(asLong(x, "l_orderkey")))).view
      .mapValues(_.map { x =>
        dec(x.getAs[Double]("l_extendedprice") *
          (1.0 - x.getAs[Double]("l_discount")), 4) -
        dec(0.5 * pmeta(asLong(x, "l_partkey")) *
          x.getAs[Double]("l_quantity"), 4)
      }.sum.toDouble).toMap
    val got = Olap.q211TpchQ9(spark, sfDir()).collect()
      .map(r => (r.getAs[String]("nation"), r.getAs[Long]("o_year")) ->
        r.getAs[Double]("sum_profit")).toMap
    assert(got == ref && got.nonEmpty)
  }

  test("tpch q12: latency bands conserve the year's lines and split by priority") {
    val t = Tables(spark, sfDir())
    val lo = java.time.LocalDateTime.parse(Olap.Q12Year + "-01-01T00:00:00")
    val hi = lo.plusYears(1)
    val orders = t.orders.collect()
      .filter { o =>
        val d = o.getAs[java.time.LocalDateTime]("o_orderdate")
        !d.isBefore(lo) && d.isBefore(hi)
      }
      .map(o => asLong(o, "o_orderkey") ->
        ((o.getAs[java.time.LocalDateTime]("o_orderdate").toLocalDate,
          o.getAs[String]("o_orderpriority")))).toMap
    val ref = t.lineitem.select("l_orderkey", "l_shipdate").collect()
      .flatMap { x =>
        orders.get(asLong(x, "l_orderkey")).map { case (d, prio) =>
          val days = java.time.temporal.ChronoUnit.DAYS.between(d,
            x.getAs[java.time.LocalDateTime]("l_shipdate").toLocalDate)
          val band = if (days <= 30) "FAST"
            else if (days <= 90) "NORMAL" else "LATE"
          val hiPrio = prio == "1-URGENT" || prio == "2-HIGH"
          (band, hiPrio)
        }
      }
      .groupBy(_._1).view.mapValues(rs =>
        (rs.count(_._2).toLong, rs.count(!_._2).toLong)).toMap
    val got = Olap.q212TpchQ12(spark, sfDir()).collect()
      .map(r => r.getAs[String]("latency_band") ->
        ((r.getAs[Long]("high_line_count"), r.getAs[Long]("low_line_count"))))
      .toMap
    assert(got == ref && got.nonEmpty)
  }

  test("tpch q2: min-cost join-back == correlated-min scalar reference") {
    val t = Tables(spark, sfDir())
    val regKeys = t.region.collect()
      .filter(_.getAs[String]("r_name") == Olap.Q2Region)
      .map(r => asLong(r, "r_regionkey")).toSet
    val nat = t.nation.collect()
      .filter(n => regKeys(asLong(n, "n_regionkey")))
      .map(n => asLong(n, "n_nationkey")).toSet
    val suppName = t.supplier.collect()
      .filter(s => nat(asLong(s, "s_nationkey")))
      .map(s => asLong(s, "s_suppkey") -> s.getAs[String]("s_name")).toMap
    val pk = t.part.collect().filter { p =>
      val sz = asLong(p, "p_size")
      p.getAs[String]("p_type") == Olap.Q2Type &&
        sz >= Olap.Q2SizeLo && sz <= Olap.Q2SizeHi
    }.map(p => asLong(p, "p_partkey")).toSet
    val cost = t.lineitem
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .collect()
      .filter(x => pk(asLong(x, "l_partkey")) &&
        suppName.contains(asLong(x, "l_suppkey")))
      .groupBy(x => (asLong(x, "l_partkey"), asLong(x, "l_suppkey"))).view
      .mapValues(_.map(x => x.getAs[Double]("l_extendedprice") /
        x.getAs[Double]("l_quantity")).min).toMap
    val minPer = cost.groupBy(_._1._1).view.mapValues(_.values.min).toMap
    val expect = cost.collect {
      case ((p, s), c) if c == minPer(p) => (p, suppName(s)) -> c
    }.toMap
    // at this SF the full answer is far below the top-100 cut, so the
    // limit is inert and set equality is the complete check
    assert(expect.size <= 100, "reference outgrew the limit — pick a smaller slice")
    val got = Olap.q213TpchQ2(spark, sfDir()).collect()
      .map(r => (asLong(r, "p_partkey"), r.getAs[String]("s_name")) ->
        r.getAs[Double]("supply_cost")).toMap
    assert(got.keySet == expect.keySet && got.nonEmpty)
    expect.foreach { case (k, c) => assert(got(k) == c, s"pair $k") }
  }

  test("tpch q20: promo-year availability filter == nested-agg scalar reference") {
    val t = Tables(spark, sfDir())
    val regKeys = t.region.collect()
      .filter(_.getAs[String]("r_name") == Olap.Q20Region)
      .map(r => asLong(r, "r_regionkey")).toSet
    val nat = t.nation.collect()
      .filter(n => regKeys(asLong(n, "n_regionkey")))
      .map(n => asLong(n, "n_nationkey")).toSet
    val supp = t.supplier.collect()
      .filter(s => nat(asLong(s, "s_nationkey")))
      .map(s => asLong(s, "s_suppkey")).toSet
    val pk = t.part.collect()
      .filter(_.getAs[String]("p_name").endsWith(Olap.Q20Suffix))
      .map(p => asLong(p, "p_partkey")).toSet
    val lo = java.time.LocalDateTime.parse(s"${Olap.Q20Year}-01-01T00:00:00")
    val hi = lo.plusYears(1)
    val expect = t.lineitem
      .select("l_partkey", "l_suppkey", "l_shipdate", "l_quantity")
      .collect()
      .filter(x => pk(asLong(x, "l_partkey")) && supp(asLong(x, "l_suppkey")))
      .groupBy(x => (asLong(x, "l_suppkey"), asLong(x, "l_partkey"))).view
      .mapValues { rs =>
        val (in, out) = rs.partition { x =>
          val d = x.getAs[java.time.LocalDateTime]("l_shipdate")
          !d.isBefore(lo) && d.isBefore(hi)
        }
        (in.map(x => dec(x.getAs[Double]("l_quantity"), 2)).sum,
          out.map(x => dec(x.getAs[Double]("l_quantity"), 2)).sum)
      }
      .collect { case ((s, _), (inQ, outQ))
        if inQ > 0 && outQ > Olap.Q20Mult * inQ => s }
      .toSet
    val got = Olap.q214TpchQ20(spark, sfDir()).collect()
      .map(r => asLong(r, "s_suppkey")).toSet
    assert(got == expect && got.nonEmpty)
  }
}
