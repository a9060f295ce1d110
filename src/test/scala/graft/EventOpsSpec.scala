package graft

import graft.operators.EventOps

class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000000L // µs per hour
  private val D = 86400000000L

  test("funnel: stages require strictly increasing times per user") {
    // user 1: clean view→click→purchase; user 2: click precedes the
    // first view, so stage 2 must use the LATER click; no purchase
    // after it → drops at stage 3
    val e = Seq(
      (1L, "view", 1L * H), (1L, "click", 2L * H), (1L, "purchase", 3L * H),
      (2L, "click", 1L * H), (2L, "view", 2L * H), (2L, "click", 5L * H),
      (2L, "purchase", 4L * H))
      .toDF("user_id", "event_type", "ts_us")
    val out = EventOps.funnel(e).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("stage1_view") == ((2L, 0L)))
    assert(out("stage2_click") == ((2L, (1L + 3L) * H)))
    assert(out("stage3_purchase") == ((1L, 2L * H)))
  }

  test("retention: cohort day is first-seen, offsets count returning users") {
    val e = Seq(
      (1L, "view", 0L * D), (1L, "view", 1L * D + 5L), (1L, "click", 3L * D),
      (2L, "view", 1L * D), (2L, "view", 1L * D + 7L), (2L, "click", 2L * D))
      .toDF("user_id", "event_type", "ts_us")
    val out = EventOps.retention(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((0L, 0L, 1L), (0L, 1L, 1L), (0L, 3L, 1L),
      (1L, 0L, 1L), (1L, 1L, 1L)))
  }

  test("anomalies: a spike after a steady trail is flagged, warmup scores zero") {
    // hours 0..23 alternate 9/11 events (mean 10, variance 1); hour 24
    // spikes to 100 → z = 90
    val rows = (0 until 24).flatMap { h =>
      val n = if (h % 2 == 0) 9 else 11
      (0 until n).map(i => (1L, "view", h * H + i * 1000L))
    } ++ (0 until 100).map(i => (1L, "view", 24 * H + i * 1000L))
    val out = EventOps.anomalies(rows.toDF("user_id", "event_type", "ts_us"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(24L) == ((100L, 90.0, true)))
    (0L to 11L).foreach(h => assert(out(h)._2 == 0.0, s"warmup hour $h"))
    assert(out(12L)._2 == -1.0 && !out(12L)._3)
  }

  test("hopping windows: an event lands in size/hop windows, clamped at zero") {
    val e = Seq((1L, "view", 2L * H + 5L)).toDF("user_id", "event_type", "ts_us")
    val out = EventOps.hoppingWindow(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 1L, 1L), (1L, 1L, 1L), (2L, 1L, 1L)))
    val late = Seq((1L, "view", 10L * H)).toDF("user_id", "event_type", "ts_us")
    assert(EventOps.hoppingWindow(late).collect()
      .map(_.getLong(0)).toSeq == (5L to 10L).toSeq)
  }

  test("transitions: consecutive pairs per user, probabilities row-normalize") {
    // user 1: view→click→view→click ; user 2: view→purchase
    // pairs: view→click ×2, click→view ×1, view→purchase ×1
    val e = Seq(
      (1L, 1L, "view", 1L * H), (2L, 1L, "click", 2L * H),
      (3L, 1L, "view", 3L * H), (4L, 1L, "click", 4L * H),
      (5L, 2L, "view", 1L * H), (6L, 2L, "purchase", 2L * H))
      .toDF("event_id", "user_id", "event_type", "ts_us")
    val out = EventOps.transitions(e).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      ("view", "click") -> ((2L, 0.666667)),
      ("view", "purchase") -> ((1L, 0.333333)),
      ("click", "view") -> ((1L, 1.0))))
    // probabilities row-normalize exactly
    out.keys.groupBy(_._1).foreach { case (src, ks) =>
      val s = ks.map(out(_)._2).sum
      assert(math.abs(s - 1.0) < 1e-5, s"$src rows sum to $s")
    }
  }

  test("journey paths: trigrams slide per user, never cross users") {
    // user 1: v c v c → trigrams vcv, cvc ; user 2: v p (too short)
    val e = Seq(
      (1L, 1L, "view", 1L * H), (2L, 1L, "click", 2L * H),
      (3L, 1L, "view", 3L * H), (4L, 1L, "click", 4L * H),
      (5L, 2L, "view", 1L * H), (6L, 2L, "purchase", 2L * H))
      .toDF("event_id", "user_id", "event_type", "ts_us")
    val out = EventOps.journeyPaths(e, 20).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(out == Map(
      ("view", "click", "view") -> 1L,
      ("click", "view", "click") -> 1L))
  }

  test("scd2: consecutive repeats compress, intervals tile each user's timeline") {
    // user 1: view view click view  → intervals view[1,3) click[3,4) view[4,∞)
    // user 2: click                 → click[5,∞)
    val e = Seq(
      (1L, 1L, "view", 1L * H), (2L, 1L, "view", 2L * H),
      (3L, 1L, "click", 3L * H), (4L, 1L, "view", 4L * H),
      (5L, 2L, "click", 5L * H))
      .toDF("event_id", "user_id", "event_type", "ts_us")
    val out = EventOps.scd2Intervals(e).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, "view", 1L * H, 3L * H, false),
      (1L, "click", 3L * H, 4L * H, false),
      (1L, "view", 4L * H, -1L, true),
      (2L, "click", 5L * H, -1L, true)))
    // intervals tile: each valid_to equals the next valid_from
    out.groupBy(_._1).values.foreach { iv =>
      iv.sortBy(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, "intervals must tile")
        case _ =>
      }
    }
  }

  test("gap fill: spans tile densely, gaps carry the last value forward") {
    // key "a": days 10, 13, 14 observed (gap 11-12); key "b": single
    // day (no gaps, span of one). The sf testdata is gap-free at small
    // SFs, so the gap path is exercised here.
    val actuals = Seq(
      ("a", 10L, 3L, 1.5), ("a", 13L, 1L, 9.25), ("a", 14L, 2L, 4.0),
      ("b", 7L, 5L, 2.5))
      .toDF("k", "d", "n", "vmax")
    val out = EventOps.gapFillDaily(actuals).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out.keySet == ((10L to 14L).map(("a", _)) :+ (("b", 7L))).toSet,
      "every day of each key's span, and nothing outside it")
    assert(out(("a", 10L)) == ((3L, 1.5, false)))
    assert(out(("a", 11L)) == ((0L, 1.5, true)), "gap fills from day 10")
    assert(out(("a", 12L)) == ((0L, 1.5, true)))
    assert(out(("a", 13L)) == ((1L, 9.25, false)), "observation overrides fill")
    assert(out(("a", 14L)) == ((2L, 4.0, false)))
    assert(out(("b", 7L)) == ((5L, 2.5, false)))
  }

  test("q125 z-test matches a hand computation and reconciles") {
    // arm 0 (even users): 4 clicks, 2 views; arm 1 (odd): 2 clicks, 4 views
    val e = Seq(
      (2L, "click"), (2L, "click"), (4L, "click"), (4L, "click"),
      (2L, "view"), (4L, "view"),
      (1L, "click"), (3L, "click"),
      (1L, "view"), (1L, "view"), (3L, "view"), (3L, "view"))
      .toDF("user_id", "event_type")
    val out = EventOps.abLift(e).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val click = out("click")
    assert(click.getAs[Long]("x0") == 4 && click.getAs[Long]("n0") == 6)
    assert(click.getAs[Long]("x1") == 2 && click.getAs[Long]("n1") == 6)
    // hand: p0=2/3, p1=1/3, pooled=1/2, se=sqrt(.5*.5*(2/6))=0.288675
    assert(math.abs(click.getAs[Double]("lift") - (-0.333333)) < 1e-9)
    val z = (2.0 / 6 - 4.0 / 6) /
      math.sqrt(0.5 * 0.5 * (1.0 / 6 + 1.0 / 6))
    assert(math.abs(click.getAs[Double]("z") - math.rint(z * 1e6) / 1e6) < 1e-9)
    // symmetric design: view's z is the exact negation of click's
    assert(math.abs(out("view").getAs[Double]("z") +
      click.getAs[Double]("z")) < 1e-9)
    // per-arm counts reconcile to the arm totals
    assert(out.values.map(_.getAs[Long]("x0")).sum == 6)
    assert(out.values.map(_.getAs[Long]("x1")).sum == 6)
  }

  test("ewma: flat series predicts itself, a spike deviates and flags") {
    import spark.implicits._
    val hourly = ((1L to 13L).map(h => ("a", h, 10L)) :+ ("a", 14L, 40L))
      .toDF("event_type", "hour", "n_events")
    val out = graft.operators.EventOps.ewmaSeries(hourly).collect()
      .map(r => r.getAs[Long]("hour") ->
        ((r.getAs[Double]("ewma"), r.getAs[Double]("dev"),
          r.getAs[Boolean]("flagged")))).toMap
    // hour 1: no lags — ewma 0, unflagged by contract
    assert(out(1L) == ((0.0, 0.0, false)))
    // any constant-history hour: renormalized weighted mean of equal
    // values is exactly the value, dev 0 (hour 2 has ONE lag — the
    // renormalization, not zero-padding, is what makes this exact)
    (2L to 13L).foreach { h =>
      assert(out(h) == ((10.0, 0.0, false)), s"hour $h: ${out(h)}")
    }
    // the spike deviates by (40-10)/10 = 3x and flags
    assert(out(14L) == ((10.0, 3.0, true)))
  }

  test("autocorrelation: alternating series anticorrelates at lag 1, correlates at lag 2") {
    // period-2 series 1,9,1,9,... on a dense hour grid built from one
    // event in hour h per count unit — feed the public query path via
    // a synthetic frame shaped like ev()
    import spark.implicits._
    val e = (0L until 12L).flatMap { h =>
      val n = if (h % 2 == 0) 1L else 9L
      (0L until n).map(i => (1L, "a", h * 3600000000L + i))
    }.toDF("user_id", "event_type", "ts_us")
    val rows = graft.operators.EventOps.autocorrelation(e, 2).collect()
      .map(r => r.getAs[Long]("lag") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Double]("r")))).toMap
    assert(rows(1L)._1 == 11L)
    assert(rows(1L)._2 < -0.9, s"lag1 ${rows(1L)}") // alternation
    assert(rows(2L)._2 > 0.9, s"lag2 ${rows(2L)}")  // period restored
  }

  test("autocorrelation: constant series has zero variance -> null r") {
    import spark.implicits._
    val e = (0L until 6L).map(h => (1L, "c", h * 3600000000L))
      .toDF("user_id", "event_type", "ts_us")
    val rows = graft.operators.EventOps.autocorrelation(e, 1).collect()
    assert(rows.length == 1 && rows.head.isNullAt(3))
  }

  test("trending: rank flips carry the delta, first appearances stay null") {
    import spark.implicits._
    val us = 3600000000L
    // hour 0: a dominates; hour 9: b overtakes — windows 4..9 carry
    // the flipped ranks, window 4 has no adjacent predecessor
    val e = (Seq.fill(3)(("a", 0L)) ++ Seq(("b", 0L)) ++
      Seq(("a", 9L * us)) ++ Seq.fill(2)(("b", 9L * us)))
      .toDF("event_type", "ts_us")
    val rows = graft.operators.EventOps.trending(e).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(rows((0L, "a")) == ((1L, None)) && rows((0L, "b")) == ((2L, None)))
    assert(rows((4L, "b")) == ((1L, None)), "window 3 absent -> null prev")
    assert(rows((4L, "a")) == ((2L, None)))
    assert(rows((5L, "b")) == ((1L, Some(1L))) &&
      rows((9L, "a")) == ((2L, Some(2L))))
  }

  test("attribution: bookend models credit the right touches, lookback excludes stale ones") {
    import spark.implicits._
    val us = 1000000L
    // user 1: view@1s, click@2s, purchase@3s -> first=view, last=click
    // user 2: view 8 days before purchase -> outside lookback, unattributed
    // user 3: single click@1s, purchase@2s -> both models credit click
    val e = Seq(
      (101L, 1L, "view", 1L * us), (102L, 1L, "click", 2L * us),
      (103L, 1L, "purchase", 3L * us),
      (201L, 2L, "view", 0L),
      (202L, 2L, "purchase", 8L * 86400000000L),
      (301L, 3L, "click", 1L * us), (302L, 3L, "purchase", 2L * us))
      .toDF("event_id", "user_id", "event_type", "ts_us")
    val out = graft.operators.EventOps.attribution(e).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("first_touch", "view") -> 1L, ("first_touch", "click") -> 1L,
      ("last_touch", "click") -> 2L,
      ("unattributed", "none") -> 1L))
  }

  test("cusum: a mean shift peaks exactly at the shift point") {
    import spark.implicits._
    // 6 hours at 1/hour then 6 hours at 5/hour: positive CUSUM peaks
    // at the last hour; the drop direction peaks where the prefix of
    // low hours ends (hour 5) with value max_t(t*(mu - 1)) at t=6
    val e = (0L until 12L).flatMap { h =>
      val n = if (h < 6) 1L else 5L
      (0L until n).map(i => (1L, "s", h * 3600000000L + i))
    }.toDF("user_id", "event_type", "ts_us")
    val r = graft.operators.EventOps.cusum(e).collect().head
    assert(r.getAs[Long]("n_hours") == 12L)
    // mu = 3; down-side peak at the end of the low run: 6*(3-1) = 12
    assert(r.getAs[Long]("peak_hour_down") == 5L)
    assert(math.abs(r.getAs[Double]("peak_down") - 12.0) < 1e-9)
    // up-side peak accumulates over the high run to the last hour
    assert(r.getAs[Long]("peak_hour_up") == 11L)
    assert(math.abs(r.getAs[Double]("peak_up") - 12.0) < 1e-9)
  }

  test("q193: sketch matches scalar registers from DISTINCT users (dup idempotence)") {
    import org.apache.spark.sql.functions._
    // reference built from the DEDUPED (bucket, user) pairs — the
    // operator reads RAW events; equality proves register max is
    // idempotent under duplicate arrivals, the scale claim
    val pairs = Tables(spark, sfDir()).events
      .select(floor(expr("ts_us div 1000") / lit(3600000.0)).cast("long")
        .as("b"), col("user_id")).distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val ref = pairs.groupBy(_._1).map { case (b, us) =>
      val regs = new Array[Int](64)
      us.map(_._2).distinct.foreach { u =>
        val v = HllSpec.md5Prefix(u.toString, 1, 15)
        val bucket = (v >>> 54).toInt
        val w = v & ((1L << 54) - 1)
        val rho = if (w == 0) 55
          else 54 - (63 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > regs(bucket)) regs(bucket) = rho
      }
      val sumT = regs.map(m => 1L << (55 - m)).sum
      val z = regs.count(_ == 0)
      val raw = 0.709 * 64 * 64 * math.pow(2, 55) / sumT
      val est = if (raw <= 160.0 && z > 0) 64.0 * math.log(64.0 / z) else raw
      b -> (us.map(_._2).distinct.length.toLong,
        BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = EventOps.q193WindowedHllUsers(spark, sfDir()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == ref.keySet)
    ref.foreach { case (b, (exact, est)) =>
      assert(got(b)._1 == exact, s"bucket $b exact")
      assert(math.abs(got(b)._2 - est) < 1e-6, s"bucket $b estimate")
    }
    // tiny windows sit in the linear-counting regime and stay accurate
    val errs = got.map { case (b, (e, s)) => math.abs(s - e) / e }
    assert(errs.sum / errs.size < 0.15, "mean window error implausible for LC regime")
  }

  test("q195: maintained state equals recompute, scalars match a reference") {
    import org.apache.spark.sql.functions._
    val got = EventOps.q195DeltaAggMaintenance(spark, sfDir()).collect()
    assert(got.length == 5)
    // the operator's own in-plan proofs must hold
    got.foreach { r =>
      assert(r.getBoolean(6), s"${r.getString(0)} scalar merge not exact")
      assert(r.getBoolean(7), s"${r.getString(0)} register merge not exact")
    }
    // independent recompute of the scalar columns (decimal discipline)
    val rows = Tables(spark, sfDir()).events
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    rows.groupBy(_._1).foreach { case (t, vs) =>
      val r = got.find(_.getString(0) == t).get
      assert(r.getLong(1) == vs.length)
      val tot = vs.map { case (_, v) => BigDecimal(v).setScale(2,
        BigDecimal.RoundingMode.HALF_UP) }.sum.toDouble
      assert(r.getDouble(2) == tot, s"$t total")
      assert(r.getDouble(3) == vs.map(_._2).min && r.getDouble(4) == vs.map(_._2).max)
    }
  }
}
