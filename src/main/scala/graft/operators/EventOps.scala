package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Hll, Md5Prefix}

/** Batch event analytics over the events stream — the product-facing
  * query family (funnels, retention cohorts, hopping windows) that
  * complements the streaming operators in graft.streaming: same
  * table, pure DataFrame plans, each a classic large-scale pattern.
  *
  * Scale shape:
  *  - the funnel is K-1 stage joins keyed by user (each stage's
  *    frame is one conditional min agg — partial-agg friendly,
  *    monotonically shrinking);
  *  - retention is two aggs (first-seen day, active days) + one join
  *    keyed by user, output |cohorts|·|offsets| rows;
  *  - hopping windows explode each event into size/hop overlapping
  *    windows (a bounded constant, 6 here) then one partial-agg
  *    groupBy — exactly how Spark's own `window(size, slide)`
  *    expands, mirrored explicitly so the oracle can state it. */
object EventOps {

  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events.select(
      col("user_id"), col("event_type"), col("ts_us"))

  // ---------------------------------------------------------------- q80
  /** Ordered funnel view → click → purchase: a user reaches stage k
    * at the EARLIEST event of that type strictly after their stage
    * k−1 time. Reports users reaching each stage and the exact total
    * latency from stage 1 (integer µs — engine-exact). */
  val FunnelStages = Seq("view", "click", "purchase")

  def funnel(e: DataFrame): DataFrame = {
    val s1 = e.filter(col("event_type") === FunnelStages.head)
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
    var stages = List(("stage1_" + FunnelStages.head, s1.withColumn("t", col("t1"))))
    for ((tp, i) <- FunnelStages.tail.zipWithIndex) {
      val prev = stages.head._2
      val s = e.filter(col("event_type") === tp)
        .join(prev.select(col("user_id"), col("t1"), col("t").as("tprev")), "user_id")
        .filter(col("ts_us") > col("tprev"))
        .groupBy("user_id", "t1").agg(min(col("ts_us")).as("t"))
      stages = (s"stage${i + 2}_$tp", s) :: stages
    }
    stages.reverse.map { case (name, s) =>
      s.agg(count(lit(1)).as("n_users"),
        coalesce(sum(col("t") - col("t1")), lit(0L)).as("total_latency_us"))
        .select(lit(name).as("stage"), col("n_users"), col("total_latency_us"))
    }.reduce(_.unionByName(_)).orderBy("stage")
  }

  // ---------------------------------------------------------------- q81
  /** Retention cohorts: cohort = a user's first active day; for every
    * (cohort day, day offset) the number of cohort users active
    * again that day — the DAU-retention triangle. */
  def retention(e: DataFrame): DataFrame = {
    val days = e
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  // ---------------------------------------------------------------- q82
  /** Hopping-window counts (size 6 h, hop 1 h): every event lands in
    * size/hop = 6 overlapping windows; explode + one partial-agg
    * groupBy per window start — the batch statement of Spark's
    * `window(ts, '6 hours', '1 hour')` expansion. */
  val HopWindows = 6L // size / hop

  def hoppingWindow(e: DataFrame): DataFrame =
    e
      .withColumn("b", expr(s"ts_us div $HourUs"))
      .withColumn("w", explode(sequence(
        greatest(col("b") - lit(HopWindows - 1), lit(0L)), col("b"))))
      .groupBy(col("w").as("window_start_hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("window_start_hour")

  // ---------------------------------------------------------------- q92
  /** Trailing-window anomaly detection on the event stream: hourly
    * volumes scored against the previous [[AnomalyTrail]] hours'
    * mean/σ — the ops-monitoring z-score sweep. Engine-exact by
    * construction: the window aggregates are INTEGER moments (Σc,
    * Σc², n — exact at any accumulation order), mean/σ/z derive from
    * them in one fixed expression order, and the flag reads the
    * 6dp-rounded z. Warmup hours (fewer than [[AnomalyMinHours]]
    * trailing points) score 0. */
  val AnomalyTrail = 24
  val AnomalyMinHours = 12
  val AnomalyZ = 3.0

  def anomalies(e: DataFrame): DataFrame = {
    val hourly = e.groupBy(expr(s"ts_us div $HourUs").as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("hour").rowsBetween(-AnomalyTrail, -1)
    hourly
      .withColumn("n", count(col("cnt")).over(w))
      .withColumn("s1", sum(col("cnt")).over(w))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
      .withColumn("mean", col("s1").cast("double") / col("n"))
      .withColumn("variance",
        col("s2").cast("double") / col("n") - col("mean") * col("mean"))
      .withColumn("z",
        when(col("n") >= AnomalyMinHours && col("variance") > 0,
          round((col("cnt") - col("mean")) / sqrt(col("variance")), 6))
          .otherwise(lit(0.0)))
      .select(col("hour"), col("cnt").as("n_events"), col("z"),
        (abs(col("z")) > AnomalyZ).as("flagged"))
      .orderBy("hour")
  }

  def q92Anomalies(spark: SparkSession, dir: String): DataFrame =
    anomalies(ev(spark, dir))

  // ---------------------------------------------------------------- q135
  /** EWMA smoothing + deviation flags per event-type hourly series —
    * the exponential-smoothing companion to q92's trailing z-score
    * (level tracking vs outlier scoring, the two on-call dashboards).
    * The smoothed level for hour t is the truncated exponentially
    * weighted mean of the [[EwmaWindow]] PRECEDING observations
    * (α = [[EwmaAlpha]]), renormalized over the lags that exist so
    * early rows are unbiased rather than damped toward zero.
    *
    * Engine contract: the window is expanded into an EXPLICIT lag
    * chain summed in one fixed left-associated expression — both
    * engines evaluate the identical tree on identical doubles, so the
    * result is bit-equal without integer-moment tricks (the weights
    * round-trip through their shortest decimal form). The only
    * corpus-scale shuffle is the (type, hour) partial agg; the lag
    * window reshuffles just the aggregated |types|·|hours| relation
    * (repartitioning the raw stream by type alone would funnel the
    * corpus into |types| partitions — worse at scale). */
  val EwmaAlpha = 0.3
  val EwmaWindow = 12
  val EwmaDev = 0.25

  private[graft] def ewmaWeights: Seq[Double] =
    (1 to EwmaWindow).map(j => EwmaAlpha * math.pow(1 - EwmaAlpha, j - 1))

  def q135Ewma(spark: SparkSession, dir: String): DataFrame =
    ewmaSeries(ev(spark, dir)
      .groupBy(col("event_type"), expr(s"ts_us div $HourUs").as("hour"))
      .agg(count(lit(1)).as("n_events")))

  /** EWMA columns over an (event_type, hour, n_events) series. */
  private[graft] def ewmaSeries(hourly: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour")
    val lagged = (1 to EwmaWindow).foldLeft(hourly) { (acc, j) =>
      acc.withColumn(s"l$j", lag(col("n_events"), j).over(w))
    }
    val cs = ewmaWeights
    val num = (1 to EwmaWindow).map { j =>
      when(col(s"l$j").isNotNull, lit(cs(j - 1)) * col(s"l$j"))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    val den = (1 to EwmaWindow).map { j =>
      when(col(s"l$j").isNotNull, lit(cs(j - 1))).otherwise(lit(0.0))
    }.reduce(_ + _)
    lagged
      .withColumn("ewma",
        when(den > 0, round(num / den, 6)).otherwise(lit(0.0)))
      .withColumn("dev",
        when(den > 0, round((col("n_events") - num / den) / (num / den), 6))
          .otherwise(lit(0.0)))
      .withColumn("flagged", abs(col("dev")) > EwmaDev)
      .select(col("event_type"), col("hour"), col("n_events"),
        col("ewma"), col("dev"), col("flagged"))
      .orderBy("event_type", "hour")
  }

  // ---------------------------------------------------------------- q96
  /** Time-series regularization: turn an irregular per-key daily
    * series into a dense one. `actuals` is (k, d, n, vmax); the output
    * materializes EVERY day in each key's [min(d), max(d)] span —
    * missing days appear with n=0, is_gap=true, and `filled` carrying
    * the last preceding observation forward (exact copy of an input
    * double — no arithmetic, so fills hash identically in any engine).
    *
    * Scale shape: the span agg is one partial-aggregate pass; the grid
    * explode emits |keys|·span rows distributed across whatever
    * partitioning the spans had (never a driver-side range); the fill
    * is ONE window shuffled by key and sorted within partitions only.
    * A key whose span is pathologically long (years of daily rows) is
    * still only thousands of rows — gap-fill output is bounded by
    * keys × calendar, not by event volume. */
  def gapFillDaily(actuals: DataFrame): DataFrame = {
    val spans = actuals.groupBy("k").agg(min("d").as("d0"), max("d").as("d1"))
    val grid = spans.select(col("k"),
      explode(sequence(col("d0"), col("d1"))).as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("d")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(actuals, Seq("k", "d"), "left")
      .select(col("k"), col("d"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("vmax"), ignoreNulls = true).over(w).as("filled"),
        col("n").isNull.as("is_gap"))
  }

  // ---------------------------------------------------------------- q101
  /** Event-transition matrix (first-order Markov view of user
    * journeys): for each consecutive event pair within a user's
    * timeline, the transition count and the row-normalized
    * probability P(next | current) — the base table behind next-event
    * prediction and journey-drop-off analysis.
    *
    * Scale shape: ONE per-user ordered window (lead) builds the
    * consecutive pairs — shuffle keyed by user, sort within
    * partitions only — then a partial-agg count per (src, dst) and a
    * per-src normalizing window over the |types|² matrix (bounded,
    * never event-scale). The probability is one integer-ratio
    * division rounded to 6dp — engine-exact. */
  def transitions(e: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    val pairs = e
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src_type"), col("dst").as("dst_type"))
      .agg(count(lit(1)).as("n"))
    val norm = org.apache.spark.sql.expressions.Window.partitionBy("src_type")
    pairs
      .withColumn("prob", round(col("n") / sum(col("n")).over(norm), 6))
      .orderBy("src_type", "dst_type")
  }

  def q101Transitions(spark: SparkSession, dir: String): DataFrame =
    transitions(Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us")))

  // ---------------------------------------------------------------- q103
  /** SCD2 interval build — the slowly-changing-dimension shape every
    * warehouse derives from a change stream: per user, consecutive
    * repeats of the same state compress away, and each surviving
    * state change becomes a validity interval [valid_from, valid_to)
    * ending at the next change (open — NULL — for the current state).
    *
    * Scale shape: TWO passes over the same per-user ordered window
    * partitioning (lag to mark changes, lead over survivors for the
    * interval end) — Spark plans both sorts on one shuffle of the
    * user key; no self-join, no event-scale intermediate beyond the
    * input itself. Integer timestamps — engine-exact. */
  def scd2Intervals(e: DataFrame): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    val changes = e
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .withColumn("valid_to", lead(col("ts_us"), 1).over(byUser))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts_us").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  def q103Scd2(spark: SparkSession, dir: String): DataFrame =
    scd2Intervals(Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us")))

  /** q96: dense daily per-event-type series — event counts with gap
    * days at zero and the daily max value forward-filled across gaps. */
  def q96GapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events.select(col("event_type").as("k"),
      expr(s"ts_us div $DayUs").as("d"), col("value"))
    val actuals = e.groupBy("k", "d")
      .agg(count(lit(1)).as("n"), max(col("value")).as("vmax"))
    gapFillDaily(actuals)
      .select(col("k").as("event_type"), col("d").as("day"),
        col("n").as("n_events"), col("filled").as("filled_max"),
        col("is_gap"))
      .orderBy("event_type", "day")
  }

  def q80Funnel(spark: SparkSession, dir: String): DataFrame =
    funnel(ev(spark, dir))

  def q81Retention(spark: SparkSession, dir: String): DataFrame =
    retention(ev(spark, dir))

  def q82HoppingWindow(spark: SparkSession, dir: String): DataFrame =
    hoppingWindow(ev(spark, dir))

  // ---------------------------------------------------------------- q119
  /** Journey path mining: the top-[[PathTopK]] event-type TRIGRAMS
    * across all user timelines — the discovery companion to q101's
    * first-order matrix (q101 tells you P(next|current); this
    * surfaces the actual multi-step routes product analytics calls
    * "top paths", the input to funnel design rather than the check of
    * a funnel you already guessed). All-integer counts.
    *
    * Scale shape: ONE per-user ordered window produces both lookahead
    * steps (same single shuffle as q101 — two `lead`s share the
    * window), then a partial-agg count over the bounded |types|³
    * path space and a top-k sort of that tiny relation. */
  val PathTopK = 20

  def journeyPaths(e: DataFrame, topK: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    e.withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
        col("e3").as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1").asc, col("step2").asc,
        col("step3").asc)
      .limit(topK)
  }

  def q119JourneyPaths(spark: SparkSession, dir: String): DataFrame =
    journeyPaths(Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us")), PathTopK)

  // ---------------------------------------------------------------- q125
  /** Experiment lift readout: two-proportion z-test per event type
    * between the two user-parity arms (user_id % 2 stands in for the
    * assignment hash a real experiment framework would use — the
    * bucketing is a pure function of the user key, like every sampler
    * here). For each event type, "the event is of this type" is the
    * Bernoulli outcome per event; arms compare via the pooled
    * z = (p1−p0)/√(p̄(1−p̄)(1/n0+1/n1)). The entire input to the
    * float math is FOUR integers per row (x0,n0,x1,n1) from one
    * partial-agg pass — at 100 TB the scan dominates and the z math
    * is per-type constant work on a |types|-row relation.
    *
    * Engine contract: one fixed expression tree from the integers
    * (cast → ratio → pooled SE → z), every float surfaced 6dp. */
  def abLift(e: DataFrame): DataFrame = {
    val armed = e.withColumn("arm", (col("user_id") % 2).cast("int"))
    val totals = armed.groupBy().agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
    val byType = armed.groupBy("event_type").agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("x0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("x1"))
    val p0 = col("x0").cast("double") / col("n0")
    val p1 = col("x1").cast("double") / col("n1")
    val pp = (col("x0") + col("x1")).cast("double") / (col("n0") + col("n1"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
    byType.crossJoin(broadcast(totals))
      .select(col("event_type"), col("x0"), col("n0"), col("x1"), col("n1"),
        round(p0, 6).as("p0"), round(p1, 6).as("p1"),
        round(p1 - p0, 6).as("lift"),
        round((p1 - p0) / se, 6).as("z"))
      .orderBy("event_type")
  }

  def q125AbLift(spark: SparkSession, dir: String): DataFrame =
    abLift(Tables(spark, dir).events
      .select(col("user_id"), col("event_type")))

  // ------------------------------------------------------- q140 / q141
  /** Dense hourly count series per event type: every hour in the
    * type's [min, max] span, zero-filled — the regular grid the
    * series diagnostics (autocorrelation, CUSUM) are defined over.
    * Same shape as [[gapFillDaily]]: one partial-agg pass, a
    * calendar-bounded explode, one left join; the series length is
    * hours-of-history, never event volume. */
  private def denseHourly(e: DataFrame): DataFrame = {
    val hourly = e
      .groupBy(col("event_type"), expr(s"ts_us div $HourUs").as("hour"))
      .agg(count(lit(1)).as("x"))
    val grid = hourly.groupBy("event_type")
      .agg(min("hour").as("h0"), max("hour").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("hour"))
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("x"), lit(0L)).as("x"))
  }

  /** Lag-k autocorrelation (k = 1..[[AcfMaxLag]]) of each type's dense
    * hourly count series — the seasonality probe behind alert tuning
    * (a strong r at lag 24 means "daily rhythm, widen the baseline").
    *
    * Engine-exact by the cleared-denominator trick (same as the q117
    * assortativity moments): counts are integers, so every moment
    * (Σxy, Σx, Σy, Σx², Σy², n) is a BIGINT and
    * r = (nΣxy − ΣxΣy) / √(nΣx² − (Σx)²) / √(nΣy² − (Σy)²) touches
    * floats only in the final expression from six exact integers.
    * Degenerate series (zero variance) yield NULL in both engines.
    * At 100 TB the moments want DECIMAL(38) headroom — the series is
    * calendar-bounded, so the per-type pair count never is the
    * problem, only the count magnitudes.
    *
    * Scale shape: ONE window pass (all lags share the per-type sort)
    * over a calendar-bounded series, then a partial agg on
    * (type, lag) — |types|·maxLag output rows. */
  /** Lag budget reaches one full day of hourly lags so the lag-24
    * daily rhythm the docstring promises is actually in the output. */
  val AcfMaxLag = 24

  def autocorrelation(e: DataFrame, maxLag: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour")
    val lagged = denseHourly(e)
      .select(Seq(col("event_type"), col("x")) ++
        (1 to maxLag).map(k => lag(col("x"), k).over(w).as(s"l$k")): _*)
    // unpivot via one array-explode, NOT a union of per-lag branches:
    // each union branch would be its own subtree re-running the hourly
    // agg + window, turning maxLag into a multiplier on the event-scale
    // scan. The explode reads the window output once for all lags.
    val stacked = lagged
      .select(col("event_type"), explode(array((1 to maxLag).map(k =>
        struct(lit(k.toLong).as("lag"), col("x").as("x"),
          col(s"l$k").as("y"))): _*)).as("p"))
      .filter(col("p.y").isNotNull)
      .select(col("event_type"), col("p.lag").as("lag"),
        col("p.x").as("x"), col("p.y").as("y"))
    val m = stacked.groupBy("event_type", "lag").agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val vx = m("n_pairs") * m("sxx") - m("sx") * m("sx")
    val vy = m("n_pairs") * m("syy") - m("sy") * m("sy")
    m.select(col("event_type"), col("lag"), col("n_pairs"),
        when(vx > 0 && vy > 0,
          round((m("n_pairs") * m("sxy") - m("sx") * m("sy")).cast("double")
            / sqrt(vx.cast("double")) / sqrt(vy.cast("double")), 6))
          .as("r"))
      .orderBy("event_type", "lag")
  }

  def q140Autocorrelation(spark: SparkSession, dir: String): DataFrame =
    autocorrelation(ev(spark, dir), AcfMaxLag)

  /** CUSUM level-shift scan per event type: the classic one-sided
    * cumulative-sum statistic S_t = max(0, S_{t−1} + (x_t − μ)) over
    * the dense hourly series, both directions, reporting each type's
    * peak and its hour — where the mean most credibly shifted.
    *
    * The recursion is not window-expressible, but its closed form is:
    * with Z_t the running sum and D_t = T·Z_t − t·ΣX (the mean
    * cleared of division), S_t = (D_t − min(0, min_{j≤t} D_j)) / T.
    * Everything up to the final division is BIGINT-exact window math
    * (cumsum + running min/max), so the argmax hour and the peak
    * value hash identically in any engine; ties break to the
    * earliest hour.
    *
    * Scale shape: one agg for (T, ΣX), one window pass per type over
    * the calendar-bounded series, one argmax agg — the event-scale
    * work is only the initial hourly count. */
  def cusum(e: DataFrame): DataFrame = {
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour")
    // the hourly agg + calendar explode is the query's only
    // event-scale work — materialize it once for its two consumers
    // (the totals agg and the running-sum window) instead of running
    // the scan twice
    val dense = graft.Checkpoints.cut(denseHourly(e))
    val tot = dense.groupBy("event_type")
      .agg(count(lit(1)).as("tn"), sum("x").as("s"))
    val d = dense.join(tot, "event_type")
      .withColumn("t", row_number().over(wSeq).cast("long"))
      .withColumn("z", sum(col("x")).over(wRun))
      .withColumn("dd", col("tn") * col("z") - col("t") * col("s"))
      .withColumn("cpos", (col("dd") - least(lit(0L), min(col("dd")).over(wRun)))
        .cast("double") / col("tn"))
      .withColumn("cneg", (greatest(lit(0L), max(col("dd")).over(wRun)) - col("dd"))
        .cast("double") / col("tn"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("cpos").desc, col("hour").asc)
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("cneg").desc, col("hour").asc)
    d.withColumn("rp", row_number().over(wp))
      .withColumn("rn", row_number().over(wn))
      .groupBy("event_type").agg(
        count(lit(1)).as("n_hours"),
        max(when(col("rp") === 1, col("hour"))).as("peak_hour_up"),
        round(max(when(col("rp") === 1, col("cpos"))), 6).as("peak_up"),
        max(when(col("rn") === 1, col("hour"))).as("peak_hour_down"),
        round(max(when(col("rn") === 1, col("cneg"))), 6).as("peak_down"))
      .orderBy("event_type")
  }

  def q141Cusum(spark: SparkSession, dir: String): DataFrame =
    cusum(ev(spark, dir))

  // ---------------------------------------------------------------- q153
  /** Trending report over hopping windows: per 6-hour window (hop
    * 1 h, q82's expansion) each event type's volume, its rank inside
    * the window, and the rank delta against the PREVIOUS window — the
    * "what just started moving" feed a dashboard's trending panel
    * reads. A positive delta is a climber; null marks a type's first
    * windowed appearance.
    *
    * Scale shape: the explode factor is the bounded size/hop
    * constant, then one partial-agg count per (window, type); both
    * windows (in-window rank, per-type lag) run over the
    * windows × types relation — calendar-bounded, never event-scale.
    * All integer — engine-exact. */
  def trending(e: DataFrame): DataFrame = {
    val counts = e
      .withColumn("b", expr(s"ts_us div $HourUs"))
      .withColumn("w", explode(sequence(
        greatest(col("b") - lit(HopWindows - 1), lit(0L)), col("b"))))
      .groupBy(col("w").as("window_start_hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val rkW = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start_hour").orderBy(col("n").desc, col("event_type").asc)
    val ranked = counts
      .withColumn("rank", row_number().over(rkW).cast("long"))
    // strictly the ADJACENT previous window (a lag would silently
    // reach back across gaps to the type's last appearance)
    val prev = ranked.select(col("event_type").as("pt"),
      (col("window_start_hour") + 1).as("pw"), col("rank").as("prev_rank"))
    ranked.join(prev,
        col("event_type") === col("pt") && col("window_start_hour") === col("pw"),
        "left")
      .select(col("window_start_hour"), col("event_type"), col("n"),
        col("rank"), col("prev_rank"),
        (col("prev_rank") - col("rank")).as("delta"))
      .orderBy("window_start_hour", "rank")
  }

  def q153Trending(spark: SparkSession, dir: String): DataFrame =
    trending(ev(spark, dir))

  // ---------------------------------------------------------------- q146
  /** Conversion attribution: each purchase credits the user's
    * first-touch and last-touch among their non-purchase events in
    * the preceding [[AttribLookbackUs]] window — the two bookend
    * models every attribution report starts from. Output: conversions
    * credited per (touch type, model), plus the untouched count.
    *
    * Scale shape: touches join conversions keyed by USER (one
    * shuffle; per-user event lists are bounded by activity, the same
    * skew class as every per-user window here), the in-window filter
    * prunes pairs, and each conversion's bookends come from ONE
    * min/max(struct) agg — never a window over the joined relation.
    * Both argmaxes are deterministic: ties on ts break by event_id
    * via the struct order. At 100 TB the same plan stands — or the
    * join becomes a q77-style bucketized range join when lookbacks
    * are long and users hot. */
  val AttribLookbackUs: Long = 7L * 86400000000L

  def attribution(e: DataFrame): DataFrame = {
    val conv = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts_us").as("conv_ts"))
    val touch = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("ts_us").as("touch_ts"), col("event_id").as("touch_id"))
    val paired = conv.join(touch, Seq("user_id"))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - AttribLookbackUs)
    val bookends = paired.groupBy("conv_id").agg(
      min(struct(col("touch_ts"), col("touch_id"), col("touch_type")))
        .as("first"),
      max(struct(col("touch_ts"), col("touch_id"), col("touch_type")))
        .as("last"))
    val credited = bookends
      .select(lit("first_touch").as("model"),
        col("first.touch_type").as("touch_type"))
      .unionByName(bookends.select(lit("last_touch").as("model"),
        col("last.touch_type").as("touch_type")))
      .groupBy("model", "touch_type")
      .agg(count(lit(1)).as("conversions"))
    val untouched = conv.join(bookends, Seq("conv_id"), "left_anti")
      .select(lit("unattributed").as("model"),
        lit("none").as("touch_type"), lit(1L).as("one"))
      .groupBy("model", "touch_type")
      .agg(count(lit(1)).as("conversions"))
    credited.unionByName(untouched)
      .orderBy("model", "touch_type")
  }

  def q146Attribution(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    attribution(t.events.select(col("event_id"), col("user_id"),
      col("event_type"), col("ts_us")))
  }

  // ---------------------------------------------------------------- q193
  /** Windowed HLL distinct users — q40's hourly distinct-user report
    * with the q187 sketch running NEXT TO the exact count. The point
    * at scale: the exact side needs a (bucket, user) DISTINCT — a
    * dedup shuffle whose state is the distinct set itself — while
    * the sketch side is ONE [[Hll.registers]] aggregate straight off
    * the raw events (register max is idempotent under duplicates, so
    * dedup is free), with O(buckets × 64) state. The registers are
    * also window-MERGEABLE: a tumbling window's sketch is the
    * elementwise max of its panes, which is why the same aggregate
    * runs as a streaming query (q217) where exact distinct cannot.
    *
    * Small windows land in the linear-counting regime (raw ≤ 2.5m)
    * — the audit exercises the correction branch q187's big sets
    * skip. The oracle checks it against the relational register
    * form. */
  def q193WindowedHllUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .withColumn("bucket",
        floor(expr("ts_us div 1000") / lit(3600000.0)).cast("long"))
      .select(col("bucket"), col("user_id"))
    val exact = ev.distinct().groupBy("bucket")
      .agg(count(lit(1)).as("n_exact"))
    val sketch = ev.groupBy("bucket")
      .agg(Hll.registers(Hll.hash60(col("user_id"))).as("regs"))
    sketch.join(exact, "bucket")
      .select(col("bucket"), col("n_exact"),
        Hll.estimate(col("regs")).as("hll_est"))
      .withColumn("rel_err_pct",
        round(lit(100.0) * (col("hll_est") - col("n_exact")) / col("n_exact"), 4))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q195
  /** Incremental aggregate maintenance — the materialized-view delta
    * pattern: a per-type report (count, decimal revenue, min, max,
    * HLL distinct users) maintained by MERGING a base snapshot's
    * state with a delta batch's state, verified IN-PLAN against the
    * full recompute. The events split base/delta by an md5 stratum of
    * the event key (the q47 discipline), standing in for
    * yesterday's-snapshot + today's-batch.
    *
    * The point: every column the view carries must be ALGEBRAIC —
    * count/sum merge by +, min/max by least/greatest, and distinct
    * users merges ONLY because the state is HLL registers (bucket-wise
    * max — lossless under merge, so the maintained estimate equals
    * the recomputed estimate EXACTLY, not approximately). A naive
    * view with COUNT(DISTINCT) has no mergeable state and forces the
    * full recompute this operator exists to avoid; `merge_exact` and
    * `sketch_exact` pin both claims as output columns, hash-checked.
    *
    * Scale shape: each side is ONE partial agg to type grain, the
    * registers a 64-INT array per type ([[Hll.registers]], merged by
    * [[Hll.merge]]); the merge is a types-sized join.
    * At 100 TB the base state is READ (it was persisted), not
    * recomputed — the recompute here exists to prove the algebra. */
  def q195DeltaAggMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_type"), col("value"), col("user_id"),
        Md5Prefix(col("event_id").cast("string"), 1, 8).cast("bigint").as("h"))
    val base = ev.filter(col("h") % 5 =!= 0)
    val delta = ev.filter(col("h") % 5 === 0)

    def state(d: DataFrame, p: String): DataFrame =
      d.groupBy("event_type").agg(
        count(lit(1)).as(s"${p}_n"),
        sum(round(col("value"), 2).cast("decimal(18,2)")).as(s"${p}_t"),
        min(col("value")).as(s"${p}_mn"),
        max(col("value")).as(s"${p}_mx"),
        Hll.registers(Hll.hash60(col("user_id"))).as(s"${p}_r"))

    // maintained: merge the two states (+, least/greatest, register max)
    val merged = state(base, "b")
      .join(state(delta, "d"), Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n"),
        (coalesce(col("b_t"), lit(0).cast("decimal(18,2)")) +
          coalesce(col("d_t"), lit(0).cast("decimal(18,2)"))).as("t"),
        least(col("b_mn"), col("d_mn")).as("mn"),
        greatest(col("b_mx"), col("d_mx")).as("mx"),
        Hll.estimate(Hll.merge(col("b_r"), col("d_r"))).as("hll_users"))
    // full recompute — exists to prove the algebra
    merged.join(state(ev, "f"), "event_type")
      .select(col("event_type"), col("n"),
        col("t").cast("double").as("total"), col("mn").as("vmin"),
        col("mx").as("vmax"), col("hll_users"),
        (col("n") === col("f_n") && col("t") === col("f_t") &&
          col("mn") === col("f_mn") && col("mx") === col("f_mx"))
          .as("merge_exact"),
        (col("hll_users") === Hll.estimate(col("f_r"))).as("sketch_exact"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q195_delta_agg_maintenance" -> (q195DeltaAggMaintenance _),
    "q193_windowed_hll_users" -> (q193WindowedHllUsers _),
    "q125_ab_lift" -> (q125AbLift _),
    "q119_journey_paths" -> (q119JourneyPaths _),
    "q80_funnel" -> (q80Funnel _),
    "q81_retention" -> (q81Retention _),
    "q82_hopping_window" -> (q82HoppingWindow _),
    "q92_anomalies" -> (q92Anomalies _),
    "q135_ewma" -> (q135Ewma _),
    "q140_autocorrelation" -> (q140Autocorrelation _),
    "q141_cusum" -> (q141Cusum _),
    "q146_attribution" -> (q146Attribution _),
    "q153_trending" -> (q153Trending _),
    "q96_gap_fill" -> (q96GapFill _),
    "q101_transitions" -> (q101Transitions _),
    "q103_scd2" -> (q103Scd2 _),
  )

  val oracleSql: Map[String, String] = Map(
    "q195_delta_agg_maintenance" -> {
      def sc(src: String, p: String) =
        s"""$p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |  sum(CAST(round("value", 2) AS DECIMAL(18,2))) AS t,
           |  min("value") AS mn, max("value") AS mx
           |FROM $src GROUP BY 1)""".stripMargin
      s"""WITH ev AS (SELECT event_type, "value", user_id,
         |  ${Md5Prefix.hexToLongSql(
              "md5(CAST(event_id AS VARCHAR))", 1, 8)} AS h
         |FROM events),
         |b AS (SELECT * FROM ev WHERE h % 5 <> 0),
         |d AS (SELECT * FROM ev WHERE h % 5 = 0),
         |${sc("b", "sb")},
         |${sc("d", "sd")},
         |${sc("ev", "sf")},
         |mg AS (SELECT coalesce(sb.event_type, sd.event_type) AS event_type,
         |  coalesce(sb.n, 0) + coalesce(sd.n, 0) AS n,
         |  coalesce(sb.t, 0) + coalesce(sd.t, 0) AS t,
         |  least(sb.mn, sd.mn) AS mn, greatest(sb.mx, sd.mx) AS mx
         |  FROM sb FULL OUTER JOIN sd ON sb.event_type = sd.event_type),
         |${Hll.registersSql("bm", "b", Seq("event_type"), "user_id")},
         |${Hll.registersSql("dm", "d", Seq("event_type"), "user_id")},
         |${Hll.registersSql("fm", "ev", Seq("event_type"), "user_id")},
         |mm AS (SELECT event_type, reg, max(mj) AS mj
         |       FROM (SELECT * FROM bm UNION ALL SELECT * FROM dm)
         |       GROUP BY 1, 2),
         |${Hll.estimateSql("me", "mm", Seq("event_type"))},
         |${Hll.estimateSql("fe", "fm", Seq("event_type"))}
         |SELECT mg.event_type, mg.n, CAST(mg.t AS DOUBLE) AS total,
         |  mg.mn AS vmin, mg.mx AS vmax, me.est AS hll_users,
         |  (mg.n = sf.n AND mg.t = sf.t AND mg.mn = sf.mn
         |    AND mg.mx = sf.mx) AS merge_exact,
         |  (me.est = fe.est) AS sketch_exact
         |FROM mg JOIN me USING (event_type) JOIN sf USING (event_type)
         |  JOIN fe USING (event_type)
         |ORDER BY 1""".stripMargin
    },

    "q193_windowed_hll_users" ->
      s"""WITH ev AS (
         |  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS bucket,
         |         user_id
         |  FROM events),
         |e AS (SELECT bucket, CAST(count(DISTINCT user_id) AS BIGINT)
         |        AS n_exact
         |      FROM ev GROUP BY 1),
         |${Hll.registersSql("m", "ev", Seq("bucket"), "user_id")},
         |${Hll.estimateSql("es", "m", Seq("bucket"))}
         |SELECT bucket, n_exact, est AS hll_est,
         |       round(100.0 * (est - n_exact) / n_exact, 4) AS rel_err_pct
         |FROM es JOIN e USING (bucket) ORDER BY bucket""".stripMargin,

    "q125_ab_lift" ->
      """WITH a AS (SELECT event_type, CAST(user_id % 2 AS INT) AS arm
        |           FROM events),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM a),
        |bt AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS x0,
        |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x1
        |  FROM a GROUP BY 1)
        |SELECT event_type, x0, n0, x1, n1,
        |       round(CAST(x0 AS DOUBLE) / n0, 6) AS p0,
        |       round(CAST(x1 AS DOUBLE) / n1, 6) AS p1,
        |       round(CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0, 6)
        |         AS lift,
        |       round((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
        |         / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
        |             * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
        |             * (1.0 / n0 + 1.0 / n1)), 6) AS z
        |FROM bt, tot ORDER BY event_type""".stripMargin,

    "q119_journey_paths" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |                  epoch_us(ts) AS ts_us FROM events),
         |p AS (
         |  SELECT event_type AS step1,
         |         lead(event_type, 1) OVER w AS step2,
         |         lead(event_type, 2) OVER w AS step3
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
         |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n
         |FROM p WHERE step3 IS NOT NULL
         |GROUP BY 1, 2, 3
         |ORDER BY n DESC, step1 ASC, step2 ASC, step3 ASC
         |LIMIT $PathTopK""".stripMargin,

    "q80_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
         |           FROM events),
         |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
         |       WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT e.user_id, s1.t1, min(e.ts_us) AS t FROM e
         |       JOIN s1 ON s1.user_id = e.user_id
         |       WHERE e.event_type = 'click' AND e.ts_us > s1.t1
         |       GROUP BY 1, 2),
         |s3 AS (SELECT e.user_id, s2.t1, min(e.ts_us) AS t FROM e
         |       JOIN s2 ON s2.user_id = e.user_id
         |       WHERE e.event_type = 'purchase' AND e.ts_us > s2.t
         |       GROUP BY 1, 2)
         |SELECT 'stage1_view' AS stage,
         |       CAST(count(*) AS BIGINT) AS n_users,
         |       CAST(0 AS BIGINT) AS total_latency_us FROM s1
         |UNION ALL
         |SELECT 'stage2_click', CAST(count(*) AS BIGINT),
         |       CAST(COALESCE(sum(t - t1), 0) AS BIGINT) FROM s2
         |UNION ALL
         |SELECT 'stage3_purchase', CAST(count(*) AS BIGINT),
         |       CAST(COALESCE(sum(t - t1), 0) AS BIGINT) FROM s3
         |ORDER BY stage""".stripMargin,

    "q81_retention" ->
      s"""WITH e AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day
         |  FROM events),
         |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
         |SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
         |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
         |FROM e JOIN c USING (user_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q135_ewma" -> {
      val cs = ewmaWeights
      val lags = (1 to EwmaWindow).map(j =>
        s"lag(n_events, $j) OVER (PARTITION BY event_type ORDER BY hour) AS l$j")
        .mkString(",\n    ")
      val num = (1 to EwmaWindow).map(j =>
        s"CASE WHEN l$j IS NOT NULL THEN ${cs(j - 1)} * l$j ELSE 0.0 END")
        .mkString("\n      + ")
      val den = (1 to EwmaWindow).map(j =>
        s"CASE WHEN l$j IS NOT NULL THEN ${cs(j - 1)} ELSE 0.0 END")
        .mkString("\n      + ")
      s"""WITH hourly AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS hour,
         |         CAST(count(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1, 2),
         |lg AS (
         |  SELECT event_type, hour, n_events,
         |    $lags
         |  FROM hourly),
         |sm AS (
         |  SELECT event_type, hour, n_events,
         |    ($num) AS num,
         |    ($den) AS den
         |  FROM lg),
         |d AS (
         |  SELECT event_type, hour, n_events,
         |    CASE WHEN den > 0 THEN round(num / den, 6) ELSE 0.0 END AS ewma,
         |    CASE WHEN den > 0
         |         THEN round((n_events - num / den) / (num / den), 6)
         |         ELSE 0.0 END AS dev
         |  FROM sm)
         |SELECT event_type, hour, n_events, ewma, dev,
         |       abs(dev) > $EwmaDev AS flagged
         |FROM d ORDER BY event_type, hour""".stripMargin
    },

    "q92_anomalies" ->
      s"""WITH hourly AS (
         |  SELECT epoch_us(ts) // $HourUs AS hour,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1),
         |m AS (
         |  SELECT hour, cnt,
         |    count(cnt) OVER tw AS n,
         |    sum(cnt) OVER tw AS s1,
         |    sum(cnt * cnt) OVER tw AS s2
         |  FROM hourly
         |  WINDOW tw AS (ORDER BY hour
         |                ROWS BETWEEN $AnomalyTrail PRECEDING AND 1 PRECEDING)),
         |z AS (
         |  SELECT hour, cnt,
         |    CASE WHEN n >= $AnomalyMinHours
         |              AND CAST(s2 AS DOUBLE) / n
         |                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
         |         THEN round((cnt - CAST(s1 AS DOUBLE) / n)
         |              / sqrt(CAST(s2 AS DOUBLE) / n
         |                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)), 6)
         |         ELSE 0.0 END AS z
         |  FROM m)
         |SELECT hour, cnt AS n_events, z, abs(z) > $AnomalyZ AS flagged
         |FROM z ORDER BY hour""".stripMargin,

    "q153_trending" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us FROM events),
         |x AS (
         |  SELECT event_type,
         |         unnest(generate_series(
         |           greatest(ts_us // $HourUs - ${HopWindows - 1}, 0),
         |           ts_us // $HourUs)) AS w
         |  FROM e),
         |c AS (SELECT w AS window_start_hour, event_type,
         |             CAST(count(*) AS BIGINT) AS n
         |      FROM x GROUP BY 1, 2),
         |r AS (
         |  SELECT window_start_hour, event_type, n,
         |         CAST(row_number() OVER (PARTITION BY window_start_hour
         |             ORDER BY n DESC, event_type ASC) AS BIGINT) AS rank
         |  FROM c)
         |SELECT r.window_start_hour, r.event_type, r.n, r.rank,
         |       p.rank AS prev_rank, p.rank - r.rank AS delta
         |FROM r LEFT JOIN r p
         |  ON p.event_type = r.event_type
         | AND p.window_start_hour = r.window_start_hour - 1
         |ORDER BY r.window_start_hour, r.rank""".stripMargin,

    "q146_attribution" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |                  epoch_us(ts) AS ts_us FROM events),
         |conv AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_ts
         |         FROM e WHERE event_type = 'purchase'),
         |touch AS (SELECT user_id, event_type AS touch_type,
         |                 ts_us AS touch_ts, event_id AS touch_id
         |          FROM e WHERE event_type <> 'purchase'),
         |p AS (
         |  SELECT c.conv_id, t.touch_type, t.touch_ts, t.touch_id
         |  FROM conv c JOIN touch t ON c.user_id = t.user_id
         |  WHERE t.touch_ts < c.conv_ts
         |    AND t.touch_ts >= c.conv_ts - $AttribLookbackUs),
         |bk AS (
         |  SELECT conv_id, touch_type,
         |         row_number() OVER (PARTITION BY conv_id
         |             ORDER BY touch_ts ASC, touch_id ASC) AS rf,
         |         row_number() OVER (PARTITION BY conv_id
         |             ORDER BY touch_ts DESC, touch_id DESC) AS rl
         |  FROM p),
         |cr AS (
         |  SELECT 'first_touch' AS model, touch_type FROM bk WHERE rf = 1
         |  UNION ALL
         |  SELECT 'last_touch', touch_type FROM bk WHERE rl = 1),
         |crc AS (SELECT model, touch_type,
         |               CAST(count(*) AS BIGINT) AS conversions
         |        FROM cr GROUP BY 1, 2),
         |un AS (SELECT 'unattributed' AS model, 'none' AS touch_type,
         |              CAST(count(*) AS BIGINT) AS conversions
         |       FROM conv c
         |       WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.conv_id = c.conv_id)
         |       HAVING count(*) > 0)
         |SELECT * FROM crc UNION ALL SELECT * FROM un
         |ORDER BY model, touch_type""".stripMargin,

    "q140_autocorrelation" -> {
      val lagCols = (1 to AcfMaxLag).map(k =>
        s"lag(x, $k) OVER (PARTITION BY event_type ORDER BY hour) AS l$k")
        .mkString(",\n         ")
      val stack = (1 to AcfMaxLag).map(k =>
        s"SELECT event_type, CAST($k AS BIGINT) AS lag, x, l$k AS y FROM lg WHERE l$k IS NOT NULL")
        .mkString("\n  UNION ALL ")
      s"""WITH hourly AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS hour,
         |         CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |sp AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
         |       FROM hourly GROUP BY 1),
         |g AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hour
         |      FROM sp),
         |dense AS (SELECT g.event_type, g.hour, CAST(coalesce(h.x, 0) AS BIGINT) AS x
         |          FROM g LEFT JOIN hourly h
         |          ON g.event_type = h.event_type AND g.hour = h.hour),
         |lg AS (
         |  SELECT event_type, x,
         |         $lagCols
         |  FROM dense),
         |st AS (
         |  $stack),
         |m AS (
         |  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(sum(x * y) AS BIGINT) AS sxy,
         |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx,
         |         CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM st GROUP BY 1, 2)
         |SELECT event_type, lag, n_pairs,
         |       CASE WHEN n_pairs * sxx - sx * sx > 0
         |             AND n_pairs * syy - sy * sy > 0
         |            THEN round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
         |                   / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
         |                   / sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)), 6)
         |            END AS r
         |FROM m ORDER BY event_type, lag""".stripMargin
    },

    "q141_cusum" ->
      s"""WITH hourly AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS hour,
         |         CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |sp AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
         |       FROM hourly GROUP BY 1),
         |g AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hour
         |      FROM sp),
         |dense AS (SELECT g.event_type, g.hour, CAST(coalesce(h.x, 0) AS BIGINT) AS x
         |          FROM g LEFT JOIN hourly h
         |          ON g.event_type = h.event_type AND g.hour = h.hour),
         |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS tn,
         |               CAST(sum(x) AS BIGINT) AS s
         |        FROM dense GROUP BY 1),
         |d AS (
         |  SELECT dense.event_type, hour, tn,
         |         CAST(tn * sum(x) OVER wr
         |              - row_number() OVER ws * s AS BIGINT) AS dd
         |  FROM dense JOIN tot ON dense.event_type = tot.event_type
         |  WINDOW ws AS (PARTITION BY dense.event_type ORDER BY hour),
         |         wr AS (PARTITION BY dense.event_type ORDER BY hour
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |c AS (
         |  SELECT event_type, hour,
         |         CAST(dd - least(CAST(0 AS BIGINT), min(dd) OVER wr) AS DOUBLE)
         |           / tn AS cpos,
         |         CAST(greatest(CAST(0 AS BIGINT), max(dd) OVER wr) - dd AS DOUBLE)
         |           / tn AS cneg
         |  FROM d
         |  WINDOW wr AS (PARTITION BY event_type ORDER BY hour
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |r AS (
         |  SELECT event_type, hour, cpos, cneg,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY cpos DESC, hour ASC) AS rp,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY cneg DESC, hour ASC) AS rn
         |  FROM c)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         |       max(CASE WHEN rp = 1 THEN hour END) AS peak_hour_up,
         |       round(max(CASE WHEN rp = 1 THEN cpos END), 6) AS peak_up,
         |       max(CASE WHEN rn = 1 THEN hour END) AS peak_hour_down,
         |       round(max(CASE WHEN rn = 1 THEN cneg END), 6) AS peak_down
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q96_gap_fill" ->
      s"""WITH e AS (SELECT event_type AS k, epoch_us(ts) // $DayUs AS d,
         |                  "value" AS v FROM events),
         |a AS (SELECT k, d, CAST(count(*) AS BIGINT) AS n, max(v) AS vmax
         |      FROM e GROUP BY 1, 2),
         |s AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM a GROUP BY 1),
         |g AS (SELECT k, unnest(generate_series(d0, d1)) AS d FROM s)
         |SELECT g.k AS event_type, g.d AS day,
         |       CAST(coalesce(a.n, 0) AS BIGINT) AS n_events,
         |       last_value(a.vmax IGNORE NULLS)
         |         OVER (PARTITION BY g.k ORDER BY g.d
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS filled_max,
         |       a.n IS NULL AS is_gap
         |FROM g LEFT JOIN a ON g.k = a.k AND g.d = a.d
         |ORDER BY 1, 2""".stripMargin,

    "q101_transitions" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |                  epoch_us(ts) AS ts_us FROM events),
         |p AS (
         |  SELECT event_type AS src_type,
         |         lead(event_type) OVER (PARTITION BY user_id
         |                                ORDER BY ts_us, event_id) AS dst_type
         |  FROM e),
         |c AS (SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS n
         |      FROM p WHERE dst_type IS NOT NULL GROUP BY 1, 2)
         |SELECT src_type, dst_type, n,
         |       round(n / sum(n) OVER (PARTITION BY src_type), 6) AS prob
         |FROM c ORDER BY 1, 2""".stripMargin,

    "q103_scd2" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |                  epoch_us(ts) AS ts_us FROM events),
         |m AS (
         |  SELECT *, lag(event_type) OVER (PARTITION BY user_id
         |                                  ORDER BY ts_us, event_id) AS prev
         |  FROM e),
         |c AS (SELECT * FROM m
         |      WHERE prev IS NULL OR prev <> event_type)
         |SELECT user_id, event_type AS state, ts_us AS valid_from,
         |       lead(ts_us) OVER (PARTITION BY user_id
         |                         ORDER BY ts_us, event_id) AS valid_to,
         |       lead(ts_us) OVER (PARTITION BY user_id
         |                         ORDER BY ts_us, event_id) IS NULL
         |         AS is_current
         |FROM c ORDER BY user_id, valid_from""".stripMargin,

    "q82_hopping_window" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) // $HourUs AS b FROM events),
         |x AS (
         |  SELECT e.user_id, w AS window_start_hour
         |  FROM e, unnest(generate_series(
         |    greatest(e.b - ${HopWindows - 1}, 0), e.b)) AS t(w))
         |SELECT window_start_hour,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
