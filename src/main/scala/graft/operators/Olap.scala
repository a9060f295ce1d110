package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Classic OLAP surface — the reporting shapes any analytics-engine
  * user expects on day one: hierarchy rollups, per-key moving-window
  * analytics, and pivoted cross-tabs.
  *
  * Scale shape: rollup is ONE pass — Spark expands GROUPING SETS via
  * Expand before the hash agg (no per-level re-scan); the moving
  * window shuffles once on the partition key and sorts within
  * partitions only; the pivot with an EXPLICIT value list is a single
  * conditional-agg pass (never the two-job distinct-discovery form —
  * at 100 TB an unbounded pivot column set is a bug, not a feature).
  * Money math stays DECIMAL inside aggregates (exact, order-free) and
  * surfaces as double, the library's q32/q77 convention. */
object Olap {

  // ---------------------------------------------------------------- q84
  /** Order revenue rolled up the region → nation hierarchy:
    * grand total, per-region, per-(region, nation) — with the
    * grouping bitmask so consumers can tell levels apart. */
  def q84Rollup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.select(col("o_custkey"), col("o_totalprice"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg((grouping(col("r_name")) * 2 + grouping(col("n_name")))
          .cast("long").as("lvl"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .select(col("r_name"), col("n_name"), col("lvl"), col("n_orders"),
        col("revenue"))
      .orderBy(col("lvl"), col("r_name"), col("n_name"))
  }

  // ---------------------------------------------------------------- q85
  /** Per-customer order history analytics: sequence number, cumulative
    * spend, and a 3-order moving total — one shuffle on the customer
    * key, in-partition sort, decimal-exact sums surfaced as double. */
  def q85MovingWindow(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val o = t.orders.select(col("o_custkey"), col("o_orderkey"),
      col("o_orderdate"), col("o_totalprice").cast("decimal(18,2)").as("p"))
    val byKey = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val cum = byKey.rowsBetween(Window.unboundedPreceding, 0)
    val last3 = byKey.rowsBetween(-2, 0)
    o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        row_number().over(byKey).cast("long").as("seq"),
        sum(col("p")).over(cum).cast("double").as("cum_spend"),
        sum(col("p")).over(last3).cast("double").as("last3_spend"))
      .orderBy("o_custkey", "seq")
  }

  // ---------------------------------------------------------------- q86
  /** Event-type cross-tab per user: the pivot with an EXPLICIT column
    * list — one conditional-agg pass, no distinct-discovery job. */
  val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  def q86Pivot(spark: SparkSession, dir: String): DataFrame = {
    val piv = Tables(spark, dir).events
      .groupBy("user_id")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
    PivotTypes.foldLeft(piv) { (d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0L)))
    }.orderBy("user_id")
  }

  // ---------------------------------------------------------------- q91
  /** Customer-LTV deciles: total spend per customer, exact `ntile(10)`
    * over the global spend order, then per-decile population and
    * revenue — the segmentation report behind "top decile drives X%
    * of revenue". The decile comes from [[graft.Ordinals.ntileBy]]
    * (parallel range-sort + zipWithIndex + Spark's own ntile
    * arithmetic, spec-pinned bit-equal) — NOT an unpartitioned ntile
    * window, whose sort funnels the customer relation through one
    * task at 100 TB. Approx-percentile cut points + a broadcast
    * bucket join remain the cheaper inexact alternative where decile
    * BOUNDARIES may be approximate. */
  def q91SpendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // cut: the aggregated relation feeds the rank sort AND the ntile
    // count — without it the orders agg runs once per consumer
    val spend = graft.Checkpoints.cut(t.orders
      .groupBy(col("o_custkey").as("cust"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"),
        count(lit(1)).as("n_orders")))
    graft.Ordinals.ntileBy(spend,
        Seq(col("spend").desc, col("cust").asc), 10, "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("n_orders")).as("n_orders"),
        sum(col("spend")).cast("double").as("revenue"))
      .orderBy("decile")
  }

  // ---------------------------------------------------------------- q95
  /** Full CUBE over (status, priority): all four grouping sets —
    * per-cell, per-status, per-priority, grand total — in ONE pass
    * (Expand before the hash agg, like the rollup; the expansion
    * factor is the fixed grouping-set count, never data-dependent).
    * The grouping bitmask distinguishes levels; money stays decimal
    * inside the sum. */
  def q95Cube(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg((grouping(col("o_orderstatus")) * 2
          + grouping(col("o_orderpriority"))).cast("long").as("lvl"),
        count(lit(1)).as("n_orders"),
        sum(col("p")).cast("double").as("revenue"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("lvl"),
        col("n_orders"), col("revenue"))
      .orderBy(col("lvl"), col("o_orderstatus"), col("o_orderpriority"))
  }

  /** Microseconds from 1970-01-01 00:00 to the timestamp `ts` as a
    * wall-clock value (a date is its midnight), computed as an interval:
    * strictly monotone in the full value. For TIMESTAMP_NTZ or DATE
    * input no time zone enters. A TIMESTAMP (local time zone) input is
    * first read as wall-clock time in the session time zone, which
    * [[graft.Tables.configure]] sets to UTC; in a zone with daylight
    * saving the repeated hour would break the monotonicity. */
  private def epochMicros(ts: Column): Column =
    ((ts.cast("timestamp_ntz") - lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)))
      .cast("interval second").cast("decimal(24,6)") * 1000000).cast("long")

  // ---------------------------------------------------------------- q106
  /** RFM segmentation — recency / frequency / monetary quintiles per
    * customer, then the segment report (population + revenue per RFM
    * cell): the classic customer-base decomposition. One partial agg
    * per customer, then ONE ranking pass for all three quintiles (not
    * three independent [[graft.Ordinals.ntileBy]] range-sorts of the
    * same customer relation): each metric melts to a common descending-sortable
    * LONG key (recency = −[[epochMicros]], frequency = −count,
    * monetary = −cents; decimal(18,2)·100 ≤ 10¹⁸ < 2⁶³ by the TYPE
    * bound, so the cents cast can never overflow), the 3N-row melted
    * relation range-sorts ONCE on (metric, key, cust) — still the
    * parallel-sort primitive, never an unpartitioned window — and
    * each metric's rank reads off the global ordinal by a −metric·N
    * offset (metric blocks are contiguous and each exactly N rows).
    * Bucketing is the shared [[graft.Ordinals.ntileOfRank]]
    * arithmetic; the per-customer pivot is one keyed agg. Bit-equal
    * to the chained form (spec-pinned): per-metric ordering and
    * tie-breaks are unchanged under the key encoding. */
  def q106RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.Checkpoints.cut(Tables(spark, dir).orders
      .groupBy(col("o_custkey").as("cust"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("spend")))
    val nCust = graft.Checkpoints.rowCount(per) // all three quintiles share one count
    val melted = per.select(col("cust"), col("spend"),
        explode(array(
          struct(lit(0L).as("metric"), (-epochMicros(col("last_order"))).as("key")),
          struct(lit(1L).as("metric"), (-col("freq")).as("key")),
          struct(lit(2L).as("metric"),
            (-(col("spend") * 100).cast("long")).as("key")))).as("mk"))
      .select(col("cust"), col("spend"),
        col("mk.metric").as("metric"), col("mk.key").as("key"))
    val ranked = graft.Ordinals.denseBy(melted,
        Seq(col("metric").asc, col("key").asc, col("cust").asc), "grk")
      .withColumn("rk", col("grk") - col("metric") * nCust)
      .withColumn("b", graft.Ordinals.ntileOfRank("rk", nCust, 5))
    val q = ranked.groupBy("cust")
      .agg(max(when(col("metric") === 0, col("b"))).as("r"),
        max(when(col("metric") === 1, col("b"))).as("f"),
        max(when(col("metric") === 2, col("b"))).as("m"),
        max(col("spend")).as("spend"))
    q.groupBy("r", "f", "m")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).cast("double").as("revenue"))
      .orderBy("r", "f", "m")
  }

  // ---------------------------------------------------------------- q107
  /** Cohort revenue curve: customers grouped by first-order month,
    * each cohort's revenue tracked by months-since-acquisition,
    * cumulatively — the LTV-over-time report behind payback-period
    * decisions. Two aggs keyed by customer/cohort plus ONE ordered
    * window per cohort over the bounded (cohorts × offsets) grid;
    * decimal-exact money, truncated-month arithmetic integer-exact. */
  def q107CohortRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders.select(col("o_custkey").as("cust"),
      date_trunc("month", col("o_orderdate")).cast("date").as("mon"),
      col("o_totalprice").cast("decimal(18,2)").as("p"))
    val cohort = o.groupBy("cust").agg(min(col("mon")).as("cohort_month"))
    val cells = o.join(cohort, Seq("cust"))
      .groupBy(col("cohort_month"),
        months_between(col("mon"), col("cohort_month")).cast("long")
          .as("month_offset"))
      .agg(sum(col("p")).as("rev"))
    val w = Window.partitionBy("cohort_month").orderBy("month_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .select(date_format(col("cohort_month"), "yyyy-MM").as("cohort_month"),
        col("month_offset"),
        col("rev").cast("double").as("revenue"),
        sum(col("rev")).over(w).cast("double").as("cum_revenue"))
      .orderBy("cohort_month", "month_offset")
  }

  // ---------------------------------------------------------------- q108
  /** TPC-H Q5 (local supplier volume) — the canonical multi-way
    * analytical join, run through the engine as-is: six tables, a
    * region filter and a date range both pushed to their scans,
    * nation/region broadcast, customer/supplier AQE-sized, and the
    * one genuinely fact-scale shuffle (lineitem⋈orders). The revenue
    * term rounds each line's double product to 4dp and sums as
    * DECIMAL, so the aggregate is accumulation-order-free and
    * engine-exact (the library's money convention). */
  val Q5Region = "ASIA"
  val Q5Year = "1995"

  def q108TpchQ5(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .cast("decimal(18,4)").as("rev"))
      .join(t.orders
          .filter(col("o_orderdate") >= lit(s"$Q5Year-01-01").cast("date") &&
            col("o_orderdate") < lit(s"${Q5Year.toInt + 1}-01-01").cast("date"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region
          .filter(col("r_name") === Q5Region).select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  // ---------------------------------------------------------------- q147
  /** TPC-H Q3 (shipping priority): top-10 unshipped-revenue orders in
    * a market segment — the second canonical multi-way analytical
    * join after q108's Q5, exercising the fact⋈fact path with
    * OPPOSING date predicates on each side (order placed before the
    * cutoff, lines shipping after it), both pushed to their scans.
    * Revenue follows the q108 decimal contract: per-line round →
    * DECIMAL(18,4) sum — accumulation-order-free, engine-exact. The
    * segment-filtered customer side joins by key (AQE
    * broadcast-converts it when small; a fifth of customers is not
    * broadcast-sized at 100 TB, so no hint). Top-10 is a sort of the
    * AGGREGATED order relation, never the line stream.
    *
    * Deviations from the published Q3 (intentional, driver-schema
    * forced): the testdata orders table has no `o_shippriority`, so
    * `o_orderpriority` stands in for it in the grouping and output;
    * and the top-10 adds (o_orderdate, l_orderkey) tiebreaks so the
    * cut is deterministic under equal revenues — spec Q3 leaves
    * ties engine-defined, which a hash-compared oracle cannot. */
  val Q3Segment = "BUILDING"
  val Q3Date = "1997-01-01"

  def q147TpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .filter(col("l_shipdate") > lit(Q3Date).cast("timestamp"))
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .cast("decimal(18,4)").as("rev"))
      .join(t.orders
          .filter(col("o_orderdate") < lit(Q3Date).cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.filter(col("c_mktsegment") === Q3Segment)
          .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc,
        col("l_orderkey").asc)
      .limit(10)
  }

  // ---------------------------------------------------------------- q111
  /** Supplier market concentration per nation — the Herfindahl index
    * (Σ share², 1.0 = monopoly) over each nation's supplier lineitem
    * volume: the concentration report behind sourcing-risk reviews.
    * Engine-exact by construction: HHI = Σcnt² / (Σcnt)², so the sum
    * is over INTEGERS (order-free) and the only float op is the final
    * division (the denominator squares in double — a BIGINT square
    * would overflow at 100 TB volumes, identically in both engines'
    * worst way). Two partial-agg passes; the supplier dim broadcasts. */
  def q111SupplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val sc = t.lineitem.select(col("l_suppkey"))
      .join(broadcast(t.supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nk"), col("l_suppkey").as("sk"))
      .agg(count(lit(1)).as("cnt"))
    sc.groupBy("nk")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("cnt")).as("n_lines"),
        sum(col("cnt") * col("cnt")).as("sumsq"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("nk") === col("n_nationkey"))
      .select(col("n_name"), col("n_suppliers"), col("n_lines"),
        round(col("sumsq").cast("double")
          / (col("n_lines").cast("double") * col("n_lines")), 6).as("hhi"))
      .orderBy(col("hhi").desc, col("n_name").asc)
  }

  // ---------------------------------------------------------------- q138
  /** Customer-spend inequality per nation — the Gini coefficient over
    * each nation's per-customer order totals (0 = everyone spends the
    * same, →1 = one whale), the concentration lens q111's HHI applies
    * to suppliers turned on the demand side, where the entity count is
    * too big for a share-of-top-k table to summarize.
    *
    * Engine-exact: per-customer spend stays DECIMAL(18,2) (exact,
    * order-free sums), the rank is an integer from the total
    * (spend, custkey) order, and Σ rank·spend is again an exact
    * decimal — G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n touches doubles only
    * in the final scalar per nation, rounded to 6dp.
    *
    * Scale shape: one partial-agg pass over orders keyed by customer,
    * a dimension join, then a rank window partitioned by nation —
    * the sort is per-nation over CUSTOMERS (not orders), the same
    * cardinality every ntile in this file already shuffles. A nation
    * holding most of the customer base makes that partition the
    * straggler; the fallback is the binned Gini over q105's equi-depth
    * buckets (trapezoid Lorenz sum — no total sort). */
  def gini(perEntity: DataFrame): DataFrame = {
    // perEntity: (grp, ent, spend DECIMAL(18,2))
    val w = Window.partitionBy("grp").orderBy(col("spend").asc, col("ent").asc)
    perEntity.withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("grp").agg(
        count(lit(1)).as("n_customers"),
        sum(col("spend")).as("total"),
        sum(col("spend") * col("rk")).as("rankSum"))
      .select(col("grp"),
        col("n_customers"),
        col("total").cast("double").as("total_spend"),
        round(lit(2.0) * col("rankSum").cast("double")
            / (col("n_customers") * col("total")).cast("double")
          - (col("n_customers") + lit(1)).cast("double") / col("n_customers"),
          6).as("gini"))
  }

  def q138GiniSpend(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val spend = t.orders
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("grp"), col("o_custkey").as("ent"), col("spend"))
    gini(spend)
      .withColumnRenamed("grp", "n_name")
      .orderBy(col("gini").desc, col("n_name").asc)
  }

  // ---------------------------------------------------------------- q177
  /** TPC-H Q10 (returned-item reporting) — the canonical top-k
    * customer report: revenue lost to returns in one quarter,
    * attributed per customer, top 20. Plan shape: the returnflag
    * filter and the quarter range both push to their scans (lineitem
    * drops ~2/3 of rows, orders ~24× at the scan); nation broadcasts;
    * lineitem⋈orders is the one fact-scale shuffle; the grouped
    * relation is customer-sized and the global top-20 is a
    * TakeOrderedAndProject (k rows per partition cross the final
    * exchange, never the customer table). Revenue uses the library's
    * money convention (4dp-rounded doubles summed as DECIMAL —
    * accumulation-order-free, engine-exact). */
  val Q10Start = "1995-10-01"
  val Q10End = "1996-01-01"

  def q177TpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .cast("decimal(18,4)").as("rev"))
      .join(t.orders
          .filter(col("o_orderdate") >= lit(Q10Start).cast("date") &&
            col("o_orderdate") < lit(Q10End).cast("date"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select(col("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
      .select("c_custkey", "c_name", "n_name", "c_acctbal", "revenue")
  }

  // ---------------------------------------------------------------- q179
  /** TPC-H Q1 (pricing summary report) — the benchmark's scan-and-
    * aggregate staple and the purest throughput probe in the suite:
    * ONE lineitem pass, the shipdate cutoff pushed to the scan, a
    * 4-group hash aggregate whose partial (map-side) combine reduces
    * each partition to |groups| rows before the only exchange. All
    * money sums follow the library's round→DECIMAL convention and
    * averages divide those exact decimal sums by exact counts in one
    * terminal double op — accumulation-order-free, engine-exact. */
  val Q1Cutoff = "1998-09-02"

  def q179TpchQ1(spark: SparkSession, dir: String): DataFrame = {
    val disc = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
      .cast("decimal(18,4)")
    // extprice(2dp) x (1-disc)(2dp) x (1+tax)(2dp) has EXACTLY six
    // decimal digits, so 6dp rounding is tie-free in both engines; a
    // 4dp round would land exactly on .5 boundaries where double
    // rounding conventions disagree (measured: ~1e-4 divergence)
    val charge = round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      * (lit(1.0) + col("l_tax")), 6).cast("decimal(22,6)")
    Tables(spark, dir).lineitem
      .filter(col("l_shipdate") <= lit(Q1Cutoff).cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(round(col("l_quantity"), 2).cast("decimal(18,2)"))
          .cast("double").as("sum_qty"),
        sum(round(col("l_extendedprice"), 2).cast("decimal(18,2)"))
          .cast("double").as("sum_base_price"),
        sum(disc).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        round(sum(round(col("l_quantity"), 2).cast("decimal(18,2)"))
          .cast("double") / count(lit(1)), 6).as("avg_qty"),
        round(sum(round(col("l_extendedprice"), 2).cast("decimal(18,2)"))
          .cast("double") / count(lit(1)), 6).as("avg_price"),
        round(sum(round(col("l_discount"), 4).cast("decimal(18,4)"))
          .cast("double") / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------- q180
  /** TPC-H Q6 (forecasting revenue change) — the pure filter-and-sum
    * probe: every predicate (date year, discount band, quantity cap)
    * pushes to the parquet scan, and the survivors fold into ONE
    * decimal sum with map-side partials; a single scalar row crosses
    * the wire. The float-literal discount band compares the same
    * parquet doubles against the same literals in both engines. */
  val Q6Year = "1996"

  def q180TpchQ6(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .filter(col("l_shipdate") >= lit(s"$Q6Year-01-01").cast("date") &&
        col("l_shipdate") < lit(s"${Q6Year.toInt + 1}-01-01").cast("date") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(round(col("l_extendedprice") * col("l_discount"), 4)
        .cast("decimal(18,4)")).cast("double").as("revenue"))

  // ---------------------------------------------------------------- q184
  /** TPC-H Q4 (order-priority checking), adapted: the benchmark's
    * EXISTS probe — count orders per priority that had at least one
    * late line. The testdata carries no l_commitdate/l_receiptdate,
    * so "late" is re-expressed on the columns that exist (shipped
    * more than 90 days after the order date) — a documented deviation
    * in the q147 style; the SHAPE under test is unchanged: a quarter
    * range pushed to the orders scan, then a LEFT SEMI join against
    * lineitem (each order emitted at most once no matter how many
    * late lines — the semantics COUNT(*) over a plain join would get
    * wrong), then a priority-sized hash agg. The semi join is the one
    * fact-scale shuffle; the non-equi lateness predicate rides the
    * equi orderkey key, so no BNLJ appears at any scale. */
  val Q4Start = "1996-01-01"
  val Q4End = "1996-04-01"
  val Q4LateDays = 90

  def q184TpchQ4(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .filter(col("o_orderdate") >= lit(Q4Start).cast("date") &&
        col("o_orderdate") < lit(Q4End).cast("date"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(t.lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), Q4LateDays),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  // ---------------------------------------------------------------- q185
  /** TPC-H Q14 (promotion effect) — the conditional-aggregation
    * staple: what share of one month's revenue came from PROMO parts.
    * Plan shape: the month range pushes to the lineitem scan (~80×
    * row cut), the part join carries only (p_partkey, is-promo flag)
    * — at 100 TB part is fact-scale so this is a key-partitioned
    * equi join (broadcast would be wrong to hard-code; AQE picks it
    * when part is small), and both conditional sums collapse in ONE
    * map-side partial agg to a single row. Money follows the
    * round→DECIMAL convention; the percentage is one terminal double
    * division rounded at 6dp. */
  val Q14Month = "1997-09"

  def q185TpchQ14(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
      .cast("decimal(18,4)")
    t.lineitem
      .filter(col("l_shipdate") >= lit(s"$Q14Month-01").cast("date") &&
        col("l_shipdate") < add_months(lit(s"$Q14Month-01").cast("date"), 1))
      .select(col("l_partkey"), rev.as("rev"))
      .join(t.part.select(col("p_partkey"),
          col("p_type").startsWith("PROMO").as("is_promo")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(lit(100.0) *
          sum(when(col("is_promo"), col("rev"))
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
          sum(col("rev")).cast("double"), 6).as("promo_revenue_pct"),
        sum(col("rev")).cast("double").as("total_revenue"))
  }

  // ---------------------------------------------------------------- q186
  /** TPC-H Q18 (large-volume customers) — the group-HAVING-then-join-
    * back shape: orders whose total line quantity clears a threshold,
    * reported with their customer. Plan: lineitem collapses FIRST in
    * a map-side-combined orderkey agg (the grouped relation is
    * order-sized), the HAVING prunes to the rare heavy orders BEFORE
    * any join, and only the survivors join orders and customer — so
    * the expensive 3-way join runs on the filtered minority, never
    * the raw fact table. Top-100 is a TakeOrderedAndProject (k rows
    * per partition cross the final exchange). */
  val Q18MinQty = 300.0

  def q186TpchQ18(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val heavy = t.lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity"), 2).cast("decimal(18,2)"))
        .cast("double").as("sum_qty"))
      .filter(col("sum_qty") > Q18MinQty)
    heavy
      .join(t.orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  // ---------------------------------------------------------------- q196
  /** TPC-H Q7 (volume shipping) — the bidirectional nation-pair
    * report: revenue flowing between two trading nations in each
    * direction, per year. Exercises the benchmark's double-dimension
    * join (supplier nation AND customer nation resolved through two
    * independent broadcast joins of the same dim) with a symmetric
    * pair predicate that must NOT collapse the directions.
    *
    * Plan shape: lineitem⋈orders is the one fact-scale shuffle;
    * supplier and customer resolve their nation keys through
    * broadcast joins (nation is 25 rows; supplier/customer joins ride
    * their keys); the pair filter prunes AFTER the nation names
    * attach but BEFORE the aggregate, and the grouped relation is
    * (2 directions × years)-sized. */
  val Q7NationA = "NATION_12"
  val Q7NationB = "NATION_10"
  val Q7Start = "1996-01-01"
  val Q7End = "1998-01-01"

  def q196TpchQ7(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val n1 = broadcast(t.nation.select(col("n_nationkey").as("s_nk"),
      col("n_name").as("supp_nation")))
    val n2 = broadcast(t.nation.select(col("n_nationkey").as("c_nk"),
      col("n_name").as("cust_nation")))
    t.lineitem
      .filter(col("l_shipdate") >= lit(Q7Start).cast("date") &&
        col("l_shipdate") < lit(Q7End).cast("date"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .cast("decimal(18,4)").as("rev"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === Q7NationA && col("cust_nation") === Q7NationB) ||
          (col("supp_nation") === Q7NationB && col("cust_nation") === Q7NationA))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  // ---------------------------------------------------------------- q197
  /** TPC-H Q8 (national market share) — per year, the share of one
    * nation's suppliers in a region's order volume for one part
    * type. The benchmark's deepest join tree (6 tables: lineitem,
    * part, supplier, orders, customer, nation×2 + region), with a
    * conditional-share aggregate on top.
    *
    * Plan shape: the part-type filter prunes the part side BEFORE
    * its join (type is ~1/6 of parts); the region filter prunes
    * customers through a broadcast nation⋈region dim; both nation
    * resolutions broadcast; lineitem⋈orders and lineitem⋈part ride
    * their keys as the fact-scale shuffles; the share is the q185
    * conditional-sum shape over a years-sized grouped relation.
    * Decimal sums, one terminal double division per year, 6dp. */
  val Q8Region = "EUROPE"
  val Q8Nation = "NATION_3"
  val Q8Type = "STANDARD"
  val Q8Start = "1996-01-01"
  val Q8End = "1998-01-01"

  def q197TpchQ8(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val regionNations = broadcast(t.nation
      .join(t.region.filter(col("r_name") === Q8Region)
          .select(col("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("rn_nk")))
    val suppNation = broadcast(t.nation.select(
      col("n_nationkey").as("sn_nk"), col("n_name").as("supp_nation")))
    t.lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .cast("decimal(18,4)").as("rev"))
      .join(t.part.filter(col("p_type") === Q8Type).select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(t.orders
          .filter(col("o_orderdate") >= lit(Q8Start).cast("date") &&
            col("o_orderdate") < lit(Q8End).cast("date"))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(regionNations, col("c_nationkey") === col("rn_nk"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(suppNation, col("s_nationkey") === col("sn_nk"))
      .groupBy("o_year")
      .agg(
        round(
          sum(when(col("supp_nation") === Q8Nation, col("rev"))
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
            sum(col("rev")).cast("double"), 6).as("mkt_share"),
        sum(col("rev")).cast("double").as("total_volume"))
      .orderBy("o_year")
  }

  // ---------------------------------------------------------------- q201
  /** TPC-H Q13 (customer distribution) — the outer-join histogram:
    * how many customers placed 0, 1, 2, … orders. The shape under
    * test is the LEFT OUTER join that must keep orderless customers
    * (an inner join silently drops the 0-bucket — the classic Q13
    * mistake) followed by two stacked aggregations: per-customer
    * order counts, then the count-of-counts histogram.
    *
    * Plan: customer LEFT JOIN orders rides the customer key (one
    * fact-scale shuffle); the first agg collapses to customer grain
    * with map-side combine; the histogram agg runs on the
    * customer-sized relation. */
  def q201TpchQ13(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.select(col("c_custkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  // ---------------------------------------------------------------- q202
  /** TPC-H Q22 (global sales opportunity), adapted: customers with
    * above-average positive balances and NO ORDER SINCE [[Q22Cutoff]]
    * — the lapsed-high-value-customer report. The verbatim "never
    * ordered" form returns zero rows on this data (every customer
    * has ordered — 75 orders/customer), so the anti-join side is
    * date-restricted, which is also Q22's actual business intent
    * (spending power, not buying). Documented deviation, q147/q184
    * style; the SHAPE under test is unchanged: a global scalar
    * subquery (the positive-balance average) feeding a filter, plus
    * NOT EXISTS as a LEFT ANTI join.
    *
    * Plan: the scalar average broadcasts as a single row; the anti
    * join rides the customer key; the grouped relation is
    * nation-sized. Money follows the round→DECIMAL convention for
    * the balance sum. */
  val Q22Cutoff = "2000-01-01"

  def q202TpchQ22(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // the threshold is ONE IEEE division of an exact decimal sum by an
    // exact count — accumulation-order-free, so the boundary compare
    // below cannot flip between engines (a plain double avg could
    // drift an ulp and move a boundary customer across the filter)
    val avgBal = t.customer.filter(col("c_acctbal") > 0.0)
      .agg((sum(round(col("c_acctbal"), 2).cast("decimal(18,2)"))
        .cast("double") / count(lit(1))).as("avg_bal"))
    t.customer.select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(t.orders
          .filter(col("o_orderdate") >= lit(Q22Cutoff).cast("date"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(round(col("c_acctbal"), 2).cast("decimal(18,2)"))
          .cast("double").as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  // ---------------------------------------------------------------- q205
  /** TPC-H Q15 (top supplier): one quarter's revenue per supplier,
    * report the maximum-revenue supplier(s). Shape: the revenue
    * "view" is ONE map-side-combined supplier agg over the
    * date-pruned lineitem scan (the grouped relation is
    * supplier-sized); Q15's scalar subquery becomes a 1-row broadcast
    * cross join back onto it, so ties surface exactly as the
    * benchmark requires without any window. The equality compare runs
    * on the EXACT decimal sums — a double compare could split a tie
    * that decimal arithmetic says is real. */
  val Q15Start = "1997-01-01"
  val Q15End = "1997-04-01"

  def q205TpchQ15(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = t.lineitem
      .filter(col("l_shipdate") >= lit(Q15Start).cast("date") &&
        col("l_shipdate") < lit(Q15End).cast("date"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .cast("decimal(18,4)")).as("total_rev"))
    val top = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_rev") === col("max_rev"))
      .join(t.supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  // ---------------------------------------------------------------- q206
  /** TPC-H Q17 (small-quantity-order revenue), container adapted to
    * p_type (the testdata has no p_container — documented deviation,
    * q147/q184 style): for one brand + type, the average yearly
    * revenue that would be lost if orders below 20 % of the part's
    * average quantity were no longer taken. Shape: q186's
    * group-then-join-back — the per-part average quantity is a
    * part-sized agg over the SAME brand/type-pruned lineitem slice it
    * later gates, each threshold ONE exact decimal-sum / count
    * division (order-free, so the boundary compare can't flip between
    * engines). The brand/type filter prunes part BEFORE its join. */
  val Q17Brand = "Brand#19"
  val Q17Type = "MEDIUM"

  def q206TpchQ17(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val parts = t.part
      .filter(col("p_brand") === Q17Brand && col("p_type") === Q17Type)
      .select(col("p_partkey"))
    val li = t.lineitem
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(parts, col("l_partkey") === col("p_partkey"))
    val avgQty = li.groupBy(col("p_partkey").as("ap"))
      .agg((sum(round(col("l_quantity"), 2).cast("decimal(18,2)"))
        .cast("double") / count(lit(1))).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(round(col("l_extendedprice"), 2).cast("decimal(18,2)"))
        .cast("double") / 7.0, 4).as("avg_yearly"))
  }

  // ---------------------------------------------------------------- q207
  /** TPC-H Q19 (discounted revenue — the benchmark's disjunctive-
    * predicate probe), containers adapted to p_size bands (documented
    * deviation): three (brand, size-band, quantity-band) disjuncts.
    * Shape: the OR-of-ANDs is a RESIDUAL filter on the partkey equi
    * join — Catalyst keeps the join keyed (no BNLJ at any scale) and
    * evaluates the disjunction post-match; part carries only the
    * three columns the predicate reads. */
  def q207TpchQ19(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val p = t.part.select(col("p_partkey"), col("p_brand"), col("p_size"))
    val disjunct =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#15" && col("p_size").between(11, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#24" && col("p_size").between(26, 50) &&
        col("l_quantity").between(20, 30))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(disjunct)
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  // ---------------------------------------------------------------- q208
  /** TPC-H Q11 (important stock), partsupp adapted to the
    * lineitem-derived supplier×part TRADE relation (the testdata has
    * no partsupp; a pair's "value" is its traded revenue — documented
    * deviation): parts whose total value from ONE nation's suppliers
    * exceeds [[Q11MeanMult]] × the MEAN per-part value of that
    * region's trade (region, not nation: the smallest driver SF has
    * ~10 suppliers total and no single nation reliably has one). The benchmark's fraction is 0.0001/SF — scaled
    * to the data by hand; the mean-multiple form is scale-free by
    * construction (a fixed fraction returns 0 rows at 10× the part
    * count and everything at 0.1×). Shape: Q11's scalar-subquery
    * threshold — the value relation is ONE part-keyed agg over the
    * region-pruned lineitem⋈supplier slice, the global (total, count)
    * is a 1-row broadcast cross join, and the nation filter rides a
    * broadcast supplier dim. */
  val Q11Region = "EUROPE"
  val Q11MeanMult = 1.5

  def q208TpchQ11(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val supp = t.supplier
      .join(broadcast(t.nation.join(
          t.region.filter(col("r_name") === Q11Region)
            .select(col("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = t.lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .cast("decimal(18,4)")).as("value"))
    val total = value.agg(sum(col("value")).as("total"),
      count(lit(1)).as("n_parts"))
    value.crossJoin(broadcast(total))
      .filter(col("value").cast("double") >
        col("total").cast("double") / col("n_parts") * Q11MeanMult)
      .select(col("l_partkey").as("p_partkey"),
        col("value").cast("double").as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  // ---------------------------------------------------------------- q209
  /** TPC-H Q16 (parts/supplier relationship), partsupp adapted to
    * the DISTINCT supplier×part pairs lineitem witnessed, and the
    * complaints exclusion adapted to negative-balance suppliers
    * (documented deviations). Shape: the pair relation dedups ONCE
    * map-side before anything joins; the excluded-supplier set is a
    * broadcast anti join; the brand/type/size filters prune part
    * before its join; the final agg is a COUNT(DISTINCT) over the
    * (brand, type, size)-sized grouped relation. */
  val Q16ExcludedBrand = "Brand#5"
  val Q16Sizes = Seq(1, 4, 9, 14, 19, 23, 36, 45)

  def q209TpchQ16(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val excl = t.supplier.filter(col("s_acctbal") < 0.0)
      .select(col("s_suppkey"))
    val pairs = t.lineitem.select(col("l_partkey"), col("l_suppkey"))
      .distinct()
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
    val p = t.part
      .filter(col("p_brand") =!= Q16ExcludedBrand &&
        !col("p_type").startsWith("PROMO") &&
        col("p_size").isin(Q16Sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    pairs.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  // ---------------------------------------------------------------- q210
  /** TPC-H Q21 (suppliers who kept orders waiting), lateness adapted
    * to shipped > [[Q4LateDays]] days after the order date (q184's
    * convention — no commit/receipt dates in the testdata): for
    * FINALIZED multi-supplier orders where EXACTLY ONE supplier
    * shipped late, charge that supplier. The benchmark's correlated
    * EXISTS / NOT-EXISTS pair collapses into per-order aggregates —
    * n_suppliers, n_late_suppliers, and the unique late supplier —
    * ONE orderkey-keyed agg instead of two correlated probes over
    * fact-scale lineitem (same semantics: "some other supplier has a
    * line" ⟺ n_suppliers ≥ 2; "no other supplier was late" ⟺
    * n_late_suppliers = 1; spec pins it against a scalar reference).
    * The orders join carries only finalized keys. */
  def q210TpchQ21(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val late = col("l_shipdate").cast("date") >
      date_add(col("o_orderdate").cast("date"), Q4LateDays)
    val perOrder = t.lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(t.orders.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late_supp", when(late, col("l_suppkey")))
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("late_supp")).as("n_late"),
        min(col("late_supp")).as("the_late"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
    perOrder
      .join(t.supplier.select(col("s_suppkey"), col("s_name")),
        col("the_late") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  // ---------------------------------------------------------------- q211
  /** TPC-H Q9 (product-type profit), supply cost adapted to
    * 0.5 · p_retailprice · l_quantity (no partsupp — documented
    * stand-in; the SHAPE is Q9's: a part filter fanning through
    * lineitem into a nation × year profit matrix). The part filter
    * prunes before the join; nation resolution rides a broadcast
    * dim; profit terms round→DECIMAL per line so the nation-year
    * sums are order-free. */
  val Q9Type = "STANDARD"

  def q211TpchQ9(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val p = t.part.filter(col("p_type") === Q9Type)
      .select(col("p_partkey"), col("p_retailprice"))
    val amount =
      round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .cast("decimal(18,4)") -
      round(lit(0.5) * col("p_retailprice") * col("l_quantity"), 4)
        .cast("decimal(18,4)")
    t.lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  // ---------------------------------------------------------------- q212
  /** TPC-H Q12 (shipping-mode priority audit), ship mode adapted to
    * ship-LATENCY bands (no l_shipmode/l_receiptdate — documented
    * deviation): lines land in FAST (≤30 d after order date), NORMAL
    * (31–90) or LATE (>90); per band, how many lines belong to
    * high-priority orders (1-URGENT/2-HIGH) vs the rest — Q12's
    * CASE-sum shape on the adapted dimension. Year-pruned at the
    * orders scan; the band expression is in-row; ONE conditional agg
    * over the band-sized grouped relation. */
  val Q12Year = 1998

  def q212TpchQ12(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val d = datediff(col("l_shipdate").cast("date"),
      col("o_orderdate").cast("date"))
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t.orders
      .filter(col("o_orderdate") >= lit(s"$Q12Year-01-01").cast("date") &&
        col("o_orderdate") < lit(s"${Q12Year + 1}-01-01").cast("date"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .join(t.lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .select(
        when(d <= 30, "FAST").when(d <= 90, "NORMAL").otherwise("LATE")
          .as("latency_band"),
        hi.as("hi"))
      .groupBy(col("latency_band"))
      .agg(sum(when(col("hi"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(col("hi"), 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("latency_band"))
  }

  // ---------------------------------------------------------------- q213
  /** TPC-H Q2 (minimum-cost supplier), partsupp supply cost adapted
    * to the supplier's best (minimum) traded UNIT price for the part
    * from lineitem — the RAW IEEE quotient l_extendedprice /
    * l_quantity, min'd: division and min are bit-identical across
    * engines and order-free, so the correlated "equals the minimum"
    * compare is exact WITHOUT rounding. (Rounding the quotient is the
    * trap: a quotient on a .00005 decimal boundary — measured at
    * sf0.1, 4864.11/24 = 202.67125 — ties HALF_UP vs half-even
    * differently per engine; sums need the decimal discipline,
    * min does not.) Shape: Q2's correlated min-cost subquery becomes the
    * q206 group-then-join-back — ONE (part, supplier)-keyed agg over
    * the size/type- and region-pruned trade slice, a part-keyed min
    * over that bounded relation, and an equality join-back; the
    * size/type filter prunes part BEFORE its fact join and the region
    * filter rides broadcast nation/region dims. Top-100 by account
    * balance, benchmark style, on a tie-free total order
    * (s_name unique, p_partkey breaks same-supplier ties). */
  val Q2Type = "ECONOMY"
  val Q2SizeLo = 10
  val Q2SizeHi = 30
  val Q2Region = "ASIA"

  def q213TpchQ2(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val supp = t.supplier
      .join(broadcast(t.nation.join(
          t.region.filter(col("r_name") === Q2Region)
            .select(col("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val p = t.part
      .filter(col("p_type") === Q2Type &&
        col("p_size").between(Q2SizeLo, Q2SizeHi))
      .select(col("p_partkey"), col("p_name"))
    val cost = t.lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(supp.select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
      .agg(min(col("unit_cost")).as("supply_cost"))
    val best = cost.groupBy(col("p_partkey").as("bp"))
      .agg(min(col("supply_cost")).as("min_cost"))
    cost.join(best, col("p_partkey") === col("bp") &&
        col("supply_cost") === col("min_cost"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  // ---------------------------------------------------------------- q214
  /** TPC-H Q20 (potential part promotion), availability adapted to
    * the supplier's shipped quantity of the part OUTSIDE the promo
    * year (no partsupp availqty — documented stand-in): region
    * suppliers holding some product-family part (name-SUFFIX match,
    * the analog of Q20's 'forest%' prefix on adjective-noun part
    * names) whose out-of-year quantity exceeds [[Q20Mult]] × the
    * in-year quantity, with in-year > 0. Shape: Q20's nested
    * per-(supplier, part) correlated agg — BOTH quantity sums are ONE
    * conditional decimal agg over the name- and region-pruned slice
    * (order-free), the outer EXISTS is a distinct-supplier
    * projection, and part/region prune BEFORE the fact join. */
  // "bolt" exists in BOTH the testdata and the bench-corpus noun
  // palettes — a suffix absent from the scale corpus would turn the
  // Part 7 scaling row into an empty-prune measurement
  val Q20Suffix = "bolt"
  val Q20Year = 1997
  val Q20Mult = 2
  val Q20Region = "EUROPE"

  def q214TpchQ20(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val supp = t.supplier
      .join(broadcast(t.nation.join(
          t.region.filter(col("r_name") === Q20Region)
            .select(col("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    val p = t.part.filter(col("p_name").endsWith(Q20Suffix))
      .select(col("p_partkey"))
    val inYear =
      col("l_shipdate") >= lit(s"$Q20Year-01-01").cast("date") &&
        col("l_shipdate") < lit(s"${Q20Year + 1}-01-01").cast("date")
    val q = round(col("l_quantity"), 2).cast("decimal(18,2)")
    val zero = lit(0).cast("decimal(18,2)")
    val qualified = t.lineitem
      .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_quantity"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(supp.select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(when(inYear, q).otherwise(zero)).as("in_qty"),
        sum(when(inYear, zero).otherwise(q)).as("out_qty"))
      .filter(col("in_qty") > 0 &&
        col("out_qty") > lit(Q20Mult) * col("in_qty"))
      .select(col("l_suppkey")).distinct()
    qualified.join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("s_acctbal").cast("double").as("s_acctbal"))
      .orderBy(col("s_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q213_tpch_q2" -> (q213TpchQ2 _),
    "q214_tpch_q20" -> (q214TpchQ20 _),
    "q205_tpch_q15" -> (q205TpchQ15 _),
    "q206_tpch_q17" -> (q206TpchQ17 _),
    "q207_tpch_q19" -> (q207TpchQ19 _),
    "q208_tpch_q11" -> (q208TpchQ11 _),
    "q209_tpch_q16" -> (q209TpchQ16 _),
    "q210_tpch_q21" -> (q210TpchQ21 _),
    "q211_tpch_q9" -> (q211TpchQ9 _),
    "q212_tpch_q12" -> (q212TpchQ12 _),
    "q201_tpch_q13" -> (q201TpchQ13 _),
    "q202_tpch_q22" -> (q202TpchQ22 _),
    "q196_tpch_q7" -> (q196TpchQ7 _),
    "q197_tpch_q8" -> (q197TpchQ8 _),
    "q184_tpch_q4" -> (q184TpchQ4 _),
    "q185_tpch_q14" -> (q185TpchQ14 _),
    "q186_tpch_q18" -> (q186TpchQ18 _),
    "q177_tpch_q10" -> (q177TpchQ10 _),
    "q179_tpch_q1" -> (q179TpchQ1 _),
    "q180_tpch_q6" -> (q180TpchQ6 _),
    "q138_gini_spend" -> (q138GiniSpend _),
    "q84_rollup" -> (q84Rollup _),
    "q85_moving_window" -> (q85MovingWindow _),
    "q86_pivot" -> (q86Pivot _),
    "q91_spend_deciles" -> (q91SpendDeciles _),
    "q95_cube" -> (q95Cube _),
    "q106_rfm_segments" -> (q106RfmSegments _),
    "q107_cohort_revenue" -> (q107CohortRevenue _),
    "q108_tpch_q5" -> (q108TpchQ5 _),
    "q147_tpch_q3" -> (q147TpchQ3 _),
    "q111_supplier_hhi" -> (q111SupplierHhi _),
  )

  val oracleSql: Map[String, String] = Map(
    "q213_tpch_q2" ->
      s"""WITH supp AS (
         |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
         |  FROM supplier s
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE r.r_name = '$Q2Region'),
         |cost AS (
         |  SELECT l.l_partkey AS p_partkey, p.p_name, l.l_suppkey,
         |         min(l.l_extendedprice / l.l_quantity) AS supply_cost
         |  FROM lineitem l
         |  JOIN part p ON l.l_partkey = p.p_partkey
         |  JOIN supp ON l.l_suppkey = supp.s_suppkey
         |  WHERE p.p_type = '$Q2Type'
         |    AND p.p_size BETWEEN $Q2SizeLo AND $Q2SizeHi
         |  GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT p_partkey AS bp, min(supply_cost) AS min_cost
         |  FROM cost GROUP BY 1)
         |SELECT s.s_acctbal, s.s_name, s.n_name, c.p_partkey, c.p_name,
         |       c.supply_cost
         |FROM cost c
         |JOIN best b ON c.p_partkey = b.bp AND c.supply_cost = b.min_cost
         |JOIN supp s ON c.l_suppkey = s.s_suppkey
         |ORDER BY s.s_acctbal DESC, s.n_name, s.s_name, c.p_partkey
         |LIMIT 100""".stripMargin,

    "q214_tpch_q20" ->
      s"""WITH supp AS (
         |  SELECT s.s_suppkey, s.s_name, s.s_acctbal
         |  FROM supplier s
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE r.r_name = '$Q20Region'),
         |qty AS (
         |  SELECT l.l_suppkey, l.l_partkey,
         |    sum(CASE WHEN l.l_shipdate >= DATE '$Q20Year-01-01'
         |              AND l.l_shipdate < DATE '${Q20Year + 1}-01-01'
         |         THEN CAST(round(l.l_quantity, 2) AS DECIMAL(18,2))
         |         ELSE CAST(0 AS DECIMAL(18,2)) END) AS in_qty,
         |    sum(CASE WHEN l.l_shipdate >= DATE '$Q20Year-01-01'
         |              AND l.l_shipdate < DATE '${Q20Year + 1}-01-01'
         |         THEN CAST(0 AS DECIMAL(18,2))
         |         ELSE CAST(round(l.l_quantity, 2) AS DECIMAL(18,2)) END)
         |      AS out_qty
         |  FROM lineitem l
         |  JOIN part p ON l.l_partkey = p.p_partkey
         |  JOIN supp ON l.l_suppkey = supp.s_suppkey
         |  WHERE p.p_name LIKE '%$Q20Suffix'
         |  GROUP BY 1, 2)
         |SELECT DISTINCT s.s_suppkey, s.s_name,
         |       CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
         |FROM qty q JOIN supp s ON q.l_suppkey = s.s_suppkey
         |WHERE q.in_qty > 0 AND q.out_qty > $Q20Mult * q.in_qty
         |ORDER BY s.s_name""".stripMargin,

    "q205_tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |         sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
         |           AS DECIMAL(18,4))) AS total_rev
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '$Q15Start'
         |    AND l_shipdate < DATE '$Q15End'
         |  GROUP BY 1)
         |SELECT s.s_suppkey, s.s_name,
         |       CAST(r.total_rev AS DOUBLE) AS total_revenue
         |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
         |WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
         |ORDER BY s.s_suppkey""".stripMargin,

    "q206_tpch_q17" ->
      s"""WITH li AS (
         |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
         |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |  WHERE p.p_brand = '$Q17Brand' AND p.p_type = '$Q17Type'),
         |aq AS (
         |  SELECT l_partkey AS ap,
         |         CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2)))
         |           AS DOUBLE) / count(*) AS avg_qty
         |  FROM li GROUP BY 1)
         |SELECT round(CAST(sum(CAST(round(l.l_extendedprice, 2)
         |         AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly
         |FROM li l JOIN aq a ON l.l_partkey = a.ap
         |WHERE l.l_quantity < 0.2 * a.avg_qty""".stripMargin,

    "q207_tpch_q19" ->
      """SELECT CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
        |         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 11 AND 25
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 26 AND 50
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q208_tpch_q11" ->
      s"""WITH v AS (
         |  SELECT l.l_partkey,
         |         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |           AS DECIMAL(18,4))) AS value
         |  FROM lineitem l
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE r.r_name = '$Q11Region'
         |  GROUP BY 1)
         |SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS value
         |FROM v
         |WHERE CAST(value AS DOUBLE) >
         |      (SELECT CAST(sum(value) AS DOUBLE) / count(*) FROM v)
         |        * $Q11MeanMult
         |ORDER BY value DESC, p_partkey""".stripMargin,

    "q209_tpch_q16" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         |ok AS (
         |  SELECT pr.l_partkey, pr.l_suppkey FROM pairs pr
         |  WHERE pr.l_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
         |SELECT p.p_brand, p.p_type, p.p_size,
         |       CAST(count(DISTINCT o.l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM ok o JOIN part p ON o.l_partkey = p.p_partkey
         |WHERE p.p_brand <> '$Q16ExcludedBrand'
         |  AND p.p_type NOT LIKE 'PROMO%'
         |  AND p.p_size IN (${Q16Sizes.mkString(", ")})
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin,

    "q210_tpch_q21" ->
      s"""WITH po AS (
         |  SELECT l.l_orderkey,
         |         CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_supp,
         |         CAST(count(DISTINCT CASE WHEN CAST(l.l_shipdate AS DATE) >
         |             CAST(o.o_orderdate AS DATE) + $Q4LateDays
         |           THEN l.l_suppkey END) AS BIGINT) AS n_late,
         |         min(CASE WHEN CAST(l.l_shipdate AS DATE) >
         |             CAST(o.o_orderdate AS DATE) + $Q4LateDays
         |           THEN l.l_suppkey END) AS the_late
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE o.o_orderstatus = 'F'
         |  GROUP BY 1)
         |SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
         |FROM po JOIN supplier s ON po.the_late = s.s_suppkey
         |WHERE po.n_supp >= 2 AND po.n_late = 1
         |GROUP BY 1, 2
         |ORDER BY numwait DESC, s.s_name
         |LIMIT 100""".stripMargin,

    "q211_tpch_q9" ->
      s"""SELECT n.n_name AS nation,
         |       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         |       CAST(sum(
         |         CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |           AS DECIMAL(18,4)) -
         |         CAST(round(0.5 * p.p_retailprice * l.l_quantity, 4)
         |           AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
         |FROM lineitem l
         |JOIN part p ON l.l_partkey = p.p_partkey
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |WHERE p.p_type = '$Q9Type'
         |GROUP BY 1, 2
         |ORDER BY nation, o_year DESC""".stripMargin,

    "q212_tpch_q12" ->
      s"""SELECT CASE
         |         WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
         |           CAST(l.l_shipdate AS DATE)) <= 30 THEN 'FAST'
         |         WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
         |           CAST(l.l_shipdate AS DATE)) <= 90 THEN 'NORMAL'
         |         ELSE 'LATE' END AS latency_band,
         |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         |         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         |         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |WHERE o.o_orderdate >= DATE '$Q12Year-01-01'
         |  AND o.o_orderdate < DATE '${Q12Year + 1}-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q201_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c.c_custkey,
        |             CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |      FROM customer c
        |      LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        |      GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q202_tpch_q22" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(CAST(round(c_acctbal, 2) AS DECIMAL(18,2)))
        |         AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c.c_acctbal > (SELECT CAST(sum(CAST(round(c_acctbal, 2)
        |                       AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                     FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= DATE '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q196_tpch_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
         |       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM lineitem l
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
         |WHERE l.l_shipdate >= DATE '$Q7Start'
         |  AND l.l_shipdate < DATE '$Q7End'
         |  AND ((n1.n_name = '$Q7NationA' AND n2.n_name = '$Q7NationB')
         |    OR (n1.n_name = '$Q7NationB' AND n2.n_name = '$Q7NationA'))
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q197_tpch_q8" ->
      s"""SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         |  round(CAST(sum(CASE WHEN n2.n_name = '$Q8Nation'
         |      THEN CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |           AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END)
         |    AS DOUBLE) /
         |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |      AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share,
         |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |    AS DECIMAL(18,4))) AS DOUBLE) AS total_volume
         |FROM lineitem l
         |JOIN part p ON l.l_partkey = p.p_partkey
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
         |JOIN region r ON n1.n_regionkey = r.r_regionkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
         |WHERE p.p_type = '$Q8Type' AND r.r_name = '$Q8Region'
         |  AND o.o_orderdate >= DATE '$Q8Start'
         |  AND o.o_orderdate < DATE '$Q8End'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q184_tpch_q4" ->
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders o
         |WHERE o.o_orderdate >= DATE '$Q4Start'
         |  AND o.o_orderdate < DATE '$Q4End'
         |  AND EXISTS (
         |    SELECT 1 FROM lineitem l
         |    WHERE l.l_orderkey = o.o_orderkey
         |      AND CAST(l.l_shipdate AS DATE) >
         |          CAST(o.o_orderdate AS DATE) + $Q4LateDays)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q185_tpch_q14" ->
      s"""SELECT
         |  round(100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
         |      THEN CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |           AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END)
         |    AS DOUBLE) /
         |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |      AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_revenue_pct,
         |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |    AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
         |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |WHERE l.l_shipdate >= DATE '$Q14Month-01'
         |  AND l.l_shipdate < DATE '$Q14Month-01' + INTERVAL 1 MONTH""".stripMargin,

    "q186_tpch_q18" ->
      s"""WITH heavy AS (
         |  SELECT l_orderkey,
         |         CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2)))
         |           AS DOUBLE) AS sum_qty
         |  FROM lineitem GROUP BY 1
         |  HAVING CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2)))
         |           AS DOUBLE) > $Q18MinQty)
         |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
         |       o.o_totalprice, h.sum_qty
         |FROM heavy h
         |JOIN orders o ON h.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |ORDER BY o.o_totalprice DESC, o.o_orderkey ASC LIMIT 100""".stripMargin,

    "q179_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_qty,
         |  CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
         |    AS DOUBLE) AS sum_base_price,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
         |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
         |    * (1 + l_tax), 6) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
         |  round(CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2)))
         |    AS DOUBLE) / count(*), 6) AS avg_qty,
         |  round(CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
         |    AS DOUBLE) / count(*), 6) AS avg_price,
         |  round(CAST(sum(CAST(round(l_discount, 4) AS DECIMAL(18,4)))
         |    AS DOUBLE) / count(*), 6) AS avg_disc,
         |  CAST(count(*) AS BIGINT) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= DATE '$Q1Cutoff'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q180_tpch_q6" ->
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * l_discount, 4)
         |  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= DATE '$Q6Year-01-01'
         |  AND l_shipdate < DATE '${Q6Year.toInt + 1}-01-01'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin,

    "q177_tpch_q10" ->
      s"""SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
         |       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM customer c, orders o, lineitem l, nation n
         |WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
         |  AND c.c_nationkey = n.n_nationkey
         |  AND l.l_returnflag = 'R'
         |  AND o.o_orderdate >= DATE '$Q10Start'
         |  AND o.o_orderdate < DATE '$Q10End'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "q138_gini_spend" ->
      """WITH s AS (
        |  SELECT o_custkey AS ent,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1),
        |e AS (
        |  SELECT n.n_name, s.ent, s.spend
        |  FROM s
        |  JOIN customer c ON s.ent = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |r AS (
        |  SELECT n_name, spend,
        |         CAST(row_number() OVER (PARTITION BY n_name
        |                                 ORDER BY spend ASC, ent ASC)
        |              AS BIGINT) AS rk
        |  FROM e),
        |a AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |         sum(spend) AS total, sum(spend * rk) AS ranksum
        |  FROM r GROUP BY 1)
        |SELECT n_name, n_customers,
        |       CAST(total AS DOUBLE) AS total_spend,
        |       round(2.0 * CAST(ranksum AS DOUBLE)
        |           / CAST(n_customers * total AS DOUBLE)
        |         - CAST(n_customers + 1 AS DOUBLE) / n_customers, 6) AS gini
        |FROM a ORDER BY gini DESC, n_name ASC""".stripMargin,

    "q84_rollup" ->
      """SELECT r.r_name, n.n_name,
        |       CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT)
        |         AS lvl,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP (r.r_name, n.n_name)
        |ORDER BY lvl, r_name, n_name""".stripMargin,

    "q85_moving_window" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |       CAST(row_number() OVER w AS BIGINT) AS seq,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |            OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |            OVER (w ROWS 2 PRECEDING) AS DOUBLE) AS last3_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, seq""".stripMargin,

    "q91_spend_deciles" ->
      """WITH s AS (
        |  SELECT o_custkey AS cust,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend,
        |         CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT cust, spend, n_orders,
        |         CAST(ntile(10) OVER (ORDER BY spend DESC, cust ASC)
        |              AS BIGINT) AS decile
        |  FROM s)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(n_orders) AS BIGINT) AS n_orders,
        |       CAST(sum(spend) AS DOUBLE) AS revenue
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q95_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
        |            AS BIGINT) AS lvl,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY lvl, o_orderstatus, o_orderpriority""".stripMargin,


    "q106_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey AS cust, max(o_orderdate) AS last_order,
        |         CAST(count(*) AS BIGINT) AS freq,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1),
        |sc AS (
        |  SELECT cust, spend,
        |    CAST(ntile(5) OVER (ORDER BY last_order DESC, cust ASC) AS BIGINT) AS r,
        |    CAST(ntile(5) OVER (ORDER BY freq DESC, cust ASC) AS BIGINT) AS f,
        |    CAST(ntile(5) OVER (ORDER BY spend DESC, cust ASC) AS BIGINT) AS m
        |  FROM per)
        |SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(spend) AS DOUBLE) AS revenue
        |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q107_cohort_revenue" ->
      """WITH o AS (
        |  SELECT o_custkey AS cust,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders),
        |c AS (SELECT cust, min(mon) AS cohort_month FROM o GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort_month,
        |         CAST(datediff('month', c.cohort_month, o.mon) AS BIGINT)
        |           AS month_offset,
        |         sum(o.p) AS rev
        |  FROM o JOIN c ON c.cust = o.cust
        |  GROUP BY 1, 2)
        |SELECT strftime(cohort_month, '%Y-%m') AS cohort_month, month_offset,
        |       CAST(rev AS DOUBLE) AS revenue,
        |       CAST(sum(rev) OVER (PARTITION BY cohort_month
        |                           ORDER BY month_offset
        |                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |         AS cum_revenue
        |FROM cells ORDER BY 1, 2""".stripMargin,


    "q108_tpch_q5" ->
      s"""SELECT n.n_name,
         |       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM customer c, orders o, lineitem l, supplier s, nation n, region r
         |WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
         |  AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
         |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
         |  AND r.r_name = '$Q5Region'
         |  AND o.o_orderdate >= DATE '$Q5Year-01-01'
         |  AND o.o_orderdate < DATE '${Q5Year.toInt + 1}-01-01'
         |GROUP BY 1 ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "q147_tpch_q3" ->
      s"""SELECT l.l_orderkey,
         |       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
         |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         |       o.o_orderdate, o.o_orderpriority
         |FROM customer c, orders o, lineitem l
         |WHERE c.c_mktsegment = '$Q3Segment'
         |  AND c.c_custkey = o.o_custkey
         |  AND l.l_orderkey = o.o_orderkey
         |  AND o.o_orderdate < TIMESTAMP '$Q3Date 00:00:00'
         |  AND l.l_shipdate > TIMESTAMP '$Q3Date 00:00:00'
         |GROUP BY 1, 3, 4
         |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
         |LIMIT 10""".stripMargin,

    "q86_pivot" ->
      """SELECT user_id,
        |       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q111_supplier_hhi" ->
      """WITH sc AS (
        |  SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2)
        |SELECT n.n_name,
        |       CAST(count(*) AS BIGINT) AS n_suppliers,
        |       CAST(sum(cnt) AS BIGINT) AS n_lines,
        |       round(CAST(sum(cnt * cnt) AS DOUBLE)
        |             / (CAST(sum(cnt) AS DOUBLE) * sum(cnt)), 6) AS hhi
        |FROM sc JOIN nation n ON sc.nk = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY hhi DESC, n.n_name ASC""".stripMargin,
  )
}
