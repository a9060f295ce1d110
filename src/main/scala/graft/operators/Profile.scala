package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Md5Prefix

/** Table profiling — the "describe this dataset" utility every
  * pipeline runs before trusting an input: per-column null counts
  * and exact distinct cardinalities in ONE pass over the table.
  *
  * Scale shape: a single wide aggregate computes every column's
  * counters together (the N exact distincts share one Expand +
  * two-level hash agg — one scan, no per-column re-reads), then the
  * row-per-column shape is an in-row posexplode of the collected
  * struct. At 100 TB swap `countDistinct` for
  * `approx_count_distinct` — same plan, fixed HLL sketch state per
  * column instead of distinct-value partials (the q60/S4 trade). */
object Profile {

  /** One profile row per column of `df`: (col_name, n_rows, n_nulls,
    * n_distinct). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] =
      count(lit(1)).as("n_rows") +:
        cols.flatMap { c =>
          Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
            countDistinct(col(c)).as(s"__dist_$c"))
        }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val packed = wide.select(col("n_rows"),
      array(cols.map(c =>
        struct(lit(c).as("col_name"), col(s"__nulls_$c").as("n_nulls"),
          col(s"__dist_$c").as("n_distinct"))): _*).as("p"))
    packed
      .select(col("n_rows"), explode(col("p")).as("c"))
      .select(col("c.col_name").as("col_name"), col("n_rows"),
        col("c.n_nulls").as("n_nulls"), col("c.n_distinct").as("n_distinct"))
      .orderBy("col_name")
  }

  val OrdersCols: Seq[String] = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  def q83TableProfile(spark: SparkSession, dir: String): DataFrame =
    profile(Tables(spark, dir).orders, OrdersCols)

  // ---------------------------------------------------------------- q93
  /** Equal-width histogram of a numeric column (orders totalprice,
    * [[HistBins]] bins over the observed [min, max]) — the value-
    * distribution profile behind every data-quality dashboard. Two
    * passes: one min/max scalar agg (broadcast as a single row), one
    * partial-agg bucket count; bin index = least(floor((x−min)/w),
    * bins−1) computed in the same expression order on both engines,
    * so bucket boundaries are bit-identical. */
  val HistBins = 10

  def q93ValueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders.select(col("o_totalprice").as("x"))
    val mm = o.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    o.crossJoin(broadcast(mm))
      .withColumn("w", (col("hi") - col("lo")) / HistBins)
      .withColumn("bin",
        least(floor((col("x") - col("lo")) / col("w")), lit(HistBins - 1L))
          .cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(min(col("x")), 2).as("bin_min"),
        round(max(col("x")), 2).as("bin_max"))
      .orderBy("bin")
  }

  // ---------------------------------------------------------------- q102
  /** Join-key skew profile: the measurement a shuffle plan needs
    * BEFORE choosing salting/broadcast/AQE-skew strategies (the
    * sources.SkewJoin utility's companion — measure, then salt). For
    * a prospective join key, reports the top-[[SkewTopK]] hottest
    * keys with their share of all rows and their multiple of the
    * mean key frequency. One partial-agg pass builds per-key counts;
    * the scalar totals broadcast as a single row; only the top-k
    * window runs on the (already aggregated) key relation. A hot-key
    * multiple ≫ 1 is the signal that key needs salting at scale. */
  val SkewTopK = 10

  def skewProfile(rows: DataFrame, key: String): DataFrame = {
    // per-key counts feed BOTH the scalar totals and the top-k path;
    // materialized once so the fact table is scanned and aggregated
    // once, not twice (broadcast below is explicit, so the cut's
    // stats erasure is harmless)
    val cnts = graft.Checkpoints.cut(
      rows.groupBy(col(key).as("key")).agg(count(lit(1)).as("cnt")))
    val tot = cnts.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"))
    // top-k via the keyed partial aggregate, NOT a row_number window:
    // the key relation is vocabulary-scale (every distinct join key),
    // and an unpartitioned window sorts it in one task — the exact
    // funnel this profile exists to help avoid. TopKKeyedAgg's tie
    // order (v desc, id asc) mirrors the window's (cnt desc, key asc);
    // counts are exact in double below 2^53. The aggregate is
    // payload-type-generic: a string/int/date join key —
    // the documented "prospective join key" use of this public API —
    // rides through unchanged and the output `key` column keeps the
    // input key's type.
    cnts.agg(graft.functions.TopKAgg.topkKeyed(
        col("cnt").cast("double"), col("key"), SkewTopK).as("tops"))
      .select(posexplode(col("tops")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("key"), col("t.v").cast("long").as("cnt"))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("key"), col("cnt"),
        round(col("cnt") / col("n_rows"), 6).as("share"),
        round(col("cnt") * col("n_keys") / col("n_rows"), 6).as("x_mean"))
      .orderBy("rank")
  }

  def q102SkewProfile(spark: SparkSession, dir: String): DataFrame =
    skewProfile(Tables(spark, dir).lineitem
      .select(col("l_partkey").cast("long").as("k")), "k")

  // ---------------------------------------------------------------- q105
  /** Equi-DEPTH histogram (equal-population buckets) — the histogram
    * shape query optimizers actually keep, complementing q93's
    * equal-width bins: ntile splits the value order into
    * [[HistBins]] near-equal buckets, each reported with its
    * population and value range. Deterministic tie-break on the row
    * key. The exact global ntile runs through
    * [[graft.Ordinals.ntileBy]] (parallel range-sort + Spark's ntile
    * arithmetic, spec-pinned bit-equal) — NOT an unpartitioned ntile
    * window, whose single-task sort of the FACT table is the worst
    * instance of the q91 funnel (orders-grain, not customer-grain).
    * At 100 TB the same report derives from `approx_percentile` cut
    * points without any total sort when approximate bucket BOUNDS are
    * acceptable. */
  def q105EquidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_totalprice").as("x"), col("o_orderkey"))
    graft.Ordinals.ntileBy(o,
        Seq(col("x").asc, col("o_orderkey").asc), HistBins, "bucket")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min(col("x")), 2).as("lo"),
        round(max(col("x")), 2).as("hi"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q132
  /** Count-min sketch (Cormode & Muthukrishnan 2005) word-frequency
    * estimation: [[CmsD]] hash rows × [[CmsW]] buckets of ADDITIVE
    * integer counters — the mergeable fixed-state summary that
    * answers point frequency queries over a stream the exact counter
    * table can't fit for. Unlike order-sensitive sketches
    * (SpaceSaving/Misra-Gries), CMS counters are pure sums, so the
    * distributed build is one partial agg and the result is
    * hash-exact on any engine or layout. The query side probes the
    * top-[[CmsProbeK]] true words and reports est = min over rows of
    * the probed counter — ≥ true by construction (spec-asserted),
    * with the overestimate showing collision pressure at w ≪ vocab.
    *
    * Scale shape: the sketch is [[CmsD]]·[[CmsW]] rows of state
    * regardless of corpus size (the whole point); probes broadcast. */
  val CmsD = 4
  val CmsW = 64
  val CmsProbeK = 10

  private def cmsBucket(r: Int, word: Column): Column =
    pmod(Md5Prefix(concat(lit(s"$r:"), word), 1, 8).cast("long"),
      lit(CmsW.toLong))

  def q132CountMinSketch(spark: SparkSession, dir: String): DataFrame =
    countMinSketch(graft.text.TextOps.docs(spark, dir)
      .select(explode(split(col("s"), " ")).as("word")), CmsProbeK)

  /** CMS build + top-`probeK` probe over a (word) relation. */
  private[graft] def countMinSketch(words: DataFrame, probeK: Int): DataFrame = {
    val sketch = words
      .select(explode(array((0 until CmsD).map(r =>
        struct(lit(r.toLong).as("r"), cmsBucket(r, col("word")).as("b"))): _*))
        .as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val top = words.groupBy("word").agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("word").asc).limit(probeK)
    val probes = top.select(col("word"), col("true_cnt"),
      explode(array((0 until CmsD).map(r =>
        struct(lit(r.toLong).as("r"), cmsBucket(r, col("word")).as("b"))): _*))
        .as("rb"))
      .select(col("word"), col("true_cnt"), col("rb.r").as("r"),
        col("rb.b").as("b"))
    broadcast(probes).join(sketch, Seq("r", "b"))
      .groupBy("word", "true_cnt").agg(min(col("c")).as("est_cnt"))
      .select(col("word"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))
      .orderBy(col("true_cnt").desc, col("word").asc)
  }

  // ---------------------------------------------------------------- q234
  /** Hash rows × buckets for the join-size sketches. Wider than
    * q132's point-query sketch ([[CmsW]] 64): the inner-product
    * estimator's expected overcount is ‖fA‖₁·‖fB‖₁/w, so w must be
    * sized against the PRODUCT of the stream masses, not one
    * stream's. */
  val JsD = 4
  val JsW = 8192

  /** CMS join-size estimation (Cormode & Muthukrishnan 2005 §4.2,
    * AGMS lineage): |A ⋈ₖ B| = Σₖ fA(k)·fB(k), the inner product of
    * the two key-frequency vectors — estimated as Σ_b cA[r][b]·cB[r][b]
    * per hash row r, read as min over rows. The optimizer-statistics
    * question at 100 TB: price a join from two fixed-size one-pass
    * mergeable summaries WITHOUT running it (the sketches are
    * [[JsD]]·[[JsW]] counters regardless of input size, and two
    * sketches built independently — different days, different
    * clusters — compose). Estimate ≥ exact by construction
    * (collisions only add cross terms; spec-asserted); the per-row
    * overcount column shows the collision pressure directly.
    *
    * The probed pair — returned lineitems vs high-quantity lineitems
    * on partkey — is a self-join-size question with real multiplicity
    * on both sides (every key matches many rows in each stream). */
  def q234JoinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val a = t.lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_partkey").cast("string").as("word"))
    val b = t.lineitem.filter(col("l_quantity") >= 40.0)
      .select(col("l_partkey").cast("string").as("word"))
    joinSizeEstimate(a, b)
  }

  private def jsBucket(r: Int, word: Column): Column =
    pmod(Md5Prefix(concat(lit(s"$r:"), word), 1, 8).cast("long"),
      lit(JsW.toLong))

  /** One row per hash row r: the sketch estimate of |a ⋈_word b|,
    * the exact size, and the overcount. */
  private[graft] def joinSizeEstimate(a: DataFrame, b: DataFrame): DataFrame = {
    def sketch(words: DataFrame, cName: String) = words
      .select(explode(array((0 until JsD).map(r =>
        struct(lit(r.toLong).as("r"), jsBucket(r, col("word")).as("b"))): _*))
        .as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as(cName))
    val est = sketch(a, "ca").join(sketch(b, "cb"), Seq("r", "b"))
      .groupBy(col("r"))
      .agg(sum(col("ca") * col("cb")).cast("long").as("est_size"))
    val fa = a.groupBy("word").agg(count(lit(1)).as("fa"))
    val fb = b.groupBy("word").agg(count(lit(1)).as("fb"))
    val exact = fa.join(fb, "word")
      .agg(coalesce(sum(col("fa") * col("fb")), lit(0L))
        .cast("long").as("exact_size"))
    est.crossJoin(broadcast(exact))
      .select(col("r"), col("est_size"), col("exact_size"),
        (col("est_size") - col("exact_size")).as("overcount"))
      .orderBy("r")
  }

  // ---------------------------------------------------------------- q148
  /** Winsorized robust scaling report per event type: clip `value` at
    * the exact [p05, p95] quantiles and report what the clipping did —
    * n, clipped counts both sides, the clip bounds, and raw vs
    * winsorized means. The outlier-taming transform feature pipelines
    * apply before z-scaling (q92's moments are exactly what raw
    * outliers distort).
    *
    * Engine contract: quantiles are exact `percentile` (bit-parity
    * with quantile_cont, the q60/q127 precedent; `approx_percentile`
    * is the 100 TB swap); clip counts are integers; the means sum
    * per-row ROUNDED values as DECIMAL (q108's accumulation-order-free
    * money contract) so both engines add exactly the same scaled
    * integers in any order. Two partial-agg passes (quantiles, then
    * stats) with the |types|-row bounds broadcast back. */
  val WinsorLo = 0.05
  val WinsorHi = 0.95

  def winsorize(e: DataFrame): DataFrame = {
    val bounds = e.groupBy("event_type").agg(
      expr(s"percentile(value, ${WinsorLo}D)").as("lo"),
      expr(s"percentile(value, ${WinsorHi}D)").as("hi"))
    e.join(broadcast(bounds), "event_type")
      .withColumn("w", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("clipped_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("clipped_hi"),
        round(min(col("lo")), 6).as("p05"),
        round(max(col("hi")), 6).as("p95"),
        sum(round(col("value"), 6).cast("decimal(28,6)")).as("sraw"),
        sum(round(col("w"), 6).cast("decimal(28,6)")).as("swin"))
      .select(col("event_type"), col("n"), col("clipped_lo"),
        col("clipped_hi"), col("p05"), col("p95"),
        round(col("sraw").cast("double") / col("n"), 6).as("mean_raw"),
        round(col("swin").cast("double") / col("n"), 6).as("mean_winsorized"))
      .orderBy("event_type")
  }

  def q148Winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorize(Tables(spark, dir).events.select(col("event_type"), col("value")))

  // ---------------------------------------------------------------- q151
  /** MAD-based robust outlier report per event type — the
    * median/median-absolute-deviation twin of q92's mean/σ z-scores:
    * modified z = 0.6745·(x − median)/MAD, flagged past the classic
    * 3.5 cut (Iglewicz & Hoaglin). Where one wild value drags q92's
    * mean AND its σ (masking itself), the medians don't move — this
    * is the detector that still works on the data q148 would clip.
    *
    * Engine contract: both medians are exact `percentile` (selection
    * — bit-parity with quantile_cont, the q60 contract; approx at
    * 100 TB); the deviation and the z comparison are fixed float
    * expressions over identical doubles, so the flag booleans and
    * counts hash-match. Two partial-agg passes + broadcast bounds. */
  val MadZCut = 3.5

  def madOutliers(e: DataFrame): DataFrame = {
    val med = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5D)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("ad", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(ad, 0.5D)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("flag",
        col("mad") > 0 &&
          lit(0.6745) * abs(col("value") - col("med")) / col("mad") > MadZCut)
      .groupBy("event_type").agg(
        count(lit(1)).as("n"),
        round(min(col("med")), 6).as("median"),
        round(min(col("mad")), 6).as("mad"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  def q151MadOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutliers(Tables(spark, dir).events
      .select(col("event_type"), col("value")))

  // ---------------------------------------------------------------- q181
  /** k-anonymity audit (Sweeney 2002) — the re-identification check a
    * data-release pipeline runs before publishing "anonymized"
    * records: group the table by its quasi-identifier combination
    * (here nation × market segment × account-balance band, the
    * attributes an attacker can link from public sources) and report
    * each group's population k. Groups with k < [[KAnonThreshold]]
    * are re-identifiable — the release either suppresses them or
    * coarsens the bands until every group clears k.
    *
    * Scale shape: ONE partial-agg pass over the table (map-side
    * combine collapses each partition to its distinct QI combos);
    * the grouped relation is |QI-value-space|-sized, not
    * table-sized. Coarsening iterations re-run the same single agg
    * with wider bands — no other plan shape exists at any scale. */
  val KAnonThreshold = 5L
  val KAnonBand = 2000.0

  def q181KAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymity(Tables(spark, dir).customer)

  /** Core of q181 over (c_nationkey, c_mktsegment, c_acctbal) rows. */
  private[graft] def kAnonymity(customer: DataFrame): DataFrame =
    customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / KAnonBand).cast("long").as("acctbal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "acctbal_band")
      .agg(count(lit(1)).as("k"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("acctbal_band"),
        col("k"), (col("k") < KAnonThreshold).as("is_reidentifiable"))
      .orderBy("c_nationkey", "c_mktsegment", "acctbal_band")

  // ---------------------------------------------------------------- q188
  /** l-diversity audit (Machanavajjhala et al. 2006) — the check
    * k-anonymity misses: a group can be large (k-anonymous) yet
    * reveal its sensitive attribute anyway when every member shares
    * one value. QI here is nation × balance band (q181's bands with
    * the segment REMOVED from the QI — it becomes the sensitive
    * attribute); per group the audit reports distinct-l (how many
    * sensitive values appear) and entropy-l (exp of the sensitive-
    * value entropy — the EFFECTIVE number of distinct values, which
    * distinct-l overstates when one value dominates). Groups below
    * [[LDivThreshold]] distinct values are homogeneity-attackable.
    *
    * Scale shape: ONE partial-agg pass to the (QI, sensitive) grain
    * (map-side combine collapses partitions to their distinct combos
    * — the relation is value-space-sized, not table-sized), then a
    * QI-grain agg over it. Entropy terms follow the library's float
    * discipline: each (p·ln p) term rounds at 6dp into a DECIMAL sum
    * (order-free, engine-exact); exp only in the final 4dp scalar. */
  val LDivThreshold = 3L

  def q188LDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables(spark, dir).customer
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / KAnonBand).cast("long").as("acctbal_band"),
        col("c_mktsegment"))
      .groupBy("c_nationkey", "acctbal_band", "c_mktsegment")
      .agg(count(lit(1)).as("c"))
    val k = cnt.groupBy("c_nationkey", "acctbal_band")
      .agg(sum(col("c")).as("k"))
    cnt.join(k, Seq("c_nationkey", "acctbal_band"))
      .withColumn("term",
        round((col("c").cast("double") / col("k")) *
          log(col("c").cast("double") / col("k")), 6).cast("decimal(18,6)"))
      .groupBy("c_nationkey", "acctbal_band")
      .agg(max(col("k")).as("k"),
        count(lit(1)).as("l_distinct"),
        round(exp(-sum(col("term")).cast("double")), 4).as("entropy_l"))
      .withColumn("is_homogeneity_risk", col("l_distinct") < LDivThreshold)
      .orderBy("c_nationkey", "acctbal_band")
  }

  // ---------------------------------------------------------------- q194
  /** Deterministic-sample quantile audit — per event type, the
    * nearest-rank p50/p90/p99 of `value` estimated from an md5-keyed
    * ~10 % row sample, reported NEXT TO the exact quantiles with the
    * relative error: the L63/V46 acceptance-test pattern applied to
    * quantiles (trust the cheap estimator only after measuring it
    * against the exact baseline). The sample rule is a pure function
    * of the event key (q47's sampler discipline) — reproducible on
    * any engine, any layout, any retry.
    *
    * Nearest-rank quantiles (value at rank ⌈q·n⌉ under the total
    * order (value, event_id)) — NO interpolation, so both engines
    * select the same physical row and the compare is exact, the q105
    * ntile logic at probe grain. Scale shape: both sides are per-key
    * windows (partitioned by event_type — the q85 shape, never a
    * global sort); the exact side is by definition the expensive
    * audit baseline, the sample side is the scale path (10× fewer
    * rows through the same plan). */
  val QAuditProbes: Seq[Double] = Seq(0.5, 0.9, 0.99)
  val QAuditMod = 10L

  def q194SampleQuantileAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_type"), col("value"), col("event_id"))
    val probesDf = QAuditProbes.map(q => s"${q}D").mkString("array(", ",", ")")

    def side(d: DataFrame, vCol: String, nCol: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)
      val ranked = d.withColumn("rk", row_number().over(w).cast("long"))
      val n = d.groupBy("event_type").agg(count(lit(1)).as(nCol))
      val targets = n.select(col("event_type"), col(nCol),
          explode(expr(probesDf)).as("q"))
        .withColumn("target", ceil(col("q") * col(nCol)).cast("long"))
      ranked.join(targets,
          Seq("event_type")).filter(col("rk") === col("target"))
        .select(col("event_type"), col("q"), col(nCol),
          col("value").as(vCol))
    }

    val exact = side(ev, "exact_v", "n_exact")
    val sampled = side(
      ev.filter(
        Md5Prefix(col("event_id").cast("string"), 1, 8).cast("bigint")
          % QAuditMod === 0),
      "sample_v", "n_sample")
    exact.join(sampled, Seq("event_type", "q"))
      .select(col("event_type"), col("q"), col("n_exact"), col("n_sample"),
        col("exact_v"), col("sample_v"),
        round(lit(100.0) * (col("sample_v") - col("exact_v")) / col("exact_v"), 4)
          .as("rel_err_pct"))
      .orderBy("event_type", "q")
  }

  // ---------------------------------------------------------------- q198
  /** Data-contract audit — the dbt-tests/Great-Expectations analog:
    * one report row per declared constraint (primary-key uniqueness,
    * referential integrity, value ranges, non-null), with the
    * violation count and a pass flag. This is the gate a warehouse
    * load runs before publishing a snapshot; a contract that exists
    * only in documentation is not a contract.
    *
    * Scale shape, per check class: PK uniqueness is ONE partial agg
    * (count − distinct via a key-grain pre-agg, never a self-join);
    * FK checks are LEFT ANTI joins riding the key (dimension sides
    * broadcast when small — AQE decides; the anti join is the
    * canonical orphan probe and ships only violation counts); range
    * and null checks are filter counts whose predicates push to the
    * scan. Every check emits one row — the report is
    * contract-sized, never data-sized. */
  /** One report row from a violations relation. */
  private[graft] def check(table: String, name: String,
      violations: DataFrame): DataFrame =
    violations.agg(count(lit(1)).as("n_violations"))
      .select(lit(table).as("tbl"), lit(name).as("contract"),
        col("n_violations"), (col("n_violations") === 0L).as("pass"))

  /** Keys appearing more than once — the PK-uniqueness violation
    * relation (key-grain pre-agg, never a self-join). */
  private[graft] def dupKeys(d: DataFrame, key: String): DataFrame =
    d.groupBy(col(key)).agg(count(lit(1)).as("c")).filter(col("c") > 1)

  /** Child keys with no parent — the canonical orphan probe. */
  private[graft] def fkOrphans(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    child.select(col(childKey))
      .join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")

  def q198DataContractAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)

    val checks = Seq(
      check("orders", "pk_unique(o_orderkey)", dupKeys(t.orders, "o_orderkey")),
      check("events", "pk_unique(event_id)", dupKeys(t.events, "event_id")),
      check("documents", "pk_unique(doc_id)", dupKeys(t.documents, "doc_id")),
      check("orders", "fk(o_custkey->customer)",
        fkOrphans(t.orders, "o_custkey", t.customer, "c_custkey")),
      check("lineitem", "fk(l_orderkey->orders)",
        fkOrphans(t.lineitem, "l_orderkey", t.orders, "o_orderkey")),
      check("lineitem", "fk(l_partkey->part)",
        fkOrphans(t.lineitem, "l_partkey", t.part, "p_partkey")),
      check("lineitem", "fk(l_suppkey->supplier)",
        fkOrphans(t.lineitem, "l_suppkey", t.supplier, "s_suppkey")),
      check("customer", "fk(c_nationkey->nation)",
        fkOrphans(t.customer, "c_nationkey", t.nation, "n_nationkey")),
      check("lineitem", "range(l_discount in [0,1])",
        t.lineitem.filter(col("l_discount") < 0.0 || col("l_discount") > 1.0)),
      check("lineitem", "range(l_quantity > 0)",
        t.lineitem.filter(!(col("l_quantity") > 0.0))),
      check("orders", "range(o_totalprice > 0)",
        t.orders.filter(!(col("o_totalprice") > 0.0))),
      check("customer", "not_null(c_name)",
        t.customer.filter(col("c_name").isNull)),
      check("documents", "not_null(text)",
        t.documents.filter(col("text").isNull)))
    checks.reduce(_.unionByName(_)).orderBy("tbl", "contract")
  }

  // ---------------------------------------------------------------- q200
  /** Differentially-private release of the q181 QI histogram (Dwork
    * et al. 2006 Laplace mechanism): each group count — a
    * sensitivity-1 query — is released with Laplace(1/ε) noise via
    * the inverse-CDF transform, plus the clamped non-negative
    * integer a publication actually ships. Completes the privacy
    * family: q181 measures re-identifiability, q188 measures
    * homogeneity, this RELEASES under an ε budget.
    *
    * Determinism caveat, stated loudly: the uniform draw is an
    * md5-hash of the QI key — reproducible on any engine/layout/
    * retry, which is what makes the release oracle-checkable and the
    * calibration testable, and what makes this NOT a private
    * mechanism as committed (a hash of public group keys is
    * predictable). Production swaps the one `u` column for a secure
    * RNG; the mechanism shape, sensitivity accounting, and ε
    * calibration — the parts worth testing — are unchanged.
    *
    * Scale shape: q181's single partial-agg pass, then in-row noise
    * on the QI-space-sized relation. */
  val DpEpsilon = 1.0

  def q200DpNoisedRelease(spark: SparkSession, dir: String): DataFrame = {
    val grouped = Tables(spark, dir).customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / KAnonBand).cast("long").as("acctbal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "acctbal_band")
      .agg(count(lit(1)).as("k"))
    val u = (expr(s"cast(${Md5Prefix.sql("concat(cast(c_nationkey as string), ':', " +
        "c_mktsegment, ':', cast(acctbal_band as string))", 1, 15)} as double)") + 0.5) /
      lit(math.pow(2, 60))
    val noise = when(u < 0.5, log(u * 2.0) / DpEpsilon)
      .otherwise(-log((lit(1.0) - u) * 2.0) / DpEpsilon)
    grouped
      .withColumn("noised_k", round(col("k") + noise, 4))
      .withColumn("released_k",
        greatest(lit(0L), round(col("k") + noise, 0).cast("long")))
      .orderBy("c_nationkey", "c_mktsegment", "acctbal_band")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_dp_noised_release" -> (q200DpNoisedRelease _),
    "q198_data_contract_audit" -> (q198DataContractAudit _),
    "q194_sample_quantile_audit" -> (q194SampleQuantileAudit _),
    "q188_l_diversity" -> (q188LDiversity _),
    "q181_k_anonymity" -> (q181KAnonymity _),
    "q148_winsorize" -> (q148Winsorize _),
    "q151_mad_outliers" -> (q151MadOutliers _),
    "q83_table_profile" -> (q83TableProfile _),
    "q93_value_histogram" -> (q93ValueHistogram _),
    "q102_skew_profile" -> (q102SkewProfile _),
    "q105_equidepth_histogram" -> (q105EquidepthHistogram _),
    "q132_count_min_sketch" -> (q132CountMinSketch _),
    "q234_join_size_estimate" -> (q234JoinSizeEstimate _),
  )

  val oracleSql: Map[String, String] = Map(
    "q200_dp_noised_release" -> {
      val uSql = "((" + Md5Prefix.hexToLongSql(
        "md5(CAST(c_nationkey AS VARCHAR) || ':' || c_mktsegment || ':' || " +
          "CAST(acctbal_band AS VARCHAR))", 1, 15) +
        s") + 0.5) / ${new java.math.BigDecimal(math.pow(2, 60)).toPlainString}"
      s"""WITH g AS (
         |  SELECT c_nationkey, c_mktsegment,
         |         CAST(floor(c_acctbal / $KAnonBand) AS BIGINT) AS acctbal_band,
         |         CAST(count(*) AS BIGINT) AS k
         |  FROM customer GROUP BY 1, 2, 3),
         |nz AS (
         |  SELECT c_nationkey, c_mktsegment, acctbal_band, k,
         |         CASE WHEN ($uSql) < 0.5
         |              THEN ln(($uSql) * 2.0) / $DpEpsilon
         |              ELSE -ln((1.0 - ($uSql)) * 2.0) / $DpEpsilon
         |         END AS noise
         |  FROM g)
         |SELECT c_nationkey, c_mktsegment, acctbal_band, k,
         |       round(k + noise, 4) AS noised_k,
         |       greatest(0, CAST(round(k + noise, 0) AS BIGINT)) AS released_k
         |FROM nz ORDER BY 1, 2, 3""".stripMargin
    },

    "q198_data_contract_audit" ->
      """WITH c AS (
        |  SELECT 'orders' AS tbl, 'pk_unique(o_orderkey)' AS contract,
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |      (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1))
        |    AS n_violations
        |  UNION ALL SELECT 'events', 'pk_unique(event_id)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |      (SELECT event_id FROM events GROUP BY 1 HAVING count(*) > 1))
        |  UNION ALL SELECT 'documents', 'pk_unique(doc_id)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |      (SELECT doc_id FROM documents GROUP BY 1 HAVING count(*) > 1))
        |  UNION ALL SELECT 'orders', 'fk(o_custkey->customer)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL SELECT 'lineitem', 'fk(l_orderkey->orders)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                       WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL SELECT 'lineitem', 'fk(l_partkey->part)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM part p
        |                       WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL SELECT 'lineitem', 'fk(l_suppkey->supplier)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |                       WHERE s.s_suppkey = l.l_suppkey))
        |  UNION ALL SELECT 'customer', 'fk(c_nationkey->nation)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer c
        |     WHERE NOT EXISTS (SELECT 1 FROM nation n
        |                       WHERE n.n_nationkey = c.c_nationkey))
        |  UNION ALL SELECT 'lineitem', 'range(l_discount in [0,1])',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE l_discount < 0.0 OR l_discount > 1.0)
        |  UNION ALL SELECT 'lineitem', 'range(l_quantity > 0)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE NOT (l_quantity > 0.0))
        |  UNION ALL SELECT 'orders', 'range(o_totalprice > 0)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE NOT (o_totalprice > 0.0))
        |  UNION ALL SELECT 'customer', 'not_null(c_name)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer
        |     WHERE c_name IS NULL)
        |  UNION ALL SELECT 'documents', 'not_null(text)',
        |    (SELECT CAST(count(*) AS BIGINT) FROM documents
        |     WHERE text IS NULL))
        |SELECT tbl, contract, n_violations, (n_violations = 0) AS pass
        |FROM c ORDER BY tbl, contract""".stripMargin,

    "q194_sample_quantile_audit" -> {
      val hexId = Md5Prefix.hexToLongSql(
        "md5(CAST(event_id AS VARCHAR))", 1, 8)
      val probes = QAuditProbes.mkString("[", ", ", "]")
      s"""WITH ev AS (SELECT event_type, "value", event_id FROM events),
         |ex AS (SELECT event_type, "value", event_id,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY "value" ASC, event_id ASC) AS rk
         |       FROM ev),
         |exn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
         |        FROM ev GROUP BY 1),
         |ext AS (SELECT event_type, n_exact, q,
         |          CAST(ceil(q * n_exact) AS BIGINT) AS target
         |        FROM exn, unnest($probes) AS t(q)),
         |exq AS (SELECT e.event_type, t.q, t.n_exact,
         |          e."value" AS exact_v
         |        FROM ex e JOIN ext t ON t.event_type = e.event_type
         |          AND e.rk = t.target),
         |sv AS (SELECT event_type, "value", event_id FROM ev
         |       WHERE ($hexId) % $QAuditMod = 0),
         |sr AS (SELECT event_type, "value", event_id,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY "value" ASC, event_id ASC) AS rk
         |       FROM sv),
         |svn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample
         |        FROM sv GROUP BY 1),
         |svt AS (SELECT event_type, n_sample, q,
         |          CAST(ceil(q * n_sample) AS BIGINT) AS target
         |        FROM svn, unnest($probes) AS t(q)),
         |svq AS (SELECT s.event_type, t.q, t.n_sample,
         |          s."value" AS sample_v
         |        FROM sr s JOIN svt t ON t.event_type = s.event_type
         |          AND s.rk = t.target)
         |SELECT e.event_type, e.q, e.n_exact, s.n_sample,
         |       e.exact_v, s.sample_v,
         |       round(100.0 * (s.sample_v - e.exact_v) / e.exact_v, 4)
         |         AS rel_err_pct
         |FROM exq e JOIN svq s ON s.event_type = e.event_type AND s.q = e.q
         |ORDER BY 1, 2""".stripMargin
    },

    "q188_l_diversity" ->
      s"""WITH cnt AS (
         |  SELECT c_nationkey,
         |         CAST(floor(c_acctbal / $KAnonBand) AS BIGINT) AS acctbal_band,
         |         c_mktsegment, CAST(count(*) AS BIGINT) AS c
         |  FROM customer GROUP BY 1, 2, 3),
         |k AS (
         |  SELECT c_nationkey, acctbal_band, sum(c) AS k
         |  FROM cnt GROUP BY 1, 2),
         |t AS (
         |  SELECT cnt.c_nationkey, cnt.acctbal_band, k.k,
         |         CAST(round((CAST(cnt.c AS DOUBLE) / k.k)
         |           * ln(CAST(cnt.c AS DOUBLE) / k.k), 6)
         |           AS DECIMAL(18,6)) AS term
         |  FROM cnt JOIN k USING (c_nationkey, acctbal_band))
         |SELECT c_nationkey, acctbal_band,
         |       CAST(max(k) AS BIGINT) AS k,
         |       CAST(count(*) AS BIGINT) AS l_distinct,
         |       round(exp(-CAST(sum(term) AS DOUBLE)), 4) AS entropy_l,
         |       (count(*) < $LDivThreshold) AS is_homogeneity_risk
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q181_k_anonymity" ->
      s"""SELECT c_nationkey, c_mktsegment,
         |       CAST(floor(c_acctbal / $KAnonBand) AS BIGINT) AS acctbal_band,
         |       CAST(count(*) AS BIGINT) AS k,
         |       (count(*) < $KAnonThreshold) AS is_reidentifiable
         |FROM customer
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q151_mad_outliers" ->
      s"""WITH m AS (
         |  SELECT event_type, quantile_cont("value", 0.5) AS med
         |  FROM events GROUP BY 1),
         |d AS (
         |  SELECT e.event_type, e."value", m.med,
         |         abs(e."value" - m.med) AS ad
         |  FROM events e JOIN m ON e.event_type = m.event_type),
         |md AS (
         |  SELECT event_type, quantile_cont(ad, 0.5) AS mad
         |  FROM d GROUP BY 1)
         |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
         |       round(min(d.med), 6) AS median,
         |       round(min(md.mad), 6) AS mad,
         |       CAST(sum(CASE WHEN md.mad > 0 AND
         |                  0.6745 * abs(d."value" - d.med) / md.mad > $MadZCut
         |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM d JOIN md ON d.event_type = md.event_type
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q148_winsorize" ->
      s"""WITH b AS (
         |  SELECT event_type,
         |         quantile_cont("value", $WinsorLo) AS lo,
         |         quantile_cont("value", $WinsorHi) AS hi
         |  FROM events GROUP BY 1),
         |j AS (
         |  SELECT e.event_type, e."value", b.lo, b.hi,
         |         least(greatest(e."value", b.lo), b.hi) AS w
         |  FROM events e JOIN b ON e.event_type = b.event_type)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN "value" < lo THEN 1 ELSE 0 END) AS BIGINT)
         |         AS clipped_lo,
         |       CAST(sum(CASE WHEN "value" > hi THEN 1 ELSE 0 END) AS BIGINT)
         |         AS clipped_hi,
         |       round(min(lo), 6) AS p05,
         |       round(max(hi), 6) AS p95,
         |       round(CAST(sum(CAST(round("value", 6) AS DECIMAL(28,6)))
         |                  AS DOUBLE) / count(*), 6) AS mean_raw,
         |       round(CAST(sum(CAST(round(w, 6) AS DECIMAL(28,6)))
         |                  AS DOUBLE) / count(*), 6) AS mean_winsorized
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q93_value_histogram" ->
      s"""WITH mm AS (
         |  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
         |  FROM orders),
         |b AS (
         |  SELECT o.o_totalprice AS x,
         |         CAST(least(floor((o.o_totalprice - mm.lo)
         |                          / ((mm.hi - mm.lo) / $HistBins)),
         |                    ${HistBins - 1}) AS BIGINT) AS bin
         |  FROM orders o, mm)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |       round(min(x), 2) AS bin_min,
         |       round(max(x), 2) AS bin_max
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q83_table_profile" -> OrdersCols.map { c =>
      s"""SELECT '$c' AS col_name,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    "q102_skew_profile" ->
      s"""WITH c AS (
         |  SELECT CAST(l_partkey AS BIGINT) AS key,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         |             CAST(count(*) AS BIGINT) AS n_keys FROM c),
         |r AS (SELECT key, cnt,
         |             CAST(row_number() OVER (ORDER BY cnt DESC, key ASC)
         |                  AS BIGINT) AS rank
         |      FROM c)
         |SELECT r.rank, r.key, r.cnt,
         |       round(r.cnt / t.n_rows, 6) AS share,
         |       round(r.cnt * t.n_keys / t.n_rows, 6) AS x_mean
         |FROM r, t WHERE r.rank <= $SkewTopK
         |ORDER BY r.rank""".stripMargin,

    "q105_equidepth_histogram" ->
      s"""WITH b AS (
         |  SELECT o_totalprice AS x,
         |         CAST(ntile($HistBins) OVER (ORDER BY o_totalprice ASC,
         |                                     o_orderkey ASC) AS BIGINT)
         |           AS bucket
         |  FROM orders)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         |       round(min(x), 2) AS lo, round(max(x), 2) AS hi
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q132_count_min_sketch" ->
      s"""WITH ${graft.text.TextOps.normCte},
         |wu AS (SELECT unnest(string_split(s, ' ')) AS word FROM n),
         |rr AS (SELECT unnest(generate_series(0, ${CmsD - 1})) AS r),
         |occ AS (SELECT word, CAST(r AS BIGINT) AS r,
         |               md5(CAST(r AS VARCHAR) || ':' || word) AS hx
         |        FROM wu CROSS JOIN rr),
         |sk AS (SELECT r,
         |              CAST(${Md5Prefix.hexToLongSql("hx", 1, 8)}
         |                   % $CmsW AS BIGINT) AS b,
         |              CAST(count(*) AS BIGINT) AS c
         |       FROM occ GROUP BY 1, 2),
         |top AS (SELECT word, CAST(count(*) AS BIGINT) AS true_cnt
         |        FROM wu GROUP BY 1
         |        ORDER BY true_cnt DESC, word ASC LIMIT $CmsProbeK),
         |pb AS (SELECT t.word, t.true_cnt, CAST(rr.r AS BIGINT) AS r,
         |              md5(CAST(rr.r AS VARCHAR) || ':' || t.word) AS hx
         |       FROM top t CROSS JOIN rr),
         |est AS (SELECT p.word, p.true_cnt, min(s.c) AS est_cnt
         |        FROM pb p JOIN sk s
         |          ON s.r = p.r
         |         AND s.b = CAST(${Md5Prefix.hexToLongSql("p.hx", 1, 8)}
         |                        % $CmsW AS BIGINT)
         |        GROUP BY 1, 2)
         |SELECT word, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
         |FROM est ORDER BY true_cnt DESC, word ASC""".stripMargin,

    "q234_join_size_estimate" ->
      s"""WITH rr AS (SELECT unnest(generate_series(0, ${JsD - 1})) AS r),
         |sa0 AS (SELECT CAST(l_partkey AS VARCHAR) AS word FROM lineitem
         |        WHERE l_returnflag = 'R'),
         |sb0 AS (SELECT CAST(l_partkey AS VARCHAR) AS word FROM lineitem
         |        WHERE l_quantity >= 40.0),
         |sa AS (SELECT CAST(r AS BIGINT) AS r,
         |              CAST(${Md5Prefix.hexToLongSql(
                          "md5(CAST(r AS VARCHAR) || ':' || word)", 1, 8)}
         |                   % $JsW AS BIGINT) AS b,
         |              CAST(count(*) AS BIGINT) AS ca
         |       FROM sa0 CROSS JOIN rr GROUP BY 1, 2),
         |sb AS (SELECT CAST(r AS BIGINT) AS r,
         |              CAST(${Md5Prefix.hexToLongSql(
                          "md5(CAST(r AS VARCHAR) || ':' || word)", 1, 8)}
         |                   % $JsW AS BIGINT) AS b,
         |              CAST(count(*) AS BIGINT) AS cb
         |       FROM sb0 CROSS JOIN rr GROUP BY 1, 2),
         |est AS (SELECT sa.r, CAST(sum(sa.ca * sb.cb) AS BIGINT) AS est_size
         |        FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b
         |        GROUP BY 1),
         |ex AS (SELECT CAST(COALESCE(sum(fa.c * fb.c), 0) AS BIGINT)
         |              AS exact_size
         |       FROM (SELECT word, count(*) AS c FROM sa0 GROUP BY 1) fa
         |       JOIN (SELECT word, count(*) AS c FROM sb0 GROUP BY 1) fb
         |         USING (word))
         |SELECT r, est_size, exact_size,
         |       est_size - exact_size AS overcount
         |FROM est CROSS JOIN ex ORDER BY r""".stripMargin,
  )
}
