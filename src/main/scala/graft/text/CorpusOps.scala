package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.chaining._
import graft.functions.{Md5Prefix, RepetitionStats, WordShingles}

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingest and dedup: repetition-based quality filtering
  * (Gopher-style duplicate-word / duplicate-n-gram fractions),
  * benchmark decontamination (n-gram-shingle overlap against an eval
  * set), and deterministic stratified sampling.
  *
  * Scale design:
  *  - repetition counters are IN-ROW (single-loop
  *    [[graft.functions.RepetitionStats]] expression) — corpus-scale
  *    quality scoring is a projection, zero shuffle;
  *  - decontamination broadcasts the benchmark shingle set (eval
  *    suites are ≪ corpus by construction) and streams the corpus
  *    once; the corpus side never shuffles doc text, only matched
  *    shingles enter the aggregation;
  *  - sampling is a pure filter on md5(doc_id) — deterministic,
  *    repartition-free, and rerunnable with identical output on any
  *    cluster layout (the property a Bernoulli `sample()` lacks).
  */
object CorpusOps {

  // ---------------------------------------------------------------- q45
  /** Gopher-style repetition metrics per document: duplicate-word
    * fraction, top-word fraction, duplicate-bigram fraction, plus the
    * filter verdict at thresholds calibrated to split this corpus
    * (median dup_word_frac ≈ 0.54, top_word_frac ≈ 0.09,
    * dup_bigram_frac ≈ 0.03). All counters come from one in-row pass;
    * fractions are derived afterwards so the oracle compares
    * integer-exact numerators/denominators. */
  def q45RepetitionScores(spark: SparkSession, dir: String): DataFrame =
    TextOps.docs(spark, dir)
      .select(col("doc_id"), RepetitionStats(col("s")).as("st"))
      .select(
        col("doc_id"),
        col("st.n_words").cast("long").as("n_words"),
        round(lit(1.0) - col("st.n_distinct_words").cast("double")
          / col("st.n_words").cast("double"), 6).as("dup_word_frac"),
        round(col("st.top_word_count").cast("double")
          / col("st.n_words").cast("double"), 6).as("top_word_frac"),
        when(col("st.n_bigrams") > 0,
          round(lit(1.0) - col("st.n_distinct_bigrams").cast("double")
            / col("st.n_bigrams").cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))
      .withColumn("flagged",
        col("dup_word_frac") > 0.6 || col("top_word_frac") > 0.13 ||
          col("dup_bigram_frac") > 0.05)
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q46
  /** Benchmark decontamination: word-8-gram shingle overlap between
    * the corpus and a benchmark set (here: doc_id < [[BenchmarkCutoff]]
    * as the stand-in eval suite). A corpus document sharing ANY
    * shingle with the benchmark is reported with its overlap count and
    * contaminated fraction — the n-gram-overlap decontamination step
    * every LLM data pipeline runs before training. Shingles are
    * distinct per doc (in-row [[graft.functions.WordShingles]]), so
    * the per-doc hit count needs no DISTINCT aggregate. */
  val BenchmarkCutoff = 50L
  val ShingleWidth = 8

  def q46Decontamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = TextOps.docs(spark, dir)
      .select(col("doc_id"),
        WordShingles(col("s"), ShingleWidth).as("shingles"))
    val bench = sh.filter(col("doc_id") < BenchmarkCutoff)
      .select(explode(col("shingles")).as("gram")).distinct()
    val corpus = sh.filter(col("doc_id") >= BenchmarkCutoff)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"),
        explode(col("shingles")).as("gram"))
    corpus.join(broadcast(bench), "gram")
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_shingles"), 6)
          .as("contamination"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q219
  /** Contamination ATTRIBUTION: q46 reports how contaminated each
    * corpus document is against the benchmark POOL; this operator
    * reports WHICH benchmark document leaked into which corpus
    * document — the asymmetric shingle-containment join
    * |bench ∩ corpus| / |bench| ≥ θ, the pairwise evidence a
    * decontamination audit attaches to each removal.
    *
    * Prefix filtering makes it exact WITHOUT the all-pairs product:
    * order each benchmark doc's shingles by (global frequency,
    * shingle) — rarest first — and emit only its first
    * ℓ = n − ⌈θ·n⌉ + 1 as join keys. A pair at containment ≥ θ
    * shares c ≥ ⌈θ·n⌉ shingles, and at most n − ℓ = ⌈θ·n⌉ − 1 of the
    * benchmark doc's shingles lie outside its prefix, so at least
    * one SHARED shingle is a prefix key; the corpus side indexes ALL
    * its shingles (containment puts no lower bound on the corpus
    * doc's share, so its side cannot be pruned) — candidate
    * generation is complete at any θ.
    *
    * Scale shape: the benchmark is ≪ corpus by construction, so the
    * prefix relation broadcasts; the corpus-side explode is q46's
    * linear scan; candidates are bounded by prefix-shingle rarity
    * (8-gram shingles are near-unique — a boilerplate shingle is by
    * definition frequent and therefore never in a rarest-first
    * prefix); verification is in-row `array_intersect` on candidate
    * pairs only. */
  val ContainTheta = 0.5

  def q219ContainmentJoin(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(TextOps.docs(spark, dir), BenchmarkCutoff, ContainTheta)

  /** (doc_id, gs, n) — checkpoint-cut distinct-shingle relation
    * (fetched by candidate generation AND both verify legs). */
  private[graft] def shingleRelation(docs: DataFrame): DataFrame =
    graft.Checkpoints.cut(docs
      .select(col("doc_id"), WordShingles(col("s"), ShingleWidth).as("gs"))
      .withColumn("n", size(col("gs")).cast("long")))

  /** The candidate stage alone ((bench_id, doc_id) pairs meeting on a
    * prefix shingle, pre-verification) — extracted so
    * tools/ScalingSweep can count candidates at scale. */
  private[graft] def containmentCandidates(sh: DataFrame, cutoff: Long,
      theta: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("cf", "g")
    val tok = sh.select(col("doc_id"), explode(col("gs")).as("g"))
    val freq = tok.groupBy("g").agg(count(lit(1)).as("cf"))
    val pref = tok.filter(col("doc_id") < cutoff)
      .join(freq, "g")
      .select(col("doc_id"), col("g"), row_number().over(w).as("r"))
      .join(sh.select(col("doc_id"), col("n")), "doc_id")
      .filter(col("r") <=
        col("n") - ceil(lit(theta) * col("n")).cast("long") + 1)
    pref.select(col("doc_id").as("bench_id"), col("g"))
      .join(tok.filter(col("doc_id") >= cutoff)
        .select(col("doc_id").as("doc_id"), col("g")), "g")
      .select("bench_id", "doc_id").distinct()
  }

  /** The containment join over any (doc_id, s) frame: benchmark side =
    * doc_id < cutoff, corpus side = the rest. */
  private[graft] def containmentPairs(docs: DataFrame, cutoff: Long,
      theta: Double): DataFrame = {
    val sh = shingleRelation(docs)
    val cand = containmentCandidates(sh, cutoff, theta)
    cand
      .join(sh.select(col("doc_id").as("bench_id"), col("gs").as("gb"),
        col("n").as("n_shingles")), Seq("bench_id"))
      .join(sh.select(col("doc_id"), col("gs").as("gc")), Seq("doc_id"))
      .withColumn("n_shared",
        size(array_intersect(col("gb"), col("gc"))).cast("long"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_shingles"), 6))
      .filter(col("containment") >= theta)
      .select(col("bench_id"), col("doc_id"), col("n_shingles"),
        col("n_shared"), col("containment"))
      .orderBy("bench_id", "doc_id")
  }

  // ---------------------------------------------------------------- q47
  /** Deterministic stratified sampling: per-language keep rates, with
    * the keep decision a pure function of doc_id (md5-derived uniform
    * in [0,1)) — identical output on any cluster layout or rerun,
    * unlike Bernoulli `sample()`. The rates downsample the majority
    * language, the balance step every multilingual pipeline applies. */
  val SampleRates: Seq[(String, Double)] =
    Seq("en" -> 0.25, "de" -> 0.5, "es" -> 0.75, "fr" -> 0.5, "zh" -> 1.0)

  def q47StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRates.foldLeft(lit(1.0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    graft.Tables(spark, dir).documents
      .withColumn("u", TextOps.md5Uniform(col("doc_id")))
      .filter(col("u") < rate)
      .select(col("doc_id"), col("lang"), col("source"), round(col("u"), 6).as("u"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q52
  /** Corpus report: per-language doc counts, exact-dup excess, token
    * and character volume, mean quality — the summary table a curation
    * pipeline publishes after every stage. One corpus pass of in-row
    * per-doc metrics, then a single groupBy(lang); the distinct-
    * fingerprint count is a hash aggregate over (lang, fp) partials,
    * never a collected set. */
  def q52CorpusStats(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityFrame(TextOps.docs(spark, dir))
      .select(col("lang"), col("nw"),
        length(col("s")).cast("long").as("chars"),
        md5(col("s")).as("fp"), col("quality"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        sum(col("nw")).as("total_words"),
        sum(col("chars")).as("total_chars"),
        round(avg(col("quality")), 6).as("avg_quality"))
      .select(col("lang"), col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("n_exact_dups"),
        col("total_words"), col("total_chars"), col("avg_quality"))
      .orderBy("lang")

  // ---------------------------------------------------------------- q51
  /** Per-language best-of selection: the top-[[TopPerLang]] documents
    * of every language by quality score — the "keep the best N per
    * stratum" curation step (the group-wise companion of q47's rate
    * sampling). One window rank per language partition; ties break on
    * doc_id so the selection is engine-stable. */
  val TopPerLang = 5

  def q51TopQualityPerLang(spark: SparkSession, dir: String): DataFrame = {
    // rank on the 6dp-rounded score (like q43) so the tie-break is
    // engine-stable even if raw doubles differ in the last ulp. The
    // keyed top-k AGGREGATE replaces the window: only k (quality,
    // doc_id) pairs per language per partition shuffle, instead of a
    // full per-language shuffle+sort of the corpus; its
    // (value desc, id asc) order is the oracle window's exactly.
    TextOps.qualityFrame(TextOps.docs(spark, dir))
      .select(col("doc_id"), col("lang"), round(col("quality"), 6).as("quality"))
      .groupBy("lang")
      .agg(graft.functions.TopKAgg.topkKeyed(
        col("quality"), col("doc_id"), TopPerLang).as("tops"))
      .select(col("lang"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"), col("t.v").as("quality"))
      .orderBy("lang", "rank")
  }

  // ---------------------------------------------------------------- q55
  /** Sequence packing — the "concatenate and cut every L tokens" step
    * that turns variable-length documents into fixed-length training
    * examples. Distributed form: documents are sharded by
    * doc_id % shards; within a shard the token stream is laid out in
    * doc_id order by a running-cumsum window, and every doc reports
    * its [start_off, end_off) in the shard stream plus the bins it
    * spans. Shards pack independently (window partitioned by shard —
    * parallelism = shard count); inside a shard the layout is a
    * single linear window pass. All outputs are integers —
    * engine-exact.
    *
    * The shard count is the scale knob of [[packSequences]]: packing
    * parallelism — and the per-task sort — grows with it. The
    * oracle-checked q55 entry pins [[OraclePackShards]], because the
    * DuckDB mirror is a static transcript and the shard assignment
    * changes the layout. */
  val OraclePackShards = 16
  val PackSeqLen = 512L

  /** Pack `docs` (doc_id, s) into `shards` independent token streams. */
  def packSequences(docs: DataFrame, shards: Int,
      seqLen: Long = PackSeqLen): DataFrame = {
    require(shards >= 1, "packing needs at least one shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        size(split(col("s"), " ")).cast("long").as("nt"))
      .withColumn("end_off", sum(col("nt")).over(w))
      .withColumn("start_off", col("end_off") - col("nt"))
      .select(col("doc_id"), col("shard"), col("nt"),
        col("start_off"), col("end_off"),
        floor(col("start_off") / seqLen).as("first_bin"),
        (floor((col("end_off") - 1) / seqLen)
          - floor(col("start_off") / seqLen) + 1).as("n_bins"))
      .orderBy("doc_id")
  }

  def q55SequencePacking(spark: SparkSession, dir: String): DataFrame =
    packSequences(TextOps.docs(spark, dir), OraclePackShards)

  // ---------------------------------------------------------------- q56
  /** Vocabulary build: global word counts, top-[[VocabK]] by
    * (count desc, word asc), with each entry's cumulative corpus
    * coverage — the frequency table a tokenizer trainer starts from.
    * The heavy work is one partial-agg wordcount; ranking and the
    * running coverage operate on K rows only. */
  val VocabK = 50

  def q56VocabBuild(spark: SparkSession, dir: String): DataFrame = {
    val counts = TextOps.docs(spark, dir)
      .select(explode(split(col("s"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val top = counts
      .orderBy(col("cnt").desc, col("word").asc).limit(VocabK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("word").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("word").asc)).cast("long"))
      .withColumn("coverage",
        round(sum(col("cnt")).over(w).cast("double") / col("total"), 6))
      .select(col("rank"), col("word"), col("cnt"), col("coverage"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- q57
  /** The curation pipeline END TO END with per-document accountability:
    * every document reports its fate — 'benchmark' (held-out eval
    * slice), 'repetition' (q45 flags), 'contaminated' (q46 shingle
    * overlap), 'exact_dup' (q43 keep-best loser), 'sampled_out' (q47
    * rates) or 'kept' — applying the stages in pipeline order, so the
    * output is the audit table a data team ships with a training set.
    * Stage semantics are the individual operators' (shared frames, not
    * copies); the whole composition is hash-verified against one
    * DuckDB mirror. Near-dup clustering (q44) is independently
    * verified and omitted here to keep the oracle tractable.
    *
    * Scale shape: in-row metrics + one broadcast (benchmark shingles)
    * + one window over the alive subset keyed by fingerprint — no
    * stage is quadratic, every stage is a projection/filter over the
    * previous. */
  def q57CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val d = TextOps.docs(spark, dir)
    val rep = q45RepetitionScores(spark, dir).select("doc_id", "flagged")
    val hits = q46Decontamination(spark, dir).select(col("doc_id"), col("n_hits"))
    val rate = SampleRates.foldLeft(lit(1.0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    val base = d.select(col("doc_id"), col("lang"), md5(col("s")).as("fp"))
      .join(TextOps.qualityFrame(d)
        .select(col("doc_id"), round(col("quality"), 6).as("quality")), "doc_id")
      .join(rep, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("flagged", coalesce(col("flagged"), lit(false)))
      .na.fill(0L, Seq("n_hits"))
      .withColumn("u", TextOps.md5Uniform(col("doc_id")))
    val aliveCond = col("doc_id") >= BenchmarkCutoff &&
      !col("flagged") && col("n_hits") === 0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("quality").desc, col("doc_id").asc)
    val ranked = base.filter(aliveCond)
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("rn"))
    base.join(ranked, Seq("doc_id"), "left")
      .withColumn("fate",
        when(col("doc_id") < BenchmarkCutoff, "benchmark")
          .when(col("flagged"), "repetition")
          .when(col("n_hits") > 0, "contaminated")
          .when(col("rn") > 1, "exact_dup")
          .when(col("u") >= rate, "sampled_out")
          .otherwise("kept"))
      .select(col("doc_id"), col("lang"), col("fate"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q60
  /** Token-length distribution per language (mean + exact p10/p50/
    * p90/p99) — the length profile used to pick packing lengths and
    * truncation cutoffs. Exact `percentile` here because the oracle
    * demands bit-parity (Spark's exact percentile and DuckDB's
    * quantile_cont share the (n-1)·p linear interpolation); at
    * 100 TB swap in `approx_percentile` — same plan shape, fixed-size
    * sketch state instead of per-group buffers (the streaming S4
    * HLL-vs-exact trade, for quantiles). */
  def q60LengthProfile(spark: SparkSession, dir: String): DataFrame =
    TextOps.docs(spark, dir)
      .select(col("lang"), size(split(col("s"), " ")).cast("long").as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("nt")), 6).as("mean_tokens"),
        expr("percentile(nt, array(0.1D, 0.5D, 0.9D, 0.99D))").as("ps"))
      .select(col("lang"), col("n_docs"), col("mean_tokens"),
        round(col("ps").getItem(0), 6).as("p10"),
        round(col("ps").getItem(1), 6).as("p50"),
        round(col("ps").getItem(2), 6).as("p90"),
        round(col("ps").getItem(3), 6).as("p99"))
      .orderBy("lang")

  // ---------------------------------------------------------------- q97
  /** Token-budget data mixing — "take N tokens per stratum": docs are
    * ranked inside each language by an md5-derived order (a
    * deterministic uniform shuffle, same convention as q47's sampler),
    * the running token sum accumulates in that order, and docs are
    * kept while the cumulative count stays within the budget — the
    * greedy prefix, so the selection is maximal: the next doc in order
    * would overflow (spec-asserted). All outputs are integers —
    * engine-exact.
    *
    * Scale shape: one in-row projection (token count + hash) and ONE
    * per-stratum ordered window. A window partitioned by language
    * sorts each stratum on a single task — fine while strata ≪ corpus
    * (the regime here), but at 100 TB per-stratum token budgeting
    * should shard WITHIN the stratum exactly like [[packSequences]]
    * (budget/shards per (lang, shard) stream) so the sort
    * parallelizes; same pattern, one extra key. */
  val MixBudget = 2000L

  def q97TokenBudgetMix(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetMix(TextOps.docs(spark, dir), MixBudget)

  /** The reusable form over any (doc_id, lang, s) frame. */
  def tokenBudgetMix(docs: DataFrame, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("hx"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"), col("lang"),
        size(split(col("s"), " ")).cast("long").as("nt"),
        md5(col("doc_id").cast("string")).as("hx"))
      .withColumn("cum_nt", sum(col("nt")).over(w))
      .filter(col("cum_nt") <= budget)
      .select(col("doc_id"), col("lang"), col("nt"), col("cum_nt"))
      .orderBy("lang", "cum_nt")
  }

  // ---------------------------------------------------------------- q110
  /** Word collocations: the top-[[CollocK]] adjacent-word bigrams by
    * raw occurrence — the corpus statistic behind tokenizer-merge
    * candidates and boilerplate discovery, complementing q56's
    * unigram vocabulary. Bigrams are built IN-ROW (one transform over
    * the word array — no per-word explode-then-self-join), so the
    * only shuffle is the partial-agg count; the rank is a
    * limit-then-number over [[CollocK]] rows. */
  val CollocK = 20

  def q110Collocations(spark: SparkSession, dir: String): DataFrame = {
    val d = TextOps.docs(spark, dir)
      .withColumn("words", split(col("s"), " "))
      .filter(size(col("words")) >= 2)
    val top = d
      .select(explode(expr(
        "transform(sequence(1, size(words) - 1), " +
          "i -> concat(words[i-1], ' ', words[i]))")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc).limit(CollocK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("bigram").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("bigram"), col("n"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- q123
  /** Weighted sampling without replacement (Efraimidis & Spirakis
    * 2006, IPL 97(5)): one md5-uniform draw per document, key =
    * ln(u)/w with w the document's token count, and the sample is the
    * top-[[WSampleN]] keys — equivalent to drawing docs one at a time
    * with probability ∝ w, in a single corpus pass. This is the
    * importance-sampling companion to q47's per-stratum rates: "give
    * long documents proportionally more of the budget" without any
    * sequential draw. The key is a pure function of (doc_id, w) —
    * rerunnable bit-identically on any layout, like every sampler
    * here. At 100 TB the global window swaps for q51's keyed top-k
    * aggregate (only N (key, doc_id) pairs per partition shuffle).
    *
    * Engine contract: u is the exact 32-bit md5 uniform (integer /
    * 2³²), ln runs on bit-identical inputs, ranking reads the
    * UNROUNDED key with a doc_id tie-break; a spec asserts the
    * rank-N boundary gap dwarfs cross-engine libm drift. */
  val WSampleN = 40

  def q123WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("key").desc, col("doc_id").asc)
    TextOps.docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        greatest(size(split(col("s"), " ")).cast("long"), lit(1L)).as("w"),
        TextOps.md5Uniform(col("doc_id")).as("u"))
      .withColumn("key", log(col("u")) / col("w").cast("double"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= WSampleN)
      .select(col("doc_id"), col("lang"), col("w"),
        round(col("key"), 6).as("key"), col("rank"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- q130
  /** DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    * importance weights from hashed n-gram features. The target
    * distribution comes from the benchmark slice (doc_id <
    * [[BenchmarkCutoff]], the q46 convention), the raw distribution
    * from the rest of the corpus; every token hashes to one of
    * [[DsirBuckets]] md5 buckets, and a document's log importance
    * weight is Σ_tokens ln(p_target(bucket)/p_raw(bucket)) under
    * add-one smoothing. Selection is DSIR's "take the k most
    * target-like": rank by (lw desc, doc_id asc), keep the top
    * [[DsirKeepN]] — the global rank window runs over the AGGREGATED
    * per-doc relation (one row per doc, not per token); at 100 TB the
    * documented swap is an approx-percentile lw cut point broadcast
    * as a filter (the q91 decile discipline).
    *
    * Scale shape: the token→bucket projection streams the corpus
    * once; both distributions are [[DsirBuckets]]-row aggregates
    * (bounded BY CONSTRUCTION — the whole point of hashed features,
    * vs an unbounded vocabulary), so the scored join broadcasts the
    * LLR table. Float discipline: each bucket's LLR is ONE shared
    * expression rounded 6dp; per-doc contributions round then
    * DECIMAL-sum (order-free, the q114 contract). */
  val DsirBuckets = 256
  val DsirKeepN = 100

  def q130DsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(TextOps.docs(spark, dir), BenchmarkCutoff, DsirKeepN)

  private[graft] def dsirWeights(d: DataFrame, cutoff: Long, keepN: Int): DataFrame =
    dsirScored(d, cutoff)
      // corpus-grain dense rank via the distributed sort+zipWithIndex
      // primitive — NOT an unpartitioned row_number window, which
      // funnels every document's weight through one task. (lw desc,
      // doc_id asc) is a total order, so
      // ranks are bit-identical to the window they replace.
      .pipe(g => graft.Ordinals.denseBy(g,
        Seq(col("lw").desc, col("doc_id").asc), "rank"))
      .withColumn("keep", col("rank") <= keepN)
      .orderBy("doc_id")

  /** The per-doc scored relation (doc_id, n_tokens, lw) BEFORE the
    * rank — the stage whose plan carries the broadcast LLR join
    * (plan-audited; the rank's RDD boundary hides it downstream). */
  private[graft] def dsirScored(d: DataFrame, cutoff: Long): DataFrame = {
    val toks = d
      .select(col("doc_id"), explode(split(col("s"), " ")).as("word"))
      .select(col("doc_id"),
        Md5Prefix(col("word"), 1, 2).cast("long").as("b"))
    val tgt = toks.filter(col("doc_id") < cutoff)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val raw = toks.filter(col("doc_id") >= cutoff)
      .groupBy("b").agg(count(lit(1)).as("cr"))
    val tot = tgt.agg(sum("ct").as("nt"))
      .crossJoin(raw.agg(sum("cr").as("nr")))
    val llr = tgt.join(raw, Seq("b"), "full_outer")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(tot))
      .select(col("b"), round(log(
        (col("ct") + lit(1.0)) * (col("nr") + lit(DsirBuckets.toLong))
          / ((col("cr") + lit(1.0)) * (col("nt") + lit(DsirBuckets.toLong)))),
        6).as("llr"))
    toks.filter(col("doc_id") >= cutoff)
      .groupBy("doc_id", "b").agg(count(lit(1)).as("nb"))
      .join(broadcast(llr), "b")
      .select(col("doc_id"), col("nb"),
        round(col("nb") * col("llr"), 6).cast("decimal(18,6)").as("contrib"))
      .groupBy("doc_id")
      .agg(sum("nb").as("n_tokens"),
        sum("contrib").cast("double").as("lw"))
  }

  // ---------------------------------------------------------------- q166
  /** Deterministic training-order schedule: epoch 1 is CURRICULUM
    * (short documents first — n_chars ascending, md5 shuffle within a
    * length), epochs 2..[[ShuffleEpochs]] are independent seeded
    * shuffles (md5 of "epoch:doc_id" — a different reproducible
    * permutation per epoch, the standard epoch-reshuffle contract).
    * `order_idx` is the GLOBAL training-step index across the whole
    * schedule — what a data loader actually consumes.
    *
    * Scale shape: the global index is [[graft.Ordinals.denseBy]] — a
    * range-partitioned sort plus per-partition offsets — NOT an
    * unpartitioned row_number window, which would funnel the corpus
    * through one task. Because the (epoch, key, doc_id) order
    * is total and strict, the index each row receives is its exact
    * rank — independent of where the range bounds fall, so the output
    * is identical at any partition count. */
  val ShuffleEpochs = 3

  private[graft] def epochSchedule(d: DataFrame, epochs: Int): DataFrame = {
    val keyed = d
      .select(col("doc_id"), col("n_chars"),
        explode(expr(s"sequence(1, $epochs)")).as("epoch"))
      .withColumn("k", when(col("epoch") === 1,
        concat(lpad(col("n_chars").cast("string"), 8, "0"), lit(":"),
          md5(concat(lit("1:"), col("doc_id").cast("string")))))
        .otherwise(md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string")))))
      .select(col("epoch").cast("long").as("epoch"), col("doc_id"), col("k"))
    graft.Ordinals.denseBy(keyed, Seq(col("epoch"), col("k"), col("doc_id")),
        "order_idx")
      .select(col("epoch"), col("order_idx"), col("doc_id"))
      .orderBy("order_idx")
  }

  def q166EpochSchedule(spark: SparkSession, dir: String): DataFrame =
    epochSchedule(graft.Tables(spark, dir).documents, ShuffleEpochs)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q45_repetition_scores" -> (q45RepetitionScores _),
    "q166_epoch_schedule" -> (q166EpochSchedule _),
    "q46_decontamination" -> (q46Decontamination _),
    "q47_stratified_sample" -> (q47StratifiedSample _),
    "q51_top_quality_per_lang" -> (q51TopQualityPerLang _),
    "q52_corpus_stats" -> (q52CorpusStats _),
    "q55_sequence_packing" -> (q55SequencePacking _),
    "q56_vocab_build" -> (q56VocabBuild _),
    "q57_curation_pipeline" -> (q57CurationPipeline _),
    "q60_length_profile" -> (q60LengthProfile _),
    "q97_token_budget_mix" -> (q97TokenBudgetMix _),
    "q110_collocations" -> (q110Collocations _),
    "q123_weighted_sample" -> (q123WeightedSample _),
    "q130_dsir_weights" -> (q130DsirWeights _),
    "q219_containment_join" -> (q219ContainmentJoin _),
  )

  // ------------------------------------------------------------ oracles

  /** Word + bigram relations over the normalized text (DuckDB mirror
    * of split(s, ' ') — string_split keeps empty fields the same
    * way). */
  private val wordCtes =
    """w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
      |wu AS (SELECT doc_id, unnest(ws) AS word FROM w),
      |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bigram
      |       FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q166_epoch_schedule" ->
      s"""WITH e AS (
         |  SELECT doc_id, n_chars, CAST(t.e AS BIGINT) AS epoch,
         |         CASE WHEN t.e = 1
         |           THEN lpad(CAST(n_chars AS VARCHAR), 8, '0') || ':' ||
         |                md5('1:' || CAST(doc_id AS VARCHAR))
         |           ELSE md5(CAST(t.e AS VARCHAR) || ':' ||
         |                    CAST(doc_id AS VARCHAR))
         |         END AS k
         |  FROM documents, unnest(generate_series(1, $ShuffleEpochs)) AS t(e))
         |SELECT epoch,
         |       CAST(row_number() OVER (ORDER BY epoch, k, doc_id) AS BIGINT)
         |         AS order_idx,
         |       doc_id
         |FROM e
         |ORDER BY order_idx""".stripMargin,

    "q45_repetition_scores" ->
      s"""WITH ${TextOps.normCte},
         |$wordCtes,
         |wst AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         |         CAST(count(*) AS BIGINT) AS n_distinct_words,
         |         CAST(max(c) AS BIGINT) AS top_word_count
         |  FROM (SELECT doc_id, word, count(*) AS c FROM wu GROUP BY 1, 2) z
         |  GROUP BY 1),
         |bst AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST(count(DISTINCT bigram) AS BIGINT) AS n_distinct_bigrams
         |  FROM bg GROUP BY 1),
         |m AS (
         |  SELECT w.doc_id, w.n_words,
         |    round(1.0 - CAST(w.n_distinct_words AS DOUBLE)
         |          / CAST(w.n_words AS DOUBLE), 6) AS dup_word_frac,
         |    round(CAST(w.top_word_count AS DOUBLE)
         |          / CAST(w.n_words AS DOUBLE), 6) AS top_word_frac,
         |    CASE WHEN COALESCE(b.n_bigrams, 0) > 0
         |         THEN round(1.0 - CAST(b.n_distinct_bigrams AS DOUBLE)
         |                    / CAST(b.n_bigrams AS DOUBLE), 6)
         |         ELSE 0.0 END AS dup_bigram_frac
         |  FROM wst w LEFT JOIN bst b ON w.doc_id = b.doc_id)
         |SELECT doc_id, n_words, dup_word_frac, top_word_frac, dup_bigram_frac,
         |       (dup_word_frac > 0.6 OR top_word_frac > 0.13
         |        OR dup_bigram_frac > 0.05) AS flagged
         |FROM m ORDER BY doc_id""".stripMargin,

    "q46_decontamination" ->
      s"""WITH ${TextOps.normCte},
         |w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
         |g AS (SELECT DISTINCT doc_id,
         |        array_to_string(ws[i:i + ${ShingleWidth - 1}], ' ') AS gram
         |      FROM w, unnest(generate_series(1,
         |             greatest(len(ws) - ${ShingleWidth - 1}, 0))) AS t(i)),
         |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
         |       FROM g GROUP BY 1),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < $BenchmarkCutoff),
         |hits AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM g JOIN bench USING (gram)
         |         WHERE g.doc_id >= $BenchmarkCutoff GROUP BY 1)
         |SELECT h.doc_id, s.n_shingles, h.n_hits,
         |       round(CAST(h.n_hits AS DOUBLE) / s.n_shingles, 6) AS contamination
         |FROM hits h JOIN ns s ON h.doc_id = s.doc_id
         |ORDER BY h.doc_id""".stripMargin,

    // same shingle relation as q46, same rarest-first prefix ranking,
    // exact containment on candidates; filter on the ROUNDED value so
    // both engines take the same branch at a boundary
    "q219_containment_join" ->
      s"""WITH ${TextOps.normCte},
         |w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
         |g AS (SELECT DISTINCT doc_id,
         |        array_to_string(ws[i:i + ${ShingleWidth - 1}], ' ') AS gram
         |      FROM w, unnest(generate_series(1,
         |             greatest(len(ws) - ${ShingleWidth - 1}, 0))) AS t(i)),
         |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
         |f AS (SELECT gram, count(*) AS cf FROM g GROUP BY 1),
         |pre AS (
         |  SELECT q.doc_id, q.gram FROM (
         |    SELECT g.doc_id, g.gram,
         |           row_number() OVER (PARTITION BY g.doc_id
         |             ORDER BY f.cf, g.gram) AS r
         |    FROM g JOIN f USING (gram)
         |    WHERE g.doc_id < $BenchmarkCutoff) q
         |  JOIN ns ON ns.doc_id = q.doc_id
         |  WHERE q.r <= ns.n - CAST(ceil($ContainTheta * ns.n) AS BIGINT) + 1),
         |cand AS (
         |  SELECT DISTINCT p.doc_id AS bench_id, c.doc_id
         |  FROM pre p JOIN g c ON c.gram = p.gram
         |  WHERE c.doc_id >= $BenchmarkCutoff),
         |inter AS (
         |  SELECT cd.bench_id, cd.doc_id, CAST(count(*) AS BIGINT) AS c
         |  FROM cand cd
         |  JOIN g gb ON gb.doc_id = cd.bench_id
         |  JOIN g gc ON gc.doc_id = cd.doc_id AND gc.gram = gb.gram
         |  GROUP BY 1, 2)
         |SELECT i.bench_id, i.doc_id, ns.n AS n_shingles, i.c AS n_shared,
         |       round(CAST(i.c AS DOUBLE) / ns.n, 6) AS containment
         |FROM inter i JOIN ns ON ns.doc_id = i.bench_id
         |WHERE round(CAST(i.c AS DOUBLE) / ns.n, 6) >= $ContainTheta
         |ORDER BY 1, 2""".stripMargin,

    "q51_top_quality_per_lang" -> {
      val en = TextOps.langLexicon.toMap.apply("en")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH ${TextOps.normCte},
         |n2 AS (SELECT n.doc_id, n.s, d.lang FROM n
         |       JOIN documents d USING (doc_id)),
         |f AS (SELECT doc_id, lang,
         |    CAST(len(string_split(s, ' ')) AS BIGINT) AS nw,
         |    CAST(length(s) - length(regexp_replace(s, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(s) AS pr,
         |    CAST(len(list_filter(string_split(s, ' '),
         |        w -> list_contains([$en], w))) AS BIGINT) AS m
         |  FROM n2),
         |q AS (SELECT doc_id, lang,
         |    round(0.3 * least(1.0, CAST(nw AS DOUBLE) / 100.0)
         |          + 0.3 * (1.0 - pr)
         |          + 0.4 * (CAST(m AS DOUBLE) / nw), 6) AS quality
         |  FROM f),
         |r AS (SELECT lang, doc_id, quality,
         |    CAST(row_number() OVER (PARTITION BY lang
         |        ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM q)
         |SELECT lang, rank, doc_id, quality FROM r
         |WHERE rank <= $TopPerLang ORDER BY lang, rank""".stripMargin
    },

    "q52_corpus_stats" -> {
      val en = TextOps.langLexicon.toMap.apply("en")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH ${TextOps.normCte},
         |n2 AS (SELECT n.doc_id, n.s, d.lang FROM n
         |       JOIN documents d USING (doc_id)),
         |f AS (SELECT doc_id, lang, s,
         |    CAST(len(string_split(s, ' ')) AS BIGINT) AS nw,
         |    CAST(length(s) - length(regexp_replace(s, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(s) AS pr,
         |    CAST(len(list_filter(string_split(s, ' '),
         |        w -> list_contains([$en], w))) AS BIGINT) AS m
         |  FROM n2),
         |sel AS (SELECT lang, md5(s) AS fp, nw,
         |    CAST(length(s) AS BIGINT) AS chars,
         |    0.3 * least(1.0, CAST(nw AS DOUBLE) / 100.0)
         |      + 0.3 * (1.0 - pr) + 0.4 * (CAST(m AS DOUBLE) / nw) AS q
         |  FROM f)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         |       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
         |       CAST(sum(nw) AS BIGINT) AS total_words,
         |       CAST(sum(chars) AS BIGINT) AS total_chars,
         |       round(avg(q), 6) AS avg_quality
         |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q55_sequence_packing" ->
      s"""WITH ${TextOps.normCte},
         |d AS (SELECT doc_id, doc_id % $OraclePackShards AS shard,
         |        CAST(len(string_split(s, ' ')) AS BIGINT) AS nt FROM n),
         |o AS (SELECT doc_id, shard, nt,
         |        CAST(sum(nt) OVER (PARTITION BY shard ORDER BY doc_id
         |                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |          AS end_off
         |      FROM d)
         |SELECT doc_id, shard, nt, end_off - nt AS start_off, end_off,
         |       (end_off - nt) // $PackSeqLen AS first_bin,
         |       ((end_off - 1) // $PackSeqLen)
         |         - ((end_off - nt) // $PackSeqLen) + 1 AS n_bins
         |FROM o ORDER BY doc_id""".stripMargin,

    "q56_vocab_build" ->
      s"""WITH ${TextOps.normCte},
         |wcount AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(string_split(s, ' ')) AS word FROM n)
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM wcount),
         |top AS (SELECT word, cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT)
         |      AS rank
         |  FROM wcount ORDER BY cnt DESC, word ASC LIMIT $VocabK)
         |SELECT t.rank, t.word, t.cnt,
         |       round(CAST(sum(t.cnt) OVER (ORDER BY t.rank
         |                ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         |             / tot.total, 6) AS coverage
         |FROM top t, tot ORDER BY rank""".stripMargin,

    "q60_length_profile" ->
      s"""WITH ${TextOps.normCte},
         |d AS (SELECT doc.lang,
         |        CAST(len(string_split(n.s, ' ')) AS BIGINT) AS nt
         |      FROM n JOIN documents doc USING (doc_id))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       round(avg(nt), 6) AS mean_tokens,
         |       round(quantile_cont(nt, 0.1), 6) AS p10,
         |       round(quantile_cont(nt, 0.5), 6) AS p50,
         |       round(quantile_cont(nt, 0.9), 6) AS p90,
         |       round(quantile_cont(nt, 0.99), 6) AS p99
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q57_curation_pipeline" -> {
      val en = TextOps.langLexicon.toMap.apply("en")
        .map(w => s"'$w'").mkString(", ")
      val rateCase = SampleRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString("CASE b.lang ", " ", " ELSE 1.0 END")
      s"""WITH ${TextOps.normCte},
         |$wordCtes,
         |wst AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         |         CAST(count(*) AS BIGINT) AS n_distinct_words,
         |         CAST(max(c) AS BIGINT) AS top_word_count
         |  FROM (SELECT doc_id, word, count(*) AS c FROM wu GROUP BY 1, 2) z
         |  GROUP BY 1),
         |bst AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST(count(DISTINCT bigram) AS BIGINT) AS n_distinct_bigrams
         |  FROM bg GROUP BY 1),
         |rep AS (
         |  SELECT w.doc_id,
         |    (round(1.0 - CAST(w.n_distinct_words AS DOUBLE) / w.n_words, 6) > 0.6
         |     OR round(CAST(w.top_word_count AS DOUBLE) / w.n_words, 6) > 0.13
         |     OR (CASE WHEN COALESCE(b.n_bigrams, 0) > 0
         |              THEN round(1.0 - CAST(b.n_distinct_bigrams AS DOUBLE)
         |                         / b.n_bigrams, 6)
         |              ELSE 0.0 END) > 0.05) AS flagged
         |  FROM wst w LEFT JOIN bst b ON w.doc_id = b.doc_id),
         |g AS (SELECT DISTINCT doc_id,
         |        array_to_string(ws[i:i + ${ShingleWidth - 1}], ' ') AS gram
         |      FROM w, unnest(generate_series(1,
         |             greatest(len(ws) - ${ShingleWidth - 1}, 0))) AS t(i)),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < $BenchmarkCutoff),
         |hits AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM g JOIN bench USING (gram)
         |         WHERE g.doc_id >= $BenchmarkCutoff GROUP BY 1),
         |f AS (SELECT doc_id,
         |    CAST(len(string_split(s, ' ')) AS BIGINT) AS nw,
         |    CAST(length(s) - length(regexp_replace(s, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(s) AS pr,
         |    CAST(len(list_filter(string_split(s, ' '),
         |        w -> list_contains([$en], w))) AS BIGINT) AS m
         |  FROM n),
         |base AS (
         |  SELECT n.doc_id, d.lang, md5(n.s) AS fp,
         |    round(0.3 * least(1.0, CAST(f.nw AS DOUBLE) / 100.0)
         |          + 0.3 * (1.0 - f.pr)
         |          + 0.4 * (CAST(f.m AS DOUBLE) / f.nw), 6) AS quality,
         |    r.flagged, COALESCE(h.n_hits, 0) AS n_hits,
         |    CAST(${Md5Prefix.hexToLongSql(
                  "md5(CAST(n.doc_id AS VARCHAR))", 1, 8)} AS DOUBLE)
         |      / 4294967296.0 AS u
         |  FROM n JOIN documents d USING (doc_id)
         |  JOIN f ON f.doc_id = n.doc_id
         |  JOIN rep r ON r.doc_id = n.doc_id
         |  LEFT JOIN hits h ON h.doc_id = n.doc_id),
         |rn AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (PARTITION BY fp
         |        ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS rn
         |  FROM base
         |  WHERE doc_id >= $BenchmarkCutoff AND NOT flagged AND n_hits = 0)
         |SELECT b.doc_id, b.lang,
         |  CASE WHEN b.doc_id < $BenchmarkCutoff THEN 'benchmark'
         |       WHEN b.flagged THEN 'repetition'
         |       WHEN b.n_hits > 0 THEN 'contaminated'
         |       WHEN r.rn > 1 THEN 'exact_dup'
         |       WHEN b.u >= $rateCase THEN 'sampled_out'
         |       ELSE 'kept' END AS fate
         |FROM base b LEFT JOIN rn r ON r.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin
    },

    "q47_stratified_sample" -> {
      val rateCase = SampleRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString("CASE lang ", " ", " ELSE 1.0 END")
      s"""WITH h AS (
         |  SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, lang, source,
         |         CAST(${Md5Prefix.hexToLongSql("hx", 1, 8)} AS DOUBLE)
         |           / 4294967296.0 AS u
         |  FROM h)
         |SELECT doc_id, lang, source, round(u, 6) AS u FROM u
         |WHERE u < $rateCase
         |ORDER BY doc_id""".stripMargin
    },


    "q110_collocations" ->
      s"""WITH ${TextOps.normCte},
         |w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
         |bg AS (SELECT ws[i] || ' ' || ws[i + 1] AS bigram
         |       FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0)))
         |              AS t(i)),
         |c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n
         |      FROM bg GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY n DESC, bigram ASC)
         |            AS BIGINT) AS rank,
         |       bigram, n
         |FROM c ORDER BY n DESC, bigram ASC LIMIT $CollocK""".stripMargin,

    "q130_dsir_weights" ->
      s"""WITH ${TextOps.normCte},
         |wu AS (SELECT doc_id, unnest(string_split(s, ' ')) AS word FROM n),
         |tb AS (SELECT doc_id,
         |              CAST(${Md5Prefix.hexToLongSql("md5(word)", 1, 2)}
         |                   AS BIGINT) AS b
         |       FROM wu),
         |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb
         |        WHERE doc_id < $BenchmarkCutoff GROUP BY 1),
         |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb
         |        WHERE doc_id >= $BenchmarkCutoff GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS nt,
         |               (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr),
         |llr AS (
         |  SELECT coalesce(t.b, r.b) AS b,
         |         round(ln((coalesce(t.ct, 0) + 1.0) * (tot.nr + $DsirBuckets)
         |                  / ((coalesce(r.cr, 0) + 1.0)
         |                     * (tot.nt + $DsirBuckets))), 6) AS llr
         |  FROM tgt t FULL OUTER JOIN raw r ON t.b = r.b, tot),
         |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS nb FROM tb
         |       WHERE doc_id >= $BenchmarkCutoff GROUP BY 1, 2),
         |c AS (SELECT d.doc_id, d.nb,
         |             CAST(round(d.nb * l.llr, 6) AS DECIMAL(18,6)) AS contrib
         |      FROM db d JOIN llr l ON l.b = d.b),
         |agg AS (SELECT doc_id, CAST(sum(nb) AS BIGINT) AS n_tokens,
         |               CAST(sum(contrib) AS DOUBLE) AS lw
         |        FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens, lw, rank, (rank <= $DsirKeepN) AS keep
         |FROM (SELECT doc_id, n_tokens, lw,
         |             CAST(row_number() OVER (ORDER BY lw DESC, doc_id ASC)
         |                  AS BIGINT) AS rank
         |      FROM agg) z
         |ORDER BY doc_id""".stripMargin,

    "q123_weighted_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    greatest(CAST(len(string_split(
         |      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
         |      AS BIGINT), 1) AS w,
         |    md5(CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, lang, w,
         |    ln(CAST(${Md5Prefix.hexToLongSql("hx", 1, 8)} AS DOUBLE)
         |         / 4294967296.0) / CAST(w AS DOUBLE) AS key
         |  FROM d)
         |SELECT doc_id, lang, w, round(key, 6) AS key, rank FROM (
         |  SELECT doc_id, lang, w, key,
         |         CAST(row_number() OVER (ORDER BY key DESC, doc_id ASC)
         |              AS BIGINT) AS rank
         |  FROM k) z
         |WHERE rank <= $WSampleN
         |ORDER BY rank""".stripMargin,

    "q97_token_budget_mix" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(
         |      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
         |      AS BIGINT) AS nt,
         |    md5(CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, nt,
         |    CAST(sum(nt) OVER (PARTITION BY lang ORDER BY hx, doc_id
         |                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_nt
         |  FROM t)
         |SELECT doc_id, lang, nt, cum_nt FROM c
         |WHERE cum_nt <= $MixBudget
         |ORDER BY lang, cum_nt""".stripMargin,
  )
}
