package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.chaining._
import graft.functions.{Hll, Md5Prefix, WordShingles}

/** Corpus-composition audits over the document corpus: cross-source
  * n-gram contamination (how much two ingest sources share — the
  * audit run before mixing sources into one training corpus, since a
  * source pair with high overlap double-counts its content at
  * whatever mixing weight each was assigned), per-document
  * boilerplate scoring (the fraction of a document that is
  * corpus-repeated content — the doc-grain complement of q164's
  * position-grain span detection), and vocabulary OOV-rate audit
  * (per-document coverage under the q56 vocabulary — the tokenizer
  * sanity report).
  *
  * Reference corpus semantics these extend: the miner's per-source
  * ingest identity (reference `src/GitHubMinerHelper.ts:1-150` tracks
  * each crawl page as a source batch) — these operators audit what
  * happens when such batches are unioned into one corpus.
  */
object SourceOps {

  /** Shingle width shared by the overlap matrix and the boilerplate
    * score — q46's decontamination width (8 words, the published
    * decontamination convention). */
  val AuditShingle = 8

  // ---------------------------------------------------------------- q174
  /** Cross-source contamination matrix: for every pair of ingest
    * sources, the distinct-8-gram overlap (|G_a ∩ G_b|, both set
    * sizes, Jaccard). The full matrix is emitted — zero-overlap pairs
    * included — because the deliverable is the mixing-table audit,
    * not a hit list.
    *
    * Scale shape: the gram relation is one pass (in-row shingling,
    * then a distinct keyed on (source, gram) — map-side combine does
    * most of it since a source's docs share boilerplate); the pair
    * counts come from ONE gram-keyed aggregation into a bounded
    * source-set array (≤ n_sources entries — sources are an
    * operational enumeration, dozens not millions) whose in-row pair
    * expansion is at most C(n_sources, 2) per gram. No gram-keyed
    * self-join, so a universally-shared gram costs C(s,2) rows, not
    * (docs-containing)². The final matrix is source² — driver-sized
    * by construction. */
  def q174SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    overlapMatrix(TextOps.docs(spark, dir), AuditShingle)

  /** Distinct (source, gram) word-shingle relation, checkpoint-cut
    * (shared by the exact overlap matrix and its sketched form). */
  private[graft] def sourceGrams(d: DataFrame, k: Int): DataFrame =
    graft.Checkpoints.cut(
      d.select(col("source"), explode(WordShingles(col("s"), k)).as("gram"))
        .distinct())

  /** Core of q174 over (source, s) rows. */
  private[graft] def overlapMatrix(d: DataFrame, k: Int): DataFrame =
    overlapFromGrams(sourceGrams(d, k))

  /** q174's exact matrix over an already-built (source, gram) relation. */
  private[graft] def overlapFromGrams(sg: DataFrame): DataFrame = {
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("n"))
    // gram → sorted source set → in-row (a < b) pair expansion
    val overlap = sg.groupBy("gram")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)), b ->
          |    struct(a AS src_a, b AS src_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val pairs = sizes.select(col("source").as("src_a"), col("n").as("n_a"))
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    pairs.join(overlap, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))), 6)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  // ---------------------------------------------------------------- q175
  /** Per-document boilerplate score: the fraction of a document's
    * distinct 8-grams that occur in at least one OTHER document —
    * the doc-grain "how much of this is template/repeated content"
    * metric (C4 and RefinedWeb both cut on exactly this family of
    * signal). Documents of fewer than [[AuditShingle]] words carry no
    * grams and are absent, as in the q46 convention.
    *
    * Scale shape: q164's gram-agg-then-join-back shape at word grain —
    * ONE hash aggregation marks corpus-repeated grams (count ≥ 2 over
    * the per-doc-distinct relation = doc frequency ≥ 2; map-side
    * combine collapses the unique majority locally), the ≥2 filter
    * prunes before the join-back, and the per-doc ratios are one
    * grouped count each. The lineage cut computes the corpus-scale
    * gram relation once for its three consumers. */
  val BoilerplateTau = 0.5

  def q175BoilerplateScore(spark: SparkSession, dir: String): DataFrame =
    boilerplate(TextOps.docs(spark, dir), AuditShingle)

  /** Core of q175 over (doc_id, s) rows. */
  private[graft] def boilerplate(d: DataFrame, k: Int): DataFrame = {
    val sh = graft.Checkpoints.cut(
      d.select(col("doc_id"), explode(WordShingles(col("s"), k)).as("gram")))
    val rep = sh.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("gram")
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val dup = sh.join(rep, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    perDoc.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_grams"), 6)
          .as("boilerplate_ratio"),
        (coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_grams")
          >= BoilerplateTau).as("is_boilerplate"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q176
  /** Vocabulary OOV audit: per document, its token count and the
    * count/rate of tokens OUTSIDE the q56 top-[[CorpusOps.VocabK]]
    * vocabulary — the coverage report that decides whether a
    * vocabulary (or tokenizer) is big enough for the corpus it will
    * train on, and the per-language OOV skew that flags languages the
    * vocabulary underserves.
    *
    * Scale shape: the vocabulary is model-sized by construction
    * (top-K of a wordcount — ONE partial-agg pass over the corpus,
    * then a K-row global top-k) and broadcasts; the scoring pass
    * streams the corpus once through a broadcast left-join. Nothing
    * corpus-scale shuffles on the word key twice. */
  def q176OovAudit(spark: SparkSession, dir: String): DataFrame =
    oovAudit(TextOps.docs(spark, dir), CorpusOps.VocabK)

  /** Core of q176 over (doc_id, lang, s) rows. */
  private[graft] def oovAudit(d: DataFrame, vocabK: Int): DataFrame = {
    val vocab = d.select(explode(split(col("s"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(vocabK)
      .select(col("word"), lit(1L).as("in_vocab"))
    d.select(col("doc_id"), col("lang"),
        explode(split(col("s"), " ")).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q182
  /** Corpus manifest / data card: per (source, language) stratum, the
    * release-accounting row a dataset card publishes — document
    * count, character and token volume, and an ORDER-FREE content
    * fingerprint (XOR of per-document 60-bit md5 prefixes). The
    * fingerprint makes the manifest a reproducibility contract: any
    * single changed/added/dropped document flips it, and it is
    * invariant to partitioning, ordering, and re-sharding — the
    * properties a distributed rebuild can't promise for a
    * concatenation hash. (Known XOR property: a pair of IDENTICAL
    * docs cancels — read it alongside n_docs, which still moves;
    * exact-dup accounting is q20's job.)
    *
    * Scale shape: ONE partial-agg pass; every per-doc term (length,
    * token count, md5) is in-row; the grouped relation is
    * strata-sized. The canonical 100 TB "describe what we shipped"
    * operator. */
  def q182CorpusManifest(spark: SparkSession, dir: String): DataFrame =
    TextOps.docs(spark, dir)
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("nc"),
        size(split(col("s"), " ")).cast("long").as("nt"),
        Md5Prefix(col("text"), 1, 15).cast("long").as("fp"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
        sum(col("nt")).as("n_tokens"),
        expr("bit_xor(fp)").as("content_fp"))
      .orderBy("source", "lang")

  // ---------------------------------------------------------------- q183
  /** Corpus-drift audit: pairwise Jensen–Shannon divergence between
    * the unigram distributions of every two ingest sources — the
    * DISTRIBUTIONAL complement of q174's set overlap (two sources can
    * share every 8-gram yet weight topics completely differently; JS
    * sees that, Jaccard can't). The full matrix is the
    * mixture-design input: sources that diverge hard from the rest
    * are the ones whose mixing weight actually changes the blend.
    *
    * Decomposition that keeps the join INNER: for words present in
    * only one source, p·ln(p/(p/2)) = p·ln 2, so
    * JS = Σ_shared ½(p·ln(p/m) + q·ln(q/m)) + ½·ln2·(2 − Σp − Σq)
    * over shared words only — absent-side mass needs no full-outer
    * join, just the shared-probability sums.
    *
    * Float discipline (the q165 contract): every per-word term is a
    * pure function of exact integer ratios, rounded 6dp and summed
    * as DECIMAL (order-free); the shared-mass sums round at 12dp;
    * ½·ln2 is written as a literal halved in-plan (exact in IEEE).
    * Scale shape: one wordcount agg; ONE word-keyed aggregation into
    * a bounded per-word source array with in-row pair expansion (≤
    * C(s,2) rows per word, no word-keyed self-join — the q174
    * shape); pair rows are vocab × C(s,2) with sources an
    * operational enumeration. The each-source-vs-corpus-mean form
    * (O(vocab·s)) is the swap when s itself grows. */
  def q183SourceDivergence(spark: SparkSession, dir: String): DataFrame =
    divergenceCore(TextOps.docs(spark, dir))

  /** Core of q183 over (source, s) rows. */
  private[graft] def divergenceCore(d: DataFrame): DataFrame = {
    val cnts = graft.Checkpoints.cut(
      d.select(col("source"), explode(split(col("s"), " ")).as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("cnt")))
    val totals = cnts.groupBy("source").agg(sum(col("cnt")).as("n"))
    val dist = cnts.join(totals, "source")
      .select(col("source"), col("word"),
        (col("cnt").cast("double") / col("n").cast("double")).as("p"))
    val pairRows = dist.groupBy("word")
      .agg(sort_array(collect_list(struct(col("source"), col("p")))).as("sp"))
      .filter(size(col("sp")) >= 2)
      .select(explode(expr(
        """flatten(transform(sp, (a, i) ->
          |  transform(slice(sp, i + 2, size(sp)), b ->
          |    struct(a.source AS src_a, b.source AS src_b,
          |           a.p AS pa, b.p AS pb))))""".stripMargin)).as("e"))
      .select(col("e.src_a").as("src_a"), col("e.src_b").as("src_b"),
        col("e.pa").as("pa"), col("e.pb").as("pb"))
    val m = (col("pa") + col("pb")) / 2.0
    val shared = pairRows
      .select(col("src_a"), col("src_b"),
        round(lit(0.5) * (col("pa") * log(col("pa") / m)
          + col("pb") * log(col("pb") / m)), 6).as("term"),
        round(col("pa"), 12).as("ra"), round(col("pb"), 12).as("rb"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"),
        sum(col("term").cast("decimal(18,6)")).cast("double").as("sh"),
        sum(col("ra").cast("decimal(20,12)")).cast("double").as("spa"),
        sum(col("rb").cast("decimal(20,12)")).cast("double").as("spb"))
    val pairs = totals.select(col("source").as("src_a"), col("n").as("n_a"))
      .join(totals.select(col("source").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    pairs.join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("sh"), lit(0.0)) + lit(0.6931471805599453 / 2)
          * (lit(2.0) - coalesce(col("spa"), lit(0.0))
            - coalesce(col("spb"), lit(0.0))), 6).as("js_divergence"))
      .orderBy("src_a", "src_b")
  }

  // ---------------------------------------------------------------- q187
  /** Distributed HyperLogLog cardinality audit (Flajolet et al. 2007):
    * per-source distinct char-5-gram count, estimated from a 64-register
    * HLL sketch and reported NEXT TO the exact count with the relative
    * error — the "how big is this source's dedup keyspace" audit, and
    * the acceptance test a sketch must pass before the exact side is
    * dropped at scale.
    *
    * Why this exists when `approx_count_distinct` is built in: the
    * register math here is ENGINE-PORTABLE (md5-derived buckets, not a
    * private hash), so the same sketch computed by any engine merges
    * with ours — the property a cross-system pipeline needs — and the
    * whole computation is expressible in the oracle for a hash-exact
    * check.
    *
    * Scale shape: the sketch side never materializes the distinct set —
    * registers come from ONE per-source [[graft.functions.Hll.registers]]
    * aggregate, fused with the exact count in the same grouping over
    * the distinct (source, gram) relation; sketch state is
    * O(sources × 64) regardless of corpus size. The exact side (a
    * distinct + count) is the expensive audit baseline by definition —
    * at 100 TB it runs on the sampled audit slice or is dropped once
    * the sketch is trusted; the sketch side IS the scale path. The
    * oracle checks it against the relational register form. */
  def q187HllCardinality(spark: SparkSession, dir: String): DataFrame =
    TextOps.docs(spark, dir)
      .filter(length(col("s")) >= 5)
      .select(col("source"),
        explode(graft.functions.CharGrams(col("s"))).as("gram"))
      .distinct()
      .groupBy("source")
      .agg(count(lit(1)).as("n_exact"),
        Hll.registers(Hll.hash60(col("gram"))).as("regs"))
      .select(col("source"), col("n_exact"),
        Hll.estimate(col("regs")).as("hll_est"))
      .withColumn("rel_err_pct",
        round(lit(100.0) * (col("hll_est") - col("n_exact")) / col("n_exact"), 4))
      .orderBy("source")

  // ---------------------------------------------------------------- q189
  /** Corpus snapshot diff — the release-to-release delta report a
    * versioned dataset ships with its data card: which documents were
    * added, removed, or changed between snapshot v1 and v2, per
    * source, with the net character delta. The v2 snapshot is derived
    * here deterministically from v1 (md5-keyed removal/edit/addition
    * strata — the same pure-function-of-the-key discipline as q47's
    * sampler) so both engines diff identical snapshots; a real
    * pipeline points the same plan at two release directories.
    *
    * Scale shape: the diff NEVER touches the payloads — it is ONE
    * doc_id-keyed full outer join of two manifest-grain relations
    * (doc_id, source, fingerprint, n_chars), i.e. the q182 corpus
    * manifest at doc grain. At 100 TB you diff the manifests, not
    * the texts: fingerprints come from each release's single ingest
    * pass, and the join state is two skinny columnsets. Change
    * detection compares fingerprints, not text equality — exactly
    * what a release diff does when payloads live in object storage. */
  // Synthetic "added" docs live in the NEGATED id namespace
  // (-doc_id - 1): real doc_ids are non-negative, so the added
  // stratum can never collide with a v1 id in the full-outer join —
  // a fixed positive offset (the old +1e9) silently misclassifies
  // rows the day a corpus carries ids ≥ the offset.

  def q189SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), col("text"),
        Md5Prefix(col("doc_id").cast("string"), 1, 8).cast("bigint").as("h"))
    val v1 = base.select(col("doc_id"), col("source"),
      md5(col("text")).as("fp"), length(col("text")).cast("long").as("nc"))
    // v2: ~9% removed (h%11=0), ~13% of the survivors edited (h%7=0),
    // ~8% re-ingested under a new id (h%13=0) — an "added" stratum
    val kept = base.filter(col("h") % 11 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("h") % 7 === 0, md5(concat(col("text"), lit(" rev2"))))
          .otherwise(md5(col("text"))).as("fp"),
        when(col("h") % 7 === 0, length(col("text")) + lit(5))
          .otherwise(length(col("text"))).cast("long").as("nc"))
    val added = base.filter(col("h") % 13 === 0)
      .select((-col("doc_id") - 1).as("doc_id"), col("source"),
        md5(concat(lit("new "), col("text"))).as("fp"),
        (length(col("text")) + lit(4)).cast("long").as("nc"))
    val v2 = kept.unionByName(added)
    val joined = v1.as("a").join(v2.as("b"),
        col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(
        coalesce(col("a.source"), col("b.source")).as("source"),
        when(col("a.doc_id").isNull, "added")
          .when(col("b.doc_id").isNull, "removed")
          .when(col("a.fp") =!= col("b.fp"), "changed")
          .otherwise("unchanged").as("fate"),
        (coalesce(col("b.nc"), lit(0L)) - coalesce(col("a.nc"), lit(0L)))
          .as("dnc"))
    joined.groupBy("source")
      .agg(
        sum(when(col("fate") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("fate") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("fate") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("fate") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(col("dnc")).as("char_delta"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q192
  /** Temperature-scaled mixture weights (the mT5/XLM-R multilingual
    * sampling formula, Xue et al. 2021: q_s ∝ p_s^α with α < 1) — the
    * step that turns the q182 manifest into a sampling TABLE: raw
    * token shares are flattened so low-resource sources are
    * up-sampled, and each source's expected epoch count under a token
    * budget is reported (the repetition-risk column — an epoch count
    * ≫ 1 on a small source is how a mixture silently memorizes it).
    *
    * Scale shape: ONE corpus pass to source-grain token counts (the
    * q182 partial agg); everything after runs on the sources-sized
    * relation (dozens of rows) with two scalar broadcasts. Float
    * discipline: pow only on source-grain scalars, each share term
    * 6dp-rounded into the DECIMAL normalizer sum (order-free), one
    * terminal division per output column. */
  val MixAlpha = 0.3
  val MixBudgetTokens = 1000000L

  def q192TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val tok = TextOps.docs(spark, dir)
      .select(col("source"),
        size(split(col("s"), " ")).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("n_tokens"))
    val total = tok.agg(sum(col("n_tokens")).as("n_total"))
    val t = tok.crossJoin(broadcast(total))
      .withColumn("p_raw",
        round(col("n_tokens").cast("double") / col("n_total"), 6))
      .withColumn("t_alpha",
        round(pow(col("n_tokens").cast("double") / col("n_total"), MixAlpha), 6)
          .cast("decimal(18,6)"))
    val z = t.agg(sum(col("t_alpha")).as("z"))
    t.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"), col("p_raw"),
        round(col("t_alpha").cast("double") / col("z").cast("double"), 6)
          .as("w_alpha"))
      .withColumn("expected_epochs",
        round(col("w_alpha") * MixBudgetTokens / col("n_tokens"), 6))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q199
  /** Per-source scorecard — the one-page table a data-sourcing
    * decision actually reads: volume, exact-duplicate exposure
    * (share of the source's docs whose text also appears elsewhere
    * in the corpus — the q20 dedup signal at source grain), token
    * volume, and language concentration (the dominant language and
    * its share). Each column is a signal the suite already audits at
    * its own grain; the scorecard is the source-grain join of them.
    *
    * Scale shape: ONE corpus pass computes the per-doc terms in-row
    * (md5 fingerprint, token count); the dup-group relation is a
    * fingerprint-keyed partial agg (count≥2 prune before join-back,
    * the q175 shape); language argmax runs on the (source × langs)
    * relation via a source-keyed window — value-space-sized, never
    * corpus-sized. */
  def q199SourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Checkpoints.cut(TextOps.docs(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        md5(col("text")).as("fp"),
        size(split(col("s"), " ")).cast("long").as("nt")))
    val dupFps = d.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("fp")
    val dupPerSource = d.join(dupFps, "fp")
      .groupBy("source").agg(count(lit(1)).as("n_dup"))
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("nt")).as("n_tokens"))
    val langCnt = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("c").desc, col("lang").asc)
    val topLang = langCnt.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("c").as("top_lang_n"))
    base.join(dupPerSource, Seq("source"), "left")
      .join(topLang, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        col("top_lang"),
        round(col("top_lang_n").cast("double") / col("n_docs"), 6)
          .as("top_lang_share"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q215
  /** Sketched cross-source overlap — HLL SET ALGEBRA, the 100 TB path
    * for q174's exact matrix: per-source HLL registers over the SAME
    * distinct word-shingle relation q174 audits, pairwise |A∪B| from
    * register-wise max (HLL union is LOSSLESS — the merged registers
    * ARE the sketch of A∪B, Flajolet et al. 2007), |A∩B| by
    * inclusion–exclusion, sketched Jaccard beside q174's exact one.
    * The exact columns make this a q187-style error REPORT; a 100 TB
    * deployment keeps only the register path: ONE gram pass →
    * one register array per source ([[graft.functions.Hll.registers]])
    * → one [[graft.functions.Hll.merge]] per source pair — no
    * gram-keyed pair relation at all, which is what makes the
    * estimator usable where the exact matrix (whose cost is the
    * shared-gram volume) is not. Inclusion–exclusion can go slightly
    * negative on near-disjoint pairs (the union estimate absorbs both
    * sketches' errors); clamped at 0, the production-sketch-library
    * convention. All estimates are 4dp-rounded BEFORE combining so
    * the derived columns are bit-stable across engines. */
  def q215SketchOverlap(spark: SparkSession, dir: String): DataFrame =
    sketchOverlap(TextOps.docs(spark, dir), AuditShingle)

  private[graft] def sketchOverlap(d: DataFrame, k: Int): DataFrame = {
    val sg = sourceGrams(d, k)
    val regs = graft.Checkpoints.cut(sg.groupBy("source")
      .agg(Hll.registers(Hll.hash60(col("gram"))).as("regs")))
    val a = regs.select(col("source").as("src_a"), col("regs").as("ra"))
    val b = regs.select(col("source").as("src_b"), col("regs").as("rb"))
    // the pair relation is C(s,2) — broadcast it along both legs; the
    // union sketch of a pair is the elementwise max of its two arrays
    val pairs = a.select(col("src_a")).join(b.select(col("src_b")),
      col("src_a") < col("src_b"))
    val sketch = broadcast(pairs).join(a, "src_a").join(b, "src_b")
      .select(col("src_a"), col("src_b"),
        Hll.estimate(col("ra")).as("hll_a"),
        Hll.estimate(col("rb")).as("hll_b"),
        Hll.estimate(Hll.merge(col("ra"), col("rb"))).as("hll_union"))
    val interRaw = greatest(lit(0.0),
      col("hll_a") + col("hll_b") - col("hll_union"))
    overlapFromGrams(sg)
      .join(sketch, Seq("src_a", "src_b"))
      .withColumn("hll_common", round(interRaw, 4))
      .withColumn("hll_jaccard",
        round(col("hll_common") / col("hll_union"), 6))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard"), col("hll_a"), col("hll_b"),
        col("hll_union"), col("hll_common"), col("hll_jaccard"))
      .orderBy("src_a", "src_b")
  }

  // ---------------------------------------------------------------- q238
  /** q238: greedy maximum-coverage source ordering (Nemhauser, Wolsey
    * & Fisher 1978 — the (1−1/e)-approximate greedy that data
    * sourcing actually runs): in what order do sources add distinct
    * content? Step t picks the unchosen source contributing the most
    * NOT-yet-covered distinct word tokens (ties → lexicographically
    * first source), the submodular-selection primitive behind corpus
    * composition, dataset distillation, and acquisition budgeting.
    *
    * Scale shape: rounds = the selection budget k (here: every
    * source, a DIMENSION of the data, never corpus-scale); per round
    * ONE anti-join of the (source, token) relation against the
    * covered-token set plus one |sources|-row aggregate — the only
    * driver state is that bounded gain vector and the pick itself.
    * The covered relation is lineage-cut per round and superseded
    * rounds released (the iterative-algorithm discipline). At 100 TB
    * the (source, token) relation is the one corpus-scale input and
    * it is built ONCE; the textbook lazy-greedy priority queue is a
    * driver-side refinement this round structure doesn't need because
    * k = |sources|.
    *
    * Output: (step, source, new_tokens, cum_tokens), the coverage
    * curve a sourcing owner reads top-down. */
  def q238GreedySourceCoverage(spark: SparkSession, dir: String): DataFrame =
    greedyCoverage(TextOps.docs(spark, dir)
      .select(col("source"), explode(split(col("s"), " ")).as("w"))
      .filter(col("w") =!= "").distinct())

  /** Source-count bound for [[greedyCoverage]]'s histogram path: the
    * per-token source BITMASK histogram has ≤ 2^|sources| rows, so the
    * bounded collect it rides on is only justified while that stays a
    * q121-codebook-sized relation (2^20 rows ≈ 16 MB worst case). */
  val CoverageMaskMaxSources = 20

  /** Greedy core over a distinct (source, w) coverage relation.
    *
    * Shape (the distributed algorithm first): greedy
    * max-coverage picks are inherently sequential, but the ONLY thing
    * a pick needs is, per source, the count of still-uncovered tokens
    * — a pure function of each token's source MEMBERSHIP SET. With
    * sources a bounded data dimension (20 at every SF), that set is a
    * bitmask, and the whole loop collapses to ONE aggregation pass
    * (token → mask → histogram, ≤ 2^|sources| rows, bounded collect)
    * plus driver arithmetic over the histogram: gain(s) = Σ n(mask)
    * where mask has bit s and no picked bit. The previous shape ran
    * one anti-join + agg + collect AND one checkpoint per pick — 2
    * jobs × |sources| over the corpus-scale token relation. Output
    * identical (same exact gains, same (−gain, source) tie-break);
    * corpora with more than [[CoverageMaskMaxSources]] sources keep
    * the iterative path, where the histogram bound would not hold. */
  private[graft] def greedyCoverage(tok0: DataFrame): DataFrame = {
    val spark = tok0.sparkSession
    import spark.implicits._
    val tok = tok0.pipe(graft.Checkpoints.cut)
    // source list: a data DIMENSION (20 at every SF), not corpus rows
    val sources = tok.select("source").distinct()
      .collect().map(_.getString(0)).sorted
    val picks = if (sources.length <= CoverageMaskMaxSources) {
      val srcRel = sources.zipWithIndex.toSeq.toDF("source", "si")
      // tok is distinct (source, w), so sum(bit) over a token's rows
      // IS the bitwise OR of its membership bits — exact
      val hist = tok.join(broadcast(srcRel), "source")
        .select(col("w"),
          expr("shiftleft(cast(1 as bigint), si)").as("bit"))
        .groupBy("w").agg(sum(col("bit")).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val picks = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
      var cum = 0L
      val remaining = scala.collection.mutable.ArrayBuffer(
        sources.zipWithIndex: _*)
      var pickedMask = 0L
      for (step <- 1 to sources.length) {
        val (gain, (src, si)) = remaining.map { case (s0, i) =>
          val g = hist.collect {
            case (m, n) if (m & (1L << i)) != 0 && (m & pickedMask) == 0 => n
          }.sum
          (g, (s0, i))
        }.minBy { case (g, (s0, _)) => (-g, s0) }
        cum += gain
        picks += ((step.toLong, src, gain, cum))
        remaining -= ((src, si))
        pickedMask |= 1L << si
      }
      picks.toSeq
    } else graft.Superstep.loop(sources.length) { r =>
      ((r.cut(tok.select("w").limit(0)), Vector.empty[(Long, String, Long, Long)]),
        graft.Superstep.Unmeasured)
    } { case ((covered, picks), r) =>
      val gains = tok
        .join(covered.select(col("w").as("cw")), col("w") === col("cw"),
          "left_anti")
        .groupBy("source").agg(count(lit(1)).as("gain"))
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      val picked = picks.map(_._2).toSet
      val (gain, src) = sources.filterNot(picked)
        .map(s0 => (gains.getOrElse(s0, 0L), s0))
        .minBy { case (g, s0) => (-g, s0) }
      val cum = picks.lastOption.fold(0L)(_._4) + gain
      val next = r.cut(covered
        .union(tok.filter(col("source") === src).select("w")).distinct())
      ((next, picks :+ ((r.n.toLong, src, gain, cum))), graft.Superstep.Unmeasured)
    }(_._2).out
    picks.toDF("step", "source", "new_tokens", "cum_tokens")
      .orderBy("step")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q238_greedy_source_coverage" -> (q238GreedySourceCoverage _),
    "q215_sketch_overlap" -> (q215SketchOverlap _),
    "q199_source_scorecard" -> (q199SourceScorecard _),
    "q192_temperature_mix" -> (q192TemperatureMix _),
    "q189_snapshot_diff" -> (q189SnapshotDiff _),
    "q187_hll_cardinality" -> (q187HllCardinality _),
    "q183_source_divergence" -> (q183SourceDivergence _),
    "q174_source_overlap" -> (q174SourceOverlap _),
    "q175_boilerplate_score" -> (q175BoilerplateScore _),
    "q176_oov_audit" -> (q176OovAudit _),
    "q182_corpus_manifest" -> (q182CorpusManifest _),
  )

  /** Distinct per-doc word-8-gram CTE (mirror of [[WordShingles]] at
    * width [[AuditShingle]] — the q46 oracle's shingle SQL). */
  private val gramCte =
    s"""w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
       |g AS (SELECT DISTINCT doc_id,
       |        array_to_string(ws[i:i + ${AuditShingle - 1}], ' ') AS gram
       |      FROM w, unnest(generate_series(1,
       |             greatest(len(ws) - ${AuditShingle - 1}, 0))) AS t(i))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q238_greedy_source_coverage" ->
      s"""WITH RECURSIVE sn AS (
         |  SELECT source,
         |         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
         |  FROM documents),
         |tok AS (SELECT DISTINCT source, w FROM (
         |          SELECT source, unnest(string_split(s, ' ')) AS w FROM sn)
         |        WHERE w <> ''),
         |ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS k FROM tok),
         |steps AS (
         |  SELECT CAST(0 AS BIGINT) AS step, CAST([] AS VARCHAR[]) AS chosen
         |  UNION ALL
         |  SELECT s.step + 1, list_append(s.chosen, (
         |      SELECT src FROM (
         |        SELECT ds.source AS src,
         |               COALESCE((SELECT count(DISTINCT t.w) FROM tok t
         |                         WHERE t.source = ds.source
         |                           AND NOT EXISTS (SELECT 1 FROM tok c
         |                                 WHERE list_contains(s.chosen, c.source)
         |                                   AND c.w = t.w)), 0) AS gain
         |        FROM (SELECT DISTINCT source FROM tok) ds
         |        WHERE NOT list_contains(s.chosen, ds.source))
         |      ORDER BY gain DESC, src ASC LIMIT 1))
         |  FROM steps s, ns WHERE s.step < ns.k),
         |fin AS (SELECT chosen FROM steps, ns WHERE step = ns.k),
         |ex AS (SELECT unnest(generate_series(1, len(chosen))) AS step,
         |              chosen
         |       FROM fin),
         |cum AS (SELECT CAST(step AS BIGINT) AS step,
         |               list_extract(chosen, CAST(step AS INT)) AS source,
         |               (SELECT CAST(count(DISTINCT t.w) AS BIGINT)
         |                FROM tok t
         |                WHERE list_contains(
         |                  list_slice(chosen, 1, CAST(step AS INT)),
         |                  t.source)) AS cum_tokens
         |        FROM ex)
         |SELECT step, source,
         |       CAST(cum_tokens -
         |            COALESCE(lag(cum_tokens) OVER (ORDER BY step), 0)
         |            AS BIGINT) AS new_tokens,
         |       cum_tokens
         |FROM cum ORDER BY step""".stripMargin,

    "q199_source_scorecard" ->
      s"""WITH ${TextOps.normCte},
         |d AS (SELECT n.doc_id, doc.source, doc.lang, md5(doc.text) AS fp,
         |        CAST(len(string_split(n.s, ' ')) AS BIGINT) AS nt
         |      FROM n JOIN documents doc USING (doc_id)),
         |dupf AS (SELECT fp FROM d GROUP BY fp HAVING count(*) > 1),
         |dups AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dup
         |         FROM d JOIN dupf USING (fp) GROUP BY 1),
         |base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |           CAST(sum(nt) AS BIGINT) AS n_tokens
         |         FROM d GROUP BY 1),
         |lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
         |       FROM d GROUP BY 1, 2),
         |tl AS (SELECT source, lang AS top_lang, c AS top_lang_n
         |       FROM (SELECT source, lang, c,
         |               row_number() OVER (PARTITION BY source
         |                 ORDER BY c DESC, lang ASC) AS rk
         |             FROM lc) WHERE rk = 1)
         |SELECT b.source, b.n_docs, b.n_tokens,
         |       round(CAST(coalesce(dups.n_dup, 0) AS DOUBLE) / b.n_docs, 6)
         |         AS dup_rate,
         |       tl.top_lang,
         |       round(CAST(tl.top_lang_n AS DOUBLE) / b.n_docs, 6)
         |         AS top_lang_share
         |FROM base b
         |LEFT JOIN dups ON dups.source = b.source
         |JOIN tl ON tl.source = b.source
         |ORDER BY b.source""".stripMargin,

    "q192_temperature_mix" ->
      s"""WITH ${TextOps.normCte},
         |tok AS (SELECT d.source,
         |          CAST(sum(len(string_split(n.s, ' '))) AS BIGINT)
         |            AS n_tokens
         |        FROM n JOIN documents d USING (doc_id) GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM tok),
         |t AS (SELECT source, n_tokens,
         |        round(CAST(n_tokens AS DOUBLE) / n_total, 6) AS p_raw,
         |        CAST(round(pow(CAST(n_tokens AS DOUBLE) / n_total,
         |          $MixAlpha), 6) AS DECIMAL(18,6)) AS t_alpha
         |      FROM tok, tot),
         |z AS (SELECT sum(t_alpha) AS z FROM t)
         |SELECT source, n_tokens, p_raw,
         |       round(CAST(t_alpha AS DOUBLE) / CAST(z.z AS DOUBLE), 6)
         |         AS w_alpha,
         |       round(round(CAST(t_alpha AS DOUBLE) / CAST(z.z AS DOUBLE), 6)
         |         * $MixBudgetTokens / n_tokens, 6) AS expected_epochs
         |FROM t, z ORDER BY source""".stripMargin,

    "q189_snapshot_diff" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, text,
         |         ${Md5Prefix.hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 8)}
         |           AS h
         |  FROM documents),
         |v1 AS (
         |  SELECT doc_id, source, md5(text) AS fp,
         |         CAST(length(text) AS BIGINT) AS nc
         |  FROM base),
         |kept AS (
         |  SELECT doc_id, source,
         |         CASE WHEN h % 7 = 0 THEN md5(text || ' rev2')
         |              ELSE md5(text) END AS fp,
         |         CAST(CASE WHEN h % 7 = 0 THEN length(text) + 5
         |              ELSE length(text) END AS BIGINT) AS nc
         |  FROM base WHERE h % 11 <> 0),
         |added AS (
         |  SELECT -doc_id - 1 AS doc_id, source,
         |         md5('new ' || text) AS fp,
         |         CAST(length(text) + 4 AS BIGINT) AS nc
         |  FROM base WHERE h % 13 = 0),
         |v2 AS (SELECT * FROM kept UNION ALL SELECT * FROM added),
         |j AS (
         |  SELECT coalesce(a.source, b.source) AS source,
         |         CASE WHEN a.doc_id IS NULL THEN 'added'
         |              WHEN b.doc_id IS NULL THEN 'removed'
         |              WHEN a.fp <> b.fp THEN 'changed'
         |              ELSE 'unchanged' END AS fate,
         |         coalesce(b.nc, 0) - coalesce(a.nc, 0) AS dnc
         |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
         |SELECT source,
         |  CAST(sum(CASE WHEN fate = 'added' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_added,
         |  CAST(sum(CASE WHEN fate = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed,
         |  CAST(sum(CASE WHEN fate = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_changed,
         |  CAST(sum(CASE WHEN fate = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unchanged,
         |  CAST(sum(dnc) AS BIGINT) AS char_delta
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q215_sketch_overlap" ->
      s"""WITH ${TextOps.normCte},
         |$gramCte,
         |sg AS (SELECT DISTINCT d.source, g.gram
         |       FROM g JOIN documents d USING (doc_id)),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |       FROM sg GROUP BY 1),
         |ov AS (SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(count(*) AS BIGINT) AS n_common
         |       FROM sg a JOIN sg b
         |         ON a.gram = b.gram AND a.source < b.source
         |       GROUP BY 1, 2),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |         a.n AS n_a, b.n AS n_b
         |       FROM sz a JOIN sz b ON a.source < b.source),
         |${Hll.registersSql("m", "sg", Seq("source"), "gram")},
         |${Hll.estimateSql("es", "m", Seq("source"))},
         |up AS (SELECT pr.src_a, pr.src_b, m.reg, m.mj
         |       FROM pr JOIN m ON m.source = pr.src_a
         |       UNION ALL
         |       SELECT pr.src_a, pr.src_b, m.reg, m.mj
         |       FROM pr JOIN m ON m.source = pr.src_b),
         |um AS (SELECT src_a, src_b, reg, max(mj) AS mj
         |       FROM up GROUP BY 1, 2, 3),
         |${Hll.estimateSql("ue", "um", Seq("src_a", "src_b"))}
         |SELECT pr.src_a, pr.src_b, pr.n_a, pr.n_b,
         |       coalesce(ov.n_common, CAST(0 AS BIGINT)) AS n_common,
         |       round(CAST(coalesce(ov.n_common, 0) AS DOUBLE) /
         |             (pr.n_a + pr.n_b - coalesce(ov.n_common, 0)), 6)
         |         AS jaccard,
         |       ea.est AS hll_a, eb.est AS hll_b, ue.est AS hll_union,
         |       round(greatest(0.0, ea.est + eb.est - ue.est), 4)
         |         AS hll_common,
         |       round(round(greatest(0.0, ea.est + eb.est - ue.est), 4)
         |             / ue.est, 6) AS hll_jaccard
         |FROM pr
         |LEFT JOIN ov ON ov.src_a = pr.src_a AND ov.src_b = pr.src_b
         |JOIN es ea ON ea.source = pr.src_a
         |JOIN es eb ON eb.source = pr.src_b
         |JOIN ue ON ue.src_a = pr.src_a AND ue.src_b = pr.src_b
         |ORDER BY pr.src_a, pr.src_b""".stripMargin,

    "q187_hll_cardinality" ->
      s"""WITH ${TextOps.normCte},
         |p AS (SELECT d.source, n.s,
         |        unnest(generate_series(1, length(n.s) - 4)) AS i
         |      FROM n JOIN documents d USING (doc_id)
         |      WHERE length(n.s) >= 5),
         |g AS (SELECT DISTINCT source, substr(s, CAST(i AS INT), 5) AS gram
         |      FROM p),
         |e AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
         |      FROM g GROUP BY 1),
         |${Hll.registersSql("m", "g", Seq("source"), "gram")},
         |${Hll.estimateSql("es", "m", Seq("source"))}
         |SELECT source, n_exact, est AS hll_est,
         |       round(100.0 * (est - n_exact) / n_exact, 4) AS rel_err_pct
         |FROM es JOIN e USING (source) ORDER BY source""".stripMargin,

    "q174_source_overlap" ->
      s"""WITH ${TextOps.normCte},
         |$gramCte,
         |sg AS (SELECT DISTINCT d.source, g.gram
         |       FROM g JOIN documents d USING (doc_id)),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |       FROM sg GROUP BY 1),
         |ov AS (SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(count(*) AS BIGINT) AS n_common
         |       FROM sg a JOIN sg b
         |         ON a.gram = b.gram AND a.source < b.source
         |       GROUP BY 1, 2),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |         a.n AS n_a, b.n AS n_b
         |       FROM sz a JOIN sz b ON a.source < b.source)
         |SELECT pr.src_a, pr.src_b, pr.n_a, pr.n_b,
         |       coalesce(ov.n_common, CAST(0 AS BIGINT)) AS n_common,
         |       round(CAST(coalesce(ov.n_common, 0) AS DOUBLE) /
         |             (pr.n_a + pr.n_b - coalesce(ov.n_common, 0)), 6)
         |         AS jaccard
         |FROM pr LEFT JOIN ov
         |  ON ov.src_a = pr.src_a AND ov.src_b = pr.src_b
         |ORDER BY 1, 2""".stripMargin,

    "q175_boilerplate_score" ->
      s"""WITH ${TextOps.normCte},
         |$gramCte,
         |rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |       FROM g GROUP BY 1),
         |dd AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_dup
         |       FROM g JOIN rep USING (gram) GROUP BY 1)
         |SELECT pd.doc_id, pd.n_grams,
         |       coalesce(dd.n_dup, CAST(0 AS BIGINT)) AS n_dup,
         |       round(CAST(coalesce(dd.n_dup, 0) AS DOUBLE) / pd.n_grams, 6)
         |         AS boilerplate_ratio,
         |       (CAST(coalesce(dd.n_dup, 0) AS DOUBLE) / pd.n_grams
         |         >= $BoilerplateTau) AS is_boilerplate
         |FROM pd LEFT JOIN dd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q183_source_divergence" ->
      s"""WITH ${TextOps.normCte},
         |tk AS (SELECT d.source, unnest(string_split(n.s, ' ')) AS word
         |       FROM n JOIN documents d USING (doc_id)),
         |wc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
         |       FROM tk GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
         |        FROM wc GROUP BY 1),
         |dist AS (SELECT wc.source, wc.word,
         |           CAST(wc.cnt AS DOUBLE) / t.n AS p
         |         FROM wc JOIN tot t USING (source)),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |         a.p AS pa, b.p AS pb
         |       FROM dist a JOIN dist b
         |         ON a.word = b.word AND a.source < b.source),
         |ag AS (SELECT src_a, src_b,
         |         CAST(count(*) AS BIGINT) AS n_shared,
         |         CAST(sum(CAST(round(0.5 * (pa * ln(pa / ((pa + pb) / 2))
         |              + pb * ln(pb / ((pa + pb) / 2))), 6)
         |            AS DECIMAL(18,6))) AS DOUBLE) AS sh,
         |         CAST(sum(CAST(round(pa, 12) AS DECIMAL(20,12)))
         |           AS DOUBLE) AS spa,
         |         CAST(sum(CAST(round(pb, 12) AS DECIMAL(20,12)))
         |           AS DOUBLE) AS spb
         |       FROM pr GROUP BY 1, 2),
         |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
         |            a.n AS n_a, b.n AS n_b
         |          FROM tot a JOIN tot b ON a.source < b.source)
         |SELECT p.src_a, p.src_b, p.n_a, p.n_b,
         |       coalesce(ag.n_shared, CAST(0 AS BIGINT)) AS n_shared,
         |       round(coalesce(ag.sh, 0.0) + (0.6931471805599453 / 2)
         |         * (2.0 - coalesce(ag.spa, 0.0) - coalesce(ag.spb, 0.0)), 6)
         |         AS js_divergence
         |FROM pairs p LEFT JOIN ag
         |  ON ag.src_a = p.src_a AND ag.src_b = p.src_b
         |ORDER BY 1, 2""".stripMargin,

    "q182_corpus_manifest" ->
      s"""WITH ${TextOps.normCte},
         |f AS (SELECT d.source, d.lang,
         |        CAST(length(d.text) AS BIGINT) AS nc,
         |        CAST(len(string_split(n.s, ' ')) AS BIGINT) AS nt,
         |        ${Md5Prefix.hexToLongSql("md5(d.text)", 1, 15)} AS fp
         |      FROM n JOIN documents d USING (doc_id))
         |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(nt) AS BIGINT) AS n_tokens,
         |       CAST(bit_xor(fp) AS BIGINT) AS content_fp
         |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q176_oov_audit" ->
      s"""WITH ${TextOps.normCte},
         |wcount AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(string_split(s, ' ')) AS word FROM n)
         |  GROUP BY 1),
         |voc AS (SELECT word FROM wcount
         |        ORDER BY cnt DESC, word ASC LIMIT ${CorpusOps.VocabK}),
         |tk AS (SELECT n.doc_id, d.lang,
         |         unnest(string_split(n.s, ' ')) AS word
         |       FROM n JOIN documents d USING (doc_id))
         |SELECT tk.doc_id, tk.lang,
         |       CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN voc.word IS NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_oov,
         |       round(CAST(sum(CASE WHEN voc.word IS NULL THEN 1 ELSE 0 END)
         |                  AS DOUBLE) / count(*), 6) AS oov_rate
         |FROM tk LEFT JOIN voc USING (word)
         |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
  )
}
