package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}

/** LLM-training-pipeline text operators over the `documents` table:
  * exact + near dedup (n-gram Jaccard, MinHash+LSH, SimHash),
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Design rules for 100 TB:
  *  - signatures (minhash lanes, simhash bits, fingerprints) are
  *    computed *inside the row* (custom single-loop Catalyst
  *    expressions in graft.functions) — zero shuffle until the tiny
  *    signature relation exists;
  *  - candidate-pair generation is always blocked (LSH bands, simhash
  *    bit-bands) — never an O(n²) cross join;
  *  - candidate verification never ships gram arrays: exact Jaccard is
  *    a join+agg over the exploded (doc_id, gram) relation restricted
  *    to candidate pairs, so the shuffle payload is single grams, not
  *    whole per-doc gram sets;
  *  - banding parameters follow the S-curve 1-(1-j^r)^L: bands of
  *    r=5 16-bit lanes with L=3 (q21) / r=4, L=2 (q22) put the
  *    curve's inflection between this corpus's background similarity
  *    (template-generated text clusters at j≈0.2-0.4 pairwise, which
  *    collapses narrow bands into quadratic blocks) and the planted
  *    near-dup regime (j≥0.9, recall measured 1.0 — spec-asserted
  *    against brute force). Background collisions decay as j_bg^r·L;
  *    r/L are the knobs to re-aim the curve at another threshold;
  *  - minhash lanes are md5 SLICES (8 × 16-bit lanes per digest), so
  *    8 permutations cost ONE md5 call per gram, not 8;
  *  - the simhash band width (4 bands × 15 bits) makes banding *exact*
  *    for hamming ≤ 3 (pigeonhole) with 32768 buckets per band, so the
  *    blocked plan provably returns the same pairs a brute-force scan
  *    would (spec-verified against a full O(n²) signature comparison).
  *
  * Hash family: md5 hex strings (identical in Spark and DuckDB), with
  * hex→int via base-16 `conv` (Spark) / nibble positional sums
  * (DuckDB oracle) — bit-identical across engines.
  */
object TextOps {

  /** Whitespace-collapsed lowercase normalization, shared by all ops. */
  private def withNorm(docs: DataFrame): DataFrame =
    docs.withColumn("s",
      lower(trim(regexp_replace(col("text"), "\\s+", " "))))

  private[graft] def docs(spark: SparkSession, dir: String): DataFrame =
    withNorm(Tables(spark, dir).documents)

  /** (doc_id, gram) — distinct char-5-gram relation (single-loop
    * [[graft.functions.CharGrams]] expression, exploded). */
  private[graft] def grams(d: DataFrame): DataFrame =
    d.filter(length(col("s")) >= 5)
      .select(col("doc_id"),
        explode(graft.functions.CharGrams(col("s"))).as("gram"))

  /** Per-doc minhash lane signature, computed fully in-row from the
    * documents (no exploded-gram shuffle) by the custom
    * [[graft.functions.MinhashSignature]] Catalyst expression: one JVM
    * loop per row instead of 8·nMd5 interpreted HOF passes — see the
    * expression's Scaladoc for the why. Emits `nn` = |gram set| for
    * the Jaccard denominator plus lanes h0..h(8·nMd5-1). */
  private[graft] def laneSigs(d: DataFrame, nMd5: Int): DataFrame = {
    val sig = d.filter(length(col("s")) >= 5)
      .select(col("doc_id"),
        graft.functions.MinhashSignature(col("s"), nMd5).as("sig"))
    val laneCols = (0 until 8 * nMd5).map(i =>
      col("sig.lanes").getItem(i).as(s"h$i"))
    sig.select(col("doc_id") +: col("sig.nn").as("nn") +: laneCols: _*)
  }

  /** (doc_id, j, k): band j's key = concat of `r` consecutive lanes
    * starting at j·r (fixed-width hex, so plain concat is
    * collision-free). */
  private[graft] def bandRelation(sig: DataFrame, nBands: Int, r: Int): DataFrame = {
    val entries = (0 until nBands)
      .map(b => s"$b, concat(${(0 until r).map(i => s"h${b * r + i}").mkString(", ")})")
      .mkString(", ")
    sig.selectExpr("doc_id", s"stack($nBands, $entries) AS (j, k)")
  }

  /** Band-blocked candidate pairs (a < b), one row per shared band —
    * the ONLY pair generator; the join key (j, k) shuffles only the
    * tiny band relation. */
  private[graft] def candidates(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.j") === col("y.j") && col("x.k") === col("y.k") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))

  /** Exact Jaccard for candidate pairs via an exploded gram relation
    * that only ever covers documents appearing in a candidate pair:
    * the docs are SEMI-JOIN-PRUNED first and exploded after, so the
    * full corpus's grams neither materialize nor shuffle (candidates ≪
    * corpus at every scale by the banding design). The intersection is
    * a join+agg restricted to `cand`; set sizes ride the signature
    * relation (`sizes` = (doc_id, nn), computed in-row). `carry` =
    * extra cand columns to keep (functionally dependent on (a, b)). */
  private def jaccardVerified(d: DataFrame, sizes: DataFrame, cand: DataFrame,
      thresh: Double, carry: Seq[String] = Nil): DataFrame = {
    // IN-ROW exact verify (the q99 discipline):
    // CharGrams already emits each doc's DISTINCT gram set as one
    // array, so a candidate pair joins the two arrays and intersects
    // in-row — |pairs| + |candidate docs| rows through the verify
    // instead of exploding every pair into |grams| rows for a
    // gram-keyed intersection join + re-agg. Zero-intersection pairs
    // (previously dropped by the inner gram join) drop at the
    // j ≥ thresh filter (thresh > 0 for every caller). `carry`
    // columns ride the candidate row untouched.
    val candDocs = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    val ga = Checkpoints.cut(
      d.join(candDocs, Seq("doc_id"), "left_semi")
        .filter(length(col("s")) >= 5)
        .select(col("doc_id"), graft.functions.CharGrams(col("s")).as("gs")))
    cand
      .join(ga.select(col("doc_id").as("a"), col("gs").as("gs_a")), Seq("a"))
      .join(ga.select(col("doc_id").as("b"), col("gs").as("gs_b")), Seq("b"))
      .withColumn("c",
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .join(sizes.select(col("doc_id").as("da"), col("nn").as("na")), col("a") === col("da"))
      .join(sizes.select(col("doc_id").as("db"), col("nn").as("nb")), col("b") === col("db"))
      .withColumn("j", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("j") >= thresh)
      .withColumn("jaccard", round(col("j"), 6))
  }

  // ---------------------------------------------------------------- q20
  /** Exact dedup: group by md5 of normalized text, keep min doc_id.
    * (The reference's Redis set-membership dedup, as a hash groupBy —
    * GitHubMinerHelper.ts:48-56 semantics.) */
  def q20DedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), md5(col("s")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("keep_id")

  // ---------------------------------------------------------------- q21
  /** N-gram Jaccard near-dup: distinct 5-gram sets, 3 bands × 5
    * 16-bit minhash lanes (recall 1-(1-j⁵)³ ≥ 0.95 in the planted
    * near-dup regime, background ∝ j_bg⁵ — wide bands because
    * template-generated corpora cluster at j≈0.2-0.4 and would
    * collapse narrow bands into quadratic blocks), exact join+agg
    * Jaccard ≥ 0.5 on candidates. */
  def q21NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val sig = Checkpoints.cut(laneSigs(d, 2)) // ⌈3·5/8⌉ md5s per gram
    val cand = Checkpoints.cut(candidates(bandRelation(sig, 3, 5)).distinct())
    jaccardVerified(d, sig.select("doc_id", "nn"), cand, 0.5)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy("a", "b")
  }

  // ---------------------------------------------------------------- q22
  /** MinHash + LSH near-dup, full pipeline: 8 minhash permutations
    * from ONE md5 per gram sliced into 8 × 16-bit lanes, computed
    * in-row — zero shuffle; 2 bands of 4 lanes generate candidate
    * pairs (recall 1-(1-j⁴)² ≈ 0.97 at the planted-dup regime j≥0.92,
    * measured 1.0 on the corpus — spec-asserted; background ∝ j_bg⁴);
    * exact join+agg Jaccard ≥ 0.5 over candidate-doc grams only. */
  def q22DedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val sig = Checkpoints.cut(laneSigs(d, 1))
    val cand = Checkpoints.cut(candidates(bandRelation(sig, 2, 4))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared_bands")))
    jaccardVerified(d, sig.select("doc_id", "nn"), cand, 0.5,
        carry = Seq("n_shared_bands"))
      .select(col("a"), col("b"), col("n_shared_bands"), col("jaccard"))
      .orderBy("a", "b")
  }

  // ---------------------------------------------------------------- q87
  /** INCREMENTAL dedup — the daily-ingest shape: dedup a NEW BATCH
    * against the EXISTING corpus without re-pairing the corpus with
    * itself. Exact dups by fingerprint anti-check, near-dups by the
    * q22 minhash banding with candidates restricted to
    * (batch × corpus) band collisions — corpus-internal pairs never
    * generate, so each increment costs O(batch) band rows + the
    * verification of its own candidates, not O(corpus²). Batch docs
    * report fate (exact_dup / near_dup / kept) and the smallest
    * matching corpus doc. Here "corpus" = doc_id < [[IncrementalCutoff]],
    * a deterministic stand-in for yesterday's snapshot. */
  val IncrementalCutoff = 250L

  def incrementalDedup(d: DataFrame, isCorpus: org.apache.spark.sql.Column)
      : DataFrame = {
    val fp = d.select(col("doc_id"), md5(col("s")).as("fp"), isCorpus.as("old"))
    val exact = fp.filter(!col("old")).as("b")
      .join(fp.filter(col("old")).as("c"), col("b.fp") === col("c.fp"))
      .groupBy(col("b.doc_id").as("doc_id"))
      .agg(min(col("c.doc_id")).as("exact_id"))
    val sig = Checkpoints.cut(laneSigs(d, 1))
    val bands = bandRelation(sig, 2, 4)
      .join(fp.select(col("doc_id"), col("old")), "doc_id")
    val cand = Checkpoints.cut(bands.filter(!col("old")).as("x")
      .join(bands.filter(col("old")).as("y"),
        col("x.j") === col("y.j") && col("x.k") === col("y.k"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct())
    val near = jaccardVerified(d, sig.select("doc_id", "nn"), cand, 0.5)
      .groupBy(col("a").as("doc_id")).agg(min(col("b")).as("near_id"))
    d.filter(!isCorpus).select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, "exact_dup")
          .when(col("near_id").isNotNull, "near_dup")
          .otherwise("kept").as("fate"),
        coalesce(col("exact_id"), col("near_id"), lit(-1L)).as("match_id"))
      .orderBy("doc_id")
  }

  def q87IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    incrementalDedup(d, col("doc_id") < IncrementalCutoff)
  }

  // ---------------------------------------------------------------- q23
  /** SimHash: 60-bit signature from per-word md5 bits (frequency
    * weighted), computed shuffle-free via aggregate/zip_with; pairs
    * via 4×15-bit banding — 32768 buckets per band, and EXACT for
    * hamming ≤ 3 (a pair differing in ≤3 bits must share one of the
    * 4 bands untouched, by pigeonhole). */
  val SimhashBits = 60

  def simhashSignatures(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      graft.functions.SimhashSignature(col("s")).as("sig"))

  def q23DedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sig = Checkpoints.cut(simhashSignatures(docs(spark, dir)))
    val bands = sig.selectExpr("doc_id", "sig",
      """stack(4,
        |  0, shiftright(sig, 0) % 32768,
        |  1, shiftright(sig, 15) % 32768,
        |  2, shiftright(sig, 30) % 32768,
        |  3, shiftright(sig, 45) % 32768) AS (j, bv)""".stripMargin)
    bands.as("x").join(bands.as("y"),
        col("x.j") === col("y.j") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sig").as("sa"), col("y.sig").as("sb"))
      .distinct()
      .withColumn("hamming",
        expr("cast(bit_count(sa ^ sb) as bigint)"))
      .filter(col("hamming") <= 3)
      .select("a", "b", "hamming")
      .orderBy("a", "b")
  }

  // ---------------------------------------------------------------- q43
  /** Quality-aware exact dedup: within each exact-duplicate cluster
    * (md5 of normalized text) keep the highest-quality document — the
    * production "keep best, not first" dedup policy, composing the
    * q20 grouping with the q28 scorer. The ORDER BY uses the
    * 6dp-rounded quality so the tie-break is engine-stable. */
  def q43DedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val q = q28QualityScore(spark, dir).select("doc_id", "quality")
    val fp = docs(spark, dir).select(col("doc_id"), md5(col("s")).as("fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("quality").desc, col("doc_id").asc)
    fp.join(q, "doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("dup_count", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("rk") === 1)
      .select(col("fp"), col("doc_id").as("keep_id"),
        col("dup_count"), col("quality").as("best_quality"))
      .orderBy("keep_id")
  }

  // ---------------------------------------------------------------- q44
  /** Near-dup clustering — the end of the dedup pipeline: verified
    * q21 near-dup pairs become undirected edges, connected components
    * assign every document (pairless docs stay singletons) a cluster
    * labeled by its minimum member id. Blocking bounds the edge set,
    * and the iterative CC runs ONLY over documents that appear in some
    * pair — the corpus-sized singleton majority never enters the loop
    * and is labeled by a single left join afterward. No step is
    * quadratic in the corpus, and the per-iteration work is
    * proportional to the dup graph, not the corpus.
    *
    * The CC engine is the STRUCTURE-ROUTED
    * [[graft.graph.StarContraction.ccAuto]] (q244's router): chained
    * near-duplicates (A≈B≈C≈… with no A≈C edge) are the measured
    * high-diameter collapse mode of min-label propagation
    * (BENCH_SCALING Parts 14/18), and this pipeline is where a 100 TB
    * corpus actually produces such chains. Labels are identical to
    * min-label's (min member id, spec-pinned by StarContractionSpec
    * and the planted-chain spec), so q44/q98's oracles are untouched. */
  private[graft] def neardupClusters(spark: SparkSession, dir: String): DataFrame =
    neardupClustersFromDocs(docs(spark, dir))

  /** q44's pipeline over an arbitrary normalized docs frame
    * (`doc_id`, `s`) — the spec entry point for planted corpora (the
    * chain-of-near-dups spec drives the full candidates → verify →
    * ccAuto path through this). */
  private[graft] def neardupClustersFromDocs(d: DataFrame): DataFrame = {
    val sig = Checkpoints.cut(laneSigs(d, 2))
    val cand = Checkpoints.cut(candidates(bandRelation(sig, 3, 5)).distinct())
    val pairs = Checkpoints.cut(
      jaccardVerified(d, sig.select("doc_id", "nn"), cand, 0.5)
        .select(col("a"), col("b")))
    Checkpoints.release(sig, cand)
    val paired = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node"))).distinct()
    val comp = graft.graph.StarContraction.ccAuto(paired,
      pairs.select(col("a").as("u"), col("b").as("v")))
    d.select(col("doc_id"))
      .join(comp.select(col("node").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
  }

  def q44NeardupClusters(spark: SparkSession, dir: String): DataFrame =
    neardupClusters(spark, dir).orderBy("doc_id")

  // ---------------------------------------------------------------- q98
  /** Leakage-safe train/eval split: the split decision is a pure
    * function of the NEAR-DUP CLUSTER id, not the document id — two
    * documents that are near-duplicates of each other can never land
    * on opposite sides of the split, the train/eval contamination a
    * doc-level hash split silently permits. The md5-uniform is q47's
    * sampler convention applied to the cluster label; rate
    * [[SplitEvalRate]] of CLUSTERS (not docs) goes to eval.
    * Deterministic, integer/string-exact, rerun-stable.
    *
    * Scale shape: everything beyond q44's clustering is one in-row
    * projection — no extra shuffle, no per-split pass. */
  val SplitEvalRate = 0.1

  def q98LeakSafeSplit(spark: SparkSession, dir: String): DataFrame =
    neardupClusters(spark, dir)
      .withColumn("u", md5Uniform(col("cluster")))
      .select(col("doc_id"), col("cluster"),
        when(col("u") < SplitEvalRate, "eval").otherwise("train").as("split"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q27
  /** Language ID: stopword-hit-ratio argmax over a fixed per-language
    * lexicon (deterministic tie-break: lang ascending). The per-lang
    * match counts are computed in-row with array filters (codegen) —
    * the only row amplification is ×|langs| for the argmax window. */
  val langLexicon: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "data"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "table", "pour", "dans"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4", "ren2", "you3"),
  )

  def q27LangId(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).withColumn("words", split(col("s"), " "))
    val scored = d.select(
      col("doc_id") +: size(col("words")).cast("long").as("nw") +:
        langLexicon.map { case (lang, sw) =>
          val lst = sw.map(w => s"'$w'").mkString(", ")
          expr(s"cast(size(filter(words, w -> array_contains(array($lst), w))) as bigint)")
            .as(s"m_$lang")
        }: _*)
    val stacked = scored.selectExpr("doc_id", "nw",
      s"stack(${langLexicon.size}, " +
        langLexicon.map { case (lang, _) => s"'$lang', m_$lang" }.mkString(", ") +
        ") AS (lang, m)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("m").desc, col("lang").asc)
    stacked.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("lang_pred"),
        round(col("m").cast("double") / col("nw"), 6).as("score"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q28
  /** Per-doc quality features over the normalized docs frame (keeps
    * every input column): word count, punctuation ratio, stopword
    * ratio, combined quality — pure column math, fully codegen'd.
    * Shared by q28 and the q52 corpus report so the formula can't
    * drift between the per-doc and aggregate views. */
  private[graft] def qualityFrame(d: DataFrame): DataFrame = {
    val en = langLexicon.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    d.withColumn("words", split(col("s"), " "))
      .withColumn("nw", size(col("words")).cast("long"))
      .withColumn("pr",
        (length(col("s")) - length(regexp_replace(col("s"), "[^a-z0-9 ]", "")))
          .cast("double") / length(col("s")))
      .withColumn("sr",
        expr(s"cast(size(filter(words, w -> array_contains(array($en), w))) as bigint)")
          .cast("double") / col("nw"))
      .withColumn("quality",
        lit(0.3) * least(lit(1.0), col("nw").cast("double") / 100.0) +
          lit(0.3) * (lit(1.0) - col("pr")) + lit(0.4) * col("sr"))
  }

  /** Quality scoring: length / punctuation / stopword-ratio features
    * combined into one score. */
  def q28QualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityFrame(docs(spark, dir))
      .select(col("doc_id"), col("nw").as("n_words"),
        round(col("pr"), 6).as("punct_ratio"),
        round(col("sr"), 6).as("stop_ratio"),
        round(col("quality"), 6).as("quality"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q29
  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs / digit runs / single symbols). */
  def q29TokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        size(split(col("s"), " ")).cast("long").as("ws_tokens"),
        expr("cast(regexp_count(s, '[a-z]+|[0-9]+|[^a-z0-9 ]') as bigint)")
          .as("bpe_tokens"),
        length(col("s")).cast("long").as("chars"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q30
  /** Document fingerprint: md5 of normalized text + a positional
    * polynomial hash (Σ ascii(cᵢ)·31^(i mod 8) mod 2^31-1) evaluated
    * in-row via aggregate/transform — no shuffle, no UDF. */
  def q30Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val pows = (0 to 7).map(k => s"${math.pow(31, k).toLong}L").mkString(", ")
    docs(spark, dir)
      .selectExpr("doc_id", "md5(s) AS fp_md5",
        s"""aggregate(
           |  transform(sequence(1, length(s)),
           |    i -> cast(ascii(substring(s, i, 1)) as bigint)
           |         * element_at(array($pows), cast((i - 1) % 8 as int) + 1)),
           |  cast(0 as bigint), (acc, x) -> acc + x) % 2147483647 AS rolling""".stripMargin)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q31
  /** Multimodal metadata: documents as opaque binary payloads with
    * md5-derived fake decode dims (width/height/frames). The typed
    * decode plumbing (binary schema, partition-batched fake decoder)
    * lives in graft.multimodal.Multimodal; this is the metadata
    * extraction query over the same columns. */
  def q31MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .withColumn("data", col("text").cast("binary"))
      .withColumn("h", md5(col("data")))
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        (expr("cast(conv(substring(h, 1, 4), 16, 10) as bigint)") % 512 + 1).as("width"),
        (expr("cast(conv(substring(h, 5, 4), 16, 10) as bigint)") % 512 + 1).as("height"),
        (expr("cast(conv(substring(h, 9, 2), 16, 10) as bigint)") % 16 + 1).as("n_frames"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q124
  /** Content-defined chunking dedup (the rsync/LBFS rolling-boundary
    * idea at word granularity — the shape code-corpus pipelines use
    * to find SHIFTED boilerplate that whole-doc fingerprints miss): a
    * chunk boundary falls after any word whose md5 lands in
    * 1/[[CdcDivisor]] of the hash space, so borders depend only on
    * LOCAL content — an insertion re-chunks O(1) chunks where
    * fixed-size chunking would shift every later one. Chunks are
    * md5-keyed; one appearing ≥2 times corpus-wide is duplicate
    * material. Cost: one per-doc window (chunk ids) + one chunk-hash
    * partial agg — linear, and the chunk-hash key space is uniform
    * by construction (no hot keys). Per-doc counters stay INTEGER
    * end to end — engine-exact. */
  val CdcDivisor = 8

  /** (doc_id, chunk, chunk_hash, chunk_nw) over any (doc_id, s). */
  private[graft] def cdcChunks(d: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    d.select(col("doc_id"), posexplode(split(col("s"), " ")).as(Seq("pos", "word")))
      .withColumn("b",
        (conv(substring(md5(col("word")), 1, 4), 16, 10).cast("long")
          % CdcDivisor === 0).cast("long"))
      .withColumn("chunk", coalesce(sum(col("b")).over(w), lit(0L)))
      .groupBy("doc_id", "chunk")
      .agg(array_sort(collect_list(struct(col("pos"), col("word")))).as("ws"))
      .select(col("doc_id"), col("chunk"),
        md5(array_join(expr("transform(ws, x -> x.word)"), " ")).as("chunk_hash"),
        size(col("ws")).cast("long").as("chunk_nw"))
  }

  def q124CdcChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunks(docs(spark, dir))
    // chunk-frequency side is corpus-derived — AQE decides the join
    val freq = chunks.groupBy("chunk_hash").agg(count(lit(1)).as("n_occ"))
    chunks.join(freq, "chunk_hash")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("chunk_nw")).as("n_words"),
        sum(when(col("n_occ") >= 2, col("chunk_nw")).otherwise(0L))
          .as("dup_words"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact" -> (q20DedupExact _),
    "q21_ngram_jaccard" -> (q21NgramJaccard _),
    "q22_dedup_minhash" -> (q22DedupMinhash _),
    "q23_dedup_simhash" -> (q23DedupSimhash _),
    "q27_lang_id" -> (q27LangId _),
    "q28_quality_score" -> (q28QualityScore _),
    "q43_dedup_keep_best" -> (q43DedupKeepBest _),
    "q44_neardup_clusters" -> (q44NeardupClusters _),
    "q98_leak_safe_split" -> (q98LeakSafeSplit _),
    "q87_incremental_dedup" -> (q87IncrementalDedup _),
    "q29_token_count" -> (q29TokenCount _),
    "q30_fingerprint" -> (q30Fingerprint _),
    "q31_multimodal_meta" -> (q31MultimodalMeta _),
    "q124_cdc_chunk_dedup" -> (q124CdcChunkDedup _),
  )

  // ------------------------------------------------------------ oracles

  /** DuckDB hex→BIGINT: positional nibble sum over `len` hex chars of
    * `hexExpr` starting at 1-based `start` (mirror of Spark's conv). */
  /** md5-derived uniform in [0,1) from any key column — the library's
    * ONE deterministic sampler (q47 stratified rates, q57's fate, q98's
    * cluster-atomic split). Every consumer and every SQL mirror must
    * track this exact shape (first 8 hex chars / 2^32); centralizing
    * the Scala side keeps the copies from drifting. */
  private[graft] def md5Uniform(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  private[graft] def hexToLongSql(hexExpr: String, start: Int, len: Int): String =
    (0 until len).map { p =>
      val mult = math.pow(16, len - 1 - p).toLong
      s"(strpos('0123456789abcdef', substr($hexExpr, ${start + p}, 1)) - 1) * CAST($mult AS BIGINT)"
    }.mkString("(", " + ", ")")

  private[graft] val normCte =
    """n AS (SELECT doc_id, text,
      |  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
      |FROM documents)""".stripMargin

  private val gramCtes =
    s"""$normCte,
       |pos AS (SELECT doc_id, s, unnest(generate_series(1, length(s) - 4)) AS i
       |        FROM n WHERE length(s) >= 5),
       |g AS (SELECT DISTINCT doc_id, substr(s, CAST(i AS INT), 5) AS gram FROM pos)""".stripMargin

  /** Mirror of [[laneSigs]] + [[bandRelation]]: sig lanes as min md5
    * slices, bands as a UNION ALL of r-lane concat keys. */
  private def laneSigSql(nMd5: Int, nBands: Int, r: Int): String = {
    val lanes = (for (k <- 0 until nMd5; l <- 0 until 8)
      yield s"    min(substr(md5('$k:' || gram), ${1 + 4 * l}, 4)) AS h${8 * k + l}")
      .mkString(",\n")
    val bands = (0 until nBands)
      .map(b => s"  SELECT doc_id, $b AS j, " +
        (0 until r).map(i => s"h${b * r + i}").mkString(" || ") + " AS k FROM sig")
      .mkString("\n  UNION ALL\n")
    s"""sig AS (SELECT doc_id,
       |$lanes
       |  FROM g GROUP BY 1),
       |bands AS (
       |$bands)""".stripMargin
  }

  /** Shared verification tail: exact Jaccard via the exploded gram
    * relation restricted to `cand` (mirror of [[jaccardVerified]]). */
  private def jaccardTailSql(carry: String): String =
    s"""sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nn FROM g GROUP BY 1),
       |inter AS (SELECT c.a, c.b$carry, CAST(count(*) AS BIGINT) AS c
       |  FROM cand c
       |  JOIN g ga ON ga.doc_id = c.a
       |  JOIN g gb ON gb.doc_id = c.b AND ga.gram = gb.gram
       |  GROUP BY ALL)""".stripMargin

  private val simhashSqlCtes: String = {
    val h = hexToLongSql("md5(w)", 1, 15)
    s"""$normCte,
       |w AS (SELECT doc_id, unnest(string_split(s, ' ')) AS w FROM n),
       |hh AS (SELECT doc_id, $h AS h FROM w),
       |bits AS (SELECT doc_id, j,
       |    sum(CASE WHEN (h // (CAST(1 AS BIGINT) << CAST(j AS INT))) % 2 = 1
       |             THEN 1 ELSE -1 END) AS c
       |  FROM hh, (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS j) js
       |  GROUP BY 1, 2),
       |sig AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN c > 0
       |         THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS sig
       |  FROM bits GROUP BY 1)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q20_dedup_exact" ->
      s"""WITH $normCte
         |SELECT md5(s) AS fp, CAST(min(doc_id) AS BIGINT) AS keep_id,
         |       CAST(count(*) AS BIGINT) AS dup_count
         |FROM n GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "q21_ngram_jaccard" ->
      s"""WITH $gramCtes,
         |${laneSigSql(2, 3, 5)},
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
         |         JOIN bands y ON x.j = y.j AND x.k = y.k AND x.doc_id < y.doc_id),
         |${jaccardTailSql("")}
         |SELECT i.a, i.b,
         |       round(CAST(i.c AS DOUBLE) / (sa.nn + sb.nn - i.c), 6) AS jaccard
         |FROM inter i
         |JOIN sz sa ON sa.doc_id = i.a
         |JOIN sz sb ON sb.doc_id = i.b
         |WHERE CAST(i.c AS DOUBLE) / (sa.nn + sb.nn - i.c) >= 0.5
         |ORDER BY a, b""".stripMargin,

    "q22_dedup_minhash" ->
      s"""WITH $gramCtes,
         |${laneSigSql(1, 2, 4)},
         |cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(count(*) AS BIGINT) AS n_shared_bands
         |  FROM bands x JOIN bands y
         |    ON x.j = y.j AND x.k = y.k AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |${jaccardTailSql(", c.n_shared_bands")}
         |SELECT i.a, i.b, i.n_shared_bands,
         |       round(CAST(i.c AS DOUBLE) / (sa.nn + sb.nn - i.c), 6) AS jaccard
         |FROM inter i
         |JOIN sz sa ON sa.doc_id = i.a
         |JOIN sz sb ON sb.doc_id = i.b
         |WHERE CAST(i.c AS DOUBLE) / (sa.nn + sb.nn - i.c) >= 0.5
         |ORDER BY a, b""".stripMargin,

    "q87_incremental_dedup" ->
      s"""WITH $gramCtes,
         |${laneSigSql(1, 2, 4)},
         |fp AS (SELECT doc_id, md5(s) AS fp FROM n),
         |exact AS (
         |  SELECT b.doc_id, min(c.doc_id) AS eb
         |  FROM fp b JOIN fp c ON b.fp = c.fp AND c.doc_id < $IncrementalCutoff
         |  WHERE b.doc_id >= $IncrementalCutoff GROUP BY 1),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.k = y.k
         |  WHERE x.doc_id >= $IncrementalCutoff
         |    AND y.doc_id < $IncrementalCutoff),
         |${jaccardTailSql("")},
         |near AS (
         |  SELECT i.a AS doc_id, min(i.b) AS nb
         |  FROM inter i
         |  JOIN sz sa ON sa.doc_id = i.a
         |  JOIN sz sb ON sb.doc_id = i.b
         |  WHERE CAST(i.c AS DOUBLE) / (sa.nn + sb.nn - i.c) >= 0.5
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |       CASE WHEN e.eb IS NOT NULL THEN 'exact_dup'
         |            WHEN nr.nb IS NOT NULL THEN 'near_dup'
         |            ELSE 'kept' END AS fate,
         |       CAST(COALESCE(e.eb, nr.nb, -1) AS BIGINT) AS match_id
         |FROM n d
         |LEFT JOIN exact e ON e.doc_id = d.doc_id
         |LEFT JOIN near nr ON nr.doc_id = d.doc_id
         |WHERE d.doc_id >= $IncrementalCutoff
         |ORDER BY d.doc_id""".stripMargin,

    "q23_dedup_simhash" ->
      s"""WITH $simhashSqlCtes,
         |bands AS (SELECT doc_id, sig, j2,
         |    (sig // (CAST(1 AS BIGINT) << CAST(15 * j2 AS INT))) % 32768 AS bv
         |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j2) js),
         |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |    x.sig AS sa, y.sig AS sb
         |  FROM bands x JOIN bands y
         |    ON x.j2 = y.j2 AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY a, b""".stripMargin,

    "q43_dedup_keep_best" -> {
      // quality formula mirrors q28's oracle; ORDER BY the 6dp-rounded
      // value so cross-engine tie-breaks are stable
      val en = langLexicon.toMap.apply("en").map(w => s"'$w'").mkString(", ")
      s"""WITH $normCte,
         |f AS (SELECT doc_id,
         |    CAST(len(string_split(s, ' ')) AS BIGINT) AS nw,
         |    CAST(length(s) - length(regexp_replace(s, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(s) AS pr,
         |    CAST(len(list_filter(string_split(s, ' '),
         |        w -> list_contains([$en], w))) AS BIGINT) AS m
         |  FROM n),
         |q AS (SELECT doc_id,
         |    round(0.3 * least(1.0, CAST(nw AS DOUBLE) / 100.0)
         |          + 0.3 * (1.0 - pr)
         |          + 0.4 * (CAST(m AS DOUBLE) / nw), 6) AS quality
         |  FROM f),
         |fp AS (SELECT doc_id, md5(s) AS fp FROM n),
         |jn AS (SELECT fp.fp, fp.doc_id, q.quality,
         |    row_number() OVER (PARTITION BY fp.fp
         |                       ORDER BY q.quality DESC, fp.doc_id ASC) AS rk,
         |    count(*) OVER (PARTITION BY fp.fp) AS dup_count
         |  FROM fp JOIN q USING (doc_id))
         |SELECT fp, doc_id AS keep_id, CAST(dup_count AS BIGINT) AS dup_count,
         |       quality AS best_quality
         |FROM jn WHERE rk = 1 ORDER BY keep_id""".stripMargin
    },

    "q44_neardup_clusters" ->
      s"""WITH RECURSIVE $gramCtes,
         |${laneSigSql(2, 3, 5)},
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
         |         JOIN bands y ON x.j = y.j AND x.k = y.k AND x.doc_id < y.doc_id),
         |${jaccardTailSql("")},
         |pairs AS (SELECT i.a, i.b
         |  FROM inter i
         |  JOIN sz sa ON sa.doc_id = i.a
         |  JOIN sz sb ON sb.doc_id = i.b
         |  WHERE CAST(i.c AS DOUBLE) / (sa.nn + sb.nn - i.c) >= 0.5),
         |und AS (SELECT a AS src, b AS dst FROM pairs
         |        UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT doc_id AS node, doc_id AS peer FROM n
         |  UNION
         |  SELECT r.node, u.dst FROM reach r JOIN und u ON u.src = r.peer
         |)
         |SELECT node AS doc_id, CAST(min(peer) AS BIGINT) AS cluster
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    "q98_leak_safe_split" ->
      s"""WITH RECURSIVE $gramCtes,
         |${laneSigSql(2, 3, 5)},
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
         |         JOIN bands y ON x.j = y.j AND x.k = y.k AND x.doc_id < y.doc_id),
         |${jaccardTailSql("")},
         |pairs AS (SELECT i.a, i.b
         |  FROM inter i
         |  JOIN sz sa ON sa.doc_id = i.a
         |  JOIN sz sb ON sb.doc_id = i.b
         |  WHERE CAST(i.c AS DOUBLE) / (sa.nn + sb.nn - i.c) >= 0.5),
         |und AS (SELECT a AS src, b AS dst FROM pairs
         |        UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT doc_id AS node, doc_id AS peer FROM n
         |  UNION
         |  SELECT r.node, u.dst FROM reach r JOIN und u ON u.src = r.peer
         |),
         |cl AS (SELECT node AS doc_id, CAST(min(peer) AS BIGINT) AS cluster
         |       FROM reach GROUP BY 1),
         |hx AS (SELECT doc_id, cluster,
         |              md5(CAST(cluster AS VARCHAR)) AS h FROM cl)
         |SELECT doc_id, cluster,
         |  CASE WHEN CAST(${hexToLongSql("h", 1, 8)} AS DOUBLE)
         |            / 4294967296.0 < $SplitEvalRate
         |       THEN 'eval' ELSE 'train' END AS split
         |FROM hx ORDER BY doc_id""".stripMargin,

    "q27_lang_id" -> {
      val langsValues = langLexicon.map { case (lang, sw) =>
        s"('$lang', [${sw.map(w => s"'$w'").mkString(", ")}])"
      }.mkString(",\n  ")
      s"""WITH $normCte,
         |langs(lang, sw) AS (VALUES
         |  $langsValues),
         |w AS (SELECT doc_id, unnest(string_split(s, ' ')) AS w FROM n),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw FROM w GROUP BY 1),
         |sc AS (SELECT w.doc_id, l.lang,
         |    CAST(sum(CASE WHEN list_contains(l.sw, w.w) THEN 1 ELSE 0 END) AS BIGINT) AS m
         |  FROM w, langs l GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, m,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY m DESC, lang ASC) AS rk
         |  FROM sc)
         |SELECT r.doc_id, r.lang AS lang_pred,
         |       round(CAST(r.m AS DOUBLE) / t.nw, 6) AS score
         |FROM r JOIN tot t ON t.doc_id = r.doc_id
         |WHERE rk = 1 ORDER BY 1""".stripMargin
    },

    "q28_quality_score" -> {
      val en = langLexicon.toMap.apply("en").map(w => s"'$w'").mkString(", ")
      s"""WITH $normCte,
         |f AS (SELECT doc_id,
         |    CAST(len(string_split(s, ' ')) AS BIGINT) AS nw,
         |    CAST(length(s) - length(regexp_replace(s, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(s) AS pr,
         |    CAST(len(list_filter(string_split(s, ' '),
         |        w -> list_contains([$en], w))) AS BIGINT) AS m
         |  FROM n)
         |SELECT doc_id, nw AS n_words,
         |       round(pr, 6) AS punct_ratio,
         |       round(CAST(m AS DOUBLE) / nw, 6) AS stop_ratio,
         |       round(0.3 * least(1.0, CAST(nw AS DOUBLE) / 100.0)
         |             + 0.3 * (1.0 - pr)
         |             + 0.4 * (CAST(m AS DOUBLE) / nw), 6) AS quality
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "q29_token_count" ->
      s"""WITH $normCte
         |SELECT doc_id,
         |       CAST(len(string_split(s, ' ')) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(s, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
         |       CAST(length(s) AS BIGINT) AS chars
         |FROM n ORDER BY doc_id""".stripMargin,

    "q30_fingerprint" -> {
      val pows = (0 to 7).map(k => math.pow(31, k).toLong).mkString(", ")
      s"""WITH $normCte,
         |pos AS (SELECT doc_id, s, unnest(generate_series(1, length(s))) AS i FROM n),
         |terms AS (SELECT doc_id,
         |    CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT)
         |      * ([$pows])[CAST((i - 1) % 8 AS INT) + 1] AS t
         |  FROM pos)
         |SELECT n.doc_id, md5(n.s) AS fp_md5,
         |       CAST(COALESCE(sum(t.t), 0) AS BIGINT) % 2147483647 AS rolling
         |FROM n LEFT JOIN terms t ON t.doc_id = n.doc_id
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin
    },

    "q31_multimodal_meta" ->
      s"""WITH h AS (SELECT doc_id, text, md5(text) AS h FROM documents)
         |SELECT doc_id,
         |       CAST(strlen(text) AS BIGINT) AS n_bytes,
         |       ${hexToLongSql("h", 1, 4)} % 512 + 1 AS width,
         |       ${hexToLongSql("h", 5, 4)} % 512 + 1 AS height,
         |       ${hexToLongSql("h", 9, 2)} % 16 + 1 AS n_frames
         |FROM h ORDER BY doc_id""".stripMargin,

    "q124_cdc_chunk_dedup" ->
      s"""WITH $normCte,
         |w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
         |t AS (SELECT doc_id, i, ws[i] AS word
         |      FROM w, unnest(generate_series(1, len(ws))) AS u(i)),
         |h AS (SELECT doc_id, i, word, md5(word) AS hx FROM t),
         |bd AS (SELECT doc_id, i, word,
         |         CASE WHEN ${hexToLongSql("hx", 1, 4)} % $CdcDivisor = 0
         |              THEN 1 ELSE 0 END AS b
         |       FROM h),
         |c AS (SELECT doc_id, i, word,
         |        COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS chunk
         |      FROM bd),
         |ck AS (SELECT doc_id, chunk,
         |         md5(string_agg(word, ' ' ORDER BY i)) AS chunk_hash,
         |         CAST(count(*) AS BIGINT) AS chunk_nw
         |       FROM c GROUP BY 1, 2),
         |f AS (SELECT chunk_hash, count(*) AS n_occ FROM ck GROUP BY 1)
         |SELECT ck.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  CAST(sum(ck.chunk_nw) AS BIGINT) AS n_words,
         |  CAST(sum(CASE WHEN f.n_occ >= 2 THEN ck.chunk_nw ELSE 0 END)
         |    AS BIGINT) AS dup_words
         |FROM ck JOIN f USING (chunk_hash)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
