package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.util.chaining._

/** Character-SPAN operators over the document corpus: exact duplicate
  * SPAN detection (the substring-level complement of the document-level
  * dedup family q20–q23 — Lee et al. 2022, "Deduplicating Training
  * Data Makes Language Models Better", arXiv:2107.06499), the two
  * scrub policies over it (remove-all q170, keep-first-copy q243),
  * stride-overlap context-window chunking (q169), and the winnowing
  * family (Schleimer, Wilkerson & Aiken 2003): fingerprint selection
  * (q239), the fingerprint-join near-dup pair relation with exact
  * verification (q241, plus the df-cap and auto-k scale entries), and
  * the end-to-end dedup deliverable — pairs → ccAuto clusters →
  * keep-best survivors (q244).
  *
  * The reference corpus semantics these extend: the miner's exact-match
  * idempotency (reference `src/InsertDataHelper.ts:1-116` inserts are
  * keyed upserts — whole-record identity); span dedup generalizes that
  * identity to WITHIN-record repeated content, which whole-document
  * hashing cannot see.
  */
object SpanOps {

  // ---------------------------------------------------------------- q164
  /** Exact duplicate-span detection, window-gram formulation: a
    * position is duplicated when the [[SpanGram]]-char window starting
    * there occurs ≥2 times corpus-wide (any doc, including elsewhere in
    * the same doc); per doc, duplicated positions merge into maximal
    * spans (gaps-and-islands). Every duplicated substring of length
    * ≥ [[SpanGram]] is the union of duplicated windows, so the merged
    * spans cover EXACTLY the characters inside some corpus-repeated
    * run of ≥ [[SpanGram]] chars — the suffix-array semantics of Lee
    * et al. 2022 §3 at resolution [[SpanGram]], with zero recall loss
    * at that length and no false positives.
    *
    * Scale shape: the gram relation is one row per char position
    * (linear in corpus bytes); duplicate detection is ONE hash
    * aggregation on the gram (map-side partial combine does the heavy
    * lifting — unique grams, the overwhelming majority, collapse to
    * count 1 locally); the count ≥ 2 filter prunes BEFORE the
    * join-back, so the position join touches only the duplicated
    * minority (~5 % of distinct grams here). The islands merge is a
    * per-doc window — work bounded by document length. No stage holds
    * more than a partition of grams; nothing is collected. The gram
    * key is the exact string, so a duplicated position is never a
    * hash collision and DuckDB shares the key.
    */
  val SpanGram = 40

  private[graft] def duplicateSpans(d: DataFrame, k: Int): DataFrame = {
    // single-loop gram expression (emits only the grams, not the doc
    // string per position) + a lineage cut so the corpus-scale gram
    // relation is computed ONCE for the dup agg and the join-back
    // spread: the gram explode AND its map-side combine run in the
    // scan's own stage — on a one-file local scan that is one task
    // doing the whole corpus's gram work
    val pos = graft.Checkpoints.cut(
      graft.Partitioning.spread(d.filter(length(col("s")) >= k))
        .select(col("doc_id"),
          explode(graft.functions.PositionedGrams(col("s"), k)).as("pg"))
        .select(col("doc_id"), col("pg.pos").as("pos"),
          col("pg.gram").as("gram")))
    val dup = pos.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select("gram")
    // duplicated positions only — the join-back is keyed on the gram
    // (vocabulary-sized shuffle) and the dup side is the pre-filtered
    // minority, so AQE may broadcast-convert it when small
    val dupPos = pos.join(dup, "gram").select("doc_id", "pos")
    mergeSpans(dupPos, k)
  }

  /** Gaps-and-islands merge of duplicated gram START positions into
    * maximal spans: positions whose k-windows touch or overlap fuse
    * into one (doc_id, span_start, span_end, span_len) row. Work is
    * one per-doc window — bounded by document length, shared by the
    * gram path (q164) and the suffix-array path (q242). */
  private[graft] def mergeSpans(dupPos: DataFrame, k: Int): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + k).over(
      byPos.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = dupPos
      .withColumn("new_island",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        byPos.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy("doc_id", "island")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  def q164SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    duplicateSpans(TextOps.docs(spark, dir), SpanGram)

  // ---------------------------------------------------------------- q170
  /** Span SCRUB — the deliverable Lee et al. 2022 actually ship: the
    * corpus with every duplicated span (q164's relation) cut out of
    * every document. Semantics: ALL copies of duplicated content are
    * removed (the conservative contract — decontamination-grade;
    * keep-one-copy is a policy layer on top, selecting a
    * representative doc per gram the way q43 picks dedup survivors).
    *
    * Scale shape: q164's span relation (linear, see [[duplicateSpans]]) plus ONE
    * per-doc window (lag over a doc's own spans → inter-span
    * segments), a doc-keyed join to slice the segments, and an
    * ordered per-doc reassembly (array_sort over the doc's few
    * segments — never a corpus-scale collect). Untouched documents
    * pass through via the anti-join side unchanged. */
  private[graft] def scrubSpans(d: DataFrame, k: Int): DataFrame =
    scrubFromSpans(d, duplicateSpans(d, k))

  /** Cut `spans` (doc_id, span_start, span_end, span_len) out of `d`
    * and reassemble — the slicing shared by the remove-all (q170) and
    * keep-first (q243) policies. */
  private[graft] def scrubFromSpans(d: DataFrame, spans0: DataFrame): DataFrame = {
    // cut: the span relation feeds THREE consumers (the pre-span
    // segments, the per-doc tail agg, and the untouched anti-join) —
    // live, the whole duplicate-span pipeline above it (gram agg +
    // join-back + islands window) re-executes once per consumer
    // (the q134 reuse pattern)
    val spans = graft.Checkpoints.cut(spans0)
    val byDoc = Window.partitionBy("doc_id").orderBy("span_start")
    // segment BEFORE each span: [prev_end, span_start)
    val pre = spans
      .withColumn("seg_start",
        lag(col("span_end"), 1, 1L).over(byDoc))
      .select(col("doc_id"), col("seg_start"),
        (col("span_start") - col("seg_start")).as("seg_len"))
    // tail segment per doc: [max(span_end), end-of-doc]
    val tail = spans.groupBy("doc_id")
      .agg(max(col("span_end")).as("seg_start"),
        count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("removed_chars"))
    val segs = pre.select(col("doc_id"), col("seg_start"), col("seg_len"))
      .unionByName(tail.select(col("doc_id"), col("seg_start"),
        lit(-1L).as("seg_len"))) // -1 = "to end of string"
    val cut = segs.join(d.select(col("doc_id"), col("s")), "doc_id")
      .select(col("doc_id"), col("seg_start"),
        when(col("seg_len") >= 0,
          expr("substring(s, cast(seg_start as int), cast(seg_len as int))"))
          .otherwise(expr("substring(s, cast(seg_start as int))"))
          .as("seg_text"))
    val rebuilt = cut.groupBy("doc_id")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(seg_start, seg_text))), x -> x.seg_text)"),
        "").as("scrubbed"))
      .join(tail.select("doc_id", "n_spans", "removed_chars"), "doc_id")
    val untouched = d.join(spans.select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("s").as("scrubbed"),
        lit(0L).as("n_spans"), lit(0L).as("removed_chars"))
    rebuilt.unionByName(untouched)
      .select(col("doc_id"), col("n_spans"), col("removed_chars"),
        length(col("scrubbed")).cast("long").as("kept_chars"),
        col("scrubbed"))
      .orderBy("doc_id")
  }

  def q170SpanScrub(spark: SparkSession, dir: String): DataFrame =
    scrubSpans(TextOps.docs(spark, dir), SpanGram)

  // ---------------------------------------------------------------- q243
  /** q243: span scrub, KEEP-FIRST-COPY policy — the variant Lee et
    * al. 2022 actually deploy for training data (their dedup keeps
    * one occurrence of each duplicated substring; q170's remove-ALL
    * is the decontamination-grade contract, and its scaladoc always
    * named keep-one as the policy layer on top — this is that layer).
    *
    * Canonicalization: a duplicated position survives iff it is the
    * (doc_id, pos)-minimal occurrence of its gram. A run copied
    * verbatim between documents has every one of its grams' minima in
    * the EARLIEST document, so whole runs survive exactly once (in
    * the first doc by id, at their first in-doc position) and are
    * scrubbed everywhere else — including later self-repeats inside
    * the same document.
    *
    * Scale shape: q164's gram relation + ONE more partial agg
    * (per-gram min(struct(doc_id, pos)) rides the same gram-keyed
    * shuffle as the dup count) and an equi-join filter; the slicing
    * and reassembly are q170's shared path. */
  def q243SpanScrubKeepFirst(spark: SparkSession, dir: String): DataFrame =
    scrubSpansKeepFirst(TextOps.docs(spark, dir), SpanGram)

  private[graft] def scrubSpansKeepFirst(d: DataFrame, k: Int): DataFrame = {
    val pos = graft.Checkpoints.cut(
      graft.Partitioning.spread(d.filter(length(col("s")) >= k))
        .select(col("doc_id"),
          explode(graft.functions.PositionedGrams(col("s"), k)).as("pg"))
        .select(col("doc_id"), col("pg.pos").as("pos"),
          col("pg.gram").as("gram")))
    // one gram-keyed agg carries both the dup decision and the
    // canonical (minimal) occurrence
    val stats = pos.groupBy("gram")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("cnt") >= 2)
      .select(col("gram"), col("first.doc_id").as("fd"),
        col("first.pos").as("fp"))
    val dupPos = pos.join(stats, "gram")
      .filter(col("doc_id") =!= col("fd") || col("pos") =!= col("fp"))
      .select("doc_id", "pos")
    scrubFromSpans(d, mergeSpans(dupPos, k))
  }

  // ---------------------------------------------------------------- q169
  /** Stride-overlap context-window chunking: each document's token
    * stream is cut into windows of [[ChunkWindow]] tokens advancing by
    * [[ChunkStep]] ([[ChunkWindow]]−[[ChunkStep]] tokens of overlap —
    * the HF `return_overflowing_tokens` shape). A window is emitted
    * when it is the first OR when it adds at least one token beyond
    * the previous window's coverage (start + window − step < n), so
    * short documents yield exactly one window and no fully-redundant
    * tail appears.
    *
    * Scale shape: pure per-row work — one `sequence` + `transform`
    * over each document's own token list, no shuffle at all until the
    * output sort. The output is ~n_tokens/step rows per document,
    * linear in corpus tokens. */
  val ChunkWindow = 32
  val ChunkStep = 24

  private[graft] def strideChunks(d: DataFrame, win: Int, step: Int): DataFrame =
    d.select(col("doc_id"), split(col("s"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n"))
      .select(col("doc_id"), col("n"),
        explode(expr(
          s"""transform(
             |  filter(sequence(0, cast(greatest(ceil(n / $step), 1) as int) * $step, $step),
             |         st -> st = 0 OR st + $win - $step < n),
             |  st -> struct(
             |    cast(st / $step as bigint) AS chunk_idx,
             |    cast(st as bigint) AS start_tok,
             |    cast(least($win, n - st) as bigint) AS n_chunk_tokens,
             |    array_join(slice(ws, cast(st + 1 as int), $win), ' ') AS chunk_text))
             |""".stripMargin)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.start_tok"),
        col("c.n_chunk_tokens"), col("c.chunk_text"))
      .orderBy("doc_id", "chunk_idx")

  def q169ChunkStride(spark: SparkSession, dir: String): DataFrame =
    strideChunks(TextOps.docs(spark, dir), ChunkWindow, ChunkStep)

  // ---------------------------------------------------------------- q239
  /** Winnowing gram width / window size (Schleimer, Wilkerson & Aiken
    * 2003 §4: guarantee = any match of length ≥ w+k−1 shares a
    * fingerprint; expected density 2/(w+1)). */
  val WinnowK = 5
  val WinnowW = 8

  /** q239: winnowing fingerprint selection (the MOSS local
    * fingerprinting) — the dedup-family member q30/q124 lack: q30
    * fingerprints whole documents (any edit breaks it), q124 chunks
    * at content-defined boundaries (good for storage dedup), while
    * winnowing GUARANTEES any shared run of ≥ [[WinnowW]]+[[WinnowK]]−1
    * chars contributes a shared fingerprint, at a bounded expected
    * density of 2/(w+1) — the property plagiarism/near-dup index
    * builders actually need.
    *
    * Implementation: per-position k-gram hash → one composite long
    * v = h₄₀·2²⁰ + (2²⁰−1−pos), so a single frame MIN over the
    * per-doc position window picks the minimum hash with RIGHTMOST
    * tie-breaking (the paper's basic winnowing rule; its "robust"
    * variant prefers the previous window's pick — stateful across
    * windows, which a frame aggregate cannot express and the
    * guarantee does not require) without any struct comparison —
    * fully codegen-friendly, and the SQL mirror is the identical
    * arithmetic. The window is PARTITIONED by doc
    * (never a global sort); selected picks dedupe per doc.
    * Positions are bounded by 2²⁰ per doc — at 100 TB, docs beyond
    * ~1M chars shard into [[q169ChunkStride]]-style segments first.
    *
    * Output per doc: gram/window counts, fingerprints selected, and
    * the realized density (≈ 2/(w+1), spec-pinned against a scalar
    * reference). */
  def q239Winnowing(spark: SparkSession, dir: String): DataFrame =
    winnowing(graft.text.TextOps.docs(spark, dir), WinnowK, WinnowW)

  /** Selected winnowing fingerprints: (doc_id, mv) distinct, mv the
    * composite (hash·2²⁰ + 2²⁰−1−pos) of each window's pick —
    * computed IN-ROW per document by
    * [[graft.functions.WinnowingPicks]]: the
    * selection is a pure per-doc function of the text, so the old
    * exploded form's corpus-wide gram exchange, per-doc sort and
    * O(w)-frame window were shuffle and sort for a row-local loop.
    * Same composite arithmetic, same full-window rule, same distinct
    * set — only the selected ~2/(w+1) density ever leaves the row. */
  private[graft] def winnowingPicks(d: DataFrame, k: Int, w: Int): DataFrame =
    graft.Partitioning.spread(d.filter(length(col("s")) >= k + w - 1))
      .select(col("doc_id"),
        explode(graft.functions.WinnowingPicks(col("s"), k, w)).as("mv"))

  private[graft] def winnowing(d: DataFrame, k: Int, w: Int): DataFrame = {
    // the per-doc gram COUNT is pure
    // arithmetic — PositionedGrams emits one gram per position
    // 1..len−k+1, so n_grams = length(s) − k + 1 — which removes the
    // second full gram+md5 scan the previous gcnt pass paid (the
    // oracle's gg CTE counts the same generate_series rows). Output
    // identical.
    val picks = winnowingPicks(d, k, w)
    val per = picks.groupBy("doc_id").agg(count(lit(1)).as("n_fingerprints"))
    val gcnt = d.filter(length(col("s")) >= k + w - 1)
      .select(col("doc_id"),
        (length(col("s")) - (k - 1)).cast("long").as("n_grams"))
    gcnt.join(per, "doc_id")
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - (w - 1)).as("n_windows"),
        col("n_fingerprints"),
        round(col("n_fingerprints") /
          (col("n_grams") - (w - 1)).cast("double"), 6).as("density"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q241
  /** q241's gram width / window: wider than q239's profiling defaults
    * so the guarantee run length (w+k−1 = 39) sits at the corpus's
    * planted-duplicate scale — fingerprints are then SELECTIVE (a
    * shared fingerprint means a shared ~39-char run, not a shared
    * common word) and the candidate set stays far from all-pairs. */
  val PairK = 24
  val PairW = 16

  /** Witness-run extension cap (chars) — bounds the per-pair string
    * compare and its SQL mirror, [[SuffixArray.SaMaxLen]] style. */
  val WitnessCap = 256

  /** q241: winnowing fingerprint-JOIN near-dup pairs — the deliverable
    * L78's selection exists to feed (Schleimer et al. 2003 §1: MOSS
    * registers fingerprints in an index and reports documents sharing
    * them). Candidate pairs = documents sharing ≥ 1 selected
    * fingerprint hash; each pair is then VERIFIED on real content:
    * exact k-gram Jaccard between the two docs plus a witness-run
    * extension (LCP of the texts from the matched fingerprint
    * positions, capped at [[WitnessCap]]).
    *
    * Recall contract (the reason this family member beats the banded
    * families' empirical recall): the winnowing guarantee — any
    * shared run of ≥ w+k−1 chars contributes a shared fingerprint —
    * makes the candidate step PROVABLY lossless for runs at that
    * length; spec-pinned with planted runs.
    *
    * Scale shape: the pair join is an LSH-style bucket join keyed on
    * the 40-bit fingerprint hash (selected density ≈ 2/(w+1) of
    * grams, so the joined relation is a fraction of corpus bytes);
    * verification work is candidates × per-doc grams — NEVER an
    * all-pairs product, and strings are touched only per candidate
    * pair (witness extension) at bounded width. A 40-bit collision
    * can only ADD a candidate: if the colliding pair shares any real
    * k-gram it surfaces with its near-zero Jaccard; a collision-only
    * pair with ZERO shared grams is dropped by the inner intersection
    * join (the DuckDB oracle's inner join does the same, so both
    * engines agree). */
  def q241WinnowingPairs(spark: SparkSession, dir: String): DataFrame =
    fingerprintPairs(TextOps.docs(spark, dir))

  /** q241's pairs over any (doc_id, s) corpus at gram width [[PairK]]
    * and window [[PairW]]. */
  private[graft] def fingerprintPairs(d0: DataFrame): DataFrame = {
    val (k, w) = (PairK, PairW)
    // cutOnce: q244 hands in an already-cut corpus — cutting again
    // would materialize and store the identical relation twice
    val d = d0.pipe(graft.Checkpoints.cutOnce)
    // (doc, hash, witness pos): min position per selected hash — the
    // selection itself is one in-row loop per doc ([[winnowingPicks]]),
    // so the only corpus-wide shuffle left here is the per-doc pick
    // set (~2/(w+1) of gram volume) into this agg
    val fps = winnowingPicks(d, k, w)
      .select(col("doc_id"), expr("mv div 1048576").as("h"),
        (lit(1048575L) - expr("mv % 1048576")).as("pos"))
      .groupBy("doc_id", "h").agg(min(col("pos")).as("pos"))
      .pipe(graft.Checkpoints.cut)
    // bucket join on the hash; each pair aggregates its shared count
    // and the deterministic witness (smallest shared hash)
    val pairs = fps.select(col("h"), col("doc_id").as("doc_a"),
        col("pos").as("pa"))
      .join(fps.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_fps"),
        min(struct(col("h"), col("pa"), col("pb"))).as("w0"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_fps"),
        col("w0.pa").as("witness_pos_a"), col("w0.pb").as("witness_pos_b"))
      .pipe(graft.Checkpoints.cut)
    // verification 1: exact k-gram Jaccard — IN-ROW (the q99
    // discipline): each candidate pair joins the
    // per-doc distinct-gram ARRAY twice and intersects in-row, so the
    // verify ships |pairs| + |docs| rows instead of exploding every
    // pair into |grams(doc_a)| rows for a (doc, gram)-keyed
    // intersection join + re-agg. Pairs sharing NO real gram (40-bit
    // fingerprint collisions) still drop — the inner intersection
    // join's semantics, now an explicit inter ≥ 1 filter (the DuckDB
    // mirror's inner join does the same).
    //
    // The array is a row-local function of the text —
    // [[graft.functions.DistinctGrams]] builds it in ONE loop per doc,
    // with no corpus-wide gram explode or exchange. Only docs that
    // appear in a candidate pair need one (the
    // TextOps.jaccardVerified semi-join-prune discipline). Array
    // ORDER is unspecified — the only consumers are
    // array_intersect/size (set semantics).
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val ga = graft.Partitioning.spread(d)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .filter(length(col("s")) >= k + w - 1)
      .select(col("doc_id"),
        graft.functions.DistinctGrams(col("s"), k).as("gs"), col("s"))
      .pipe(graft.Checkpoints.cut)
    // The gram-array chain and the witness-text chain are SEPARATE
    // joins re-united on the narrow (doc_a, doc_b) key (measured
    // 2.9 → 1.2 s): carried together, every row of the second join
    // holds a ~70 KB gram array AND the doc text, and the join's
    // sort/serialization of those wide rows dominated the verify.
    val core = pairs
      .join(ga.select(col("doc_id").as("doc_a"), col("gs").as("gs_a"),
        size(col("gs")).cast("long").as("sz_a")), Seq("doc_a"))
      .join(ga.select(col("doc_id").as("doc_b"), col("gs").as("gs_b"),
        size(col("gs")).cast("long").as("sz_b")), Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .filter(col("inter") >= 1)
      .select(col("doc_a"), col("doc_b"), col("n_shared_fps"),
        round(col("inter") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6)
          .as("jaccard"),
        col("witness_pos_a"), col("witness_pos_b"))
    // verification 2: witness-run extension from the matched positions
    val wit = pairs
      .join(ga.select(col("doc_id").as("doc_a"), col("s").as("s_a")),
        Seq("doc_a"))
      .join(ga.select(col("doc_id").as("doc_b"), col("s").as("s_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        SuffixArray.lcpCol(
          expr(s"substring(s_a, cast(witness_pos_a as int), $WitnessCap)"),
          expr(s"substring(s_b, cast(witness_pos_b as int), $WitnessCap)"))
          .as("witness_lcp"))
    core.join(wit, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_fps"),
        col("jaccard"), col("witness_pos_a"), col("witness_pos_b"),
        col("witness_lcp"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- q244
  /** Jaccard threshold for q244's verified dedup edges (q44's θ). */
  val DedupTheta = 0.5

  /** q244: the COMPLETE winnowing dedup deliverable — candidates
    * (fingerprint join, provable recall for runs ≥ w+k−1), verify
    * (exact k-gram Jaccard ≥ [[DedupTheta]]), cluster (connected
    * components over the verified pair graph via the STRUCTURE-ROUTED
    * [[graft.graph.StarContraction.ccAuto]] — near-dup chains are
    * exactly the high-diameter hazard the router exists for, and this
    * query gives the router oracle coverage), and survivor selection
    * (keep-best: longest member, ties to the smallest id — q43's
    * keep-best convention applied at the cluster level).
    *
    * Scale shape: everything up to the pair relation is q241's
    * (bucket join, candidates × doc-gram verify); the CC loop runs
    * ONLY over paired docs (the corpus-sized singleton majority is
    * labeled by one left join afterward, q44's discipline); survivor
    * selection is one cluster-keyed partial agg. */
  def q244WinnowingDedup(spark: SparkSession, dir: String): DataFrame =
    winnowingDedup(TextOps.docs(spark, dir))

  /** q244's pipeline over any (doc_id, s) corpus. */
  private[graft] def winnowingDedup(d0: DataFrame): DataFrame = {
    val d = d0.pipe(graft.Checkpoints.cut)
    val pairs = fingerprintPairs(d)
      .filter(col("jaccard") >= DedupTheta)
      .select(col("doc_a"), col("doc_b"))
      .pipe(graft.Checkpoints.cut)
    val paired = pairs.select(col("doc_a").as("node"))
      .union(pairs.select(col("doc_b").as("node"))).distinct()
    val comp = graft.graph.StarContraction.ccAuto(paired,
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    val members = comp
      .select(col("node").as("doc_id"), col("component").as("cluster"))
      .join(d.select(col("doc_id"),
        length(col("s")).cast("long").as("n_chars")), "doc_id")
      .pipe(graft.Checkpoints.cut)
    val keep = members.groupBy("cluster")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"),
        col("doc_id"))).as("s0"))
      .select(col("cluster"), col("s0.doc_id").as("keep_id"))
    d.select(col("doc_id"))
      .join(members.select("doc_id", "cluster"), Seq("doc_id"), "left")
      .join(keep, Seq("cluster"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        coalesce(col("keep_id"), col("doc_id")).as("keep_id"),
        (coalesce(col("keep_id"), col("doc_id")) === col("doc_id"))
          .as("is_survivor"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q164_substring_dedup" -> (q164SubstringDedup _),
    "q169_chunk_stride" -> (q169ChunkStride _),
    "q170_span_scrub" -> (q170SpanScrub _),
    "q239_winnowing" -> (q239Winnowing _),
    "q241_winnowing_pairs" -> (q241WinnowingPairs _),
    "q243_span_scrub_keep_first" -> (q243SpanScrubKeepFirst _),
    "q244_winnowing_dedup" -> (q244WinnowingDedup _),
  )

  /** q164's span relation as reusable CTEs (through `sp`),
    * parameterized over the source CTE (must expose doc_id, s) and
    * the gram width — the q242 oracle reuses it over the bounded
    * suffix-array universe. */
  private[graft] def spanCtesOver(src: String, k: Int,
      keepFirst: Boolean = false): String =
    s"""pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |         substr(s, CAST(i AS INT), $k) AS gram
       |  FROM $src, unnest(generate_series(1, length(s) - $k + 1)) AS t(i)
       |  WHERE length(s) >= $k),
       |${
      if (keepFirst)
        """rk AS (
       |  SELECT doc_id, pos,
       |         count(*) OVER (PARTITION BY gram) AS cnt,
       |         row_number() OVER (PARTITION BY gram
       |                            ORDER BY doc_id, pos) AS rn
       |  FROM pos),
       |dp AS (SELECT doc_id, pos FROM rk WHERE cnt >= 2 AND rn >= 2),"""
      else
        """dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
       |dp AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (gram)),"""
    }
       |f AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN max(pos + $k) OVER (
       |                PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |              IS NULL
       |           OR pos > max(pos + $k) OVER (
       |                PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |         THEN 1 ELSE 0 END AS new_island
       |  FROM dp),
       |isl AS (
       |  SELECT doc_id, pos,
       |         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM f),
       |sp AS (
       |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |         CAST(max(pos) + $k AS BIGINT) AS span_end,
       |         CAST(max(pos) + $k - min(pos) AS BIGINT) AS span_len
       |  FROM isl GROUP BY doc_id, island)""".stripMargin

  private def spanCtes =
    s"""${TextOps.normCte},
       |${spanCtesOver("n", SpanGram)}""".stripMargin

  /** The scrub statement (q170's slicing/reassembly) over any span
    * CTE chain exposing `n` and `sp`. */
  private def scrubSql(ctes: String): String =
    s"""WITH $ctes,
         |pre AS (
         |  SELECT doc_id,
         |         lag(span_end, 1, 1) OVER w AS seg_start,
         |         span_start - lag(span_end, 1, 1) OVER w AS seg_len
         |  FROM sp
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY span_start)),
         |tl AS (
         |  SELECT doc_id, max(span_end) AS seg_start,
         |         CAST(count(*) AS BIGINT) AS n_spans,
         |         CAST(sum(span_len) AS BIGINT) AS removed_chars
         |  FROM sp GROUP BY doc_id),
         |segs AS (
         |  SELECT doc_id, seg_start, seg_len FROM pre
         |  UNION ALL
         |  SELECT doc_id, seg_start, CAST(-1 AS BIGINT) FROM tl),
         |cut AS (
         |  SELECT g.doc_id, g.seg_start,
         |         CASE WHEN g.seg_len >= 0
         |           THEN substr(n.s, CAST(g.seg_start AS INT),
         |                       CAST(g.seg_len AS INT))
         |           ELSE substr(n.s, CAST(g.seg_start AS INT))
         |         END AS seg_text
         |  FROM segs g JOIN n USING (doc_id)),
         |rb AS (
         |  SELECT doc_id,
         |         coalesce(string_agg(seg_text, '' ORDER BY seg_start), '')
         |           AS scrubbed
         |  FROM cut GROUP BY doc_id),
         |touched AS (
         |  SELECT rb.doc_id, t.n_spans, t.removed_chars, rb.scrubbed
         |  FROM rb JOIN tl t USING (doc_id)),
         |untouched AS (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS n_spans,
         |         CAST(0 AS BIGINT) AS removed_chars, s AS scrubbed
         |  FROM n WHERE doc_id NOT IN (SELECT doc_id FROM sp))
         |SELECT doc_id, n_spans, removed_chars,
         |       CAST(length(scrubbed) AS BIGINT) AS kept_chars, scrubbed
         |FROM (SELECT * FROM touched UNION ALL SELECT * FROM untouched)
         |ORDER BY doc_id""".stripMargin

  /** Winnowing selection CTEs (through `sel` = (doc_id, mv)) at gram
    * width k / window w — the q239 arithmetic, parameterized for the
    * q241 mirror. */
  private def winnowSelCtes(k: Int, w: Int): String =
    s"""${TextOps.normCte},
       |-- NOTE (guard asymmetry): the Spark side
       |-- raise_errors on docs with > 2^20 grams (composite order
       |-- would corrupt); this mirror has no such guard and would
       |-- silently compute a corrupt order on such a corpus. The
       |-- shipped corpora stay far under the bound; on an over-bound
       |-- corpus Verify fails LOUDLY on the Spark side first, so the
       |-- divergence can never pass the gate unnoticed.
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |             substr(s, CAST(i AS INT), $k) AS gram
       |      FROM (SELECT doc_id, s,
       |              unnest(generate_series(1, length(s) - ${k - 1}))
       |                AS i
       |            FROM n WHERE length(s) >= ${k + w - 1})),
       |v AS (SELECT doc_id, pos,
       |             ${TextOps.hexToLongSql("md5(gram)", 1, 10)}
       |               * 1048576 + (1048575 - pos) AS v
       |      FROM g),
       |m AS (SELECT doc_id, pos,
       |             min(v) OVER (PARTITION BY doc_id ORDER BY pos
       |               RANGE BETWEEN ${w - 1} PRECEDING
       |                 AND CURRENT ROW) AS mv
       |      FROM v),
       |sel AS (SELECT DISTINCT doc_id, mv FROM m WHERE pos >= $w)""".stripMargin

  /** Pair-core CTEs for the q241/q244 mirrors: winnowing selection →
    * fingerprint table `fp` → candidate pairs `pr` → gram sets `gd`,
    * sizes `sz`, intersections `ja`. */
  private def winnowPairCtes(k: Int, w: Int): String =
    s"""${winnowSelCtes(k, w)},
       |fp AS (SELECT doc_id, mv // 1048576 AS h,
       |              CAST(min(1048575 - mv % 1048576) AS BIGINT) AS pos
       |       FROM sel GROUP BY 1, 2),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              CAST(count(*) AS BIGINT) AS n_shared_fps,
       |              arg_min(a.pos, a.h) AS witness_pos_a,
       |              arg_min(b.pos, a.h) AS witness_pos_b
       |       FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |gd AS (SELECT DISTINCT doc_id, gram FROM g),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
       |       FROM gd GROUP BY 1),
       |ja AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS inter
       |       FROM pr p
       |       JOIN gd x ON x.doc_id = p.doc_a
       |       JOIN gd y ON y.doc_id = p.doc_b AND y.gram = x.gram
       |       GROUP BY 1, 2)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q241_winnowing_pairs" ->
      s"""WITH ${winnowPairCtes(PairK, PairW)},
         |wl AS (SELECT p.doc_a, p.doc_b,
         |              substr(na.s, CAST(p.witness_pos_a AS INT),
         |                     $WitnessCap) AS sa2,
         |              substr(nb.s, CAST(p.witness_pos_b AS INT),
         |                     $WitnessCap) AS sb2
         |       FROM pr p JOIN n na ON na.doc_id = p.doc_a
         |                 JOIN n nb ON nb.doc_id = p.doc_b),
         |lj AS (SELECT doc_a, doc_b, sa2, sb2,
         |              unnest(generate_series(
         |                1, LEAST(length(sa2), length(sb2)))) AS j
         |       FROM wl),
         |-- prefix equality is monotone in j, so max matching j = LCP
         |lc AS (SELECT doc_a, doc_b,
         |              CAST(max(CASE WHEN substr(sa2, 1, CAST(j AS INT)) =
         |                                substr(sb2, 1, CAST(j AS INT))
         |                           THEN j ELSE 0 END) AS BIGINT)
         |                AS witness_lcp
         |       FROM lj GROUP BY 1, 2)
         |SELECT p.doc_a, p.doc_b, p.n_shared_fps,
         |       round(ja.inter /
         |             CAST(sa.sz + sb.sz - ja.inter AS DOUBLE), 6)
         |         AS jaccard,
         |       p.witness_pos_a, p.witness_pos_b, lc.witness_lcp
         |FROM pr p
         |JOIN ja ON ja.doc_a = p.doc_a AND ja.doc_b = p.doc_b
         |JOIN sz sa ON sa.doc_id = p.doc_a
         |JOIN sz sb ON sb.doc_id = p.doc_b
         |JOIN lc ON lc.doc_a = p.doc_a AND lc.doc_b = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin,

    "q244_winnowing_dedup" ->
      s"""WITH RECURSIVE ${winnowPairCtes(PairK, PairW)},
         |vp AS (SELECT p.doc_a AS u, p.doc_b AS v
         |       FROM pr p
         |       JOIN ja ON ja.doc_a = p.doc_a AND ja.doc_b = p.doc_b
         |       JOIN sz sa ON sa.doc_id = p.doc_a
         |       JOIN sz sb ON sb.doc_id = p.doc_b
         |       WHERE round(ja.inter /
         |             CAST(sa.sz + sb.sz - ja.inter AS DOUBLE), 6)
         |         >= $DedupTheta),
         |und AS (SELECT u, v FROM vp UNION SELECT v, u FROM vp),
         |pn AS (SELECT DISTINCT u AS node FROM und),
         |reach AS (
         |  SELECT node, node AS peer FROM pn
         |  UNION
         |  SELECT r.node, e.v FROM reach r JOIN und e ON e.u = r.peer),
         |cc AS (SELECT node AS doc_id, CAST(min(peer) AS BIGINT) AS cluster
         |       FROM reach GROUP BY node),
         |mem AS (SELECT cc.doc_id, cc.cluster,
         |               length(n.s) AS n_chars
         |        FROM cc JOIN n ON n.doc_id = cc.doc_id),
         |keep AS (SELECT cluster, doc_id AS keep_id FROM (
         |           SELECT cluster, doc_id,
         |                  row_number() OVER (PARTITION BY cluster
         |                    ORDER BY n_chars DESC, doc_id ASC) AS rn
         |           FROM mem) WHERE rn = 1)
         |SELECT n.doc_id,
         |       CAST(coalesce(m.cluster, n.doc_id) AS BIGINT) AS cluster,
         |       CAST(coalesce(k.keep_id, n.doc_id) AS BIGINT) AS keep_id,
         |       coalesce(k.keep_id, n.doc_id) = n.doc_id AS is_survivor
         |FROM n
         |LEFT JOIN mem m ON m.doc_id = n.doc_id
         |LEFT JOIN keep k ON k.cluster = m.cluster
         |ORDER BY n.doc_id""".stripMargin,

    "q239_winnowing" ->
      s"""WITH ${TextOps.normCte},
         |-- guard asymmetry: no 2^20 position guard here;
         |-- Spark raise_errors first on an over-bound corpus, so the
         |-- one-sided gap cannot pass the gate silently
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |             substr(s, CAST(i AS INT), $WinnowK) AS gram
         |      FROM (SELECT doc_id, s,
         |              unnest(generate_series(1, length(s) - ${WinnowK - 1}))
         |                AS i
         |            FROM n WHERE length(s) >= ${WinnowK + WinnowW - 1})),
         |v AS (SELECT doc_id, pos,
         |             ${TextOps.hexToLongSql("md5(gram)", 1, 10)}
         |               * 1048576 + (1048575 - pos) AS v
         |      FROM g),
         |m AS (SELECT doc_id, pos,
         |             min(v) OVER (PARTITION BY doc_id ORDER BY pos
         |               RANGE BETWEEN ${WinnowW - 1} PRECEDING
         |                 AND CURRENT ROW) AS mv
         |      FROM v),
         |sel AS (SELECT DISTINCT doc_id, mv FROM m WHERE pos >= $WinnowW),
         |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints
         |        FROM sel GROUP BY 1),
         |gg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |       FROM g GROUP BY 1)
         |SELECT gg.doc_id, gg.n_grams,
         |       gg.n_grams - ${WinnowW - 1} AS n_windows,
         |       per.n_fingerprints,
         |       round(per.n_fingerprints /
         |             CAST(gg.n_grams - ${WinnowW - 1} AS DOUBLE), 6)
         |         AS density
         |FROM gg JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q164_substring_dedup" ->
      s"""WITH $spanCtes
         |SELECT doc_id, span_start, span_end, span_len
         |FROM sp ORDER BY doc_id, span_start""".stripMargin,

    "q243_span_scrub_keep_first" -> scrubSql(
      s"""${TextOps.normCte},
         |${spanCtesOver("n", SpanGram, keepFirst = true)}""".stripMargin),

    "q170_span_scrub" -> scrubSql(spanCtes),

    "q169_chunk_stride" ->
      s"""WITH ${TextOps.normCte},
         |d AS (SELECT doc_id, string_split(s, ' ') AS ws,
         |             len(string_split(s, ' ')) AS n
         |      FROM n),
         |st AS (
         |  SELECT doc_id, ws, n, CAST(t.s AS BIGINT) AS start_tok
         |  FROM d, unnest(generate_series(0,
         |         CAST(greatest(ceil(n / $ChunkStep), 1) AS BIGINT) * $ChunkStep,
         |         $ChunkStep)) AS t(s)
         |  WHERE t.s = 0 OR t.s + $ChunkWindow - $ChunkStep < n)
         |SELECT doc_id,
         |       CAST(start_tok / $ChunkStep AS BIGINT) AS chunk_idx,
         |       start_tok,
         |       CAST(least($ChunkWindow, n - start_tok) AS BIGINT)
         |         AS n_chunk_tokens,
         |       array_to_string(
         |         ws[CAST(start_tok + 1 AS INT) :
         |            CAST(start_tok + least($ChunkWindow, n - start_tok) AS INT)],
         |         ' ') AS chunk_text
         |FROM st
         |ORDER BY doc_id, chunk_idx""".stripMargin,
  )
}
