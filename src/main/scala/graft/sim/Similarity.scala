package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions.dot
import graft.functions.Md5Prefix

/** Embedding similarity search over the `embeddings` table
  * (`array<float>` column): brute-force cosine top-k as the exactness
  * baseline, multi-table random-hyperplane LSH as the 100 TB scale
  * path, and band-blocked cosine near-dup pairs.
  *
  * Scale design:
  *  - the query set is always the broadcast side of the scoring join
  *    (top-k never shuffles the corpus);
  *  - LSH candidate generation is *banded* like minhash: L bands of r
  *    hyperplane sign bits each, a pair is a candidate if it matches
  *    in ANY band, then exact cosine rerank. Recall for a pair with
  *    per-plane agreement p = 1-θ/π is 1-(1-p^r)^L — tunable to the
  *    similarity regime, while per-band bucket count 2^r and the band
  *    count L bound the join fan-out. Defaults (r=3) are recall-first
  *    for this corpus's near-random tail (cos≈0.4 ⇒ p≈0.63,
  *    recall≥0.94); a 100 TB dedup corpus (true dups at cos≥0.9 ⇒
  *    p≥0.86) should run r=8..12, L=6..10 so each band has 256-4096
  *    buckets and background collisions decay as 2^-r — see the
  *    planted-dup scale spec in SimilaritySpec;
  *  - hyperplane weights are a deterministic md5-derived constant
  *    folded into the plan (no side-channel state, identical in the
  *    DuckDB oracle). Dot products run on `array<double>` through
  *    codegen'd zip_with/aggregate — double accumulation in ascending
  *    dim order in both engines.
  */
object Similarity {

  val Dims = 64

  /** cosine(a, b) for two array<double> columns — built on the custom
    * codegen [[graft.functions.DotProduct]] expression (ascending-dim
    * accumulation, identical to the DuckDB oracle's ordered sum). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  // ---------------------------------------------------------------- q24
  /** Brute-force cosine top-k: query vectors (vec_id < 5) broadcast
    * against the corpus; exact cosine, top 10 per query via the keyed
    * top-k AGGREGATE — the corpus streams once and only k (sim, cand)
    * pairs per query per partition shuffle, where the window form
    * shuffles and sorts every scored row. Ranking is on the raw
    * doubles (identical in both engines: same dot-product
    * accumulation order), rounding applies after selection, as in
    * the oracle. */
  // ---------------------------------------------------------------- q191
  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    * 2009) — the standard way production search combines a lexical
    * ranker with a vector ranker without score calibration: each
    * side contributes 1/(k + rank) for the documents on ITS top list
    * (k = 60, the published constant), and the fused order depends
    * only on RANKS — immune to the incomparable score scales that
    * make linear score mixing fragile. Lexical side: q114's BM25 over
    * the fixed query terms; vector side: cosine against a fixed query
    * embedding. Both side lists are top-[[RrfSideK]].
    *
    * Scale shape: the lexical side is q114's plan (term-pruned scan,
    * bounded idf broadcast); the vector side is ONE corpus stream
    * against a broadcast single-row query with a [[graft.functions
    * .TopKAgg]] partial top-k (k rows per partition shuffle — at
    * 100 TB the exact scan swaps for the q41/q49 IVF candidate
    * stream, same fusion). Rank windows run on the two BOUNDED side
    * lists (≤ [[RrfSideK]] rows), never the corpus. Ranks are
    * integers with total-order tie-breaks; sims round 6dp BEFORE
    * ranking so a last-ulp float divergence cannot flip a rank. */
  val RrfK = 60
  val RrfSideK = 50
  val RrfTopN = 20
  val RrfQueryVec = 0L

  def q191RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val lexAll = graft.text.TermOps.bm25(
      graft.text.TextOps.docs(spark, dir), graft.text.TermOps.Bm25Terms,
      RrfSideK)
    // bounded relation (≤ SideK rows) — but ranked via the distributed
    // ordinal anyway: even a k-row global window emits WindowExec's
    // single-partition warning into every sweep log, and Ordinals
    // costs nothing at this size (ranks identical: total order)
    val lex = graft.Ordinals.denseBy(lexAll.select(col("doc_id"), col("score")),
        Seq(col("score").desc, col("doc_id").asc), "rank_lex")
      .drop("score")
    val v = vecs(spark, dir)
    val q = v.filter(col("vec_id") === RrfQueryVec).select(col("e").as("qe"))
    val scored = v.filter(col("vec_id") =!= RrfQueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("qe"), col("e")), 6).as("sim"))
    val vecTop = scored
      .agg(graft.functions.TopKAgg.topkKeyed(col("sim"), col("vec_id"),
        RrfSideK).as("tops"))
      .select(posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rank_vec"))
    lex.join(vecTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("rank_vec")), lit(0.0)),
          6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
      .limit(RrfTopN)
  }

  def q24SimTopk(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_vec"), col("e").as("qe"))
    val scored = v.join(broadcast(q), col("vec_id") =!= col("q_vec"))
      .select(col("q_vec"), col("vec_id").as("cand"),
        cosine(col("qe"), col("e")).as("sim"))
    scored.groupBy("q_vec")
      .agg(graft.functions.TopKAgg.topkKeyed(col("sim"), col("cand"), 10)
        .as("tops"))
      .select(col("q_vec"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("q_vec"), col("t.id").as("cand"),
        round(col("t.v"), 6).as("sim"),
        (col("pos") + 1).cast("long").as("rank"))
      .orderBy("q_vec", "rank")
  }

  // ------------------------------------------------------- LSH weights
  /** Deterministic random-hyperplane weights: w(h,d) derived from
    * md5("h_d") — reproducible in ANSI SQL, no RNG state to ship. */
  def hyperplane(h: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${h}_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 4)
    (java.lang.Long.parseLong(hex, 16) / 65535.0) * 2.0 - 1.0
  }

  /** Sign-bucket id over hyperplanes [from, until): bit (h-from) set
    * when w_h·e ≥ 0. */
  def bucketRange(e: Column, from: Int, until: Int): Column = {
    val planeBits = (from until until).map { h =>
      val wh = typedLit((0 until Dims).map(d => hyperplane(h, d)))
      when(dot(wh, e) >= 0.0, lit(1L << (h - from))).otherwise(lit(0L))
    }
    planeBits.reduce(_ + _)
  }

  /** (…vec cols…, j, bkt): L bands of r sign bits each — band j uses
    * planes [j·r, (j+1)·r). The banded relation is the only pair/probe
    * generator; its join key (j, bkt) shuffles just (id, band) rows. */
  private[graft] def bandedBuckets(v: DataFrame, r: Int, bands: Int): DataFrame = {
    val entries = (0 until bands).map { j =>
      struct(lit(j).as("j"), bucketRange(col("e"), j * r, (j + 1) * r).as("bkt"))
    }
    v.withColumn("jb", explode(array(entries: _*)))
      .select(col("*"), col("jb.j").as("j"), col("jb.bkt").as("bkt"))
      .drop("jb")
  }

  // ---------------------------------------------------------------- q25
  /** Multi-table LSH ANN: 12 hash tables × 3 hyperplanes (36 planes);
    * candidates = union over tables of bucket matches with the query,
    * then exact cosine rerank, top-5 per query. Measured recall@5 vs
    * brute force at sf0.001: 0.93 (spec-asserted ≥ 0.9). */
  val AnnRows = 3
  val AnnTables = 12

  def q25SimAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val banded = bandedBuckets(v, AnnRows, AnnTables)
    val q = bandedBuckets(v.filter(col("vec_id") < 5), AnnRows, AnnTables)
      .select(col("vec_id").as("q_vec"), col("e").as("qe"),
        col("j").as("qj"), col("bkt").as("qbkt"))
    // cosine is computed per band hit BEFORE the pair dedup so only
    // scalar (q_vec, cand, sim) rows cross the dedup shuffle — the
    // duplicate-band recompute is bounded by the table count
    val scored = banded.join(broadcast(q),
        col("j") === col("qj") && col("bkt") === col("qbkt") &&
          col("vec_id") =!= col("q_vec"))
      .select(col("q_vec"), col("vec_id").as("cand"),
        cosine(col("qe"), col("e")).as("sim"))
      .dropDuplicates("q_vec", "cand")
    val w = Window.partitionBy("q_vec").orderBy(col("sim").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_vec"), col("cand"), round(col("sim"), 6).as("sim"), col("rank"))
      .orderBy("q_vec", "rank")
  }

  // ---------------------------------------------------------------- q26
  /** Embedding near-dup pairs: banded sign-signature blocking (10
    * bands × 3 planes), exact cosine ≥ 0.4 on candidates. Measured
    * recall vs brute force at sf0.001: 0.95 (spec-asserted ≥ 0.9).
    * The band join is the only pair generator — never O(n²) over the
    * corpus; r scales the per-band bucket count (2^r) for the target
    * similarity regime (see object Scaladoc). */
  val NeardupRows = 3
  val NeardupBands = 10
  val NeardupThreshold = 0.4

  /** Band-blocked candidate pairs (a < b) with exact cosine. The band
    * self-join and the pair dedup run on scalar (id, band, bucket)
    * rows only — embeddings never ride the candidate shuffles; they
    * are fetched once per DEDUPED pair through two dimension joins
    * (broadcast-able: the join key is the pair side, the corpus
    * streams) and scored with the codegen dot product. */
  private[graft] def neardupPairs(v: DataFrame, r: Int, bands: Int): DataFrame = {
    val banded = bandedBuckets(v, r, bands).select("vec_id", "j", "bkt")
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.j") === col("y.j") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .dropDuplicates("a", "b")
    pairs
      .join(v.select(col("vec_id").as("a"), col("e").as("ea")), "a")
      .join(v.select(col("vec_id").as("b"), col("e").as("eb")), "b")
      .select(col("a"), col("b"), cosine(col("ea"), col("eb")).as("sim"))
  }

  def q26EmbeddingNeardup(spark: SparkSession, dir: String): DataFrame =
    neardupPairs(vecs(spark, dir), NeardupRows, NeardupBands)
      .filter(col("sim") >= NeardupThreshold)
      .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
      .orderBy("a", "b")

  // ---------------------------------------------------------------- q41
  /** IVF-style ANN: a coarse quantizer of [[IvfCells]] deterministic
    * direction vectors (md5-derived, so the oracle reproduces them;
    * a production deployment would train k-means centroids instead —
    * the plan shape is identical). Every corpus vector lands in its
    * argmax-dot cell; a query probes its [[IvfProbes]] best cells and
    * reranks only those cells' vectors with exact cosine. Corpus work
    * per query is ~nprobe/cells of a scan, and the cell assignment is
    * one codegen pass — the classic IVF cost model. */
  val IvfCells = 16
  val IvfProbes = 2
  /** Offset into the hyperplane family so IVF directions never reuse
    * the LSH planes. */
  private val IvfBase = 100

  private def cellDots(e: Column): Seq[Column] =
    (0 until IvfCells).map { c =>
      val wc = typedLit((0 until Dims).map(d => hyperplane(IvfBase + c, d)))
      dot(wc, e)
    }

  /** argmax cell (ties → smallest cell id, via array_position on the
    * first occurrence of the max). */
  private def cellOf(e: Column): Column = {
    val arr = array(cellDots(e): _*)
    (array_position(arr, array_max(arr)) - 1).cast("int")
  }

  def q41SimAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val corpus = v.withColumn("cell", cellOf(col("e")))
    // queries: rank all cells by dot, probe the top IvfProbes
    val qDots = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_vec"), col("e").as("qe"),
        posexplode(array(cellDots(col("e")): _*)).as(Seq("cell", "d")))
    val wq = Window.partitionBy("q_vec").orderBy(col("d").desc, col("cell").asc)
    val probes = qDots.withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= IvfProbes)
      .select(col("q_vec"), col("qe"), col("cell"))
    val scored = corpus.join(broadcast(probes),
        corpus("cell") === probes("cell") && col("vec_id") =!= col("q_vec"))
      .select(col("q_vec"), col("vec_id").as("cand"),
        cosine(col("qe"), col("e")).as("sim"))
    val w = Window.partitionBy("q_vec").orderBy(col("sim").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_vec"), col("cand"), round(col("sim"), 6).as("sim"), col("rank"))
      .orderBy("q_vec", "rank")
  }

  // ---------------------------------------------------------------- q53
  /** Symmetric int8 quantization report per embedding — the compression
    * step an ANN index applies before serving (4× memory cut on the
    * rerank corpus). Scale = max|x|/127 per vector; the output digests
    * the quantized vector with integer-exact sums (zeroed dims, Σq,
    * Σq²) from ONE in-row loop ([[graft.functions.Int8QuantStats]]) —
    * a pure projection, zero shuffle, and the oracle compares integers
    * instead of float-summation-order-sensitive reconstruction error. */
  def q53QuantizeInt8(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("vec_id"), graft.functions.Int8QuantStats(col("e")).as("st"))
      .select(col("vec_id"),
        round(col("st.max_abs") / 127.0, 6).as("scale"),
        col("st.n_zero"), col("st.qsum"), col("st.qnorm2"))
      .orderBy("vec_id")

  // ---------------------------------------------------------------- q127
  /** Embedding outlier detection — the corpus-quality filter that
    * drops mis-embedded / off-distribution vectors before they poison
    * dedup clusters or ANN training (SemDeDup's recommended
    * pre-step). Reference point is the per-dimension MEDIAN (robust
    * where a mean would chase the outliers themselves; exact
    * `percentile` is bit-parity with DuckDB's quantile_cont, the q60
    * contract, so the whole chain stays engine-exact); each vector's
    * squared distance to it ranks against the exact p-[[OutlierPct]]
    * threshold of the distance distribution. One explode pass for the
    * 64-row median relation (broadcast back), one distance agg, one
    * scalar threshold — at 100 TB swap both percentiles for
    * `approx_percentile` (fixed sketch state, same plan). */
  val OutlierPct = 0.99

  def q127EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val xd = vecs(spark, dir)
      .select(col("vec_id"), posexplode(col("e")).as(Seq("i", "x")))
    val med = xd.groupBy("i")
      .agg(expr("percentile(x, 0.5D)").as("m"))
    val d = xd.join(broadcast(med), "i")
      .groupBy("vec_id")
      .agg(sum((col("x") - col("m")) * (col("x") - col("m"))).as("d"))
      .select(col("vec_id"), round(col("d"), 6).as("dist"))
    val thr = d.agg(expr(s"percentile(dist, ${OutlierPct}D)").as("p99"))
    d.crossJoin(broadcast(thr))
      .select(col("vec_id"), col("dist"),
        (col("dist") > col("p99")).as("is_outlier"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q128
  /** SEMANTIC decontamination: q46 catches eval data that survives in
    * the corpus verbatim (8-gram shingles); paraphrased leakage needs
    * the embedding space. Benchmark set = vec_id < [[DecontamBench]]
    * (the q46 convention on the embeddings table); a corpus vector
    * whose max cosine against any benchmark vector clears
    * [[DecontamTau]] is flagged, with its closest benchmark item for
    * audit. The benchmark side is bounded by construction →
    * broadcast; the corpus streams ONCE through one max_by-shaped
    * aggregate — no window, no all-pairs. τ sits in the same
    * near-random-similarity tail regime as q116's (synthetic
    * embeddings); real corpora run 0.9+. */
  val DecontamBench = 25
  val DecontamTau = 0.40

  def q128SemanticDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val bench = v.filter(col("vec_id") < DecontamBench)
      .select(col("vec_id").as("bench_id"), col("e").as("be"))
    v.filter(col("vec_id") >= DecontamBench)
      .join(broadcast(bench))
      .select(col("vec_id"), col("bench_id"),
        cosine(col("e"), col("be")).as("sim"))
      .groupBy("vec_id")
      // struct-max: highest sim, smallest bench_id on a tie — the
      // deterministic argmax (max_by breaks ties arbitrarily)
      .agg(max(struct(col("sim"), (-col("bench_id")).as("nb"))).as("m"))
      .select(col("vec_id"),
        round(col("m.sim"), 6).as("max_sim"),
        (-col("m.nb")).as("closest_bench"),
        (col("m.sim") >= DecontamTau).as("is_contaminated"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q143
  /** Label-centroid separation report — the class-separation audit a
    * training-data pipeline runs before trusting its labels: one
    * robust centroid per label (per-dimension MEDIAN — selection, not
    * summation, so engine-exact like q127; a mean centroid would also
    * chase the outliers q127 flags) and the pairwise cosine between
    * centroids. Labels whose centroids sit close are the confusable
    * classes; a label whose centroid hugs another's is the mislabeled-
    * cluster smell.
    *
    * Scale shape: ONE explode pass over the corpus → a (labels × dims)
    * centroid relation (broadcast-sized by construction) → all-pairs
    * cosine over the bounded label set. Exact `percentile` swaps for
    * `approx_percentile` at 100 TB (the q127/q60 contract). */
  def q143CentroidSeparation(spark: SparkSession, dir: String): DataFrame =
    centroidSeparation(Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("e")))

  /** Core of q143 over (vec_id, label, e: array<double>). */
  def centroidSeparation(v: DataFrame): DataFrame = {
    // cut: the centroid relation feeds three branches (both dot sides
    // + norms); uncut, each branch re-explodes the corpus — 3 scans
    // where one suffices, at any scale (plan-audited: one Generate)
    val cent = graft.Checkpoints.cut(
      v.select(col("label"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy("label", "i")
        .agg(expr("percentile(x, 0.5D)").as("m")))
    val cnt = v.groupBy("label").agg(count(lit(1)).as("n"))
    val nrm = cent.groupBy("label").agg(sqrt(sum(col("m") * col("m"))).as("nrm"))
    val dots = cent.select(col("label").as("la"), col("i"), col("m").as("ma"))
      .join(cent.select(col("label").as("lb"), col("i"), col("m").as("mb")),
        Seq("i"))
      .filter(col("la") < col("lb"))
      .groupBy("la", "lb").agg(sum(col("ma") * col("mb")).as("d"))
    dots
      .join(nrm.select(col("label").as("la"), col("nrm").as("na")), Seq("la"))
      .join(nrm.select(col("label").as("lb"), col("nrm").as("nb")), Seq("lb"))
      .join(cnt.select(col("label").as("la"), col("n").as("n_a")), Seq("la"))
      .join(cnt.select(col("label").as("lb"), col("n").as("n_b")), Seq("lb"))
      .select(col("la"), col("lb"), col("n_a"), col("n_b"),
        round(col("d") / (col("na") * col("nb")), 6).as("centroid_sim"))
      .orderBy("la", "lb")
  }

  // ---------------------------------------------------------------- q172
  /** ANN recall audit — the acceptance test a similarity index must
    * pass before it is trusted to dedup or retrieve: per audit query,
    * exact brute-force top-[[AuditK]] vs the q41 IVF index's candidate
    * set, reporting candidates probed (the cost proxy — IVF's whole
    * bargain is `n_probed ≪ corpus`) and recall@k (the quality side
    * of that bargain). Recall is ESTIMATED ON A BOUNDED QUERY SAMPLE
    * ([[AuditQueries]] vectors) — the standard methodology (Jégou et
    * al. 2011 eval protocol): the sample broadcasts, the corpus
    * streams ONCE for the exact side (keyed top-k aggregate — only
    * k pairs per query per partition cross the shuffle) and once for
    * the cell assignment, so audit cost at 100 TB is two scans
    * regardless of corpus size. The exact side deliberately does NOT
    * reuse the index being audited. */
  val AuditQueries = 20
  val AuditK = 10

  def q172AnnRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val q = v.filter(col("vec_id") < AuditQueries)
      .select(col("vec_id").as("q_vec"), col("e").as("qe"))
    // ground truth: exact cosine top-k per audit query
    val exact = v.join(broadcast(q), col("vec_id") =!= col("q_vec"))
      .select(col("q_vec"), col("vec_id").as("cand"),
        cosine(col("qe"), col("e")).as("sim"))
      .groupBy("q_vec")
      .agg(graft.functions.TopKAgg.topkKeyed(col("sim"), col("cand"), AuditK)
        .as("tops"))
      .select(col("q_vec"), explode(col("tops")).as("t"))
      .select(col("q_vec"), col("t.id").as("cand"))
    // the index under audit: q41's cell assignment + probe set
    val corpus = v.withColumn("cell", cellOf(col("e")))
      .select(col("vec_id").as("cand"), col("cell"))
    val qDots = v.filter(col("vec_id") < AuditQueries)
      .select(col("vec_id").as("q_vec"),
        posexplode(array(cellDots(col("e")): _*)).as(Seq("cell", "d")))
    val wq = Window.partitionBy("q_vec").orderBy(col("d").desc, col("cell").asc)
    val probes = qDots.withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= IvfProbes)
      .select(col("q_vec"), col("cell"))
    val cands = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("cand") =!= col("q_vec"))
      .select("q_vec", "cand")
    val nProbed = cands.groupBy("q_vec").agg(count(lit(1)).as("n_probed"))
    val hits = exact.join(cands, Seq("q_vec", "cand"), "left_semi")
      .groupBy("q_vec").agg(count(lit(1)).as("n_hit"))
    q.select("q_vec")
      .join(nProbed, Seq("q_vec"), "left").join(hits, Seq("q_vec"), "left")
      .select(col("q_vec"),
        coalesce(col("n_probed"), lit(0L)).as("n_probed"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / AuditK, 6)
          .as("recall_at_k"))
      .orderBy("q_vec")
  }

  // ---------------------------------------------------------------- q173
  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * data-prep step): per anchor vector, the nearest SAME-label
    * neighbor (the positive) and the [[MineNegK]] nearest
    * DIFFERENT-label neighbors (the hard negatives — the confusable
    * items a contrastive loss learns the most from), with the
    * anchor-level margin (pos_sim − neg_sim; negative margin = the
    * anchor's positive is outranked by an impostor, the label-noise
    * smell q143 audits at class grain).
    *
    * Scale shape: anchors are the batch being mined — a bounded
    * broadcast ([[MineQueries]] here); the corpus streams ONCE and
    * both selections are keyed top-k AGGREGATES (k·anchors rows cross
    * the shuffle, never corpus×anchors). Mining EVERY anchor at
    * 100 TB swaps the broadcast for a blocked candidate generator —
    * q41's IVF cells or q25's LSH bands — scoring only same-cell
    * pairs; the per-anchor selection is unchanged. */
  val MineQueries = 20
  val MineNegK = 3

  def q173HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("e"))
    val q = v.filter(col("vec_id") < MineQueries)
      .select(col("vec_id").as("q_vec"), col("label").as("q_label"),
        col("e").as("qe"))
    val scored = v.join(broadcast(q), col("vec_id") =!= col("q_vec"))
      .select(col("q_vec"), col("q_label"),
        col("vec_id").as("cand"), col("label").as("cand_label"),
        cosine(col("qe"), col("e")).as("sim"))
    val pos = scored.filter(col("cand_label") === col("q_label"))
      .groupBy("q_vec")
      .agg(graft.functions.TopKAgg.topkKeyed(col("sim"), col("cand"), 1)
        .as("tops"))
      .select(col("q_vec"), explode(col("tops")).as("t"))
      .select(col("q_vec"), col("t.id").as("pos_id"), col("t.v").as("pos_sim"))
    val negs = scored.filter(col("cand_label") =!= col("q_label"))
      .groupBy("q_vec", "q_label")
      .agg(graft.functions.TopKAgg.topkKeyed(col("sim"), col("cand"), MineNegK)
        .as("tops"))
      .select(col("q_vec"), col("q_label"),
        posexplode(col("tops")).as(Seq("p", "t")))
      .select(col("q_vec"), col("q_label").as("label"),
        (col("p") + 1).cast("long").as("neg_rank"),
        col("t.id").as("neg_id"), col("t.v").as("neg_sim"))
    negs.join(pos, "q_vec")
      .select(col("q_vec"), col("label"), col("pos_id"),
        round(col("pos_sim"), 6).as("pos_sim"),
        col("neg_rank"), col("neg_id"),
        round(col("neg_sim"), 6).as("neg_sim"),
        round(col("pos_sim") - col("neg_sim"), 6).as("margin"))
      .orderBy("q_vec", "neg_rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q143_centroid_separation" -> (q143CentroidSeparation _),
    "q128_semantic_decontamination" -> (q128SemanticDecontamination _),
    "q172_ann_recall_audit" -> (q172AnnRecallAudit _),
    "q173_hard_negatives" -> (q173HardNegatives _),
    "q127_embedding_outliers" -> (q127EmbeddingOutliers _),
    "q191_rrf_fusion" -> (q191RrfFusion _),
    "q24_sim_topk" -> (q24SimTopk _),
    "q25_sim_ann_lsh" -> (q25SimAnnLsh _),
    "q26_embedding_neardup" -> (q26EmbeddingNeardup _),
    "q41_sim_ann_ivf" -> (q41SimAnnIvf _),
    "q53_quantize_int8" -> (q53QuantizeInt8 _),
  )

  // ------------------------------------------------------------ oracles

  /** Shared DuckDB CTEs: norms and (vec, dim, value-double) terms. */
  private val vecCtes =
    """v AS (SELECT vec_id, embedding FROM embeddings),
      |vd AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
      |       embedding FROM v),
      |vv AS (SELECT vec_id, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x FROM vd),
      |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM vv GROUP BY 1)""".stripMargin

  /** Banded-bucket CTE over r·bands md5-derived hyperplanes (mirror of
    * [[bandedBuckets]]): band j = planes [j·r, (j+1)·r). */
  private def bandedCte(r: Int, bands: Int): String = {
    val nPlanes = r * bands
    s"""wt AS (SELECT h.h, d.d,
       |    (${Md5Prefix.hexToLongSql("md5(CAST(h.h AS VARCHAR) || '_' || CAST(d.d AS VARCHAR))", 1, 4)}
       |     / 65535.0) * 2.0 - 1.0 AS w
       |  FROM (SELECT unnest(generate_series(0, ${nPlanes - 1})) AS h) h,
       |       (SELECT unnest(generate_series(0, $Dims - 1)) AS d) d),
       |dotw AS (SELECT vv.vec_id, wt.h, sum(wt.w * vv.x) AS s
       |  FROM vv JOIN wt ON wt.d = vv.i - 1
       |  GROUP BY 1, 2),
       |bkt AS (SELECT vec_id, CAST(h // $r AS BIGINT) AS j,
       |    CAST(sum(CASE WHEN s >= 0.0 THEN CAST(1 AS BIGINT) << CAST(h % $r AS INT)
       |             ELSE 0 END) AS BIGINT) AS bkt
       |  FROM dotw GROUP BY 1, 2)""".stripMargin
  }

  private val pairSimSql =
    """dots AS (SELECT a.vec_id AS av, b.vec_id AS bv, sum(a.x * b.x) AS d
      |  FROM vv a JOIN vv b ON a.i = b.i
      |  JOIN cand c ON c.av = a.vec_id AND c.bv = b.vec_id
      |  GROUP BY 1, 2),
      |sims AS (SELECT av, bv, d / (na.nrm * nb.nrm) AS sim
      |  FROM dots JOIN nrm na ON na.vec_id = av JOIN nrm nb ON nb.vec_id = bv)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q143_centroid_separation" ->
      """WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
        |           FROM embeddings),
        |vd AS (SELECT label, unnest(generate_series(1, len(embedding))) AS i,
        |       embedding FROM v),
        |vv AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |       CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x FROM vd),
        |cent AS (SELECT label, dim, quantile_cont(x, 0.5) AS m
        |         FROM vv GROUP BY 1, 2),
        |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |nrm AS (SELECT label, sqrt(sum(m * m)) AS nrm FROM cent GROUP BY 1),
        |d AS (SELECT a.label AS la, b.label AS lb, sum(a.m * b.m) AS d
        |      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT la, lb, ca.n AS n_a, cb.n AS n_b,
        |       round(d.d / (na.nrm * nb.nrm), 6) AS centroid_sim
        |FROM d
        |JOIN nrm na ON na.label = d.la
        |JOIN nrm nb ON nb.label = d.lb
        |JOIN cnt ca ON ca.label = d.la
        |JOIN cnt cb ON cb.label = d.lb
        |ORDER BY la, lb""".stripMargin,

    "q128_semantic_decontamination" ->
      s"""WITH $vecCtes,
         |dp AS (
         |  SELECT c.vec_id, b.vec_id AS bench_id,
         |         sum(xc.x * xb.x) AS dp
         |  FROM v c JOIN v b ON b.vec_id < $DecontamBench
         |                   AND c.vec_id >= $DecontamBench
         |  JOIN vv xc ON xc.vec_id = c.vec_id
         |  JOIN vv xb ON xb.vec_id = b.vec_id AND xb.i = xc.i
         |  GROUP BY 1, 2),
         |sim AS (
         |  SELECT d.vec_id, d.bench_id, d.dp / (nc.nrm * nb.nrm) AS sim
         |  FROM dp d
         |  JOIN nrm nc ON nc.vec_id = d.vec_id
         |  JOIN nrm nb ON nb.vec_id = d.bench_id)
         |SELECT vec_id, round(sim, 6) AS max_sim, bench_id AS closest_bench,
         |       (sim >= $DecontamTau) AS is_contaminated
         |FROM (
         |  SELECT vec_id, bench_id, sim,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY sim DESC, bench_id ASC) AS rk
         |  FROM sim) z
         |WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    "q127_embedding_outliers" ->
      s"""WITH $vecCtes,
         |med AS (SELECT i, quantile_cont(x, 0.5) AS m FROM vv GROUP BY 1),
         |d AS (
         |  SELECT vv.vec_id,
         |         round(sum((vv.x - med.m) * (vv.x - med.m)), 6) AS dist
         |  FROM vv JOIN med ON med.i = vv.i
         |  GROUP BY 1),
         |thr AS (SELECT quantile_cont(dist, $OutlierPct) AS p99 FROM d)
         |SELECT d.vec_id, d.dist, (d.dist > thr.p99) AS is_outlier
         |FROM d, thr ORDER BY d.vec_id""".stripMargin,

    "q53_quantize_int8" ->
      s"""WITH $vecCtes,
         |m AS (SELECT vec_id, max(abs(x)) AS max_abs FROM vv GROUP BY 1),
         |q AS (SELECT vv.vec_id,
         |    CASE WHEN m.max_abs = 0 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(floor(vv.x / (m.max_abs / 127.0) + 0.5) AS BIGINT)
         |    END AS qv
         |  FROM vv JOIN m USING (vec_id))
         |SELECT m.vec_id, round(m.max_abs / 127.0, 6) AS scale,
         |       CAST(sum(CASE WHEN q.qv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |       CAST(sum(q.qv) AS BIGINT) AS qsum,
         |       CAST(sum(q.qv * q.qv) AS BIGINT) AS qnorm2
         |FROM m JOIN q ON q.vec_id = m.vec_id
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "q191_rrf_fusion" ->
      s"""WITH ${graft.text.TextOps.normCte},
         |wu AS (SELECT doc_id, unnest(string_split(s, ' ')) AS word FROM n),
         |dl AS (SELECT doc_id,
         |              CAST(len(string_split(s, ' ')) AS BIGINT) AS dl
         |       FROM n),
         |sc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |       FROM dl),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |       FROM wu
         |       WHERE word IN (${graft.text.TermOps.Bm25Terms
                  .map("'" + _ + "'").mkString(", ")})
         |       GROUP BY 1, 2),
         |idf AS (SELECT word,
         |               ln((sc.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf,
         |               sc.avgdl AS avgdl
         |        FROM (SELECT word, CAST(count(*) AS BIGINT) AS df
         |              FROM tf GROUP BY 1) d, sc),
         |term AS (SELECT t.doc_id,
         |                CAST(round(i.idf * (t.tf * 2.2)
         |                  / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / i.avgdl)), 6)
         |                  AS DECIMAL(18,6)) AS contrib
         |         FROM tf t
         |         JOIN idf i USING (word)
         |         JOIN dl l ON l.doc_id = t.doc_id),
         |lexs AS (SELECT doc_id, CAST(sum(contrib) AS DOUBLE) AS score
         |         FROM term GROUP BY 1),
         |lr AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |           AS BIGINT) AS rank_lex
         |       FROM lexs ORDER BY rank_lex LIMIT $RrfSideK),
         |$vecCtes,
         |qv AS (SELECT i, x FROM vv WHERE vec_id = $RrfQueryVec),
         |qn AS (SELECT nrm FROM nrm WHERE vec_id = $RrfQueryVec),
         |dq AS (SELECT a.vec_id, sum(a.x * q.x) AS d
         |       FROM vv a JOIN qv q ON a.i = q.i
         |       WHERE a.vec_id <> $RrfQueryVec GROUP BY 1),
         |sims AS (SELECT dq.vec_id, round(dq.d / (na.nrm * qn.nrm), 6) AS sim
         |         FROM dq JOIN nrm na ON na.vec_id = dq.vec_id, qn),
         |vr AS (SELECT vec_id AS doc_id,
         |         CAST(row_number() OVER (ORDER BY sim DESC, vec_id ASC)
         |           AS BIGINT) AS rank_vec
         |       FROM sims ORDER BY rank_vec LIMIT $RrfSideK)
         |SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
         |       l.rank_lex, r.rank_vec,
         |       round(coalesce(1.0 / ($RrfK + l.rank_lex), 0)
         |         + coalesce(1.0 / ($RrfK + r.rank_vec), 0), 6) AS rrf_score
         |FROM lr l FULL OUTER JOIN vr r ON l.doc_id = r.doc_id
         |ORDER BY rrf_score DESC, doc_id ASC LIMIT $RrfTopN""".stripMargin,

    "q24_sim_topk" ->
      s"""WITH $vecCtes,
         |cand AS (SELECT q.vec_id AS av, c.vec_id AS bv
         |  FROM v q, v c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |$pairSimSql,
         |r AS (SELECT av, bv, sim,
         |    row_number() OVER (PARTITION BY av ORDER BY sim DESC, bv ASC) AS rk
         |  FROM sims)
         |SELECT av AS q_vec, bv AS cand, round(sim, 6) AS sim,
         |       CAST(rk AS BIGINT) AS rank
         |FROM r WHERE rk <= 10 ORDER BY q_vec, rank""".stripMargin,

    "q25_sim_ann_lsh" ->
      s"""WITH $vecCtes,
         |${bandedCte(AnnRows, AnnTables)},
         |cand AS (SELECT DISTINCT q.vec_id AS av, c.vec_id AS bv
         |  FROM bkt q JOIN bkt c ON q.j = c.j AND q.bkt = c.bkt
         |    AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5),
         |$pairSimSql,
         |r AS (SELECT av, bv, sim,
         |    row_number() OVER (PARTITION BY av ORDER BY sim DESC, bv ASC) AS rk
         |  FROM sims)
         |SELECT av AS q_vec, bv AS cand, round(sim, 6) AS sim,
         |       CAST(rk AS BIGINT) AS rank
         |FROM r WHERE rk <= 5 ORDER BY q_vec, rank""".stripMargin,

    "q26_embedding_neardup" ->
      s"""WITH $vecCtes,
         |${bandedCte(NeardupRows, NeardupBands)},
         |cand AS (SELECT DISTINCT x.vec_id AS av, y.vec_id AS bv
         |  FROM bkt x JOIN bkt y ON x.j = y.j AND x.bkt = y.bkt
         |    AND x.vec_id < y.vec_id),
         |$pairSimSql
         |SELECT av AS a, bv AS b, round(sim, 6) AS sim
         |FROM sims WHERE sim >= $NeardupThreshold ORDER BY a, b""".stripMargin,

    "q41_sim_ann_ivf" ->
      s"""WITH $vecCtes,
         |${ivfCtes(5)},
         |cand AS (SELECT p.qv AS av, x.vec_id AS bv
         |  FROM probes p JOIN corpus x ON x.cell = p.cell AND x.vec_id <> p.qv),
         |$pairSimSql,
         |r AS (SELECT av, bv, sim,
         |    row_number() OVER (PARTITION BY av ORDER BY sim DESC, bv ASC) AS rk
         |  FROM sims)
         |SELECT av AS q_vec, bv AS cand, round(sim, 6) AS sim,
         |       CAST(rk AS BIGINT) AS rank
         |FROM r WHERE rk <= 5 ORDER BY q_vec, rank""".stripMargin,

    "q172_ann_recall_audit" ->
      s"""WITH $vecCtes,
         |${ivfCtes(AuditQueries)},
         |cand AS (SELECT q.vec_id AS av, c.vec_id AS bv
         |  FROM v q, v c WHERE q.vec_id < $AuditQueries AND c.vec_id <> q.vec_id),
         |$pairSimSql,
         |ex AS (SELECT av, bv FROM (
         |    SELECT av, bv,
         |      row_number() OVER (PARTITION BY av ORDER BY sim DESC, bv ASC) AS rk
         |    FROM sims) z WHERE rk <= $AuditK),
         |ic AS (SELECT p.qv AS av, x.vec_id AS bv
         |  FROM probes p JOIN corpus x ON x.cell = p.cell AND x.vec_id <> p.qv),
         |np AS (SELECT av, CAST(count(*) AS BIGINT) AS n_probed
         |       FROM ic GROUP BY 1),
         |ht AS (SELECT e.av, CAST(count(*) AS BIGINT) AS n_hit
         |       FROM ex e JOIN ic ON ic.av = e.av AND ic.bv = e.bv
         |       GROUP BY 1)
         |SELECT q.vec_id AS q_vec,
         |       coalesce(np.n_probed, CAST(0 AS BIGINT)) AS n_probed,
         |       coalesce(ht.n_hit, CAST(0 AS BIGINT)) AS n_hit,
         |       round(CAST(coalesce(ht.n_hit, 0) AS DOUBLE) / $AuditK, 6)
         |         AS recall_at_k
         |FROM v q
         |LEFT JOIN np ON np.av = q.vec_id
         |LEFT JOIN ht ON ht.av = q.vec_id
         |WHERE q.vec_id < $AuditQueries ORDER BY q_vec""".stripMargin,

    "q173_hard_negatives" ->
      s"""WITH $vecCtes,
         |vl AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |cand AS (SELECT q.vec_id AS av, c.vec_id AS bv
         |  FROM v q, v c WHERE q.vec_id < $MineQueries AND c.vec_id <> q.vec_id),
         |$pairSimSql,
         |s2 AS (SELECT s.av, s.bv, s.sim,
         |         qa.label AS q_label, qb.label AS c_label
         |       FROM sims s
         |       JOIN vl qa ON qa.vec_id = s.av
         |       JOIN vl qb ON qb.vec_id = s.bv),
         |pos AS (SELECT av, bv AS pos_id, sim AS pos_sim FROM (
         |    SELECT av, bv, sim,
         |      row_number() OVER (PARTITION BY av ORDER BY sim DESC, bv ASC) AS rk
         |    FROM s2 WHERE c_label = q_label) z WHERE rk = 1),
         |neg AS (SELECT av, q_label, bv AS neg_id, sim AS neg_sim,
         |         CAST(rk AS BIGINT) AS neg_rank FROM (
         |    SELECT av, q_label, bv, sim,
         |      row_number() OVER (PARTITION BY av ORDER BY sim DESC, bv ASC) AS rk
         |    FROM s2 WHERE c_label <> q_label) z WHERE rk <= $MineNegK)
         |SELECT n.av AS q_vec, n.q_label AS label, p.pos_id,
         |       round(p.pos_sim, 6) AS pos_sim,
         |       n.neg_rank, n.neg_id, round(n.neg_sim, 6) AS neg_sim,
         |       round(p.pos_sim - n.neg_sim, 6) AS margin
         |FROM neg n JOIN pos p ON p.av = n.av
         |ORDER BY q_vec, neg_rank""".stripMargin,
  )

  /** IVF coarse-quantizer CTEs (mirror of [[cellOf]]/[[cellDots]]):
    * `corpus` = every vector's argmax cell, `probes` = the top-
    * [[IvfProbes]] cells per query vector (`vec_id < qBound`). */
  private def ivfCtes(qBound: Int): String =
    s"""cwt AS (SELECT c.c, d.d,
       |    (${Md5Prefix.hexToLongSql("md5(CAST(c.c + 100 AS VARCHAR) || '_' || CAST(d.d AS VARCHAR))", 1, 4)}
       |     / 65535.0) * 2.0 - 1.0 AS w
       |  FROM (SELECT unnest(generate_series(0, ${IvfCells - 1})) AS c) c,
       |       (SELECT unnest(generate_series(0, $Dims - 1)) AS d) d),
       |dotc AS (SELECT vv.vec_id, cwt.c, sum(cwt.w * vv.x) AS s
       |  FROM vv JOIN cwt ON cwt.d = vv.i - 1
       |  GROUP BY 1, 2),
       |cellr AS (SELECT vec_id, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rk
       |  FROM dotc),
       |corpus AS (SELECT vec_id, c AS cell FROM cellr WHERE rk = 1),
       |probes AS (SELECT vec_id AS qv, c AS cell FROM cellr
       |           WHERE rk <= $IvfProbes AND vec_id < $qBound)""".stripMargin
}
