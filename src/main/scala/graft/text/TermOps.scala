package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus term statistics — the signal extractors a training-data
  * pipeline derives from its own token distribution: TF-IDF keyword
  * extraction (topic/domain signals per document) and the CCNet-style
  * unigram language-model score (documents whose tokens are
  * improbable under the corpus distribution are noise or off-domain —
  * the cheap stand-in for the KenLM perplexity filter).
  *
  * Scale shape: both are wordcount-family plans — explode to
  * (doc, word), partial-agg counts, one join keyed by word (left to
  * AQE — a corpus vocabulary is not small by construction), then a
  * per-doc agg or a window
  * over per-doc term lists whose width is bounded by document length.
  * No collected sets, no driver loops; the float steps (ln, avg) are
  * rounded to 6dp under the same contract as PageRank/quality.
  */
object TermOps {

  // ---------------------------------------------------------------- q74
  /** Top-[[TfidfTopK]] TF-IDF terms per document: tf = in-doc count,
    * idf = ln(N/df), ranked per doc by (rounded score desc, word asc)
    * — deterministic at every scale factor. */
  val TfidfTopK = 3

  def tfidfTopTerms(docs: DataFrame, topK: Int): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(col("s"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("word").asc)
    // the term dictionary is NOT broadcast-hinted: a corpus vocabulary
    // grows with the data (Zipf tail) — the word-keyed shuffle join is
    // the scale-safe default and AQE still broadcast-converts it when
    // the dictionary actually is small
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("word"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  def q74TfidfTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(TextOps.docs(spark, dir), TfidfTopK)

  // ---------------------------------------------------------------- q75
  /** Unigram negative log-likelihood per document: p(w) = corpus
    * token frequency, score = mean over the document's tokens of
    * −ln p(w) = ln(total/cnt(w)). High scores mark documents whose
    * vocabulary is rare under the corpus model — the filter
    * direction CCNet applies with a real LM. */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(col("s"), " ")).as("word"))
    val freq = words.groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    words.join(freq, "word") // word-keyed shuffle join; see q74's note
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("total").cast("double") / col("cnt"))), 6)
          .as("avg_nll"))
      .orderBy("doc_id")
  }

  def q75UnigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramLogprob(TextOps.docs(spark, dir))

  // ---------------------------------------------------------------- q114
  /** Okapi BM25 retrieval: score every document against a fixed query
    * term set and return the top-[[Bm25TopK]] — the classical lexical
    * ranker behind corpus search and retrieval-based decontamination
    * (find the training docs a benchmark query would surface).
    * k1 = 1.2, b = 0.75, idf = ln((N − df + 0.5)/(df + 0.5) + 1) (the
    * always-positive BM25+ form).
    *
    * Float contract: each term's contribution is rounded to 6dp and
    * DECIMAL-summed (accumulation-order-free), the same money
    * convention as q108; idf/avgdl mirror the oracle's expression
    * order exactly. Scale shape: tf is one wordcount partial agg over
    * ONLY the query terms (the `isin` prunes at the scan); the
    * df/idf side is bounded by the literal query-term count, so the
    * broadcast hint is by-construction safe; the per-doc length join
    * is doc-keyed. Nothing touches the unbounded vocabulary. */
  val Bm25Terms: Seq[String] = Seq("spark", "hash", "window", "merge")
  val Bm25TopK = 20

  def bm25(docs: DataFrame, terms: Seq[String], topK: Int): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(col("s"), " ")).as("word"))
    val dl = docs.select(col("doc_id"),
      size(split(col("s"), " ")).cast("long").as("dl"))
    val sc = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val tf = words.filter(col("word").isin(terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(sc))
      .select(col("word"),
        log((col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5)) + lit(1.0)).as("idf"),
        col("avgdl"))
    tf.join(broadcast(idf), "word")
      .join(dl, "doc_id")
      .withColumn("contrib",
        round(col("idf") * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2)
            * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
          .cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("contrib")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topK)
  }

  def q114Bm25(spark: SparkSession, dir: String): DataFrame =
    bm25(TextOps.docs(spark, dir), Bm25Terms, Bm25TopK)

  // ---------------------------------------------------------------- q120
  /** Bigram LM negative log-likelihood per document — one order up
    * from q75's unigram model: score = mean over the doc's bigrams of
    * −ln p(wᵢ|wᵢ₋₁) with add-one smoothing
    * p(w|u) = (c(u,w)+1)/(c(u)+V). Documents whose word SEQUENCES are
    * improbable under the corpus (even when each word is common)
    * score high — the next step toward the KenLM-style perplexity
    * filter that q75 approximates at order 1. The negation is folded
    * into the ratio (ln((c(u)+V)/(c(u,w)+1)), q75's convention) so
    * both engines evaluate one identical float expression, 6dp.
    *
    * Scale shape: bigrams are built IN-ROW from the word array (the
    * q110 transform), counts are two partial aggs, and the scoring
    * join is keyed by word pair — the vocabulary-scale relations are
    * never broadcast (q74's note). */
  def bigramNll(docs: DataFrame): DataFrame = {
    val d = docs.withColumn("words", split(col("s"), " "))
    val uni = d.select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bg = d.filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(words) - 1), " +
          "i -> struct(words[i-1] AS prev, words[i] AS cur))")).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val bc = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    bg.join(bc, Seq("prev", "cur"))
      .join(uni.select(col("word").as("prev"), col("cu")), Seq("prev"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("cu") + col("v")).cast("double")
          / (col("cb") + lit(1.0)))), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  def q120BigramNll(spark: SparkSession, dir: String): DataFrame =
    bigramNll(TextOps.docs(spark, dir))

  // ---------------------------------------------------------------- q190
  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen
    * & Goodman 1999's interpolated form with fixed discount D=0.75) —
    * the smoothing the KenLM-family perplexity filters actually use,
    * where q120's add-one is the teaching baseline. Per document:
    * mean −ln p_KN(w|u) over its bigrams, plus the perplexity, with
    *
    *   p_KN(w|u) = (c(u,w) − D)/c(u·) + D·N₁₊(u,·)/c(u·) · N₁₊(·,w)/T
    *
    * (c(u·) = u's occurrences as a context, N₁₊(u,·) = distinct
    * continuations of u, N₁₊(·,w) = distinct contexts of w, T =
    * distinct bigram types). The continuation term is what makes KN
    * KN: a word frequent only inside one collocation ("Francisco")
    * gets LOW novel-context probability no matter its raw count.
    * Scoring the training corpus itself means every scored bigram
    * has c(u,w) ≥ 1 > D — no zero-count branch exists in-plan.
    *
    * Scale shape: bigrams build IN-ROW from the word array; all four
    * model relations are vocabulary-scale partial aggs off ONE cut
    * bigram relation (c(u,w), c(u·), N₁₊(u,·) keyed by prev —
    * computed in a single grouped pass — and N₁₊(·,w) keyed by cur);
    * T is the only broadcast (a scalar). The scoring joins ride the
    * prev/cur keys; nothing vocabulary-scale is ever broadcast
    * (q74's note). Float discipline: one identical p expression in
    * both engines (D=0.75 is exact binary), each -ln(p) term rounded
    * at 12dp and summed as DECIMAL (order-free, q183's convention),
    * 6dp on the final mean. */
  val KnDiscount = 0.75

  def kneserNeyNll(docs: DataFrame): DataFrame = {
    val d = docs.withColumn("words", split(col("s"), " "))
    val bg = graft.Checkpoints.cut(
      d.filter(size(col("words")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(words) - 1), " +
            "i -> struct(words[i-1] AS prev, words[i] AS cur))")).as("p"))
        .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur")))
    val bc = graft.Checkpoints.cut(
      bg.groupBy("prev", "cur").agg(count(lit(1)).as("cb")))
    // c(u·) and N1+(u,·) in one prev-keyed pass over the type table
    val ctx = bc.groupBy("prev")
      .agg(sum(col("cb")).as("cx"), count(lit(1)).as("n1u"))
    val cont = bc.groupBy("cur").agg(count(lit(1)).as("ncw"))
    val types = bc.agg(count(lit(1)).as("t"))
    val p = (col("cb").cast("double") - lit(KnDiscount)) / col("cx") +
      (lit(KnDiscount) * col("n1u") / col("cx")) *
        (col("ncw").cast("double") / col("t"))
    // Float discipline (q183's convention): round each -ln(p) term at
    // 12dp and sum as DECIMAL — an avg() over raw doubles makes the
    // accumulation order partition-dependent, and a boundary doc can
    // flip the 6dp digit vs the oracle under a different partitioning.
    bg.join(bc, Seq("prev", "cur"))
      .join(ctx, Seq("prev"))
      .join(cont, Seq("cur"))
      .crossJoin(broadcast(types))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(-log(p), 12).cast("decimal(25,12)")).as("snll"))
      .withColumn("avg_kn_nll",
        round(col("snll").cast("double") / col("n_bigrams"), 6))
      .withColumn("ppl", round(exp(col("avg_kn_nll")), 4))
      .select("doc_id", "n_bigrams", "avg_kn_nll", "ppl")
      .orderBy("doc_id")
  }

  def q190KneserNey(spark: SparkSession, dir: String): DataFrame =
    kneserNeyNll(TextOps.docs(spark, dir))

  // ---------------------------------------------------------------- q129
  /** BPE tokenizer training (Sennrich et al. 2016): learn the first
    * [[BpeMerges]] byte-pair merges from the corpus. The industrial
    * trainer structure (HF tokenizers, SentencePiece-BPE): the ONLY
    * corpus-scale op is the word-TYPE frequency table (one partial
    * agg); every merge iteration then runs on that bounded type
    * relation — pair counts are a type-table agg weighted by freq,
    * the winning rule is a SCALAR (the model is k rules), and the
    * merge itself is one projection. At 100 TB the type table is
    * millions of rows where the corpus is billions, so the loop cost
    * is independent of corpus size.
    *
    * Determinism: pair counts are integers; the winner is argmax
    * under the total order (cnt desc, lhs asc, rhs asc). Both engines
    * share one representation — a word's symbols as `|s1||s2||…|`,
    * where merging (a,b) is the LITERAL string replace of `|a||b|`
    * with `|ab|`: non-overlapping left-to-right replacement is
    * exactly BPE's greedy merge scan ("aaa" under (a,a) → "aa"+"a"),
    * identical in Spark and DuckDB by the shared replace() contract.
    * Pair counting is positional (overlapping pairs both count — the
    * classic BPE convention), mirrored by the same enumeration. */
  val BpeMerges = 8

  /** The learned merge rules for a (word, freq) type table:
    * (step, lhs, rhs, cnt). */
  private[graft] def bpeMerges(wordFreq: DataFrame, k: Int): Seq[(Long, String, String, Long)] =
    graft.Superstep.loop(k) { r =>
      val wf = r.cut(wordFreq
        .withColumn("sym", regexp_replace(col("word"), "(.)", "|$1|"))
        .select("freq", "sym"))
      ((wf, Vector.empty[(Long, String, String, Long)]), graft.Superstep.Unmeasured)
    } { case ((cur, rules), r) =>
      val best = cur
        .withColumn("a", split(expr("trim(BOTH '|' FROM sym)"), "\\|\\|"))
        .filter(size(col("a")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(a) - 1),
            |  i -> struct(element_at(a, i) AS lhs,
            |              element_at(a, i + 1) AS rhs))""".stripMargin)).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      best.headOption match {
        case None => ((cur, rules), 0L) // every word fully merged
        case Some(b) =>
          val (lhs, rhs) = (b.getAs[String]("lhs"), b.getAs[String]("rhs"))
          ((cur.withColumn("sym", replace(col("sym"),
              lit(s"|$lhs||$rhs|"), lit(s"|$lhs$rhs|"))),
            rules :+ ((r.n.toLong, lhs, rhs, b.getAs[Long]("cnt")))), 1L)
      }
    }(_._2).out

  def q129BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wf = TextOps.docs(spark, dir)
      .select(explode(split(col("s"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    bpeMerges(wf, BpeMerges)
      .toDF("step", "lhs", "rhs", "cnt")
      .select(col("step"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("cnt"))
      .orderBy("step")
  }

  // ---------------------------------------------------------------- q168
  /** BPE tokenizer APPLICATION — the other half of q129's train step:
    * the [[BpeMerges]] learned rules are applied in rule order to the
    * word-TYPE table (each rule is one literal `|a||b|` → `|ab|`
    * replace under the shared representation contract documented at
    * q129), then every document is costed under the trained
    * tokenizer. Per doc: encodable word count, BPE token count,
    * skipped (non `[a-z0-9]+`) word count, and the chars-per-token
    * compression the tokenizer achieves.
    *
    * Scale shape: identical to q129 — the ONLY corpus-scale ops are
    * the word-type aggregation and the final doc-keyed join of words
    * against the encoded TYPE table (vocabulary-sized, word-keyed
    * shuffle). The k replace passes run over the type table, not the
    * corpus, so encode cost is independent of corpus size; the model
    * (k rules) is the only collected state. */
  private[graft] def applyMerges(wf: DataFrame,
      rules: Seq[(Long, String, String, Long)]): DataFrame = {
    val start = wf.withColumn("sym",
      regexp_replace(col("word"), "(.)", "|$1|"))
    rules.sortBy(_._1).foldLeft(start) { case (acc, (_, lhs, rhs, _)) =>
      acc.withColumn("sym", replace(col("sym"),
        lit(s"|$lhs||$rhs|"), lit(s"|$lhs$rhs|")))
    }
  }

  def q168BpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeCost(TextOps.docs(spark, dir))

  private[graft] def bpeEncodeCost(d: DataFrame): DataFrame = {
    val words = d
      .select(col("doc_id"), explode(split(col("s"), " ")).as("word"))
    val enc0 = words.filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val rules = bpeMerges(enc0, BpeMerges)
    val enc = applyMerges(enc0, rules)
      .select(col("word"),
        size(split(expr("trim(BOTH '|' FROM sym)"), "\\|\\|"))
          .cast("long").as("n_sym"),
        length(col("word")).cast("long").as("n_chars"))
    val perDoc = words
      .withColumn("ok", col("word").rlike("^[a-z0-9]+$"))
      .join(enc, Seq("word"), "left") // word-keyed shuffle; q74's note
      .groupBy("doc_id")
      .agg(sum(when(col("ok"), 1L).otherwise(0L)).as("n_words"),
        coalesce(sum(when(col("ok"), col("n_sym"))), lit(0L)).as("n_tokens"),
        sum(when(col("ok"), lit(0L)).otherwise(1L)).as("n_skipped"),
        coalesce(sum(when(col("ok"), col("n_chars"))), lit(0L)).as("nc"))
    perDoc.select(col("doc_id"), col("n_words"), col("n_tokens"),
      col("n_skipped"),
      when(col("n_tokens") > 0,
        round(col("nc").cast("double") / col("n_tokens"), 6))
        .as("chars_per_token"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q134
  /** Sparse TF-IDF k-NN retrieval over the inverted index: the
    * [[CosKnnQueries]] query documents' [[CosKnnK]] nearest corpus
    * neighbors by weighted cosine — the SPARSE companion of q24's
    * dense embedding top-k, with the same scale discipline: the
    * query side is bounded (broadcast), the corpus streams ONCE, and
    * per-query work is linear in the corpus. Candidates come from
    * the inverted index (query postings ⨝ corpus postings on the
    * term); exact rerank over the shared-term dot products. A pair
    * sharing no term has similarity 0 and can never displace a
    * sharing candidate, so the k-NN over sim > 0 is exact.
    *
    * All-PAIRS sparse similarity deliberately has no entry: on this
    * corpus's 31-word vocabulary every posting list is ~the whole
    * corpus and Σ df² goes quadratic (measured 4.5e8 pair-terms at
    * sf0.1, 440 s) — the degenerate regime where the right tools are
    * the blocked/banded families (q21–q26) or a similarity THRESHOLD
    * under the q99 prefix filter, not an unblocked index self-join.
    *
    * Float discipline: weights and per-term products round 6dp then
    * DECIMAL-sum (order-free); norms likewise; ranking reads the
    * 6dp-rounded similarity with a neighbor-id tie-break. */
  val CosKnnK = 3
  val CosKnnQueries = 25
  val CosDfFracMax = 0.9

  def q134TfidfCosineKnn(spark: SparkSession, dir: String): DataFrame =
    tfidfCosineKnn(TextOps.docs(spark, dir), CosKnnQueries, CosKnnK)

  private[graft] def tfidfCosineKnn(d: DataFrame, nQueries: Int,
      topK: Int): DataFrame = {
    val words = d.select(col("doc_id"),
      explode(split(col("s"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    // the vocabulary is corpus-derived: no broadcast hint (L26's
    // reasoning); the one-row count broadcasts
    // cut: the weighted posting relation feeds THREE consumers (the
    // norm agg, the query slice, the dot-product join) — without it
    // the tf/df subtree re-executes once per consumer
    val w = graft.Checkpoints.cut(tf.join(df, "word")
      .crossJoin(broadcast(n))
      .filter(col("df") <= col("n_docs") * CosDfFracMax)
      .select(col("doc_id"), col("word"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .as("wt"))
      // zero-idf terms (df = N) carry no weight AND the largest
      // posting lists — dropping them also guards the zero-norm NaN
      .filter(col("wt") =!= 0.0))
    val norms = w
      .select(col("doc_id"),
        round(col("wt") * col("wt"), 6).cast("decimal(18,6)").as("w2"))
      .groupBy("doc_id")
      .agg(sqrt(sum(col("w2")).cast("double")).as("nrm"))
    val qw = w.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qd"), col("word"), col("wt").as("qwt"))
    val dots = w.join(broadcast(qw), Seq("word"))
      .filter(col("qd") =!= col("doc_id"))
      .select(col("qd"), col("doc_id").as("db"),
        round(col("qwt") * col("wt"), 6).cast("decimal(18,6)").as("p"))
      .groupBy("qd", "db").agg(sum(col("p")).as("dot"))
    val sims = dots
      .join(norms.select(col("doc_id").as("qd"), col("nrm").as("na")), "qd")
      .join(norms.select(col("doc_id").as("db"), col("nrm").as("nb")), "db")
      .select(col("qd"), col("db"),
        round(col("dot").cast("double") / (col("na") * col("nb")), 6)
          .as("sim"))
    val wr = Window.partitionBy("qd")
      .orderBy(col("sim").desc, col("db").asc)
    sims.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qd").as("doc_id"), col("rank"), col("db").as("nbr"),
        col("sim"))
      .orderBy("doc_id", "rank")
  }

  // ---------------------------------------------------------------- q144
  /** Lexical-diversity profile per document: token count, type count
    * (distinct words), hapax count (words used once), and the two
    * classic ratios — type/token (TTR: low = repetitive/templated
    * text, the quality signal q45's repetition filters threshold
    * from the other side) and hapax/type (vocabulary freshness). All
    * counts are integers from one (doc, word) partial agg; the
    * ratios are single integer divisions, 6dp — engine-exact. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("s"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_ratio"))
      .orderBy("doc_id")

  def q144LexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    lexicalDiversity(TextOps.docs(spark, dir))

  // ---------------------------------------------------------------- q145
  /** Zipf-law fit of the corpus frequency distribution: least-squares
    * slope of ln(freq) on ln(rank) over the top-[[ZipfTopK]] terms,
    * with intercept and R². Natural corpora slope ≈ −1; a flat slope
    * flags templated/synthetic text, a cliff flags boilerplate — the
    * corpus-level cousin of q144's per-doc ratios.
    *
    * The regression inputs are (ln i, ln cᵢ) pairs from integer
    * ranks/counts, so both engines see IDENTICAL doubles; sums run
    * over ≤ topK terms and surface at 6dp (the q74/q75 ln contract).
    * The top-K counts come from [[graft.functions.TopKAgg]] — a
    * per-partition-heap partial aggregate (only K doubles per
    * partition shuffle), NOT a row_number window over the full
    * vocabulary, whose unpartitioned sort is a one-task funnel at a
    * 100 TB vocabulary. The
    * regression inputs are identical: rank i's contribution is
    * (ln i, ln cᵢ) and equal boundary counts contribute equal cᵢ, so
    * WHICH tied term holds rank K never changes a sum. Counts are
    * exact in double up to 2⁵³ (a single term above that count is
    * 9e15 tokens — past any corpus). */
  val ZipfTopK = 100

  def zipfFit(docs: DataFrame, topK: Int): DataFrame = {
    val freq = docs.select(explode(split(col("s"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val top = freq.agg(graft.functions.TopKAgg.topk(
      col("cnt").cast("double"), topK).as("cs"))
    val pts = top.select(posexplode(col("cs")).as(Seq("p", "c")))
      .select(log(col("p").cast("double") + 1d).as("u"),
        log(col("c")).as("v"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum(col("u")).as("su"), sum(col("v")).as("sv"),
      sum(col("u") * col("u")).as("suu"),
      sum(col("u") * col("v")).as("suv"),
      sum(col("v") * col("v")).as("svv"))
    val cov = m("n") * m("suv") - m("su") * m("sv")
    val varU = m("n") * m("suu") - m("su") * m("su")
    val varV = m("n") * m("svv") - m("sv") * m("sv")
    m.select(col("n").as("n_terms"),
        round(cov / varU, 6).as("slope"),
        round((m("sv") - cov / varU * m("su")) / m("n"), 6).as("intercept"),
        round(cov * cov / (varU * varV), 6).as("r2"))
  }

  def q145ZipfFit(spark: SparkSession, dir: String): DataFrame =
    zipfFit(TextOps.docs(spark, dir), ZipfTopK)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q74_tfidf_terms" -> (q74TfidfTerms _),
    "q75_unigram_logprob" -> (q75UnigramLogprob _),
    "q114_bm25" -> (q114Bm25 _),
    "q120_bigram_nll" -> (q120BigramNll _),
    "q190_kneser_ney" -> (q190KneserNey _),
    "q129_bpe_merges" -> (q129BpeMerges _),
    "q168_bpe_encode" -> (q168BpeEncode _),
    "q134_tfidf_cosine_knn" -> (q134TfidfCosineKnn _),
    "q144_lexical_diversity" -> (q144LexicalDiversity _),
    "q145_zipf_fit" -> (q145ZipfFit _),
  )

  /** Unrolled BPE steps: p$t counts pairs over v${t-1}, b$t picks the
    * argmax rule, v$t applies the literal replace. The positional
    * enumeration, the (cnt, lhs, rhs) order, and the `|a||b|` →
    * `|ab|` replace are character-for-character the engine's
    * semantics. */
  private def bpeSql(k: Int): String = {
    val steps = (1 to k).map { t =>
      s"""p$t AS (
         |  SELECT ws[CAST(i AS INT)] AS lhs, ws[CAST(i AS INT) + 1] AS rhs,
         |         CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(trim(sym, '|'), '||') AS ws
         |        FROM v${t - 1}) t,
         |       unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS u(i)
         |  GROUP BY 1, 2),
         |b$t AS (
         |  SELECT CAST($t AS BIGINT) AS step, lhs, rhs, cnt FROM p$t
         |  ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
         |v$t AS (
         |  SELECT v.freq,
         |         replace(v.sym, '|' || b.lhs || '||' || b.rhs || '|',
         |                 '|' || b.lhs || b.rhs || '|') AS sym
         |  FROM v${t - 1} v CROSS JOIN b$t b)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k).map(t => s"SELECT * FROM b$t").mkString(" UNION ALL ")
    s"""WITH ${TextOps.normCte},
       |wf AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(s, ' ')) AS word FROM n)
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$')
       |  GROUP BY 1),
       |v0 AS (SELECT freq, regexp_replace(word, '(.)', '|\\1|', 'g') AS sym
       |       FROM wf),
       |$steps
       |SELECT step, lhs, rhs, lhs || rhs AS merged, cnt
       |FROM ($union) ORDER BY step""".stripMargin
  }

  /** q168's oracle: the q129 training recursion with the word carried
    * through each merge step, then the per-document costing join. */
  private def bpeEncodeSql(k: Int): String = {
    val steps = (1 to k).map { t =>
      s"""p$t AS (
         |  SELECT ws[CAST(i AS INT)] AS lhs, ws[CAST(i AS INT) + 1] AS rhs,
         |         CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(trim(sym, '|'), '||') AS ws
         |        FROM v${t - 1}) t,
         |       unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS u(i)
         |  GROUP BY 1, 2),
         |b$t AS (
         |  SELECT lhs, rhs FROM p$t
         |  ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
         |v$t AS (
         |  SELECT v.word, v.freq,
         |         replace(v.sym, '|' || b.lhs || '||' || b.rhs || '|',
         |                 '|' || b.lhs || b.rhs || '|') AS sym
         |  FROM v${t - 1} v CROSS JOIN b$t b)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${TextOps.normCte},
       |wf AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(s, ' ')) AS word FROM n)
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$')
       |  GROUP BY 1),
       |v0 AS (SELECT word, freq,
       |              regexp_replace(word, '(.)', '|\\1|', 'g') AS sym
       |       FROM wf),
       |$steps,
       |enc AS (
       |  SELECT word,
       |         CAST(len(string_split(trim(sym, '|'), '||')) AS BIGINT) AS n_sym,
       |         CAST(length(word) AS BIGINT) AS n_chars
       |  FROM v$k),
       |wu AS (SELECT doc_id, unnest(string_split(s, ' ')) AS word FROM n),
       |j AS (
       |  SELECT w.doc_id,
       |         CASE WHEN regexp_matches(w.word, '^[a-z0-9]+$$')
       |              THEN 1 ELSE 0 END AS ok,
       |         e.n_sym, e.n_chars
       |  FROM wu w LEFT JOIN enc e USING (word))
       |SELECT doc_id,
       |       CAST(sum(ok) AS BIGINT) AS n_words,
       |       CAST(coalesce(sum(CASE WHEN ok = 1 THEN n_sym END), 0)
       |            AS BIGINT) AS n_tokens,
       |       CAST(sum(1 - ok) AS BIGINT) AS n_skipped,
       |       CASE WHEN coalesce(sum(CASE WHEN ok = 1 THEN n_sym END), 0) > 0
       |         THEN round(CAST(sum(CASE WHEN ok = 1 THEN n_chars END)
       |                         AS DOUBLE) /
       |                    sum(CASE WHEN ok = 1 THEN n_sym END), 6)
       |       END AS chars_per_token
       |FROM j GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q168_bpe_encode" -> bpeEncodeSql(BpeMerges),
    "q74_tfidf_terms" ->
      s"""WITH ${TextOps.normCte},
         |wu AS (SELECT doc_id, unnest(string_split(s, ' ')) AS word FROM n),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |       FROM wu GROUP BY 1, 2),
         |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df
         |       FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM n),
         |sc AS (
         |  SELECT t.doc_id, t.word, t.tf, d.df,
         |         round(t.tf * ln(CAST(nd.n_docs AS DOUBLE) / d.df), 6) AS score
         |  FROM tf t JOIN df d USING (word), nd),
         |r AS (
         |  SELECT doc_id, word, tf, df, score,
         |         CAST(row_number() OVER (PARTITION BY doc_id
         |             ORDER BY score DESC, word ASC) AS BIGINT) AS rank
         |  FROM sc)
         |SELECT doc_id, rank, word, tf, df, score
         |FROM r WHERE rank <= $TfidfTopK
         |ORDER BY doc_id, rank""".stripMargin,

    "q75_unigram_logprob" ->
      s"""WITH ${TextOps.normCte},
         |wu AS (SELECT doc_id, unnest(string_split(s, ' ')) AS word FROM n),
         |freq AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |         FROM wu GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq)
         |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       round(avg(ln(CAST(tot.total AS DOUBLE) / f.cnt)), 6) AS avg_nll
         |FROM wu w JOIN freq f USING (word), tot
         |GROUP BY w.doc_id
         |ORDER BY w.doc_id""".stripMargin,

    "q114_bm25" ->
      s"""WITH ${TextOps.normCte},
         |wu AS (SELECT doc_id, unnest(string_split(s, ' ')) AS word FROM n),
         |dl AS (SELECT doc_id,
         |              CAST(len(string_split(s, ' ')) AS BIGINT) AS dl
         |       FROM n),
         |sc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |       FROM dl),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |       FROM wu
         |       WHERE word IN (${Bm25Terms.map("'" + _ + "'").mkString(", ")})
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
         |         JOIN dl l ON l.doc_id = t.doc_id)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |       CAST(sum(contrib) AS DOUBLE) AS score
         |FROM term GROUP BY 1
         |ORDER BY score DESC, doc_id ASC
         |LIMIT $Bm25TopK""".stripMargin,

    "q190_kneser_ney" ->
      s"""WITH ${TextOps.normCte},
         |w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
         |pos AS (SELECT doc_id, ws,
         |               unnest(generate_series(1, len(ws) - 1)) AS i
         |        FROM w WHERE len(ws) >= 2),
         |bg AS (SELECT doc_id, ws[CAST(i AS INT)] AS prev,
         |              ws[CAST(i AS INT) + 1] AS cur FROM pos),
         |bc AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS cb
         |       FROM bg GROUP BY 1, 2),
         |ctx AS (SELECT prev, CAST(sum(cb) AS BIGINT) AS cx,
         |               CAST(count(*) AS BIGINT) AS n1u
         |        FROM bc GROUP BY 1),
         |cont AS (SELECT cur, CAST(count(*) AS BIGINT) AS ncw
         |         FROM bc GROUP BY 1),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bc),
         |sc AS (SELECT g.doc_id,
         |         (CAST(c.cb AS DOUBLE) - $KnDiscount) / x.cx
         |           + ($KnDiscount * x.n1u / x.cx)
         |             * (CAST(k.ncw AS DOUBLE) / tt.t) AS p
         |       FROM bg g
         |       JOIN bc c ON c.prev = g.prev AND c.cur = g.cur
         |       JOIN ctx x ON x.prev = g.prev
         |       JOIN cont k ON k.cur = g.cur, tt),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         round(CAST(sum(CAST(round(-ln(p), 12) AS DECIMAL(25,12)))
         |             AS DOUBLE) / count(*), 6) AS avg_kn_nll
         |       FROM sc GROUP BY 1)
         |SELECT doc_id, n_bigrams, avg_kn_nll,
         |       round(exp(avg_kn_nll), 4) AS ppl
         |FROM ag ORDER BY 1""".stripMargin,

    "q120_bigram_nll" ->
      s"""WITH ${TextOps.normCte},
         |w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
         |wu AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |uni AS (SELECT word, CAST(count(*) AS BIGINT) AS cu
         |        FROM wu GROUP BY 1),
         |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
         |pos AS (SELECT doc_id, ws,
         |               unnest(generate_series(1, len(ws) - 1)) AS i
         |        FROM w WHERE len(ws) >= 2),
         |bg AS (SELECT doc_id, ws[CAST(i AS INT)] AS prev,
         |              ws[CAST(i AS INT) + 1] AS cur FROM pos),
         |bc AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS cb
         |       FROM bg GROUP BY 1, 2)
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(avg(ln(CAST(u.cu + vv.v AS DOUBLE)
         |                    / (c.cb + 1.0))), 6) AS avg_nll
         |FROM bg g
         |JOIN bc c ON c.prev = g.prev AND c.cur = g.cur
         |JOIN uni u ON u.word = g.prev, vv
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q129_bpe_merges" -> bpeSql(BpeMerges),

    "q134_tfidf_cosine_knn" ->
      s"""WITH ${TextOps.normCte},
         |wu AS (SELECT doc_id, unnest(string_split(s, ' ')) AS word FROM n),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |       FROM wu GROUP BY 1, 2),
         |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df
         |       FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM n),
         |w AS (
         |  SELECT t.doc_id, t.word,
         |         round(t.tf * ln(CAST(nd.n_docs AS DOUBLE) / d.df), 6) AS wt
         |  FROM tf t JOIN df d USING (word), nd
         |  WHERE d.df <= nd.n_docs * $CosDfFracMax
         |    AND round(t.tf * ln(CAST(nd.n_docs AS DOUBLE) / d.df), 6)
         |        <> 0),
         |nrm AS (
         |  SELECT doc_id,
         |         sqrt(CAST(sum(CAST(round(wt * wt, 6) AS DECIMAL(18,6)))
         |                   AS DOUBLE)) AS nrm
         |  FROM w GROUP BY 1),
         |dots AS (
         |  SELECT q.doc_id AS qd, c.doc_id AS db,
         |         sum(CAST(round(q.wt * c.wt, 6) AS DECIMAL(18,6))) AS dot
         |  FROM w q JOIN w c ON q.word = c.word AND q.doc_id <> c.doc_id
         |  WHERE q.doc_id < $CosKnnQueries
         |  GROUP BY 1, 2),
         |sims AS (
         |  SELECT d.qd, d.db,
         |         round(CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS sim
         |  FROM dots d
         |  JOIN nrm na ON na.doc_id = d.qd
         |  JOIN nrm nb ON nb.doc_id = d.db)
         |SELECT qd AS doc_id, rank, db AS nbr, sim FROM (
         |  SELECT qd, db, sim,
         |         CAST(row_number() OVER (PARTITION BY qd
         |             ORDER BY sim DESC, db ASC) AS BIGINT) AS rank
         |  FROM sims) z
         |WHERE rank <= $CosKnnK
         |ORDER BY doc_id, rank""".stripMargin,

    "q144_lexical_diversity" ->
      s"""WITH ${TextOps.normCte},
         |wu AS (SELECT doc_id, unnest(string_split(s, ' ')) AS word FROM n),
         |wc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
         |       FROM wu GROUP BY 1, 2),
         |a AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |         CAST(count(*) AS BIGINT) AS n_types,
         |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_hapax
         |  FROM wc GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |       round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
         |       round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_ratio
         |FROM a ORDER BY doc_id""".stripMargin,

    "q145_zipf_fit" ->
      s"""WITH ${TextOps.normCte},
         |wu AS (SELECT unnest(string_split(s, ' ')) AS word FROM n),
         |freq AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |         FROM wu GROUP BY 1),
         |rk AS (SELECT cnt,
         |              CAST(row_number() OVER (ORDER BY cnt DESC, word ASC)
         |                   AS BIGINT) AS rank
         |       FROM freq),
         |pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS u,
         |               ln(CAST(cnt AS DOUBLE)) AS v
         |        FROM rk WHERE rank <= $ZipfTopK),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             sum(u) AS su, sum(v) AS sv,
         |             sum(u * u) AS suu, sum(u * v) AS suv,
         |             sum(v * v) AS svv
         |      FROM pts)
         |SELECT n AS n_terms,
         |       round((n * suv - su * sv) / (n * suu - su * su), 6) AS slope,
         |       round((sv - (n * suv - su * sv) / (n * suu - su * su) * su)
         |             / n, 6) AS intercept,
         |       round((n * suv - su * sv) * (n * suv - su * sv)
         |             / ((n * suu - su * su) * (n * svv - sv * sv)), 6) AS r2
         |FROM m""".stripMargin,
  )
}
