package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}

/** Character-level edit-distance near-duplicate detection — the
  * fuzzy-dedup family member the token-set operators (q21 Jaccard,
  * q22 MinHash, q23 SimHash, q99 PPJoin) cannot express: two
  * documents whose PREFIXES differ by a few character edits (typo
  * variants, re-encodings, truncated re-crawls) can have wildly
  * different token sets, and vice versa. Reference semantic: the
  * miner's idempotent upsert dedups exact keys only
  * (src/InsertDataHelper.ts:1-116); this is its tolerance-k
  * generalization, the RETSim-style character near-dup pass of an
  * LLM data pipeline.
  *
  * Algorithm: PassJoin-style segment blocking (Li, Deng, Feng 2011)
  * on the normalized 64-char prefix, exact Levenshtein verification.
  *
  * COMPLETENESS (the pigeonhole lemma): partition the prefix of A
  * into k+1 = 4 fixed 16-char segments. Any alignment of A against B
  * with ≤ k edits maps at least one segment of A onto an EQUAL
  * substring of B (k edits can touch at most k segments), and that
  * substring's start position is displaced by at most k (at most k
  * net insertions/deletions precede it). So emitting each doc's 4
  * fixed segments as "seg" keys and each doc's substrings at the
  * same positions ± k as "probe" keys, every true pair meets on at
  * least one (segment-index, 16-char string) key — candidate
  * generation is EXACT-complete for ED ≤ k, no recall knob.
  *
  * Scale shape: keys per doc are CONSTANT (4 seg + ≤ 4·(2k+1) probe
  * rows) — the key relation is linear in corpus size with no
  * per-pair term; but a FIXED segment length has the fixed-band LSH
  * failure mode: background collisions grow ~C(n,2)·p(L) (measured
  * 93× candidates at 10× on the scale corpus, BENCH_SCALING.md); the
  * join key is a short substring (at 100 TB, xxhash64(key) shrinks
  * the shuffle the q164 way); verification is one in-row
  * `levenshtein` over 64-char strings on candidates only
  * (O(64²) each; Spark's 3-arg threshold form computes the banded
  * O(64·k) variant but signals overflow as -1, which has no DuckDB
  * mirror — at 100 TB swap it in once the oracle gate is behind).
  * Boilerplate-heavy corpora (many docs sharing one prefix) make the
  * ANSWER itself quadratic in the group size — the q20 exact-dedup
  * pass runs first in a real pipeline precisely to drain those.
  */
object EditOps {

  /** Edit-distance threshold k: pairs with ED ≤ k on the prefix. */
  val EdK = 3

  /** Compared prefix length; right-padded with '#' so segments are
    * well-defined for short docs (the pad char never occurs in text,
    * so padding never manufactures cross-doc matches beyond docs
    * whose full short texts already near-match). */
  val PrefixLen = 64

  /** k+1 segments of PrefixLen/(k+1) chars — 4 × 16 here. */
  val NSeg: Int = EdK + 1
  val SegLen: Int = PrefixLen / NSeg

  /** (doc_id, s) — the normalized padded prefix relation. */
  private[graft] def prefixes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      rpad(substring(col("s"), 1, PrefixLen), PrefixLen, "#").as("s"))

  /** The candidate stage alone ((a, b) pairs meeting on a seg/probe
    * key, pre-verification) — extracted so tools/ScalingSweep can
    * count candidates at different scales without duplicating the
    * generation logic. `pre` is the [[prefixes]] relation. */
  private[graft] def candidatePairs(pre: DataFrame): DataFrame = {
    // seg side: the 4 fixed segments, each tagged with its index
    val seg = pre.select(col("doc_id"), explode(expr(
      s"""transform(sequence(1, $NSeg), i ->
         |  named_struct('i', i, 'k', substring(s, (i-1)*$SegLen + 1, $SegLen)))"""
        .stripMargin)).as("e"))
      .select(col("doc_id"), col("e.i").as("i"), col("e.k").as("k"))
    // probe side: substrings at the segment positions shifted by ±k
    // (clamped to the prefix), deduplicated per doc — a shift of 0
    // repeats the seg key, which is what lets two EQUAL prefixes meet
    val prb = pre.select(col("doc_id"), explode(expr(
      s"""flatten(transform(sequence(1, $NSeg), i ->
         |  transform(filter(sequence(-$EdK, $EdK),
         |      d -> (i-1)*$SegLen + 1 + d >= 1 AND
         |           (i-1)*$SegLen + 1 + d <= $PrefixLen - $SegLen + 1),
         |    d -> named_struct('i', i,
         |      'k', substring(s, (i-1)*$SegLen + 1 + d, $SegLen)))))"""
        .stripMargin)).as("e"))
      .select(col("doc_id"), col("e.i").as("i"), col("e.k").as("k"))
      .distinct()
    seg.as("a").join(prb.as("b"),
        col("a.i") === col("b.i") && col("a.k") === col("b.k") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b"))
      .distinct()
  }

  /** All pairs (a < b, ED(prefix_a, prefix_b) ≤ [[EdK]]) with their
    * exact distance. `docs` must carry (doc_id, s). */
  def editNeardupPairs(docs: DataFrame): DataFrame = {
    val pre = Checkpoints.cut(prefixes(docs))
    candidatePairs(pre)
      .join(pre.select(col("doc_id").as("a"), col("s").as("sa")), Seq("a"))
      .join(pre.select(col("doc_id").as("b"), col("s").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        levenshtein(col("sa"), col("sb")).cast("long").as("ed"))
      .filter(col("ed") <= EdK)
      .orderBy("a", "b")
  }

  /** q218: character near-dup pairs over the document corpus. */
  def q218EditNeardup(spark: SparkSession, dir: String): DataFrame =
    editNeardupPairs(TextOps.docs(spark, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q218_edit_neardup" -> (q218EditNeardup _),
  )

  val oracleSql: Map[String, String] = Map(
    // same segment/probe key relation, same Levenshtein verify
    "q218_edit_neardup" ->
      s"""WITH ${TextOps.normCte},
         |d AS (
         |  SELECT doc_id, rpad(substr(s, 1, $PrefixLen), $PrefixLen, '#') AS s
         |  FROM n),
         |seg AS (
         |  SELECT doc_id, i, substr(s, (i-1)*$SegLen + 1, $SegLen) AS k
         |  FROM d CROSS JOIN (SELECT unnest(generate_series(1, $NSeg)) AS i) t),
         |prb AS (
         |  SELECT DISTINCT doc_id, i,
         |         substr(s, (i-1)*$SegLen + 1 + dlt, $SegLen) AS k
         |  FROM d
         |  CROSS JOIN (SELECT unnest(generate_series(1, $NSeg)) AS i) t
         |  CROSS JOIN (SELECT unnest(generate_series(-$EdK, $EdK)) AS dlt) u
         |  WHERE (i-1)*$SegLen + 1 + dlt >= 1
         |    AND (i-1)*$SegLen + 1 + dlt <= $PrefixLen - $SegLen + 1),
         |cand AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a,
         |         greatest(a.doc_id, b.doc_id) AS b
         |  FROM seg a JOIN prb b ON a.i = b.i AND a.k = b.k
         |   AND a.doc_id <> b.doc_id)
         |SELECT c.a, c.b,
         |       CAST(levenshtein(da.s, db.s) AS BIGINT) AS ed
         |FROM cand c
         |JOIN d da ON da.doc_id = c.a
         |JOIN d db ON db.doc_id = c.b
         |WHERE levenshtein(da.s, db.s) <= $EdK
         |ORDER BY 1, 2""".stripMargin,
  )
}
