package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Content-policy filtering — the C4-style blocklist pass plus
  * regex PII detection/redaction every training-data pipeline runs
  * before release: count blocklisted terms and PII spans (emails,
  * IPv4 addresses, phone numbers) per document, emit the redacted
  * text's fingerprint and the drop verdict.
  *
  * Scale shape: pure per-row regex projections — zero shuffle, fully
  * codegen'd (`regexp_count`/`regexp_replace` are built-in
  * expressions), the cheapest possible corpus pass. Patterns are
  * written in the common Java-regex/RE2 dialect (character classes,
  * `\b`, bounded quantifiers only) so the DuckDB oracle runs the
  * SAME patterns; the synthetic corpus contains no PII by
  * construction, so PII semantics are additionally pinned by a
  * fixture spec with planted emails/IPs/phones (PolicyOpsSpec).
  */
object PolicyOps {

  /** Blocklisted terms (stand-in policy list; the real deployment
    * swaps in its own). Matched as whole words on the normalized
    * lowercase text. */
  val Blocklist: Seq[String] = Seq("dup", "slow")

  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePat = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  private def blockPat: String = s"\\b(${Blocklist.mkString("|")})\\b"

  /** Per-document policy report over a (doc_id, s) frame: blocklist
    * hits, PII hits by kind, redacted-text fingerprint, verdict. */
  def policyReport(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(col("s"), EmailPat, "<email>"),
          Ipv4Pat, "<ip>"),
        PhonePat, "<phone>"),
      blockPat, "<term>")
    // NB: patterns go through the Column API only — an expr() SQL
    // literal would re-parse '\b' as a backspace escape
    docs.select(
      col("doc_id"),
      regexp_count(col("s"), lit(blockPat)).cast("long").as("n_blocked"),
      regexp_count(col("s"), lit(EmailPat)).cast("long").as("n_emails"),
      regexp_count(col("s"), lit(Ipv4Pat)).cast("long").as("n_ips"),
      regexp_count(col("s"), lit(PhonePat)).cast("long").as("n_phones"),
      md5(redacted).as("redacted_fp"))
      .withColumn("dropped",
        col("n_blocked") > 0 || col("n_emails") + col("n_ips") + col("n_phones") > 0)
  }

  def q73PolicyFilter(spark: SparkSession, dir: String): DataFrame =
    policyReport(TextOps.docs(spark, dir)).orderBy("doc_id")

  // ---------------------------------------------------------------- q220
  /** The md5-hex prefix class selecting the harness's deterministic
    * phrase blocklist (~25% of the corpus's bigram vocabulary). */
  val PhraseClassMax = "3"

  /** Hard bound on the harness-derived phrase list (the one collect
    * in this family whose natural size rides the corpus VOCABULARY,
    * not a model/k constant). 200k phrases ≈ the upper
    * end of measured-flat automaton sizes (ScalingSweep's wall curve
    * is flat 1k→50k; the dense-DFA tables at 200k are ~hundreds of
    * MB per executor — beyond that a deployment should feed its own
    * curated list into [[phraseScan]]/[[phraseRedact]] directly). */
  val MaxDerivedPhrases = 200000

  /** The harness's stand-in PHRASE blocklist: every corpus bigram
    * whose md5 hex digest starts with '0'–[[PhraseClassMax]], sorted.
    * A deployment feeds its own list straight into [[phraseScan]] —
    * the derivation here only manufactures a deterministic multi-word
    * list at every SF (the q203-membership / q121-codebook
    * convention). The collect is CAPPED: `limit(max + 1)` makes the
    * driver-side relation ≤ max+1 rows no matter how the corpus
    * grows (TakeOrdered — the executors never ship more), and the
    * require turns an over-budget vocabulary into a clear error
    * instead of a driver OOM. */
  private[graft] def derivedBlocklist(docs: DataFrame,
      maxPhrases: Int = MaxDerivedPhrases): Seq[String] = {
    val got = docs.withColumn("words", split(col("s"), " "))
      .filter(size(col("words")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(words) - 1), " +
          "i -> concat(words[i-1], ' ', words[i]))")).as("bigram"))
      .distinct()
      .filter(substring(md5(col("bigram")), 1, 1) <= PhraseClassMax)
      .orderBy("bigram")
      .limit(maxPhrases + 1)
      .collect().map(_.getString(0)).toSeq
    require(got.size <= maxPhrases,
      s"derived harness blocklist exceeds $maxPhrases phrases on this " +
        "corpus; feed a curated list into phraseScan/phraseRedact instead")
    got
  }

  /** Per-doc multi-phrase blocklist report: one
    * [[graft.functions.PhraseHits]] automaton pass per document —
    * O(len + matches) per doc regardless of blocklist size, zero
    * shuffle (vs the q73 regex alternation's O(len·terms) and the
    * explode+join's corpus-grain shuffle; wall A/B in
    * tools/ScalingSweep). */
  private[graft] def phraseScan(docs: DataFrame,
      phrases: Seq[String]): DataFrame =
    // empty blocklist → the all-zero report, matching the oracle's
    // LEFT JOIN semantics (PhraseHits requires a non-empty list; a
    // corpus whose derived list is empty must not crash)
    if (phrases.isEmpty)
      docs.select(col("doc_id"), lit(0L).as("n_hits"),
          lit(0L).as("n_terms"), lit(false).as("flagged"))
        .orderBy("doc_id")
    else docs.select(col("doc_id"),
        graft.functions.PhraseHits(col("s"), phrases).as("h"))
      .select(col("doc_id"), col("h.n_hits").as("n_hits"),
        col("h.n_terms").cast("long").as("n_terms"))
      .withColumn("flagged", col("n_hits") > 0)
      .orderBy("doc_id")

  /** q220: the large-blocklist policy scan over the corpus. */
  def q220BlocklistScan(spark: SparkSession, dir: String): DataFrame = {
    val d = TextOps.docs(spark, dir)
    phraseScan(d, derivedBlocklist(d))
  }

  // ---------------------------------------------------------------- q221
  /** Per-doc blocklist REDACTION (word-coverage semantics — see
    * [[graft.functions.PhraseRedact]]): every word covered by any
    * phrase occurrence becomes `<term>`; the report ships the
    * redacted text's fingerprint, q73's convention. Same one-pass /
    * zero-shuffle shape as [[phraseScan]]. */
  private[graft] def phraseRedact(docs: DataFrame,
      phrases: Seq[String]): DataFrame =
    // empty blocklist → nothing covered: the text passes through, so
    // the fingerprint is of the original (the oracle's coalesce)
    if (phrases.isEmpty)
      docs.select(col("doc_id"), lit(0L).as("n_covered"),
          md5(col("s")).as("redacted_fp"), lit(false).as("flagged"))
        .orderBy("doc_id")
    else docs.select(col("doc_id"),
        graft.functions.PhraseRedact(col("s"), phrases).as("r"))
      .select(col("doc_id"),
        col("r.n_covered").cast("long").as("n_covered"),
        md5(col("r.red")).as("redacted_fp"))
      .withColumn("flagged", col("n_covered") > 0)
      .orderBy("doc_id")

  /** q221: the large-blocklist redaction over the corpus. */
  def q221BlocklistRedact(spark: SparkSession, dir: String): DataFrame = {
    val d = TextOps.docs(spark, dir)
    phraseRedact(d, derivedBlocklist(d))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q73_policy_filter" -> (q73PolicyFilter _),
    "q220_blocklist_scan" -> (q220BlocklistScan _),
    "q221_blocklist_redact" -> (q221BlocklistRedact _),
  )

  val oracleSql: Map[String, String] = Map(
    "q73_policy_filter" -> {
      val bp = blockPat
      s"""WITH ${TextOps.normCte},
         |r AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(s, '$bp')) AS BIGINT) AS n_blocked,
         |    CAST(len(regexp_extract_all(s, '$EmailPat')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(s, '$Ipv4Pat')) AS BIGINT) AS n_ips,
         |    CAST(len(regexp_extract_all(s, '$PhonePat')) AS BIGINT) AS n_phones,
         |    md5(regexp_replace(
         |          regexp_replace(
         |            regexp_replace(
         |              regexp_replace(s, '$EmailPat', '<email>', 'g'),
         |              '$Ipv4Pat', '<ip>', 'g'),
         |            '$PhonePat', '<phone>', 'g'),
         |          '$bp', '<term>', 'g')) AS redacted_fp
         |  FROM n)
         |SELECT doc_id, n_blocked, n_emails, n_ips, n_phones, redacted_fp,
         |       (n_blocked > 0 OR n_emails + n_ips + n_phones > 0) AS dropped
         |FROM r ORDER BY doc_id""".stripMargin
    },
    // blocklist membership re-derived in SQL (md5-prefix class over
    // the bigram vocabulary); occurrences = adjacent word pairs, the
    // whole-word-aligned definition the automaton matches
    "q220_blocklist_scan" ->
      s"""WITH ${TextOps.normCte},
         |w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
         |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bigram
         |       FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0)))
         |              AS t(i)),
         |h AS (SELECT doc_id,
         |        CAST(count(*) AS BIGINT) AS n_hits,
         |        CAST(count(DISTINCT bigram) AS BIGINT) AS n_terms
         |      FROM bg WHERE substr(md5(bigram), 1, 1) <= '$PhraseClassMax'
         |      GROUP BY 1)
         |SELECT n.doc_id,
         |       coalesce(h.n_hits, 0) AS n_hits,
         |       coalesce(h.n_terms, 0) AS n_terms,
         |       coalesce(h.n_hits, 0) > 0 AS flagged
         |FROM n LEFT JOIN h USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // word-coverage redaction as a positions join: a word is covered
    // iff it is the left or right member of a blocklisted adjacent
    // pair; the redacted text is re-aggregated in word order
    "q221_blocklist_redact" ->
      s"""WITH ${TextOps.normCte},
         |w AS (SELECT doc_id, string_split(s, ' ') AS ws FROM n),
         |wp AS (SELECT doc_id, i, ws[i] AS word
         |       FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
         |bgp AS (SELECT doc_id, i
         |        FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0)))
         |               AS t(i)
         |        WHERE substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 1)
         |                <= '$PhraseClassMax'),
         |cov AS (SELECT doc_id, i FROM bgp
         |        UNION SELECT doc_id, i + 1 FROM bgp),
         |red AS (SELECT wp.doc_id,
         |          CAST(count(cov.i) AS BIGINT) AS n_covered,
         |          string_agg(
         |            CASE WHEN cov.i IS NOT NULL THEN '<term>'
         |                 ELSE wp.word END, ' ' ORDER BY wp.i) AS red
         |        FROM wp LEFT JOIN cov
         |          ON wp.doc_id = cov.doc_id AND wp.i = cov.i
         |        GROUP BY 1)
         |SELECT n.doc_id,
         |       coalesce(red.n_covered, 0) AS n_covered,
         |       md5(coalesce(red.red, n.s)) AS redacted_fp,
         |       coalesce(red.n_covered, 0) > 0 AS flagged
         |FROM n LEFT JOIN red USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
  )
}
