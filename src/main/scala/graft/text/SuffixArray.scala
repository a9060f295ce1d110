package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.chaining._
import graft.{Checkpoints, Superstep}

/** Distributed suffix-array construction by prefix doubling
  * (Manber & Myers 1990; the MapReduce adaptation is folklore —
  * each round sorts fixed-size (rank, rank@+h) pairs, never strings),
  * plus the two capabilities the index exists to serve: substring
  * POSITIONAL SEARCH (q240) and duplicate-span extraction at a
  * length threshold (q242) — with adjacent-rank LCPs computed from
  * the retained doubling rank tables (binary lifting, the
  * distributed stand-in for Kasai 2001), never from materialized
  * suffix strings.
  *
  * WHY this operator: L48's duplicate-span detection (Lee et al.
  * 2022) is the window-gram VIEW of substring dedup; the suffix
  * array is the INDEX the paper actually builds — the structure that
  * answers "longest repeated substring", arbitrary-length substring
  * search, and exact-match positional queries, none of which a
  * fixed-k gram relation can. At 100 TB the defining constraint is
  * that suffix COMPARISON by string is unbounded (two suffixes can
  * share megabytes of prefix); prefix doubling replaces every string
  * comparison with a pair of fixed-width integer ranks, doubling the
  * compared prefix each round — ⌈log₂ maxlen⌉ rounds of sort + join
  * over rows of constant width.
  *
  * Scale decisions:
  *  - Ordinal assignment (dense rank over distinct keys) is
  *    sort + `zipWithIndex`, NOT a global `Window.orderBy` — an
  *    un-partitioned window funnels the relation through ONE task,
  *    the exact anti-pattern the grouped Mann–Whitney rank (A41)
  *    exists to avoid. `zipWithIndex` is the distributed contiguous-
  *    ordinal primitive the DataFrame API lacks (one extra job to
  *    count per-partition sizes; indices follow the range-sorted
  *    partition order, so the result is the global sorted position —
  *    deterministic because the keyed rows are distinct).
  *  - The doubling rounds run on [[graft.Superstep]], the kernel
  *    shared with CC/Louvain/k-core: each round's rank relation is
  *    lineage-cut and the superseded round freed. When the caller
  *    needs LCPs, the per-round tables are RETAINED instead (log₂ maxlen
  *    relations of constant-width rows — the standard sparse-table
  *    space trade), freed with the scope that reads the index.
  *  - Early exit when every suffix's rank is already unique (the
  *    common case long before h reaches maxlen on natural text).
  *
  * The oracled queries bound the corpus (doc_id < [[SaDocCap]],
  * suffixes of the first [[SaMaxLen]] normalized chars) because the
  * DuckDB mirror materializes every suffix STRING for its ORDER BY —
  * Σ len²/2 chars, quadratic in document length. The bound caps the
  * oracle, not the Spark path, which never materializes a suffix.
  */
object SuffixArray {

  /** Oracle-universe bounds (see scaladoc above). */
  val SaDocCap = 100
  val SaMaxLen = 256

  /** Base doubling horizon: round
    * 0 ranks every suffix by its first [[BaseH]] chars — a fixed-width
    * substring, the same constant-width-sort cost class as the
    * (rank, rank) pair rounds — so the ladder starts at h = [[BaseH]]
    * instead of 1, removing log₂([[BaseH]]) sort+join rounds from the
    * build AND the same number of two-join rounds from the LCP
    * lifting. The sub-[[BaseH]] LCP residual (< [[BaseH]] by the
    * ladder's decomposition argument) is resolved by ONE bounded
    * [[BaseH]]-char compare against the retained round-0 prefix
    * column — constant width per row, never a suffix string. */
  val BaseH = 8

  /** A built suffix-array index: the array itself, (when retained)
    * the per-round rank tables (horizon h →
    * (doc_id, pos, rank): equal rank ⟺ the two suffixes'
    * first-h-char truncations are identical strings), and the round-0
    * bounded prefix relation (doc_id, pos, pref: the suffix's first
    * [[BaseH]] chars) that resolves sub-[[BaseH]] LCP residuals. */
  private[graft] case class SaIndex(sa: DataFrame,
      rankTables: Seq[(Long, DataFrame)], prefs: DataFrame)

  /** Suffix array of every suffix of `docs` (columns: doc_id LONG,
    * s STRING; s is indexed as-is — truncate upstream if the
    * comparison horizon must be bounded). Output: (sa_rank, doc_id,
    * pos), pos 1-based, ordered lexicographically by suffix with
    * (doc_id, pos) breaking ties between byte-identical suffixes. */
  def suffixArray(docs: DataFrame): DataFrame =
    buildIndex(docs, retainTables = false).sa

  /** Core prefix-doubling build. With `retainTables` the per-round
    * rank relations and the prefix relation stay cut for
    * [[adjacentLcps]], as long as the caller's scope reads the index;
    * without, each superseded round is freed as the next one is cut. */
  private[graft] def buildIndex(docs: DataFrame,
      retainTables: Boolean): SaIndex = Checkpoints.scoped {
    val base = docs.select(col("doc_id"), col("s"))
      .filter(col("s").isNotNull && length(col("s")) >= 1)
    val maxLen = base.agg(coalesce(max(length(col("s"))), lit(0)))
      .collect()(0).getInt(0).toLong // scalar: the doubling horizon
    // (doc_id, pos, pref): each suffix's bounded BaseH-char window —
    // constant width per row, never the suffix. Cut: feeds the
    // distinct-key ordinal AND the rank join-back (and, retained, the
    // LCP residual refine).
    val prefs = Checkpoints.cut(graft.Partitioning.spread(base)
      .select(col("doc_id"), col("s"),
        explode(sequence(lit(1), length(col("s")))).as("posi"))
      .select(col("doc_id"), col("posi").cast("long").as("pos"),
        expr(s"substring(s, posi, $BaseH)").as("pref")))
    val total = Checkpoints.rowCount(prefs)
    def more(distinctRanks: Long, h: Long): Long =
      if (h < maxLen && distinctRanks < total) 1L else 0L
    def keep(h: Long, ranks: DataFrame): List[(Long, DataFrame)] =
      if (retainTables) List((h, ranks)) else Nil
    // state: (ranks, retained tables, distinct rank count, exclusive
    // upper bound on the rank VALUES — the composite-round guard
    // below, h); one round per doubling of h below maxLen
    val doublings = Iterator.iterate(BaseH.toLong)(_ * 2).takeWhile(_ < maxLen).size
    val (ranks, tables) = Superstep.loop(doublings) { r =>
      // round 0: rank of the BaseH-char truncation (string sort order
      // of the truncations == suffix order truncated at BaseH — shorter
      // equal-prefix truncations sort first, exactly the suffix rule).
      // All ordinal assignment is Ordinals.denseBy — Tungsten
      // range-sort + broadcast offsets, no .rdd row-conversion seam
      // (BENCH_SCALING Part 19), and the meta form's exact count makes
      // the convergence scalar free.
      val (r0, nPref) = graft.Ordinals.denseByWithMeta(
        prefs.select("pref").distinct(), Seq(col("pref")), "rank", 0L)
      val ranks = r.cut(prefs.join(r0, "pref")
        .select(col("doc_id"), col("pos"), col("rank")))
      val h = BaseH.toLong
      ((ranks, keep(h, ranks), nPref, nPref, h), more(nPref, h))
    } { case ((ranks, tables, distinctRanks, rankBound, h), r) =>
      val right = ranks.select(col("doc_id").as("d2"),
        (col("pos") - h).as("p2"), col("rank").as("rank2"))
      val paired = ranks.join(right,
          col("doc_id") === col("d2") && col("pos") === col("p2"), "left")
        .select(col("doc_id"), col("pos"), col("rank").as("k1"),
          coalesce(col("rank2"), lit(-1L)).as("k2"))
      // ranks only need to be order-isomorphic integers, not dense
      // (every consumer compares or sorts them; the LCP lifting tests
      // equality): while the value range fits, the (k1, k2) pair
      // re-rank is the ARITHMETIC composite k1·(B+1) + k2 + 1 — a
      // pure projection fused into the round's checkpoint, with no
      // distinct + range-sort + join-back. The
      // composite's range squares each round; once it would leave
      // 63 bits (B ≥ 2³¹), one dense re-rank renormalizes it to the
      // distinct-key count and the convergence scalar refreshes.
      val (next, nextDistinct, nextBound) = if (rankBound < (1L << 31)) {
        // values in [0, (B−1)(B+1)+B] ⊂ [0, (B+1)²) — still positive,
        // order- and equality-isomorphic to the (k1, k2) pairs.
        // distinctRanks is stale (a valid lower bound — refinement
        // only splits classes), so convergence is re-tested at the
        // next dense round; the h < maxLen bound caps the loop.
        (r.cut(paired.select(col("doc_id"), col("pos"),
            (col("k1") * (rankBound + 1) + col("k2") + 1L).as("rank"))),
          distinctRanks, (rankBound + 1) * (rankBound + 1))
      } else {
        val (rk, nKeys) = graft.Ordinals.denseByWithMeta(
          paired.select("k1", "k2").distinct(),
          Seq(col("k1"), col("k2")), "nrank", 0L)
        // |distinct keys| IS next's distinct count
        (r.cut(paired.join(rk, Seq("k1", "k2"))
          .select(col("doc_id"), col("pos"), col("nrank").as("rank"))), nKeys, nKeys)
      }
      val h2 = h * 2
      ((next, keep(h2, next) ++ tables, nextDistinct, nextBound, h2),
        more(nextDistinct, h2))
    }(s => (s._1, s._2)).out
    val sa = graft.Ordinals.denseBy(ranks,
        Seq(col("rank"), col("doc_id"), col("pos")), "sa_rank", 1L)
      .select("sa_rank", "doc_id", "pos")
      .sort("sa_rank")
    SaIndex(sa, tables.reverse, if (retainTables) prefs else null)
  }

  /** LCP of every ADJACENT suffix-array pair, from the retained rank
    * tables by binary lifting — the distributed replacement for the
    * inherently sequential Kasai (2001) scan, and for materializing
    * suffix STRINGS (the previous implementation's caveat: re-cutting
    * a [[SaMaxLen]]-char string per SA row is linear here but
    * corpus-length-quadratic once SaMaxLen grows with the corpus).
    *
    * Per table horizon h (descending): one equi-join per pair side on
    * (doc_id, pos + lcp-so-far); equal ranks extend the lcp by
    * min(h, chars remaining on either side) — the remaining-length
    * cap handles byte-identical short suffixes, whose ranks agree at
    * every horizon. ⌈log₂ maxlen⌉ rounds × 2 joins over (n−1)
    * constant-width rows; each round is lineage-cut and the
    * superseded pair relation freed.
    *
    * `lens`: (doc_id, len) — each doc's indexed length.
    * Output: (sa_rank, doc1, pos1, doc2, pos2, lcp) where sa_rank is
    * the FIRST pair element's rank and (doc2, pos2) is rank+1's. */
  private[graft] def adjacentLcps(idx: SaIndex, lens: DataFrame): DataFrame = {
    require(idx.rankTables.nonEmpty,
      "adjacentLcps needs buildIndex(retainTables = true)")
    val a = idx.sa.select(col("sa_rank"),
      col("doc_id").as("doc1"), col("pos").as("pos1"))
    val b = idx.sa.select((col("sa_rank") - 1).as("r2"),
      col("doc_id").as("doc2"), col("pos").as("pos2"))
    val pairs = a.join(b, col("sa_rank") === col("r2"))
      .join(lens.select(col("doc_id").as("ld1"), col("len").as("len1")),
        col("doc1") === col("ld1"))
      .join(lens.select(col("doc_id").as("ld2"), col("len").as("len2")),
        col("doc2") === col("ld2"))
      .select(col("sa_rank"), col("doc1"), col("pos1"), col("len1"),
        col("doc2"), col("pos2"), col("len2"), lit(0L).as("lcp"))
    val ladder = idx.rankTables.sortBy(-_._1)
    val cur = Superstep.iterate(pairs, ladder.length) { (cur, n) =>
      val (h, rt) = ladder(n - 1)
      val ra = rt.select(col("doc_id").as("da"), col("pos").as("pa"),
        col("rank").as("rka"))
      val rb = rt.select(col("doc_id").as("db"), col("pos").as("pb"),
        col("rank").as("rkb"))
      cur
        .join(ra, col("doc1") === col("da") &&
          (col("pos1") + col("lcp")) === col("pa"), "left")
        .join(rb, col("doc2") === col("db") &&
          (col("pos2") + col("lcp")) === col("pb"), "left")
        .withColumn("lcp",
          when(col("rka").isNotNull && col("rka") === col("rkb"),
            col("lcp") + least(lit(h),
              col("len1") - (col("pos1") + col("lcp")) + 1,
              col("len2") - (col("pos2") + col("lcp")) + 1))
            .otherwise(col("lcp")))
        .drop("da", "pa", "rka", "db", "pb", "rkb")
    }(Superstep.budgetOnly).out
    // residual < BaseH (the descending ladder decomposes any LCP as
    // Σ BaseH·2^k + r, r < BaseH): ONE bounded compare of the two
    // retained BaseH-char prefix windows at offset lcp — constant
    // width per pair, never a suffix string; a missing window (offset
    // past end-of-doc) means zero residual.
    val pa = idx.prefs.select(col("doc_id").as("da"), col("pos").as("pa"),
      col("pref").as("prefa"))
    val pb = idx.prefs.select(col("doc_id").as("db"), col("pos").as("pb"),
      col("pref").as("prefb"))
    cur
      .join(pa, col("doc1") === col("da") &&
        (col("pos1") + col("lcp")) === col("pa"), "left")
      .join(pb, col("doc2") === col("db") &&
        (col("pos2") + col("lcp")) === col("pb"), "left")
      .withColumn("lcp", col("lcp") +
        when(col("prefa").isNotNull && col("prefb").isNotNull,
          lcpCol(col("prefa"), col("prefb"))).otherwise(lit(0L)))
      .select("sa_rank", "doc1", "pos1", "doc2", "pos2", "lcp")
  }

  /** The bounded oracle universe shared by q236/q237/q240/q242. */
  private def boundedDocs(spark: SparkSession, dir: String): DataFrame =
    TextOps.docs(spark, dir)
      .filter(col("doc_id") < SaDocCap)
      .select(col("doc_id"), substring(col("s"), 1, SaMaxLen).as("s"))

  private def docLens(d: DataFrame): DataFrame =
    d.select(col("doc_id"), length(col("s")).cast("long").as("len"))

  // ---------------------------------------------------------------- q236
  /** q236: the suffix array of the bounded document universe
    * (normalized text, first [[SaMaxLen]] chars of docs with
    * doc_id < [[SaDocCap]]). */
  def q236SuffixArray(spark: SparkSession, dir: String): DataFrame =
    suffixArray(boundedDocs(spark, dir))

  // ---------------------------------------------------------------- q237
  /** Pairs reported by the repeated-substring query. */
  val LrsTopK = 10

  /** q237: longest repeated substrings — THE suffix-array deliverable
    * (Lee et al. 2022 §3 use exactly this index+LCP reading to find
    * dedup-worthy runs). A substring repeats iff two suffixes share a
    * prefix, and the longest shared prefix between ANY two suffixes is
    * realized by two suffixes ADJACENT in suffix-array order — so the
    * corpus-wide answer needs only the n−1 adjacent-rank LCPs, never a
    * pairwise comparison. LCPs come from [[adjacentLcps]] (rank-table
    * binary lifting — no suffix strings in the corpus-scale path);
    * only the [[LrsTopK]] report rows re-extract text.
    *
    * Output: top-[[LrsTopK]] adjacent pairs by LCP (ties broken by
    * sa_rank), with both occurrences' coordinates and the repeated
    * prefix itself. */
  /** Common-prefix length of two strings, built-ins only: zip the
    * char arrays with equality, take the position of the first
    * `false`; if none, the shorter length is the LCP (zip_with's null
    * padding past the shorter string never precedes a mismatch).
    * Retained as the bounded-width probe for specs and q241's witness
    * extension — the SA family's bulk LCPs use [[adjacentLcps]]. */
  private[graft] def lcpCol(a: Column, b: Column): Column = {
    val eq = zip_with(split(a, ""), split(b, ""), (x, y) => x === y)
    val firstFalse = array_position(eq, false)
    when(firstFalse === 0L, least(length(a), length(b)))
      .otherwise(firstFalse - 1).cast("long")
  }

  def q237LongestRepeatedSubstrings(spark: SparkSession,
      dir: String): DataFrame = {
    val d = boundedDocs(spark, dir).pipe(Checkpoints.cut)
    val idx = buildIndex(d, retainTables = true)
    val top = adjacentLcps(idx, docLens(d))
      .orderBy(col("lcp").desc, col("sa_rank").asc)
      .limit(LrsTopK)
    // only the LrsTopK report rows carry strings to the driver
    top.join(d.withColumnRenamed("doc_id", "sd"), col("doc1") === col("sd"))
      .select(col("sa_rank"), col("doc1").as("doc_id"),
        col("pos1").as("pos"), col("doc2").as("doc_id2"),
        col("pos2").as("pos2"), col("lcp"),
        expr("substring(s, cast(pos1 as int), cast(lcp as int))")
          .as("repeated"))
      .orderBy(col("lcp").desc, col("sa_rank").asc)
  }

  // ---------------------------------------------------------------- q240
  /** The bounded pattern list (q121-codebook-style parameter): fixed
    * literals a user of the search API would supply. Occurrences of
    * every pattern exist at each shipped SF. */
  val SearchPatterns = Seq("hash value", "row scan", "spark", "table table")

  /** Probe width — must cover the longest pattern; the SA rows carry
    * only this many chars, never the whole suffix. */
  val SearchPrefLen = 16

  /** q240: substring POSITIONAL SEARCH over the suffix array — every
    * corpus occurrence of each pattern, as (pattern, sa_rank, doc_id,
    * pos). The SA property doing the work: the suffixes starting with
    * a pattern form one CONTIGUOUS sa_rank interval (spec-pinned), so
    * a persisted index range-partitioned by sa_rank answers a point
    * probe touching only the interval's partitions — the 100 TB read
    * path, BUILT as [[writeSearchIndex]]/[[searchIndexProbe]]
    * (spec-pinned equal to this in-plan answer, partition pruning
    * asserted on the probe plan). Here the interval is materialized
    * by a bounded-width prefix compare: each SA row re-extracts only
    * [[SearchPrefLen]] chars (never the suffix), and the pattern list
    * is broadcast — one scan, zero shuffles beyond the SA build. */
  def q240SaSubstringSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    require(SearchPatterns.forall(_.length <= SearchPrefLen),
      s"probe width $SearchPrefLen must cover every pattern")
    val d = boundedDocs(spark, dir).pipe(Checkpoints.cut)
    val sa = suffixArray(d)
    val pref = sa.join(d.withColumnRenamed("doc_id", "sd"),
        col("doc_id") === col("sd"))
      .select(col("sa_rank"), col("doc_id"), col("pos"),
        expr(s"substring(s, cast(pos as int), $SearchPrefLen)").as("pref"))
    val pats = SearchPatterns.toDF("pattern")
    pref.join(broadcast(pats), col("pref").startsWith(col("pattern")))
      .select(col("pattern"), col("sa_rank"), col("doc_id"), col("pos"))
      .orderBy("pattern", "sa_rank")
  }

  // ---------------------------------------------- persisted search index
  /** Persist the suffix-array search index for point probes — the
    * read path q240's scaladoc promises, as a library entry:
    *
    *  - `<path>/sa/part=k/`: SA rows (sa_rank, doc_id, pos, pref)
    *    range-partitioned by sa_rank into `nParts` directory
    *    partitions, sorted within each. `pref` is the bounded
    *    [[SearchPrefLen]]-char probe column — the index never stores
    *    a suffix.
    *  - `<path>/bounds/`: one row per partition (part, min_pref,
    *    max_pref) — the fence-post table a probe binary-searches.
    *
    * Because sa_rank IS lexicographic suffix order, each partition
    * covers one contiguous prefix range, so a pattern's occurrence
    * interval intersects the partitions whose [min_pref, max_pref]
    * straddles it — O(interval/partition-size) directories read, the
    * rest pruned at planning time. At 100 TB this is the difference
    * between a full index scan per query and a few column chunks:
    * the writer is run once per corpus build (E7's idempotent-sink
    * discipline applies — same parquet overwrite semantics). */
  def writeSearchIndex(docs: DataFrame, path: String,
      nParts: Int = -1): Unit = {
    val spark = docs.sparkSession
    // default sizing is INPUT-DERIVED (output files in the 128 MB–1 GB
    // class, directories worth pruning): one index row
    // per corpus char at ~50 B/row (3 longs + the 16-char probe
    // prefix), ~64 MB per directory partition. A 17 MB suite corpus
    // gets one healthy file instead of 32 shards of a few KB; a
    // 100 TB corpus gets ~80k prunable directories. Pass nParts > 0
    // to pin the geometry (the pruning spec does, at 8).
    val parts =
      if (nParts > 0) nParts
      else {
        val chars = docs.agg(coalesce(sum(length(col("s"))), lit(0L)))
          .first().getLong(0)
        math.max(1L, math.min(1L << 20, chars * 50L / (64L << 20))).toInt
      }
    val sa = suffixArray(docs)
    val rows = sa.join(docs.withColumnRenamed("doc_id", "sd"),
        col("doc_id") === col("sd"))
      .select(col("sa_rank"), col("doc_id"), col("pos"),
        expr(s"substring(s, cast(pos as int), $SearchPrefLen)").as("pref"))
    rows.repartitionByRange(parts, col("sa_rank"))
      .sortWithinPartitions("sa_rank")
      .withColumn("part", spark_partition_id())
      .write.mode("overwrite").partitionBy("part").parquet(s"$path/sa")
    spark.read.parquet(s"$path/sa")
      .groupBy("part")
      .agg(min("pref").as("min_pref"), max("pref").as("max_pref"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/bounds")
  }

  /** Point probe against a [[writeSearchIndex]] index: every corpus
    * occurrence of `pattern` as (sa_rank, doc_id, pos), reading ONLY
    * the partitions whose bounds straddle the pattern's prefix
    * interval. The bounds table is `nParts` rows — collected to the
    * driver (bounded by construction, the q121-codebook class); the
    * partition selection becomes an `isin` on the directory-partition
    * column, i.e. partition PRUNING at planning time (spec-asserted:
    * the probe plan's PartitionFilters drop non-straddling
    * directories). Patterns longer than [[SearchPrefLen]] cannot be
    * answered by the stored prefix — rejected loudly. */
  def searchIndexProbe(spark: SparkSession, path: String,
      pattern: String): DataFrame = {
    require(pattern.nonEmpty && pattern.length <= SearchPrefLen,
      s"pattern must be 1..$SearchPrefLen chars (stored probe width)")
    // straddle test on the fence posts: a partition can contain a
    // suffix starting with `pattern` iff max_pref >= pattern AND the
    // partition's smallest prefix, TRUNCATED to the pattern's length,
    // is <= pattern. The truncated compare is encoding-order safe \u2014
    // the earlier `min_pref <= pattern + '\uFFFF'` upper bound was
    // not: Spark compares strings byte-wise in UTF-8, where
    // supplementary (astral) characters sort ABOVE U+FFFF, so a
    // partition whose min_pref was `pattern` + an astral char would
    // be pruned despite holding matches
    // Spark's substring counts CODE POINTS; pattern.length counts
    // UTF-16 units — they differ when the pattern itself holds
    // astral chars, so truncate by the code-point count
    val patCp = pattern.codePointCount(0, pattern.length)
    val parts = spark.read.parquet(s"$path/bounds")
      .filter(col("max_pref") >= pattern &&
        substring(col("min_pref"), 1, patCp) <= pattern)
      .select("part").collect().map(_.getInt(0))
    val sa = spark.read.parquet(s"$path/sa")
    val pruned =
      if (parts.isEmpty) sa.filter(lit(false))
      else sa.filter(col("part").isin(parts.toSeq: _*))
    pruned.filter(col("pref").startsWith(pattern))
      .select("sa_rank", "doc_id", "pos")
  }

  // ---------------------------------------------------------------- q246
  /** q246: the persisted search index's READ path as an oracled
    * query — the 100 TB story [[writeSearchIndex]]/[[searchIndexProbe]]
    * sell, with oracle evidence of its own (q240 oracles the in-plan
    * answer; the probe is otherwise spec-pinned only). Builds the index into a per-SF
    * scratch directory (E7's idempotent-overwrite sink discipline —
    * rebuilding is a no-op-equivalent), then answers every
    * [[SearchPatterns]] literal through the partition-pruned
    * directory read. The oracle is q240's interval answer VERBATIM:
    * the two paths must agree row-for-row, so a regression in the
    * index layout, the bounds fence-posts, the straddle pruning, or
    * the probe filter hash-mismatches. */
  def q246SaIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val d = boundedDocs(spark, dir).pipe(Checkpoints.cut)
    // scratch path keyed by the SF dir: hermetic per dataset, stable
    // across reruns (the writer overwrites idempotently)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_sa_index_$key").getAbsolutePath
    writeSearchIndex(d, path)
    SearchPatterns.map { p =>
      searchIndexProbe(spark, path, p).withColumn("pattern", lit(p))
    }.reduce(_.unionByName(_))
      .select("pattern", "sa_rank", "doc_id", "pos")
      .orderBy("pattern", "sa_rank")
  }

  // ---------------------------------------------------------------- q242
  /** Span threshold for the oracled query. 20 (not q164's 40): the
    * bounded SA universe (first [[SaDocCap]] docs, [[SaMaxLen]] chars)
    * holds no 40-char repeats at the larger SFs, and a 0-row query
    * gates nothing — the SA path is threshold-generic, and the
    * spec pins SA == gram spans at BOTH 20 and 40 on planted
    * fixtures. */
  val SaSpanTau = 20

  /** q242: ALL duplicate spans at threshold [[SaSpanTau]] from the
    * suffix array — the full Lee et al. 2022 deliverable (q237 reports
    * the top-[[LrsTopK]]; this feeds the L54 scrub). A position is
    * inside a corpus-repeated run of ≥ τ chars iff its suffix shares a
    * ≥ τ prefix with an SA-ADJACENT suffix (suffixes sharing a τ-prefix
    * form a contiguous SA interval, so every member touches a
    * qualifying adjacent pair). Endpoints of adjacent pairs with
    * lcp ≥ τ are therefore EXACTLY the duplicated positions; the
    * shared gaps-and-islands merge ([[SpanOps.mergeSpans]]) fuses them
    * into maximal spans — same output contract as q164, derived from
    * the index instead of the gram relation. */
  def q242SaDuplicateSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = boundedDocs(spark, dir).pipe(Checkpoints.cut)
    saDuplicateSpans(d, SaSpanTau)
  }

  /** SA-derived duplicate spans over any (doc_id, s) relation. */
  private[graft] def saDuplicateSpans(d: DataFrame, tau: Int): DataFrame = {
    val idx = buildIndex(d, retainTables = true)
    val qual = adjacentLcps(idx, docLens(d)).filter(col("lcp") >= tau)
    val dupPos = qual.select(col("doc1").as("doc_id"), col("pos1").as("pos"))
      .unionByName(qual.select(col("doc2").as("doc_id"),
        col("pos2").as("pos")))
      .distinct()
    SpanOps.mergeSpans(dupPos, tau)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q236_suffix_array" -> (q236SuffixArray _),
    "q237_longest_repeated_substrings" -> (q237LongestRepeatedSubstrings _),
    "q240_sa_substring_search" -> (q240SaSubstringSearch _),
    "q242_sa_duplicate_spans" -> (q242SaDuplicateSpans _),
    "q246_sa_index_probe" -> (q246SaIndexProbe _),
  )

  /** Shared oracle CTE chain: the bounded universe and its ranked
    * suffix relation. */
  private def saCtes: String =
    s"""${TextOps.normCte},
       |b AS (SELECT doc_id, substr(s, 1, $SaMaxLen) AS s FROM n
       |      WHERE doc_id < $SaDocCap AND length(s) >= 1),
       |ex AS (SELECT doc_id, s,
       |              unnest(generate_series(1, length(s))) AS pos
       |       FROM b),
       |suf AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |               substr(s, pos) AS suffix
       |        FROM ex),
       |sa AS (SELECT CAST(row_number() OVER (ORDER BY suffix, doc_id, pos)
       |              AS BIGINT) AS sa_rank,
       |              doc_id, pos, suffix
       |       FROM suf)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q236_suffix_array" ->
      s"""WITH $saCtes
         |SELECT sa_rank, doc_id, pos FROM sa ORDER BY sa_rank""".stripMargin,

    "q237_longest_repeated_substrings" ->
      s"""WITH $saCtes,
         |adj AS (SELECT a.sa_rank, a.doc_id, a.pos,
         |               b.doc_id AS doc_id2, b.pos AS pos2,
         |               a.suffix AS s1, b.suffix AS s2
         |        FROM sa a JOIN sa b ON b.sa_rank = a.sa_rank + 1),
         |lj AS (SELECT sa_rank, doc_id, pos, doc_id2, pos2, s1, s2,
         |              unnest(generate_series(
         |                1, LEAST(length(s1), length(s2)))) AS j
         |       FROM adj),
         |-- prefix equality is monotone in j, so max matching j = LCP
         |l AS (SELECT sa_rank, doc_id, pos, doc_id2, pos2,
         |             max(s1) AS s1,
         |             CAST(max(CASE WHEN substr(s1, 1, CAST(j AS INT)) =
         |                               substr(s2, 1, CAST(j AS INT))
         |                          THEN j ELSE 0 END) AS BIGINT) AS lcp
         |      FROM lj GROUP BY 1, 2, 3, 4, 5)
         |SELECT sa_rank, doc_id, pos, doc_id2, pos2, lcp,
         |       substr(s1, 1, CAST(lcp AS INT)) AS repeated
         |FROM l ORDER BY lcp DESC, sa_rank ASC LIMIT $LrsTopK""".stripMargin,

    "q240_sa_substring_search" ->
      s"""WITH $saCtes,
         |pats AS (SELECT * FROM (VALUES ${SearchPatterns
            .map(p => s"('$p')").mkString(", ")}) p(pattern))
         |SELECT p.pattern, sa.sa_rank, sa.doc_id, sa.pos
         |FROM sa JOIN pats p
         |  ON substr(sa.suffix, 1, length(p.pattern)) = p.pattern
         |ORDER BY p.pattern, sa.sa_rank""".stripMargin,

    // the persisted-index probe must return the exact same interval
    // answer as the in-plan search — one oracle, two engine paths
    "q246_sa_index_probe" ->
      s"""WITH $saCtes,
         |pats AS (SELECT * FROM (VALUES ${SearchPatterns
            .map(p => s"('$p')").mkString(", ")}) p(pattern))
         |SELECT p.pattern, sa.sa_rank, sa.doc_id, sa.pos
         |FROM sa JOIN pats p
         |  ON substr(sa.suffix, 1, length(p.pattern)) = p.pattern
         |ORDER BY p.pattern, sa.sa_rank""".stripMargin,

    "q242_sa_duplicate_spans" ->
      s"""WITH ${TextOps.normCte},
         |b AS (SELECT doc_id, substr(s, 1, $SaMaxLen) AS s FROM n
         |      WHERE doc_id < $SaDocCap AND length(s) >= 1),
         |${SpanOps.spanCtesOver("b", SaSpanTau)}
         |SELECT doc_id, span_start, span_end, span_len
         |FROM sp ORDER BY doc_id, span_start""".stripMargin,
  )
}
