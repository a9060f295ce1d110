package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Checkpoints, Tables}

/** Exact set-similarity join (AllPairs/PPJoin prefix filtering) — the
  * deterministic complement to the LSH family: finds EVERY pair with
  * token-set jaccard ≥ θ, no recall loss, which is the contract
  * catalog/entity matching needs (a missed duplicate is a wrong
  * answer there, not a tuning knob).
  *
  * Prefix filter: tokens are totally ordered by (global frequency,
  * token) — rarest first — and each item exposes join keys from its
  * ranked prefix. For θ > 0.5 the keys are token PAIRS from the first
  * n − ⌈θ·n⌉ + 2 tokens (a candidate must share TWO prefix tokens —
  * quadratically more selective, see [[setSimJoin]]); for θ ≤ 0.5,
  * where a qualifying pair may share only one token, keys are single
  * tokens from the classic n − ⌈θ·n⌉ + 1 prefix. Both paths run the
  * same skew-capped blocked self-join and the same in-row
  * verification; the spec proves brute-force equality for each.
  *
  * Scale shape: the frequency table is corpus-derived and therefore
  * NEVER broadcast-hinted (AQE may, when stats allow); candidate keys
  * are rare by construction (rarest tokens / token pairs), which is
  * what keeps candidate volume sane on small hot vocabularies; the
  * verify join ships only candidate pairs' tokens (bounded per item).
  *
  * Candidate keys are HASHED: the exploding (key, bi, bj) relation —
  * the one stage whose row count is candidates-scale — carries
  * xxhash64(w1, w2) (resp. xxhash64(w)) instead of the token
  * strings, one fixed 8-byte column in place of two variable-width
  * ones through the pcf join, both explicit repartitions, and the
  * self-join. This loses NOTHING even under collision: hashing is a function of the key, so equal keys
  * always still meet (no candidate is ever lost), and a 64-bit
  * collision merely MERGES two key groups — extra candidate pairs
  * that the exact in-row jaccard verification rejects. Output is
  * therefore unconditionally bit-equal to a string-key form, not
  * equal-with-probability.
  * The per-item token-array relation stays an UN-materialized
  * projection of the item scan so its statistics survive — see the
  * note in [[setSimJoin]] on why checkpointing it would force the
  * verify joins to sort-merge. */
object SetSimJoin {

  val Theta = 0.6

  private val B = 256 // block size: per-key work ≤ ~B² pairs

  /** Skew-capped candidate enumeration: self-join `keyed` on its
    * hashed key `hk`, emitting normalized (a, b) pairs that survive the
    * PPJoin position filter.
    *
    * GENERATION would be skew-bound if a hot key formed one giant
    * group (pair enumeration is quadratic in group size and a plain
    * join processes a key in ONE task — driver-measured 267 s at
    * sf0.1 with unblocked single-token keys). Two-level BLOCK
    * DECOMPOSITION caps it: each key group is hash-split into
    * nbk = ⌈group/B⌉ blocks and the join key becomes
    * (hk, bi, bj) — one key PER BLOCK PAIR, so a group of g
    * rows spreads over ~(g/B)² independent keys and per-key work is
    * bounded by ~B² pairs regardless of skew. Each row replicates
    * nbk+1 times total — O(pairs/B), a vanishing fraction of the
    * pair stream. This is the 100 TB-safe shape.
    *
    * Pair coverage, exactly once per shared key: an unordered pair
    * with blocks (p, q), p ≤ q, meets only at (hk, p, q) — from
    * the X side the lower-block row, from Y the upper-block row
    * (disjoint row sets when p < q; for p = q the x.id < y.id guard
    * keeps one of the two orderings).
    *
    * The explicit-count repartitions pin the stage's parallelism:
    * AQE sizes the join by its tiny replicated-prefix INPUTS and
    * would coalesce to ~one partition, single-tasking the pair
    * enumeration; an explicit-count repartition by the join key is
    * exempt from coalescing and co-partitioned with the join.
    *
    * PPJoin position filter, applied per GENERATION ROW before the
    * verify joins: a pair meeting at a key whose LAST token sits at
    * ranks (rx, ry) can share at most kTokens + min(na−rx, nb−ry)
    * tokens (the key's tokens plus whatever follows the last one),
    * while jac ≥ θ forces at least ⌈θ/(1+θ)·(na+nb)⌉ shared. Rows
    * failing the bound drop — results provably unchanged: the
    * generation at a true pair's MINIMAL shared tokens has the
    * smallest (rx, ry) and the LOOSEST bound, and for that row the
    * bound is a valid overlap ceiling (every other shared token ranks
    * after the last key token in both items), so it always survives.
    * Non-minimal duplicate generations may drop — pruning dup verify
    * work too. The filter is SYMMETRIC under (rx,na)↔(ry,nb), so it
    * is valid before the least/greatest id normalization. */
  private def blockedCandidates(keyed: DataFrame, kTokens: Int,
      theta: Double): DataFrame = {
    val nPart = keyed.sparkSession.sessionState.conf.numShufflePartitions
    val alpha = ceil(lit(theta / (1 + theta)) * (col("na") + col("nb")))
    val blocked = keyed
      .join(keyed.groupBy("hk").agg(count(lit(1)).as("pcf")), Seq("hk"))
      .withColumn("nbk", ceil(col("pcf") / lit(B)).cast("int"))
      .withColumn("blk", pmod(xxhash64(col("id")), col("nbk")).cast("int"))
    val xs = blocked.select(col("id"), col("r"), col("nn"), col("hk"),
        col("blk").as("bi"),
        explode(sequence(col("blk"), col("nbk") - 1)).as("bj"))
      .repartition(nPart, col("hk"), col("bi"), col("bj"))
    val ys = blocked.select(col("id"), col("r"), col("nn"), col("hk"),
        explode(sequence(lit(0), col("blk"))).as("bi"),
        col("blk").as("bj"))
      .repartition(nPart, col("hk"), col("bi"), col("bj"))
    xs.as("x").join(ys.as("y"),
        col("x.hk") === col("y.hk") && col("x.bi") === col("y.bi") &&
          col("x.bj") === col("y.bj") &&
          (col("x.bi") < col("x.bj") || col("x.id") < col("y.id")))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"),
        col("x.r").as("rx"), col("y.r").as("ry"),
        col("x.nn").as("na"), col("y.nn").as("nb"))
      .filter(lit(kTokens) +
        least(col("na") - col("rx"), col("nb") - col("ry")) >= alpha)
      .select("a", "b")
  }

  /** All pairs (a < b) of `items` (id, name) with distinct-token
    * jaccard ≥ theta, exact, any theta in (0, 1].
    *
    * For theta > 0.5, CANDIDATE GENERATION joins on PAIRS of prefix
    * tokens, not single tokens. Rationale: on a
    * small hot vocabulary (TPC-H part names: ~92 colors) the
    * single-token prefix key enumerates ~10⁷–10⁸ candidate pairs that
    * verification then rejects — the pair VOLUME, not its layout, is
    * the wall-time. A qualifying pair shares c ≥ ⌈θ/(1+θ)·(na+nb)⌉
    * tokens, which for theta > 0.5 is ≥ 2 whenever na+nb ≥ 3;
    * requiring candidates to share TWO prefix tokens turns the join
    * key from one common word into a word pair — keys go
    * |V| → ~C(|V|,2) and group sizes (and the quadratic pair
    * enumeration) shrink quadratically.
    *
    * Completeness of the k=2 prefix scheme: extend each item's ranked
    * prefix to ℓ = n − ⌈θ·n⌉ + 2 (one past the classic AllPairs
    * prefix; valid since any partner has nb ≥ θ·na, so c ≥ ⌈θ·na⌉).
    * For a qualifying pair, at most n − ℓ = ⌈θn⌉ − 2 ≤ c − 2 shared
    * tokens can sit past either extended prefix, so each prefix holds
    * ≥ 2 shared tokens; both prefix∩shared sets are downward-closed in
    * the global (frequency, token) order, hence both contain the two
    * SMALLEST shared tokens (t1, t2) — and both items emit the ordered
    * key (t1, t2). The θ > 0.5 remainder — na+nb = 2, i.e. two
    * single-token items, which qualify iff identical (jac = 1) — is a
    * separate exact-match join on the nn = 1 subset.
    *
    * For theta ≤ 0.5 a qualifying pair may share exactly ONE token
    * (e.g. {a} vs {a, b} at jac = 1/2), so the pair-key scheme is
    * incomplete there; generation falls back to single-token keys
    * over the classic ℓ = n − ⌈θ·n⌉ + 1 prefix — the same blocked
    * join, linearly larger candidate volume (inherent: the answer
    * itself is denser at low θ). The brute-force equality specs
    * guard both regimes.
    *
    * Verification is IN-ROW: the candidate pair joins the id→token-
    * array map twice (a per-item relation — rows = items, not tokens —
    * that AQE broadcasts when it fits) and the intersection size is
    * `array_intersect` over the two small arrays. The alternative —
    * exploding candidates against the token relation and counting
    * matches — shuffles |candidates|·|shared tokens| rows; with
    * millions of candidates that re-shuffle dwarfs the verify compute,
    * while the in-row form adds ZERO verify shuffle. */
  def setSimJoin(items: DataFrame, theta: Double): DataFrame = {
    require(theta > 0 && theta <= 1, s"theta must be in (0, 1], got $theta")
    // deliberately NOT checkpointed: the relation is a cheap projection
    // of the item scan, and cutting it would erase the source stats —
    // AQE then can't see that the verify-join build side fits a
    // broadcast and falls back to sort-merge over the (much larger)
    // candidate set. With stats intact the plan adapts: broadcast at
    // dimension-sized |items|, shuffle join at corpus scale.
    val lists = tokenLists(items)
    val cand = candidatePairs(lists, theta)
    val jac: Column =
      col("c").cast("double") / (col("na") + col("nb") - col("c"))
    cand
      .join(lists.select(col("id").as("a"), col("ws").as("wa")), Seq("a"))
      .join(lists.select(col("id").as("b"), col("ws").as("wb")), Seq("b"))
      .withColumn("c", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .withColumn("na", size(col("wa")).cast("long"))
      .withColumn("nb", size(col("wb")).cast("long"))
      .filter(jac >= theta)
      .select(col("a"), col("b"), round(jac, 6).as("jac"))
      .distinct()
      .orderBy("a", "b")
  }

  private[graft] def tokenLists(items: DataFrame): DataFrame =
    items.select(col("id"),
      array_distinct(split(col("name"), " ")).as("ws"))

  /** The candidate-generation stage alone ((a, b) pairs surviving the
    * prefix/position filters, pre-verification) — extracted so
    * diagnostics (tools/ScalingSweep) can COUNT candidates at
    * different scales without duplicating the generation logic. */
  private[graft] def candidatePairs(lists: DataFrame, theta: Double): DataFrame = {
    val tok = lists.select(col("id"), explode(col("ws")).as("w"))
    val sz = lists.select(col("id"), size(col("ws")).cast("long").as("nn"))
    val f = tok.groupBy("w").agg(count(lit(1)).as("cf"))
    val rankW = Window.partitionBy("id").orderBy(col("cf"), col("w"))
    // ranked prefix, extended by `extend` past n − ⌈θ·n⌉
    def prefix(extend: Int): DataFrame = tok.join(f, Seq("w"))
      .select(col("id"), col("w"), row_number().over(rankW).as("r"))
      .join(sz, Seq("id"))
      .filter(col("r") <=
        col("nn") - ceil(lit(theta) * col("nn")).cast("long") + extend)
      .select("id", "w", "r", "nn")
    // candidates are NOT deduplicated before verification: a pair is
    // re-generated once per shared key (≤ prefix length), and a
    // distinct here shuffles the full candidate stream through a
    // partial aggregation that dedups little. Verification is in-row,
    // so duplicates cost only their own arithmetic; the distinct runs
    // AFTER the θ filter, over the far smaller surviving-pair set.
    val cand =
      if (theta > 0.5) {
        // Ordered prefix-token PAIRS per item: C(ℓ,2) keys (ℓ ≤ ~5 at
        // any realistic θ). Ordered by rank — the rank order extends
        // the global (frequency, token) order, so two items sharing
        // tokens {t1, t2} emit the identical (w1, w2) key. r2 (rank of
        // the LATER token) feeds the position filter. Checkpointed:
        // the relation is small (items × C(ℓ,2) rows) but its plan —
        // window rank over two joins, groupBy, pair explode — would
        // otherwise re-execute for each of the three downstream
        // consumers (pcf groupBy, xs, ys). Cutting it costs one tiny
        // materialization and erases no useful stats (downstream is
        // explicitly repartitioned).
        val rawPairKeys = prefix(2)
          .groupBy(col("id"), col("nn"))
          .agg(sort_array(collect_list(struct(col("r"), col("w")))).as("pw"))
          .select(col("id"), col("nn"), explode(expr(
            """flatten(transform(pw, (x, i) ->
              |  transform(slice(pw, i + 2, size(pw)),
              |    y -> struct(x.w AS w1, y.w AS w2, y.r AS r2))))""".stripMargin))
            .as("k"))
          .select(col("id"), col("nn"),
            col("k.w1").as("w1"), col("k.w2").as("w2"), col("k.r2").as("r"))
        // collapse the ordered pair to ONE 8-byte key BEFORE the cut,
        // so the checkpointed relation and everything downstream of it
        // (pcf join, repartitions, self-join) never carries the
        // strings. xxhash64 over both columns is order-sensitive,
        // matching the ordered (w1, w2) emission.
        val pairKeys = Checkpoints.cut(
          rawPairKeys.select(col("id"), col("nn"),
            xxhash64(col("w1"), col("w2")).as("hk"), col("r")))
        val candMulti = blockedCandidates(pairKeys, kTokens = 2, theta)
        // θ > 0.5 remainder: two single-token items qualify iff
        // identical. Equality self-join on the nn = 1 subset —
        // ordinary hash join, and the candidates flow through the same
        // in-row verification so the jaccard math lives in one place.
        val singles = lists.filter(size(col("ws")) === 1)
          .select(col("id"), col("ws").getItem(0).as("w"))
        val candSingle = singles.as("x").join(singles.as("y"),
            col("x.w") === col("y.w") && col("x.id") < col("y.id"))
          .select(col("x.id").as("a"), col("y.id").as("b"))
        candMulti.unionByName(candSingle)
      } else {
        // single-token keys over the classic prefix; checkpointed for
        // the same three-consumer reason as the pair path, with the
        // token string swapped for xxhash64(w) — same
        // collision-is-only-extra-candidates argument as the pair key.
        val keyed = Checkpoints.cut(
          prefix(1).select(col("id"), xxhash64(col("w")).as("hk"),
            col("r"), col("nn")))
        blockedCandidates(keyed, kTokens = 1, theta)
      }
    cand
  }

  /** q99: exact jaccard-0.6 matches over part names — the catalog
    * near-duplicate report. */
  def q99SetsimJoin(spark: SparkSession, dir: String): DataFrame =
    setSimJoin(Tables(spark, dir).part
      .select(col("p_partkey").cast("long").as("id"), col("p_name").as("name")),
      Theta)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q99_setsim_join" -> (q99SetsimJoin _),
  )

  val oracleSql: Map[String, String] = Map(
    "q99_setsim_join" ->
      s"""WITH tok AS (
         |  SELECT p_partkey AS id,
         |         unnest(list_distinct(string_split(p_name, ' '))) AS w
         |  FROM part),
         |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS nn FROM tok GROUP BY 1),
         |f AS (SELECT w, count(*) AS cf FROM tok GROUP BY 1),
         |rk AS (
         |  SELECT t.id, t.w,
         |         row_number() OVER (PARTITION BY t.id ORDER BY f.cf, t.w) AS r
         |  FROM tok t JOIN f ON f.w = t.w),
         |pre AS (
         |  SELECT rk.id, rk.w FROM rk JOIN sz ON sz.id = rk.id
         |  WHERE rk.r <= sz.nn - CAST(ceil($Theta * sz.nn) AS BIGINT) + 1),
         |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
         |         FROM pre x JOIN pre y ON x.w = y.w AND x.id < y.id),
         |inter AS (
         |  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS c
         |  FROM cand c
         |  JOIN tok ta ON ta.id = c.a
         |  JOIN tok tb ON tb.id = c.b AND tb.w = ta.w
         |  GROUP BY 1, 2)
         |SELECT i.a, i.b,
         |       round(CAST(i.c AS DOUBLE) / (sa.nn + sb.nn - i.c), 6) AS jac
         |FROM inter i
         |JOIN sz sa ON sa.id = i.a
         |JOIN sz sb ON sb.id = i.b
         |WHERE CAST(i.c AS DOUBLE) / (sa.nn + sb.nn - i.c) >= $Theta
         |ORDER BY 1, 2""".stripMargin,
  )
}
