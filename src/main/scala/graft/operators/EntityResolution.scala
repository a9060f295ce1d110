package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Superstep, Tables}
import graft.functions.Md5Prefix

/** Entity resolution / record linkage over the part catalog — the
  * dedup family's STRUCTURED-record member (Fellegi & Sunter 1969;
  * the Newcombe record-linkage lineage): records that describe the
  * same real-world item under different keys are blocked, pairwise
  * matched, clustered, and survived into one canonical registry row.
  * The reference's idempotent upsert (reference
  * `src/InsertDataHelper.ts:1-116`) dedups on EXACT key identity;
  * entity resolution generalizes that to attribute-level identity
  * with tolerance for one disagreeing field.
  *
  * Pipeline stages (each its own scale argument):
  *  1. SIGNATURE — each record's attribute token set (sorted name
  *     words + brand + type + size token): one in-row projection.
  *  2. BLOCKING — drop-zero + leave-one-out keys: each record emits
  *     its full token set once AND the set minus one element, once
  *     per element. A pair agreeing on ≥ max(na, nb) − 1 tokens MUST
  *     share a key — equal sizes via matching leave-one-out keys,
  *     sizes differing by one via the larger side's leave-one-out
  *     meeting the smaller side's drop-zero — so candidate generation
  *     is COMPLETE for [[ErTau]] ≥ (t−1)/(t+1) — here 0.6 with
  *     t = 5 — even when array_distinct shrinks a signature; a pair
  *     sharing fewer tokens shares NO key when token classes are
  *     disjoint (name words / brand / type / size never collide by
  *     construction), so the generator is also nearly EXACT: at the
  *     measured corpus, candidates == matches. Block fan-out is
  *     bounded by records-per-(t−1)-subset — the standard-blocking
  *     shape, robust to a hot single attribute (a popular brand
  *     alone never forms a key).
  *  3. VERIFY — exact Jaccard on the token sets of candidates only
  *     (in-row `array_intersect`, zero extra shuffle beyond the two
  *     signature fetches).
  *  4. CLUSTER — connected components over MATCHED records only
  *     (the corpus-sized singleton majority never enters the loop —
  *     the q44 contract), labeled by minimum member key.
  *  5. SURVIVE — one max(struct) aggregate picks each entity's
  *     canonical record (highest retail price, ties to the smaller
  *     key) — no window over the registry.
  */
object EntityResolution {

  /** Match threshold on token-set Jaccard. With 5-token signatures,
    * ≥ 0.6 ⟺ at least 4 of the 5 attributes agree. */
  val ErTau = 0.6

  /** The registry BATCH being resolved (p_partkey < ErBatch) — the
    * incremental-ER convention (resolve the incoming batch against
    * itself, then against the resolved registry the q87 way). The
    * bound is also a measured necessity for the GLOBAL form on this
    * synthetic catalog: at 10× (20k parts, same attribute
    * vocabulary) the match graph transitively chains into one giant
    * component of 19,248 records — the textbook ER
    * transitive-closure hazard (A≈B, B≈C but A≉C). Production
    * systems cap cluster diameter or re-verify all pairs inside each
    * component before merging; within a 2k batch the measured
    * components stay single-entity-sized (max 8 members). */
  val ErBatch = 2000L

  /** (id, toks) — sorted distinct attribute token set per record. */
  private def signatures(parts: DataFrame): DataFrame =
    parts.select(col("p_partkey").as("id"),
      array_sort(array_distinct(concat(
        split(col("p_name"), " "),
        array(col("p_brand"), col("p_type"),
          concat(lit("sz"), col("p_size").cast("string")))))).as("toks"))

  /** (id, toks, nt) signature relation, checkpoint-cut (fetched by
    * both candidate generation and verification). */
  private def sigRelation(parts: DataFrame): DataFrame =
    graft.Checkpoints.cut(
      signatures(parts).select(col("id"), col("toks"),
        size(col("toks")).as("nt")))

  /** Blocking keys: the full token set (drop-zero) PLUS each
    * leave-one-out subset (drop the i-th token, join the rest).
    * Leave-one-out alone is only complete for EQUAL-size signatures
    * — array_distinct makes sizes vary (a repeated name word), and a
    * subset pair (4-token sig ⊂ 5-token sig, Jaccard 4/5 ≥ tau)
    * shares no key when one side emits 3-token keys and the other
    * 4-token keys. The drop-zero key closes exactly that gap: the
    * larger side's leave-one-out key (dropping its extra token)
    * equals the smaller side's full set. Guarantee: candidate
    * generation is complete for pairs with ≥ max(na, nb) − 1 tokens
    * in common (⟺ Jaccard ≥ (t−1)/(t+1)); size gaps ≥ 2 are below
    * [[ErTau]] for this signature family anyway (J ≤ t/(t+2) only
    * when agreement is total, which the gap rules out). */
  private def blockingKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), explode(expr(
      """concat(array(array_join(toks, '|')),
        |  transform(sequence(1, size(toks)), i ->
        |    array_join(concat(slice(toks, 1, i - 1),
        |                      slice(toks, i + 1, size(toks))), '|')))"""
        .stripMargin)).as("k"))

  /** Exact token-set Jaccard ≥ tau over candidate (a, b) rows only
    * (in-row array_intersect; the two joins are the signature
    * fetches). */
  private def verifiedPairs(sigs: DataFrame, cand: DataFrame,
      tau: Double): DataFrame =
    cand
      .join(sigs.select(col("id").as("a"), col("toks").as("ta"),
        col("nt").as("na")), "a")
      .join(sigs.select(col("id").as("b"), col("toks").as("tb"),
        col("nt").as("nb")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("ta"), col("tb"))).as("c"),
        col("na"), col("nb"))
      .filter(col("c").cast("double") /
        (col("na") + col("nb") - col("c")) >= tau)
      .select("a", "b")

  /** (node, component) over records appearing in ≥1 edge — the
    * corpus-sized singleton majority never enters the loop (the q44
    * contract). Components are labeled by minimum member id, via the
    * STRUCTURE-ROUTED [[graft.graph.StarContraction.ccAuto]]:
    * matched-record chains (transitive single-link growth, the ER
    * hazard the guarded q231 variant exists to audit) are exactly the
    * high-diameter mode where min-label propagation's round count
    * explodes (BENCH_SCALING Part 18). Labels are identical to
    * min-label's, so the q178/q203/q231 oracles are untouched. */
  private def matchComponents(pairs: DataFrame): DataFrame = {
    val matched = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node"))).distinct()
    graft.graph.StarContraction.ccAuto(matched,
      pairs.select(col("a").as("u"), col("b").as("v")))
  }

  /** Survivorship over the full record set: singletons label
    * themselves; one max(struct) per entity — no window over the
    * registry. `batchBound` (incremental form) adds the entity's
    * fate: every member below the bound → `unchanged`, every member
    * at-or-above → `new`, mixed → `grew`. */
  private def survive(parts: DataFrame, comp: DataFrame,
      batchBound: Option[Long]): DataFrame = {
    val labeled = parts.select(col("p_partkey").as("id"), col("p_name"),
        col("p_retailprice"))
      .join(comp.select(col("node").as("id"), col("component")),
        Seq("id"), "left")
      .select(col("id"), col("p_name"), col("p_retailprice"),
        coalesce(col("component"), col("id")).as("entity"))
    val base = labeled.groupBy("entity")
      .agg(count(lit(1)).as("n_records"),
        // canonical = highest retail price, ties to the smaller key;
        // (price, -id) is unique per record so the name payload
        // rides along without ever deciding the order
        max(struct(col("p_retailprice").as("v"), (-col("id")).as("ni"),
          col("p_name").as("nm"))).as("m"),
        min(col("id")).as("mn"), max(col("id")).as("mx"))
    val out = batchBound match {
      case Some(rb) => base.select(col("entity"), col("n_records"),
        when(col("mx") < rb, "unchanged")
          .when(col("mn") >= rb, "new")
          .otherwise("grew").as("status"),
        (-col("m.ni")).as("canonical_id"), col("m.nm").as("canonical_name"),
        col("m.v").as("canonical_price"))
      case None => base.select(col("entity"), col("n_records"),
        (-col("m.ni")).as("canonical_id"), col("m.nm").as("canonical_name"),
        col("m.v").as("canonical_price"))
    }
    out.orderBy("entity")
  }

  /** The candidate stage over a blocking-key relation: all blocked
    * (a < b) pairs. ONE definition shared by every resolver and the
    * scale diagnostics (tools/ScalingSweep counts these — the
    * SetSimJoin.candidatePairs convention). */
  private[graft] def candidates(keys: DataFrame): DataFrame =
    keys.as("x").join(keys.as("y"),
        col("x.k") === col("y.k") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()

  /** SURVIVORSHIP GUARD — within-component re-verification against
    * cluster centers (the escape hatch for single-link transitive
    * chaining, where A≈B, B≈C merges A with C
    * it never matched — measured here as one 19,248-record component
    * at 10×). Center/leader clustering with min-id priority (the
    * star-clustering refinement family): the fixpoint is the
    * sequential greedy "walk ids ascending; a node LEADS unless it
    * holds a verified edge to a smaller leader; members join their
    * minimum verified leader" — which is what the q231 oracle
    * computes.
    *
    * Computed as parallel greedy MIS rounds, NOT one center per
    * component per round: each round promotes EVERY active node that
    * is a priority-local-minimum among its active verified neighbors
    * to center, retires those centers' neighbors from the active set,
    * and repeats; a final single join assigns each retired member to
    * its minimum verified center. Parallel local-minima elimination
    * computes exactly the sequential greedy leader set (the classic
    * MIS equivalence), so the fixpoint — and q231's oracle — is
    * unchanged; what changes is the round count: one-center-per-
    * component peeling needs O(stars-in-largest-component) driver
    * rounds on exactly the pathological chained input the guard
    * exists for, while local-minima rounds retire every un-dominated
    * star concurrently (the peeling depth of the priority order —
    * logarithmic on non-adversarial orders).
    *
    * Invariants the guard buys: every cluster has diameter ≤ 2, every
    * merge is WITNESSED by a direct pairwise match (never by
    * transitivity alone), and a chained mega-component decomposes
    * into verified stars. Per-round work is joins over MATCHED nodes
    * only (never the corpus).
    *
    * Unlike single-link clustering, the guard never needs connected
    * components at all — the leader recursion is local to verified
    * edges — so the guarded path also sheds CC's O(component
    * diameter) label-propagation loop, which on the chained
    * mega-component is itself the expensive part.
    *
    * Output shape matches [[matchComponents]]: (node, component),
    * component = the canonical (center) member id. */
  /** md5-derived node priority for [[refineByCenter]]'s hash order —
    * the 60-bit [[Md5Prefix]] integer, so a DuckDB mirror of the
    * hash-priority recursion stays expressible. */
  private def hashPrio(n: Column): Column =
    Md5Prefix(n.cast("string"), 1, 15).cast("long")

  private[graft] def refineByCenter(pairs: DataFrame,
      hashPriority: Boolean = false): Superstep.Run[DataFrame] = {
    // Default priority = node id (the q231 min-id semantics).
    // hashPriority = true randomizes the peeling order
    // deterministically (md5): with min-id priority an ADVERSARIAL
    // corpus — sequentially-assigned ids whose neighbors in id order
    // are also match-similar, i.e. an id-ordered chain — peels
    // O(chain length) rounds, while a hashed order makes long
    // monotone dependency paths vanishingly unlikely (greedy-MIS
    // round complexity is the longest decreasing path in priority
    // order — O(log n) w.h.p. under random order). Same invariants
    // either way; the fixpoint (= sequential greedy leader clustering
    // in the chosen order) differs only in WHICH verified stars are
    // cut, never in their verification.
    //
    // The hash order is implemented as a bijective RELABELING around
    // the plain-long core, not as a composite sort key inside it: a
    // (prio, id) struct carried through every round's joins and
    // min() aggregates measured 2–3× slower at 30× (structs fall out
    // of the codegen'd partial-agg path and widen every shuffle row),
    // where the relabeling costs one rank over MATCHED nodes only —
    // the set the guard loops over anyway, never the corpus — and
    // keeps the hot loop on longs.
    if (!hashPriority) return refineCore(pairs)
    val matched = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node"))).distinct()
    // a distributed dense rank, NOT a row_number() window: an
    // unpartitioned window funnels the whole matched set through ONE
    // task, exactly the single-partition barrier this guard's scale
    // story forbids; (hash, node) is a strict total order
    val rank = graft.Ordinals.denseBy(matched,
      Seq(hashPrio(col("node")), col("node")), "h")
    val hp = pairs
      .join(rank.select(col("node").as("a"), col("h").as("ha")), Seq("a"))
      .join(rank.select(col("node").as("b"), col("h").as("hb")), Seq("b"))
      .select(col("ha").as("a"), col("hb").as("b"))
    val core = refineCore(hp)
    core.copy(out = graft.Checkpoints.cut(core.out
      .join(rank.select(col("h").as("node"), col("node").as("orig")),
        Seq("node"))
      .join(rank.select(col("h").as("component"), col("node").as("origC")),
        Seq("component"))
      .select(col("orig").as("node"), col("origC").as("component"))))
  }

  /** The plain-long local-minima loop behind [[refineByCenter]]:
    * node ids ARE the priorities (relabel to change the order). State:
    * the active nodes and the union view of every round's centers;
    * the change signal is the active count. Every round retires at
    * least the smallest active node, so |seed| rounds bound the loop. */
  private def refineCore(pairs: DataFrame): Superstep.Run[DataFrame] = {
    // drop reflexive rows defensively: a (a, a) self-match would make
    // its node never a strict local minimum and never retired — an
    // infinite driver loop. verifiedPairs can't produce one (its
    // candidates are a < b), but this entry point takes arbitrary
    // pair relations.
    val p = pairs.filter(col("a") =!= col("b"))
    val und = graft.Checkpoints.cut(
      p.select(col("a").as("src"), col("b").as("dst"))
        .union(p.select(col("b").as("src"), col("a").as("dst"))))
    var nSeed = 0L
    Superstep.loop(Int.MaxValue) { r =>
      val active = r.cut(und.select(col("src").as("node")).distinct())
      nSeed = graft.Checkpoints.rowCount(active)
      ((active, Superstep.UnionView.empty), nSeed)
    } { case ((active, roundCenters), r) =>
      // neighbors restricted to the still-active subgraph
      val actSrc = und.join(active.select(col("node").as("src")), Seq("src"))
        .join(active.select(col("node").as("dst")), Seq("dst"))
      // min active-neighbor id per active node; a node with no active
      // neighbor (its star was retired around it) is a trivial local
      // minimum and becomes its own center
      val minNbr = actSrc.groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("mn"))
      val centers = r.cut(
        active.join(minNbr, Seq("node"), "left")
          .filter(col("mn").isNull || col("node") < col("mn"))
          .select(col("node")))
      // retire the centers and every active neighbor of a center
      val retired = actSrc
        .join(centers.select(col("node").as("dst")), Seq("dst"))
        .select(col("src").as("node"))
        .union(centers.select(col("node")))
      val next = r.cut(
        active.join(retired.select(col("node").as("rn")),
          active("node") === col("rn"), "left_anti"))
      val remaining = graft.Checkpoints.rowCount(next)
      if (remaining > 0 && r.n >= nSeed)
        throw new IllegalStateException(s"refineCore: $remaining nodes still " +
          s"active after round ${r.n}, past the |seed| = $nSeed bound")
      ((next, roundCenters.add(centers, r)), remaining)
    } { case (_, roundCenters) =>
      if (roundCenters.isEmpty)
        pairs.select(col("a").as("node"), col("b").as("component")).limit(0)
      else {
        val leaders = roundCenters.view
        // final assignment: every matched non-center joins its MINIMUM
        // verified center (guaranteed to exist — it was retired as some
        // center's neighbor); centers label themselves
        val memberOf = und
          .join(leaders.select(col("node").as("dst")), Seq("dst"))
          .groupBy(col("src").as("node")).agg(min(col("dst")).as("component"))
        graft.Checkpoints.cut(
          leaders.select(col("node"), col("node").as("component"))
            .union(memberOf
              .join(leaders.select(col("node").as("ln")),
                memberOf("node") === col("ln"), "left_anti")
              .select(col("node"), col("component"))))
      }
    }
  }

  /** [[resolveEntities]] with the [[refineByCenter]] guard between
    * clustering and survivorship — the form a production registry
    * runs on a dirty corpus, where silent single-link collapse is
    * worse than splitting an under-verified chain. */
  private[graft] def resolveEntitiesGuarded(parts: DataFrame,
      tau: Double, hashPriority: Boolean = false): DataFrame = {
    val sigs = sigRelation(parts)
    val cand = candidates(blockingKeys(sigs))
    // cut: the match relation feeds every refinement round
    val pairs = graft.Checkpoints.cut(verifiedPairs(sigs, cand, tau))
    survive(parts, refineByCenter(pairs, hashPriority).out, None)
  }

  /** Candidate pairs from raw records (diagnostics entry point). */
  private[graft] def candidatePairs(parts: DataFrame): DataFrame =
    candidates(blockingKeys(sigRelation(parts)))

  /** Core over any (p_partkey, p_name, p_brand, p_type, p_size,
    * p_retailprice) relation. Output: one row per resolved entity. */
  private[graft] def resolveEntities(parts: DataFrame, tau: Double): DataFrame = {
    val sigs = sigRelation(parts)
    val cand = candidates(blockingKeys(sigs))
    survive(parts, matchComponents(verifiedPairs(sigs, cand, tau)), None)
  }

  /** INCREMENTAL entity resolution (q87's batch-vs-corpus pattern
    * for structured records): resolve a new BATCH (id ≥
    * batchBound) against the REGISTRY (id < batchBound). The
    * harness has no persisted registry, so ONE CC runs over the
    * verified pairs of registry ∪ batch — global match pairs =
    * registry pairs ∪ batch-touching pairs, so this is the identical
    * output to resolving against a stored (record → entity)
    * membership, whose star edges are a connectivity-preserving
    * contraction of the registry's match graph. Survivorship merges
    * batch records into existing entities (a batch record bridging
    * two registry entities merges them, labeled by the global min
    * member — the single-link transitive semantic), and each entity's
    * status derives from its member ids vs the bound. The q203 oracle
    * is therefore the global recursive-CTE form (the spec also pins
    * it against [[resolveEntities]]).
    *
    * Chaining note: the incremental form inherits single-link merge
    * semantics (a batch bridge merges standing entities). On a dirty
    * corpus where that is the hazard rather than the requirement, run
    * the GUARDED global form ([[resolveEntitiesGuarded]], q231) over
    * registry ∪ batch instead — BENCH_SCALING Part 14 shows why. */
  private[graft] def resolveIncremental(parts: DataFrame,
      batchBound: Long, tau: Double): DataFrame = {
    val sigs = sigRelation(parts)
    val cand = candidates(blockingKeys(sigs))
    survive(parts, matchComponents(verifiedPairs(sigs, cand, tau)),
      Some(batchBound))
  }

  def q178EntityResolution(spark: SparkSession, dir: String): DataFrame =
    resolveEntities(
      Tables(spark, dir).part.filter(col("p_partkey") < ErBatch), ErTau)

  /** Registry = the part keyspace's first decile, increment = the
    * second — SF-relative so every driver SF carries a non-degenerate
    * batch (absolute bounds empty out at small SFs). The decile scope
    * also keeps the match graph in the single-entity-component regime
    * ([[ErBatch]]'s note): measured max component 12 at sf0.1's
    * 4000-record union. */
  def q203IncrementalEr(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables(spark, dir).part
    val rb = (part.agg(max(col("p_partkey")).cast("long")).first()
      .getLong(0) + 1) / 10
    resolveIncremental(
      part.filter(col("p_partkey") < 2 * rb), rb, ErTau)
  }

  /** Same batch as q178, guarded survivorship ([[refineByCenter]]). */
  def q231EntityResolutionGuarded(spark: SparkSession,
      dir: String): DataFrame =
    resolveEntitiesGuarded(
      Tables(spark, dir).part.filter(col("p_partkey") < ErBatch), ErTau)

  /** q231's corpus under the md5 peeling order — the
    * id-order-adversarial opt-in ([[refineByCenter]]'s hashPriority)
    * as its own oracled query, so the relabeled fixpoint is
    * driver-verified on real data, not only spec-pinned on
    * fixtures. */
  def q232EntityResolutionGuardedHash(spark: SparkSession,
      dir: String): DataFrame =
    resolveEntitiesGuarded(
      Tables(spark, dir).part.filter(col("p_partkey") < ErBatch), ErTau,
      hashPriority = true)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q178_entity_resolution" -> (q178EntityResolution _),
    "q203_incremental_er" -> (q203IncrementalEr _),
    "q231_entity_resolution_guarded" -> (q231EntityResolutionGuarded _),
    "q232_entity_resolution_guarded_hash" ->
      (q232EntityResolutionGuardedHash _),
  )

  val oracleSql: Map[String, String] = Map(
    "q178_entity_resolution" ->
      s"""WITH RECURSIVE pt AS (
         |  SELECT * FROM part WHERE p_partkey < $ErBatch),
         |rec AS (
         |  SELECT p_partkey AS id,
         |         list_sort(list_distinct(list_concat(
         |           string_split(p_name, ' '),
         |           [p_brand, p_type, 'sz' || CAST(p_size AS VARCHAR)])))
         |           AS toks
         |  FROM pt),
         |tk AS (SELECT id, unnest(toks) AS tok FROM rec),
         |sz AS (SELECT id, CAST(len(toks) AS BIGINT) AS nt FROM rec),
         |ks AS (SELECT id, array_to_string(toks, '|') AS k FROM rec
         |       UNION ALL
         |       SELECT id,
         |         array_to_string(list_concat(toks[1:i - 1],
         |           toks[i + 1:len(toks)]), '|') AS k
         |       FROM rec, unnest(generate_series(1, len(toks))) AS t(i)),
         |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
         |         FROM ks x JOIN ks y ON x.k = y.k AND x.id < y.id),
         |inter AS (SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS c
         |          FROM cand c
         |          JOIN tk ta ON ta.id = c.a
         |          JOIN tk tb ON tb.id = c.b AND tb.tok = ta.tok
         |          GROUP BY 1, 2),
         |pairs AS (SELECT i.a, i.b FROM inter i
         |          JOIN sz sa ON sa.id = i.a JOIN sz sb ON sb.id = i.b
         |          WHERE CAST(i.c AS DOUBLE) / (sa.nt + sb.nt - i.c)
         |                >= $ErTau),
         |und AS (SELECT a AS src, b AS dst FROM pairs
         |        UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT p_partkey AS node, p_partkey AS peer FROM pt
         |  UNION
         |  SELECT r.node, u.dst FROM reach r JOIN und u ON u.src = r.peer),
         |ent AS (SELECT node AS id, CAST(min(peer) AS BIGINT) AS entity
         |        FROM reach GROUP BY 1),
         |reg AS (SELECT e.entity, p.p_partkey AS id, p.p_name,
         |          p.p_retailprice,
         |          row_number() OVER (PARTITION BY e.entity
         |            ORDER BY p.p_retailprice DESC, p.p_partkey ASC) AS rk
         |        FROM ent e JOIN pt p ON p.p_partkey = e.id),
         |cnt AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_records
         |        FROM reg GROUP BY 1)
         |SELECT c.entity, c.n_records, r.id AS canonical_id,
         |       r.p_name AS canonical_name,
         |       r.p_retailprice AS canonical_price
         |FROM cnt c JOIN reg r ON r.entity = c.entity AND r.rk = 1
         |ORDER BY c.entity""".stripMargin,

    // The GLOBAL resolution over registry ∪ batch (the incremental
    // form is exactly equal to it — resolveIncremental's Scaladoc),
    // plus the per-entity fate from member-id strata.
    "q203_incremental_er" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT CAST((max(p_partkey) + 1) // 10 AS BIGINT) AS rb
         |  FROM part),
         |pt AS (SELECT p.* FROM part p, b WHERE p.p_partkey < 2 * b.rb),
         |rec AS (
         |  SELECT p_partkey AS id,
         |         list_sort(list_distinct(list_concat(
         |           string_split(p_name, ' '),
         |           [p_brand, p_type, 'sz' || CAST(p_size AS VARCHAR)])))
         |           AS toks
         |  FROM pt),
         |tk AS (SELECT id, unnest(toks) AS tok FROM rec),
         |sz AS (SELECT id, CAST(len(toks) AS BIGINT) AS nt FROM rec),
         |ks AS (SELECT id, array_to_string(toks, '|') AS k FROM rec
         |       UNION ALL
         |       SELECT id,
         |         array_to_string(list_concat(toks[1:i - 1],
         |           toks[i + 1:len(toks)]), '|') AS k
         |       FROM rec, unnest(generate_series(1, len(toks))) AS t(i)),
         |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
         |         FROM ks x JOIN ks y ON x.k = y.k AND x.id < y.id),
         |inter AS (SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS c
         |          FROM cand c
         |          JOIN tk ta ON ta.id = c.a
         |          JOIN tk tb ON tb.id = c.b AND tb.tok = ta.tok
         |          GROUP BY 1, 2),
         |pairs AS (SELECT i.a, i.b FROM inter i
         |          JOIN sz sa ON sa.id = i.a JOIN sz sb ON sb.id = i.b
         |          WHERE CAST(i.c AS DOUBLE) / (sa.nt + sb.nt - i.c)
         |                >= $ErTau),
         |und AS (SELECT a AS src, b AS dst FROM pairs
         |        UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT p_partkey AS node, p_partkey AS peer FROM pt
         |  UNION
         |  SELECT r.node, u.dst FROM reach r JOIN und u ON u.src = r.peer),
         |ent AS (SELECT node AS id, CAST(min(peer) AS BIGINT) AS entity
         |        FROM reach GROUP BY 1),
         |reg AS (SELECT e.entity, p.p_partkey AS id, p.p_name,
         |          p.p_retailprice,
         |          row_number() OVER (PARTITION BY e.entity
         |            ORDER BY p.p_retailprice DESC, p.p_partkey ASC) AS rk
         |        FROM ent e JOIN pt p ON p.p_partkey = e.id),
         |cnt AS (SELECT r.entity, CAST(count(*) AS BIGINT) AS n_records,
         |          max(CASE WHEN r.id < b.rb THEN 1 ELSE 0 END) AS has_old,
         |          max(CASE WHEN r.id >= b.rb THEN 1 ELSE 0 END) AS has_new
         |        FROM reg r, b GROUP BY 1)
         |SELECT c.entity, c.n_records,
         |       CASE WHEN c.has_old = 1 AND c.has_new = 1 THEN 'grew'
         |            WHEN c.has_old = 1 THEN 'unchanged'
         |            ELSE 'new' END AS status,
         |       r.id AS canonical_id,
         |       r.p_name AS canonical_name,
         |       r.p_retailprice AS canonical_price
         |FROM cnt c JOIN reg r ON r.entity = c.entity AND r.rk = 1
         |ORDER BY c.entity""".stripMargin,

    // Guarded survivorship: identical prefix through `pairs`, then
    // center/leader clustering instead of the reachability closure —
    // the sequential form of refineByCenter's fixpoint: walk nodes in
    // id order; a node LEADS unless it verifies a smaller leader;
    // members join their minimum verified leader. The recursion
    // carries one row per step with the leader set as a LIST (total
    // steps = matched nodes). NOTE: under WITH RECURSIVE, DuckDB does
    // NOT bag-deduplicate a plain UNION inside a non-recursive CTE
    // the way it does outside one, so `nodes` dedups explicitly via
    // DISTINCT over UNION ALL.
    "q231_entity_resolution_guarded" -> guardedOracle(hashOrder = false),
    "q232_entity_resolution_guarded_hash" -> guardedOracle(hashOrder = true),
  )

  /** The guarded-survivorship oracle, parameterized by the peeling
    * ORDER: `hashOrder = false` walks ids ascending (q231's min-id
    * semantics), `true` walks the md5-60bit integer of the id (the
    * hashPriority relabeling) — in both, the recursion and the
    * assignment read the order from the SAME `ord` rank relation, so
    * the two oracles differ only in ord's ORDER BY. Assignment picks
    * the member's minimum-RANK verified leader via arg_min (for id
    * order that degenerates to min(dst)).
    *
    * The recursion stays the SEQUENTIAL greedy definition (one node
    * per step — deliberately NOT Spark's parallel local-minima
    * rounds, so the oracle is an independent formulation), but the
    * step state is engineered for DuckDB: the leader set rides as a
    * '0'/'1' STRING indexed by rank (substr = O(1) membership; the
    * previous LIST + list_contains was O(leaders) per step), each
    * node's smaller-rank neighbor ranks are precomputed ONCE into
    * `nbr` (the previous per-step und⋈ord subquery re-derived them
    * every step), and every prefix CTE is MATERIALIZED — without the
    * hint DuckDB may inline a CTE into each of its references inside
    * the recursion, re-running the candidate join per step. Measured
    * 356 s → seconds at sf0.01 (q232's hash order was 773 s): these
    * two oracles alone were ~90% of the full 243-oracle DuckDB pass,
    * and an oracle pass over its time budget yields no correctness
    * result at all. */
  private def guardedOracle(hashOrder: Boolean): String = {
    val mdPrio = Md5Prefix.hexToLongSql(
      "md5(CAST(n AS VARCHAR))", 1, 15)
    val orderBy = if (hashOrder) s"$mdPrio, n" else "n"
    s"""WITH RECURSIVE pt AS MATERIALIZED (
         |  SELECT * FROM part WHERE p_partkey < $ErBatch),
         |rec AS MATERIALIZED (
         |  SELECT p_partkey AS id,
         |         list_sort(list_distinct(list_concat(
         |           string_split(p_name, ' '),
         |           [p_brand, p_type, 'sz' || CAST(p_size AS VARCHAR)])))
         |           AS toks
         |  FROM pt),
         |tk AS MATERIALIZED (SELECT id, unnest(toks) AS tok FROM rec),
         |sz AS MATERIALIZED (
         |  SELECT id, CAST(len(toks) AS BIGINT) AS nt FROM rec),
         |ks AS MATERIALIZED (
         |       SELECT id, array_to_string(toks, '|') AS k FROM rec
         |       UNION ALL
         |       SELECT id,
         |         array_to_string(list_concat(toks[1:i - 1],
         |           toks[i + 1:len(toks)]), '|') AS k
         |       FROM rec, unnest(generate_series(1, len(toks))) AS t(i)),
         |cand AS MATERIALIZED (
         |         SELECT DISTINCT x.id AS a, y.id AS b
         |         FROM ks x JOIN ks y ON x.k = y.k AND x.id < y.id),
         |inter AS MATERIALIZED (
         |          SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS c
         |          FROM cand c
         |          JOIN tk ta ON ta.id = c.a
         |          JOIN tk tb ON tb.id = c.b AND tb.tok = ta.tok
         |          GROUP BY 1, 2),
         |pairs AS MATERIALIZED (
         |          SELECT i.a, i.b FROM inter i
         |          JOIN sz sa ON sa.id = i.a JOIN sz sb ON sb.id = i.b
         |          WHERE CAST(i.c AS DOUBLE) / (sa.nt + sb.nt - i.c)
         |                >= $ErTau),
         |und AS MATERIALIZED (
         |        SELECT a AS src, b AS dst FROM pairs
         |        UNION ALL SELECT b, a FROM pairs),
         |mnodes AS MATERIALIZED (SELECT DISTINCT n FROM
         |  (SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs) tt),
         |ord AS MATERIALIZED (
         |        SELECT n, CAST(row_number() OVER (ORDER BY $orderBy)
         |          AS BIGINT) AS r FROM mnodes),
         |total AS MATERIALIZED (
         |        SELECT CAST(count(*) AS BIGINT) AS t FROM ord),
         |nbr AS MATERIALIZED (
         |  SELECT o1.r AS r, list(o2.r) AS ns
         |  FROM und u JOIN ord o1 ON o1.n = u.src
         |             JOIN ord o2 ON o2.n = u.dst
         |  WHERE o2.r < o1.r GROUP BY 1),
         |steps AS (
         |  SELECT CAST(0 AS BIGINT) AS r,
         |         repeat('0', (SELECT CAST(t AS INT) FROM total)) AS ls
         |  UNION ALL
         |  SELECT s.r + 1,
         |    CASE WHEN EXISTS (SELECT 1 FROM nbr b, unnest(b.ns) AS u(x)
         |                      WHERE b.r = s.r + 1
         |                        AND substr(s.ls, CAST(x AS INT), 1) = '1')
         |         THEN s.ls
         |         ELSE substr(s.ls, 1, CAST(s.r AS INT)) || '1' ||
         |              substr(s.ls, CAST(s.r AS INT) + 2) END
         |  FROM steps s, total WHERE s.r < total.t),
         |fin AS MATERIALIZED (
         |  SELECT ls FROM steps, total WHERE steps.r = total.t),
         |ld AS MATERIALIZED (
         |  SELECT o.n AS l, o.r FROM ord o, fin
         |  WHERE substr(fin.ls, CAST(o.r AS INT), 1) = '1'),
         |asg AS (SELECT o.n AS node,
         |         CASE WHEN EXISTS (SELECT 1 FROM ld WHERE ld.l = o.n)
         |              THEN o.n
         |              ELSE (SELECT arg_min(u.dst, l2.r) FROM und u
         |                    JOIN ld l2 ON l2.l = u.dst
         |                    WHERE u.src = o.n) END AS entity
         |        FROM ord o),
         |ent AS (SELECT p_partkey AS id,
         |          CAST(coalesce(a.entity, p_partkey) AS BIGINT) AS entity
         |        FROM pt LEFT JOIN asg a ON a.node = p_partkey),
         |reg AS (SELECT e.entity, p.p_partkey AS id, p.p_name,
         |          p.p_retailprice,
         |          row_number() OVER (PARTITION BY e.entity
         |            ORDER BY p.p_retailprice DESC, p.p_partkey ASC) AS rk
         |        FROM ent e JOIN pt p ON p.p_partkey = e.id),
         |cnt AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_records
         |        FROM reg GROUP BY 1)
         |SELECT c.entity, c.n_records, r.id AS canonical_id,
         |       r.p_name AS canonical_name,
         |       r.p_retailprice AS canonical_price
         |FROM cnt c JOIN reg r ON r.entity = c.entity AND r.rk = 1
         |ORDER BY c.entity""".stripMargin
  }
}
