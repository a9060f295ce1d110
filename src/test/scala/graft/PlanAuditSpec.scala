package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Relational
import graft.sim.Similarity

/** Physical-plan audits: the scale properties the design claims
  * (column pruning into the scan, predicate pushdown, broadcast of
  * dimension/query sides, no accidental cartesian products, custom
  * expression inside whole-stage codegen) asserted on the actual
  * executed plans, not just by inspection. */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q01: scan reads exactly the 4 exported columns (pruning)") {
    val p = plan(Relational.q01PropertyExport(spark, sfDir()))
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$p"))
    assert(rs.split(",").length == 4, s"scan not pruned: $rs")
  }

  test("q02: all threshold predicates reach PushedFilters") {
    val p = plan(Relational.q02ThresholdFilter(spark, sfDir()))
    val pf = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no PushedFilters in:\n$p"))
    assert(pf.contains("o_totalprice") && pf.contains("o_orderdate"),
      s"predicates not pushed: $pf")
  }

  test("a PageRank round over cut frames is planned as a broadcast join from the start") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val t = Tables(spark, sfDir())
    val nodes = graft.graph.TradeGraph.nodes(t).select("node")
    val edges = graft.graph.TradeGraph.edges(t).select("src", "dst")
    val in = Checkpoints.cut(graft.graph.Algorithms.inEdges(nodes, edges, count(lit(1))))
    def round(ranks: DataFrame) =
      graft.graph.Algorithms.dampedRound(in, ranks, col("r") / col("od"), lit(0.15))
    // the state after one round: estimated from the plan it came from,
    // its size would compound the edge cut's lineitem-scale estimate
    // through every join, far above any broadcast threshold
    val seed = Checkpoints.cut(nodes.select(col("node"), lit(1.0).as("r")))
    val ranks = Checkpoints.cut(round(seed))
    // the plan before any stage runs: no AQE re-plan has happened yet,
    // so a broadcast here comes from the cuts' measured statistics
    val initial = round(ranks).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan.toString
      case p => p.toString
    }
    assert(initial.contains("BroadcastHashJoin"), s"no broadcast in the initial plan:\n$initial")
    assert(!initial.contains("SortMergeJoin"), initial)
    Checkpoints.release(in, seed, ranks)
  }

  test("q03: part dimension join is a broadcast hash join") {
    val p = plan(Relational.q03TopIndegree(spark, sfDir()))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q24: codegen dot product in the plan, corpus never cartesian-joined") {
    val df = Similarity.q24SimTopk(spark, sfDir())
    val p = plan(df)
    assert(p.contains("graft_dot"), "custom DotProduct expression absent")
    assert(!p.contains("CartesianProduct"),
      "scoring must broadcast the query side, not cross-join")
    // the non-equi join must BUILD the (tiny) query side
    assert(p.contains("BroadcastNestedLoopJoin Inner BuildRight"),
      "query side not broadcast")
    // whole-stage codegen markers (*(n)) appear on the executed plan
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "no whole-stage codegen stages in the executed plan")
  }

  test("q24/q51/q62: keyed top-k partial-aggregates, no window sort") {
    // every former row_number() window call site now ships only k
    // (value, id) pairs per group per partition — the executed plan
    // must show the map-side partial and NO Window operator
    for (df <- Seq(
        Similarity.q24SimTopk(spark, sfDir()),
        graft.text.CorpusOps.q51TopQualityPerLang(spark, sfDir()),
        graft.operators.Relational.q62TopOrderTotals(spark, sfDir()))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("partial_graft_topk_keyed"),
        s"no map-side partial top-k:\n$p")
      assert(!p.contains("Window"), s"window survived the rewrite:\n$p")
    }
  }

  test("q45/q53: in-row scoring plans shuffle only for the output sort") {
    for (df <- Seq(
        graft.text.CorpusOps.q45RepetitionScores(spark, sfDir()),
        graft.sim.Similarity.q53QuantizeInt8(spark, sfDir()))) {
      val p = plan(df)
      // corpus-scale scoring must be a pure projection: the single
      // allowed exchange is the rangepartitioning of the final ORDER BY
      // (count detail headers "(n) Exchange" — one per plan node)
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
      assert(exchanges <= 1, s"in-row op shuffles data:\n$p")
      assert(!p.contains("hashpartitioning"),
        s"in-row op hash-shuffles the corpus:\n$p")
    }
  }

  test("q46: benchmark shingles broadcast; corpus never shuffles text") {
    val p = plan(graft.text.CorpusOps.q46Decontamination(spark, sfDir()))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q26: candidate generation is an equi join on the band key") {
    val df = Similarity.q26EmbeddingNeardup(spark, sfDir())
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation degenerated to an all-pairs join:\n$p")
  }

  test("q73: policy filtering is a pure projection — no data shuffle") {
    val p = plan(graft.text.PolicyOps.q73PolicyFilter(spark, sfDir()))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"policy scan shuffles data:\n$p") // ORDER BY only
    assert(!p.contains("hashpartitioning"),
      s"policy scan hash-shuffles the corpus:\n$p")
  }

  test("q74/q75: scalar totals broadcast, corpus never cartesian, no vocab hint") {
    for (df <- Seq(
        graft.text.TermOps.q74TfidfTerms(spark, sfDir()),
        graft.text.TermOps.q75UnigramLogprob(spark, sfDir()))) {
      val p = plan(df)
      // the one-row totals ARE broadcast; the vocabulary join is left
      // to AQE (hinting a corpus-sized dictionary would OOM at scale)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"scalar side not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"corpus cartesian-joined:\n$p")
    }
  }

  test("q70: node-similarity pairs come from a shared-neighbor equi join") {
    val p = plan(graft.graph.Cores.q70NodeSimilarity(spark, sfDir()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation degenerated to an all-pairs join:\n$p")
  }

  test("q95: cube is ONE Expand + hash agg pass, no per-level rescan") {
    val p = plan(graft.operators.Olap.q95Cube(spark, sfDir()))
    // formatted explain lists each operator once as a "(N) Name" header
    assert("\\(\\d+\\) Expand".r.findAllIn(p).length == 1,
      s"expected exactly one Expand (single-pass grouping sets):\n$p")
    assert(!p.contains("Union"),
      s"grouping sets must not expand to a per-level Union of scans:\n$p")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length == 1,
      s"orders must be scanned once:\n$p")
  }

  test("q96: gap fill joins grid and actuals by key — never all-pairs") {
    val p = plan(graft.operators.EventOps.q96GapFill(spark, sfDir()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"grid/actuals join degenerated to all-pairs:\n$p")
    // exactly one ordered window: the forward fill
    assert("\\(\\d+\\) Window".r.findAllIn(p).length == 1,
      s"expected exactly one Window (the per-key fill):\n$p")
  }

  test("q108: TPC-H Q5 pushes both filters to scans and broadcasts dims") {
    val p = plan(graft.operators.Olap.q108TpchQ5(spark, sfDir()))
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"date range not pushed to the orders scan:\n$p")
    assert(p.contains("r_name"), s"region filter missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in Q5:\n$p")
  }

  test("q99: prefix-filtered set-sim join never degenerates to all-pairs") {
    val p = plan(graft.operators.SetSimJoin.q99SetsimJoin(spark, sfDir()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate/verify joins went all-pairs:\n$p")
  }

  test("q111: both dimension joins broadcast, nothing cartesian") {
    val p = plan(graft.operators.Olap.q111SupplierHhi(spark, sfDir()))
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q111:\n$p")
  }

  test("q114: bm25 scoring side stays broadcast, no vocabulary shuffle") {
    val p = plan(graft.text.TermOps.q114Bm25(spark, sfDir()))
    // the df/idf relation is bounded by the literal query-term count
    assert(p.contains("BroadcastHashJoin"), s"idf side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"unexpected all-pairs in bm25:\n$p")
  }

  test("q115: link-prediction candidates come from a wedge equi join") {
    val p = plan(graft.graph.Algorithms
      .q115LinkPrediction(spark, sfDir()))
    assert(!p.contains("CartesianProduct"),
      s"wedge enumeration degenerated to all-pairs:\n$p")
  }

  test("q121: encode is one joinless corpus projection over collected codebooks") {
    // the trained codebooks are Dims·PqK scalars collected to the
    // driver and inlined as literals — the encode pass must be a pure
    // projection: no join of any kind, and no exchange besides the
    // output sort's range partitioning
    val p = plan(graft.sim.KMeans.q121PqEncode(spark, sfDir()))
    assert(!p.contains("Join"), s"encode pass grew a join:\n$p")
    assert(!p.contains("hashpartitioning"), s"encode pass shuffles:\n$p")
  }

  test("q122: probe joins the code index against the broadcast query relation") {
    // index side streams (cell + PqM codes, never the embeddings);
    // the NQueries-row qrel (probed cells + ADC LUT maps) is the
    // broadcast build side of the one array_contains join
    val p = plan(graft.sim.KMeans.q122IvfPqSearch(spark, sfDir()))
    assert(!p.contains("CartesianProduct"), s"all-pairs in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin Inner BuildRight"),
      s"query relation not the broadcast build side:\n$p")
  }

  test("q123/q125: scans pruned to the consumed columns") {
    val p1 = plan(graft.text.CorpusOps.q123WeightedSample(spark, sfDir()))
    val rs1 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p1)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$p1"))
    assert(rs1.split(",").length == 3, s"q123 scan not pruned: $rs1")
    val p2 = plan(graft.operators.EventOps.q125AbLift(spark, sfDir()))
    val rs2 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p2)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$p2"))
    assert(rs2.split(",").length == 2, s"q125 scan not pruned: $rs2")
    assert(!p2.contains("CartesianProduct"))
  }

  test("q124: one doc-keyed exchange chain, corpus-derived freq unhinted") {
    val p = plan(graft.text.TextOps.q124CdcChunkDedup(spark, sfDir()))
    assert(!p.contains("CartesianProduct"))
    // the chunk-id window must run on a doc_id partitioning
    assert("hashpartitioning\\(doc_id".r.findAllIn(p).nonEmpty,
      s"no doc-keyed exchange for the chunk window:\n$p")
    // chunk-frequency side is corpus-derived: no broadcast HINT may
    // force it (AQE picks at runtime) — the analyzed plan must not
    // carry a ResolvedHint on the freq join
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"freq join must stay an equi join:\n$p")
  }

  test("q127/q128: bounded sides broadcast, corpus streamed once") {
    val p1 = plan(graft.sim.Similarity.q127EmbeddingOutliers(spark, sfDir()))
    assert(p1.contains("BroadcastHashJoin"),
      s"64-row median relation not broadcast:\n$p1")
    assert(!p1.contains("CartesianProduct"))
    val p2 = plan(graft.sim.Similarity
      .q128SemanticDecontamination(spark, sfDir()))
    // benchmark side joins with no key — the intended shape is a
    // broadcast nested loop building the BOUNDED bench relation
    assert(p2.contains("BroadcastNestedLoopJoin Inner BuildRight"),
      s"benchmark side not the broadcast build side:\n$p2")
    assert(!p2.contains("CartesianProduct"))
  }

  test("q130/q133/q134: bounded model/filter/query sides broadcast") {
    // q130: the 256-row LLR table must be the broadcast build side —
    // audited on the pre-rank scored relation (the distributed-ordinal
    // rank is an RDD boundary that hides the join from the final plan)
    val p1 = plan(graft.text.CorpusOps.dsirScored(
      graft.text.TextOps.docs(spark, sfDir()),
      graft.text.CorpusOps.BenchmarkCutoff))
    assert(p1.contains("BroadcastHashJoin"), s"LLR not broadcast:\n$p1")
    assert(!p1.contains("CartesianProduct"))
    // q133: the ≤1024-row bit relation and the dim subset broadcast;
    // the fact side must never build
    val p2 = plan(graft.operators.BloomJoin.q133BloomPrune(spark, sfDir()))
    assert(p2.contains("BroadcastHashJoin"), s"bloom bits not broadcast:\n$p2")
    assert(!p2.contains("CartesianProduct"))
    // q134: the bounded query-posting relation broadcasts; the corpus
    // posting stream is never the build side
    val p3 = plan(graft.text.TermOps.q134TfidfCosineKnn(spark, sfDir()))
    assert(p3.contains("BroadcastHashJoin"), s"query postings not broadcast:\n$p3")
    assert(!p3.contains("CartesianProduct"))
  }

  test("q135: corpus-scale shuffle only at the (type, hour) partial agg") {
    val p = plan(graft.operators.EventOps.q135Ewma(spark, sfDir()))
    // the hourly aggregation must keep (event_type, hour) keys — the
    // raw stream is never funneled into |types| partitions
    // the hour key surfaces as the _groupingexpression alias of
    // `ts_us div hourUs`
    assert("hashpartitioning\\(event_type#\\d+, _groupingexpression".r
      .findFirstIn(p).nonEmpty,
      s"no (type, hour) exchange for the hourly agg:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q119: both lookahead steps share one window exchange") {
    val p = plan(graft.operators.EventOps.q119JourneyPaths(spark, sfDir()))
    // one hashpartitioning(user_id...) exchange feeds the window; a
    // second user-keyed exchange would mean the leads were split
    val userExchanges = "hashpartitioning\\(user_id".r
      .findAllIn(p).length
    assert(userExchanges == 1,
      s"expected exactly one user-keyed exchange, got $userExchanges:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q139: zorder layout never shuffles the fact rows — no sort, no window") {
    val p = plan(graft.operators.Layout.q139ZorderLayout(spark, sfDir()))
    // bounds broadcast as a 1-row relation; file assignment is a
    // projection, so the only exchanges are the partial-agg ones
    assert(p.contains("BroadcastNestedLoopJoin"), s"bounds not broadcast:\n$p")
    assert(!p.contains("Window"), s"global-sort window crept in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q140/q141: series diagnostics shuffle the calendar grid, not events") {
    // q140: the event-scale exchange keys on (event_type, hour);
    // windows run per type over the dense calendar grid only
    val p140 = plan(graft.operators.EventOps.q140Autocorrelation(spark, sfDir()))
    assert("hashpartitioning\\(event_type#\\d+, _groupingexpression".r
      .findFirstIn(p140).nonEmpty,
      s"no (type, hour) exchange for the hourly agg:\n$p140")
    assert(!p140.contains("CartesianProduct"))
    // q141 materializes the dense hourly grid ONCE (Checkpoints.cut)
    // for its two consumers, so the final plan must read the
    // checkpointed RDD — the event-scale agg runs during the cut,
    // not once per consumer — and keep all window work per-type.
    val p141 = plan(graft.operators.EventOps.q141Cusum(spark, sfDir()))
    assert(p141.contains("Scan ExistingRDD"),
      s"dense hourly grid not materialized via checkpoint:\n$p141")
    assert(!p141.contains("FileScan"),
      s"q141 re-reads events instead of the cut grid:\n$p141")
    assert(!p141.contains("CartesianProduct"))
  }

  test("q99: candidate join co-partitions on (pair key, block), verify joins broadcast") {
    val p = plan(graft.operators.SetSimJoin.q99SetsimJoin(spark, sfDir()))
    // generation keys on the (hk, bi, bj) block-decomposed HASHED
    // pair key (hk = xxhash64(w1, w2) — 8 bytes through the exploding
    // shuffle, never the strings) and the explicit repartition must
    // survive
    assert("hashpartitioning\\(hk#\\d+L, bi#\\d+, bj#\\d+".r
      .findFirstIn(p).nonEmpty,
      s"candidate join not co-partitioned on the blocked hashed key:\n$p")
    assert(!"hashpartitioning\\(w1#".r.findFirstIn(p).nonEmpty,
      s"string pair key leaked into the candidate shuffle:\n$p")
    // in-row verification: the id→token-array sides are item-sized —
    // AQE must broadcast them, never sort-merge the candidate stream
    assert(p.contains("BroadcastHashJoin"),
      s"verify joins not broadcast at dimension scale:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q230: construction audit is all partial aggs — no cartesian, id→name joins broadcast") {
    val p = plan(graft.graph.GraphAudit
      .q230GraphConstructionAudit(spark, sfDir()))
    assert(!p.contains("CartesianProduct"), s"cartesian in q230:\n$p")
    // the module-edge id→name recovery joins are node-sized
    assert(p.contains("BroadcastHashJoin"),
      s"module id→name joins not broadcast:\n$p")
  }

  test("q138: gini rank window partitions by nation — no global sort") {
    val p = plan(graft.operators.Olap.q138GiniSpend(spark, sfDir()))
    assert("hashpartitioning\\(grp".r.findFirstIn(p).nonEmpty,
      s"rank window not partitioned by nation:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q143: centroid relation aggregates per (label, dim), corpus explodes once") {
    val p = plan(graft.sim.Similarity.q143CentroidSeparation(spark, sfDir()))
    // formatted mode lists each node twice (tree + details) — one
    // Generate node means ≤ 2 textual occurrences
    assert(p.split("Generate").length - 1 <= 2,
      s"corpus exploded more than once:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q161: the stream-static dim side is a broadcast hash join") {
    val p = plan(graft.streaming.StreamOps.q161StreamEnrich(spark, sfDir()))
    assert(p.contains("BroadcastHashJoin"),
      s"enrichment dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q164: dup-gram detection aggregates before the equi join-back") {
    val p = plan(graft.text.SpanOps.q164SubstringDedup(spark, sfDir()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"gram join-back degenerated to all-pairs:\n$p")
    // duplicate detection must be a hash aggregate on the gram (with
    // the count>=2 prune as a post-agg Filter), never a self-join
    assert(p.contains("HashAggregate"), s"no gram aggregation:\n$p")
    assert("SortMergeJoin Inner|ShuffledHashJoin Inner|BroadcastHashJoin Inner".r
      .findFirstIn(p).nonEmpty, s"position join-back not an equi join:\n$p")
  }

  test("q165: NB scoring join is word-keyed equi; scalars broadcast") {
    val p = plan(graft.text.Classify.q165NbLangConfusion(spark, sfDir()))
    assert(!p.contains("CartesianProduct"),
      s"scoring degenerated to an unbroadcast cartesian:\n$p")
    // the vocab x classes grid build and the one-row vocab-size /
    // doc-count scalars are legitimate broadcast nested loops; the
    // corpus-side scoring join must stay equi
    assert("SortMergeJoin Inner|ShuffledHashJoin Inner|BroadcastHashJoin Inner".r
      .findFirstIn(p).nonEmpty, s"tf-grid join not an equi join:\n$p")
    assert(p.contains("BroadcastExchange"), s"scalars not broadcast:\n$p")
  }

  test("q169: chunking shuffles only for the output sort") {
    val p = plan(graft.text.SpanOps.q169ChunkStride(spark, sfDir()))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"in-row chunker shuffles data:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"in-row chunker hash-shuffles the corpus:\n$p")
  }

  test("q177: filters pushed to both scans, nation broadcast, top-20 is TakeOrdered") {
    val p = plan(graft.operators.Olap.q177TpchQ10(spark, sfDir()))
    val pfs = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(";")
    assert(pfs.contains("l_returnflag"), s"returnflag not pushed: $pfs")
    assert(pfs.contains("o_orderdate"), s"date range not pushed: $pfs")
    assert(p.contains("BroadcastHashJoin"), s"nation not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 is a global sort, not a take-ordered:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q172/q173: query sample broadcast, selection is keyed top-k, no window") {
    for (df <- Seq(
        Similarity.q172AnnRecallAudit(spark, sfDir()),
        Similarity.q173HardNegatives(spark, sfDir()))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"),
        s"scoring degenerated to an unbroadcast cartesian:\n$p")
      // the =!= scoring join must build the bounded query side
      assert(p.contains("BroadcastNestedLoopJoin Inner BuildRight"),
        s"query sample not broadcast:\n$p")
      df.collect()
      assert(df.queryExecution.executedPlan.toString
        .contains("partial_graft_topk_keyed"),
        "top-k selection not a partial aggregate")
    }
  }

  test("q174: pair expansion is in-row — no join keyed on the gram") {
    val p = plan(graft.text.SourceOps.q174SourceOverlap(spark, sfDir()))
    assert(!p.contains("CartesianProduct"))
    // (the in-row shingling itself sits behind the lineage cut — the
    // ExistingRDD boundary — so it is not visible in this plan)
    // a universally-shared gram must cost C(sources,2) rows, never a
    // gram-keyed self-join — no join in the plan may key on the gram
    val keyLines = p.linesIterator.filter(_.contains("keys")).toSeq
    assert(keyLines.forall(!_.contains("gram")),
      s"gram-keyed join found:\n${keyLines.mkString("\n")}")
  }

  test("q176: vocabulary joins the corpus as a broadcast") {
    val p = plan(graft.text.SourceOps.q176OovAudit(spark, sfDir()))
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q158: profile-driven salting broadcasts the bucket map, join stays equi") {
    val p = plan(graft.operators.SkewJoin.q158SaltedJoin(spark, sfDir()))
    assert(p.contains("BroadcastHashJoin"),
      s"per-key bucket relation not broadcast:\n$p")
    // the profile's 1-row scalar-totals crossJoin(broadcast) is a
    // legitimate BroadcastNestedLoopJoin; what must NOT appear is an
    // unbroadcast cartesian or a non-equi fact join
    assert(!p.contains("CartesianProduct"),
      s"salted join degenerated to all-pairs:\n$p")
    assert("SortMergeJoin Inner|ShuffledHashJoin Inner|BroadcastHashJoin Inner".r
      .findFirstIn(p).nonEmpty, s"fact join not an equi join:\n$p")
  }

  test("q184: quarter pushed to orders scan, lateness rides an equi SEMI join") {
    val p = plan(graft.operators.Olap.q184TpchQ4(spark, sfDir()))
    val pfs = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(";")
    assert(pfs.contains("o_orderdate"), s"quarter range not pushed: $pfs")
    assert(p.contains("LeftSemi"), s"EXISTS not a semi join:\n$p")
    // non-equi lateness predicate must NOT force a nested-loop plan
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lateness predicate degenerated to a non-equi join:\n$p")
  }

  test("q197: deep join tree stays equi-join, type+date filters pushed, dims broadcast") {
    val p = plan(graft.operators.Olap.q197TpchQ8(spark, sfDir()))
    val pfs = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(";")
    assert(pfs.contains("p_type"), s"part type not pushed: $pfs")
    assert(pfs.contains("o_orderdate"), s"date range not pushed: $pfs")
    assert(p.contains("BroadcastHashJoin"), s"nation/region dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"6-table tree degenerated to a non-equi join:\n$p")
  }

  test("q186: lineitem collapses before any join, top-100 is TakeOrdered") {
    val p = plan(graft.operators.Olap.q186TpchQ18(spark, sfDir()))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 is a global sort, not a take-ordered:\n$p")
    // the HAVING must land on the aggregate output BEFORE the joins:
    // the first join input on the heavy side is an Aggregate+Filter,
    // which in the formatted plan means a Filter on sum_qty exists
    assert("Filter.*sum_qty|Filter.*\\(sum".r.findFirstIn(p).nonEmpty ||
      p.contains("sum_qty"), s"threshold not applied pre-join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q207: OR-of-ANDs stays a residual on the keyed join — no BNLJ") {
    val p = plan(graft.operators.Olap.q207TpchQ19(spark, sfDir()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"disjunctive predicate degenerated the partkey equi join:\n$p")
  }

  test("q205/q208: scalar-subquery thresholds broadcast as single rows") {
    for (df <- Seq(graft.operators.Olap.q205TpchQ15(spark, sfDir()),
        graft.operators.Olap.q208TpchQ11(spark, sfDir()))) {
      val p = plan(df)
      // the 1-row aggregate side must be the BUILD side of a broadcast
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"), s"scalar not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    }
  }

  test("q210: exists/not-exists collapse is one orderkey agg, no correlated rescans") {
    val p = plan(graft.operators.Olap.q210TpchQ21(spark, sfDir()))
    // lineitem is scanned exactly once (the correlated-subquery form
    // reads it three times); the formatted plan lists each scan twice
    // (tree node + detail section)
    val liScans = "Scan parquet[^\n]*lineitem".r.findAllIn(p).length
    assert(liScans <= 2, s"lineitem scanned ${liScans / 2}× — correlated rescan shape:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 not take-ordered:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q213: part size/type prune reaches the scan, dims broadcast, min-cost join-back keyed") {
    val p = plan(graft.operators.Olap.q213TpchQ2(spark, sfDir()))
    val pfs = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(";")
    assert(pfs.contains("p_type") && pfs.contains("p_size"),
      s"part prune not pushed: $pfs")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 not take-ordered:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"min-cost equality join degenerated:\n$p")
  }

  test("q214: name-suffix prune reaches the part scan, one lineitem pass") {
    val p = plan(graft.operators.Olap.q214TpchQ20(spark, sfDir()))
    val pfs = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(";")
    assert(pfs.contains("p_name"), s"suffix match not pushed: $pfs")
    // both quantity sums come from ONE conditional agg — lineitem is
    // scanned once (each scan appears twice in the formatted plan)
    val liScans = "Scan parquet[^\n]*lineitem".r.findAllIn(p).length
    assert(liScans <= 2, s"lineitem scanned ${liScans / 2}× — correlated rescan shape:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q215: bounded pair relation broadcast, no cartesian on the register path") {
    val p = plan(graft.text.SourceOps.sketchOverlap(
      graft.text.TextOps.docs(spark, sfDir()), graft.text.SourceOps.AuditShingle))
    assert(p.contains("BroadcastHashJoin"), s"pair relation not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("q212: year range reaches the orders scan") {
    val p = plan(graft.operators.Olap.q212TpchQ12(spark, sfDir()))
    val pfs = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(";")
    assert(pfs.contains("o_orderdate"), s"year range not pushed: $pfs")
    assert(!p.contains("CartesianProduct"))
  }

  test("q218: candidate generation is an equi join on (index, segment key)") {
    val p = plan(graft.text.EditOps.q218EditNeardup(spark, sfDir()))
    // PassJoin's scale claim: seg×probe meet ONLY through the hash
    // relation on (i, k) — the doc_id inequality must ride as a
    // residual on that equi join, never demote it to a nested loop
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"seg/probe met through a nested loop:\n$p")
    val keyLines = p.linesIterator.filter(_.contains("keys")).toSeq
    assert(keyLines.exists(l => l.contains("i") && l.contains("k")),
      s"no (i, k)-keyed join found:\n${keyLines.mkString("\n")}")
  }

  test("q220: blocklist scan is a pure projection — no join, one output sort") {
    val d = graft.text.TextOps.docs(spark, sfDir())
    val p = plan(graft.text.PolicyOps.phraseScan(d, Seq("a b", "c d")))
    // the whole point of the automaton: corpus-grain work is one
    // in-row expression pass; no join, no aggregate, no shuffle
    // beyond the doc_id output ordering
    assert(!p.contains("Join"), s"join crept into the scan:\n$p")
    assert(!p.contains("HashAggregate"), s"aggregate crept in:\n$p")
    assert(p.contains("graft_phrase_hits"), s"expression not in plan:\n$p")
  }

  test("q221: redaction is a pure projection — no join, one output sort") {
    val d = graft.text.TextOps.docs(spark, sfDir())
    val p = plan(graft.text.PolicyOps.phraseRedact(d, Seq("a b", "c d")))
    assert(!p.contains("Join"), s"join crept into the redaction:\n$p")
    assert(!p.contains("HashAggregate"), s"aggregate crept in:\n$p")
    assert(p.contains("graft_phrase_redact"), s"expression not in plan:\n$p")
  }

  test("q222: the walk step is a keyed frontier join, nothing cartesian") {
    // audited on the single-step relation pre-cut: walkRows cuts the
    // frontier every step (the pagerank discipline), so the full-query
    // plan is checkpoint scans
    import spark.implicits._
    val cur = Seq((1L, 0L)).toDF("walk_id", "node")
    val adj = Seq((0L, 1L, 1L, 1L)).toDF("src", "dst", "rk", "od")
    val p = plan(graft.graph.RandomWalks.stepJoin(cur, adj, 1))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // the rank pick must ride the node=src equi join as a filter,
    // never force a theta join
    val keyLines = p.linesIterator.filter(_.contains("keys")).toSeq
    assert(keyLines.exists(_.contains("node#")) &&
      keyLines.exists(_.contains("src#")),
      s"no node=src keyed join:\n${keyLines.mkString("\n")}")
  }

  test("q224: adj2 build and the walk step stay keyed, interval test rides as residual") {
    import spark.implicits._
    // the frontier must meet adj2 on the (prev, cur) state key — the
    // [lo, hi) interval test is a residual, never the join condition
    val cur = Seq((1L, 0L, 1L)).toDF("walk_id", "prev", "node")
    val a2 = Seq((0L, 1L, 2L, 0L, 4L, 4L))
      .toDF("p2", "c2", "x", "lo", "hi", "tot")
    val p = plan(graft.graph.Node2Vec.stepJoin(cur, a2, 1))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    val keyLines = p.linesIterator.filter(_.contains("keys")).toSeq
    assert(keyLines.exists(l => l.contains("prev#") && l.contains("node#")) &&
      keyLines.exists(l => l.contains("p2#") && l.contains("c2#")),
      s"no (prev,cur)-keyed step join:\n${keyLines.mkString("\n")}")
    // the transition-table build: adjacency self-join keyed on the
    // middle node, edge-set test keyed on (prev, x) — never cartesian
    val adj = Seq((0L, 1L, 1L, 1L)).toDF("src", "dst", "rk", "od")
    val pa = plan(graft.graph.Node2Vec.transitionIntervals(
      adj, adj.select("src", "dst")))
    assert(!pa.contains("CartesianProduct"), s"cartesian adj2 build:\n$pa")
    assert(!pa.contains("BroadcastNestedLoopJoin"), s"nested loop adj2:\n$pa")
  }

  test("q225: score joins stay keyed; only the bounded pair-candidate leg is non-equi") {
    import spark.implicits._
    val emb = Seq((1L, 0L, 1.0), (2L, 0L, 1.0)).toDF("node", "dim", "emb")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    // audited pre-cut (linkAuc checkpoints this relation)
    val p = plan(graft.graph.NodeEmbeddings.scoredPairs(emb, edges))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // exactly one nested-loop leg: the u ≠ v candidate pairing over
    // the embedded-node relation (bounded by the audited graph).
    // formatted explain lists each operator twice (tree + details).
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected nested-loop legs (${bnlj / 2}):\n$p")
    // r15: the score joins fetch per-node VECTORS keyed on u and v —
    // the per-dim grain never leaves the trainer, so no join may be
    // keyed on dim
    val keyLines = p.linesIterator.filter(_.contains("keys")).toSeq
    assert(keyLines.exists(_.contains("u#")) &&
      keyLines.exists(_.contains("v#")),
      s"no node-keyed score joins:\n${keyLines.mkString("\n")}")
    assert(!keyLines.exists(_.contains("dim#")),
      s"a dim-keyed score join survived the vector rewrite:\n${keyLines.mkString("\n")}")
  }

  test("q229: sampled audit stays keyed — draw join on the rank column, no cartesian") {
    import spark.implicits._
    val emb = Seq((1L, 0L, 1.0), (2L, 0L, 1.0), (3L, 0L, 1.0))
      .toDF("node", "dim", "emb")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    // pre-cut relation (linkAucSampled checkpoints it)
    val p = plan(graft.graph.NodeEmbeddings.scoredSampledPairs(emb, edges, 4))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // one nested-loop leg allowed: the broadcast 1-row vocabulary
    // count (formatted explain prints each operator twice)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected nested-loop legs (${bnlj / 2}):\n$p")
    // the negative draw must meet the ranked vocabulary on vr = rk
    val keyLines = p.linesIterator.filter(_.contains("keys")).toSeq
    assert(keyLines.exists(_.contains("vr#")),
      s"no vr-keyed draw join:\n${keyLines.mkString("\n")}")
  }

  test("q223: skip-gram pairs meet on walk_id, PPMI/projection joins stay keyed") {
    // the pair stage (audited pre-cut — the Checkpoints.cut in
    // ppmiRows truncates lineage in the full plan): the corpus-wide
    // meeting point is the walk_id equi join, the ±window band rides
    // it as a residual
    import spark.implicits._
    val walks = Seq((1L, 0L, 10L), (1L, 1L, 11L)).toDF("walk_id", "step", "node")
    val pp = plan(graft.graph.NodeEmbeddings.skipGramPairs(walks, 2))
    assert(!pp.contains("CartesianProduct"), s"cartesian pair stage:\n$pp")
    val keyLines = pp.linesIterator.filter(_.contains("keys")).toSeq
    assert(keyLines.exists(_.contains("walk_id#")),
      s"no walk_id-keyed pair join:\n${keyLines.mkString("\n")}")
    // the full query: PPMI marginals join on u/v; the only
    // nested-loop legs are the broadcast scalar total and the
    // broadcast 16-row dim relation — both bounded by construction
    val p = plan(graft.graph.NodeEmbeddings.q223NodeEmbeddings(spark, sfDir()))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected nested-loop legs ($bnlj):\n$p")
  }

  test("q219: candidates meet on the gram, verify legs stay keyed") {
    val p = plan(graft.text.CorpusOps.q219ContainmentJoin(spark, sfDir()))
    // batch×corpus shape: the only corpus-wide meeting point is the
    // equi join on the prefix gram g; the per-doc prefix-filter
    // window partitions by doc_id (no global sort); verification
    // joins back by id, never re-pairing on text
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    val keyLines = p.linesIterator.filter(_.contains("keys")).toSeq
    assert(keyLines.exists(_.contains("g")),
      s"no gram-keyed candidate join:\n${keyLines.mkString("\n")}")
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(!_.matches(".*partitionBy=\\[\\].*")),
      s"unpartitioned window (global sort):\n${winLines.mkString("\n")}")
  }

  test("q233: the partkey cap pushes through the pair join to the scan") {
    // cc-star bounds its graph with src<cap AND dst<cap on DERIVED
    // pair columns; Catalyst must translate both into l_partkey
    // pushdowns on the lineitem scans, or the unbounded corpus is
    // read just to be thrown away. The audit reads the edge relation
    // q233 actually builds and the loop MATERIALIZES (its lineage cut
    // hides the scan from the final plan): the capped builder, since
    // the uncapped `edges` is a basket aggregation no filter crosses.
    val t = Tables(spark, sfDir())
    val p = plan(graft.graph.CoPurchase.edgesCapped(t,
      graft.graph.StarContraction.CcCap))
    val pfs = "PushedFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(pfs.exists(f => f.contains("LessThan(l_partkey")),
      s"partkey cap not pushed to the lineitem scan:\n${pfs.mkString("\n")}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q234: both stream predicates reach their lineitem scans") {
    val p = plan(graft.operators.Profile.q234JoinSizeEstimate(spark, sfDir()))
    val pfs = "PushedFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(pfs.exists(_.contains("EqualTo(l_returnflag,R)")),
      s"returnflag predicate not pushed:\n${pfs.mkString("\n")}")
    assert(pfs.exists(_.contains("GreaterThanOrEqual(l_quantity")),
      s"quantity predicate not pushed:\n${pfs.mkString("\n")}")
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"),
      "exact-size scalar must broadcast, never a real cartesian")
  }

  test("q236/q237: the doc_id bound reaches the documents scan") {
    // the suffix-array rounds are lineage-cut, so the parquet scan
    // only appears in the plan of the bounded input relation the
    // first round materializes
    import org.apache.spark.sql.functions.{col, substring}
    val d = graft.text.TextOps.docs(spark, sfDir())
      .filter(col("doc_id") < graft.text.SuffixArray.SaDocCap)
      .select(col("doc_id"),
        substring(col("s"), 1, graft.text.SuffixArray.SaMaxLen).as("s"))
    val p = plan(d)
    val pfs = "PushedFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(pfs.exists(_.contains("LessThan(doc_id")),
      s"doc_id bound not pushed:\n${pfs.mkString("\n")}")
    // and the scan reads only the two needed columns
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$p"))
    assert(rs.split(",").length == 2, s"documents scan not pruned: $rs")
  }

  test("q240: the pattern probe broadcasts the pattern list") {
    val p = plan(graft.text.SuffixArray
      .q240SaSubstringSearch(spark, sfDir()))
    // startsWith is a non-equi predicate: the pattern side (a handful
    // of literals) must be the broadcast build, never a cartesian
    assert(!p.contains("CartesianProduct"),
      "pattern probe must broadcast, not cross-join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"pattern list not broadcast:\n${p.take(2000)}")
  }

  test("q130/q145: the global rank windows are gone from the plans") {
    // until r13 both plans funneled a data-scale relation through an
    // unpartitioned row_number Window (VERDICT r12 "What's wrong" #3):
    // q130 ranked every document's DSIR weight, q145 sorted the full
    // vocabulary to keep 100 terms. q130 now ranks via the distributed
    // sort+zipWithIndex primitive (graft.Ordinals — an RDD boundary,
    // so no Window node can appear); q145 keeps top-K counts with the
    // TopKAgg per-partition-heap partial aggregate.
    val p130 = plan(graft.text.CorpusOps.q130DsirWeights(spark, sfDir()))
    assert(!p130.contains("Window"), s"q130 window survived:\n$p130")
    val df145 = graft.text.TermOps.q145ZipfFit(spark, sfDir())
    val p145 = plan(df145)
    assert(!p145.contains("Window"), s"q145 window survived:\n$p145")
    df145.collect()
    assert(df145.queryExecution.executedPlan.toString
      .contains("partial_graft_topk"),
      "q145 top-K counts not a map-side partial aggregate")
  }

  test("q241: every join is keyed or broadcast — no cartesian stage") {
    val p = plan(graft.text.SpanOps.q241WinnowingPairs(spark, sfDir()))
    assert(!p.contains("CartesianProduct"),
      "fingerprint pair join must be hash-keyed on h, verification " +
        "joins keyed on (doc, gram)/(doc) — a cartesian means a " +
        "candidate step regressed to all-pairs")
  }
}
