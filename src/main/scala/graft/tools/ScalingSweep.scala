package graft.tools

import org.apache.spark.sql.functions._

/** Candidate-count diagnostic for the sf0.1 → sf1 scaling sweep
  * (BENCH_SCALING.md): counts the CANDIDATE PAIRS each blocked/banded
  * near-dup generator emits at a given SF dir, using the operators'
  * own internal stages (no duplicated logic). Wall-times come from
  * the standard Bench harness; this reports the volume that drives
  * them, so a super-linear exponent can be attributed to generation
  * vs verification.
  *
  * Usage: sbt "runMain graft.tools.ScalingSweep /root/testdata/sf0.1"
  */
object ScalingSweep {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Tables.localSession(defaultCpus = 32)
    val t = graft.Tables(spark, dir)

    // optional metric filter: args(1) = comma-separated substrings
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSet else Set.empty
    def report(name: String, n: => Long): Unit = {
      if (only.nonEmpty && !only.exists(name.contains)) return
      val t0 = System.nanoTime()
      val v = n
      println(f"CAND $name%-14s $v%12d  (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      graft.Checkpoints.releaseAll(spark)
    }

    report("q99_pairs", {
      val lists = graft.operators.SetSimJoin.tokenLists(
        t.part.select(col("p_partkey").cast("long").as("id"),
          col("p_name").as("name")))
      graft.operators.SetSimJoin
        .candidatePairs(lists, graft.operators.SetSimJoin.Theta).count()
    })
    // ER candidates, q203's SF-relative scoping: the full blocked
    // volume over the first two part-key deciles (registry = decile 1,
    // batch = decile 2)
    report("q203_pairs_full", {
      val part = t.part
      val rb = (part.agg(max(col("p_partkey")).cast("long")).first()
        .getLong(0) + 1) / 10
      graft.operators.EntityResolution.candidatePairs(
        part.filter(col("p_partkey") < 2 * rb)).count()
    })
    report("q21_pairs", {
      val d = graft.text.TextOps.docs(spark, dir)
      val sig = graft.Checkpoints.cut(graft.text.TextOps.laneSigs(d, 2))
      graft.text.TextOps.candidates(
        graft.text.TextOps.bandRelation(sig, 3, 5)).distinct().count()
    })
    report("q22_pairs", {
      val d = graft.text.TextOps.docs(spark, dir)
      val sig = graft.Checkpoints.cut(graft.text.TextOps.laneSigs(d, 1))
      graft.text.TextOps.candidates(
        graft.text.TextOps.bandRelation(sig, 2, 4)).distinct().count()
    })
    // q241 fingerprint-join candidates (pre-verify): distinct doc
    // pairs sharing >=1 selected winnowing fingerprint — the volume
    // the guarantee-bearing family pays instead of all-pairs
    report("q241_pairs", {
      val d = graft.text.TextOps.docs(spark, dir)
      val fps = graft.text.SpanOps.winnowingPicks(d,
          graft.text.SpanOps.PairK, graft.text.SpanOps.PairW)
        .select(col("doc_id"), expr("mv div 1048576").as("h")).distinct()
      fps.select(col("h"), col("doc_id").as("a"))
        .join(fps.select(col("h"), col("doc_id").as("b")), Seq("h"))
        .filter(col("a") < col("b"))
        .select("a", "b").distinct().count()
    })
    report("copurchase_edges", graft.graph.CoPurchase.edges(t, None).count())

    report("q218_pairs", {
      val pre = graft.Checkpoints.cut(graft.text.EditOps.prefixes(
        graft.text.TextOps.docs(spark, dir)))
      graft.text.EditOps.candidatePairs(pre).count()
    })
    report("q218_matches", {
      graft.text.EditOps.q218EditNeardup(spark, dir).count()
    })
    // q219's bench stratum (doc_id < 50) shares no word-8-gram with
    // the scale corpus (no planted contamination there), which would
    // measure an empty prune; plant a deterministic bench of 50 FULL
    // COPIES of evenly-strided corpus docs (ids < 0, cutoff 0) so the
    // candidate stage does real work at every scale
    report("q219_pairs", {
      val d = graft.text.TextOps.docs(spark, dir).select("doc_id", "s")
      // max(1, …): a sub-50-doc corpus otherwise makes stride 0 and
      // the modulo below divides by zero
      val stride = math.max(1L, d.count() / 50)
      val bench = d.filter(col("doc_id") % stride === 0 &&
          col("doc_id") < stride * 50)
        .select((-(col("doc_id") / stride) - 1).as("doc_id"), col("s"))
      val sh = graft.text.CorpusOps.shingleRelation(d.unionByName(bench))
      graft.text.CorpusOps.containmentCandidates(sh, 0L,
        graft.text.CorpusOps.ContainTheta).count()
    })

    // q220 wall A/B at this scale: total hits computed three ways —
    // the automaton projection, a single regex alternation over all
    // phrases (O(len·terms) per doc; also UNDERCOUNTS back-to-back
    // occurrences, since a consumed match eats the shared delimiter
    // even with zero-width boundaries — the completeness gap is part
    // of the automaton's case), and the bigram explode + join
    // (corpus-grain shuffle; count-exact, the spec's equality
    // partner). The printed times are the comparison.
    // the block runs when a filter term targets q220 from either
    // side, i.e. names a q220 report (o.contains) or abbreviates one
    // ("220" ⊂ "q220"); the abbreviation clause requires >=3 chars, so
    // a bare "q"/"2"/"22" aimed at some other report does not trigger
    // this heavy block ("q220".contains matches any of its substrings)
    if (only.isEmpty ||
        only.exists(o => o.contains("q220") ||
          (o.length >= 3 && "q220".contains(o)))) {
      val d220 = graft.text.TextOps.docs(spark, dir)
      // derivation forced OUTSIDE the timed reports: the A/B compares
      // the scan forms, not the (shared, harness-only) list build
      val phrases = graft.text.PolicyOps.derivedBlocklist(d220)
      println(s"  (${phrases.length} phrases)")
      report("q220_hits_ac", {
        graft.text.PolicyOps.phraseScan(d220, phrases)
          .agg(sum("n_hits")).collect()(0).getLong(0)
      })
      report("q220_hits_regex", {
        val pat = "(?<=^| )(" +
          phrases.map(java.util.regex.Pattern.quote).mkString("|") +
          ")(?= |$)"
        d220.select(regexp_count(col("s"), lit(pat)).cast("long").as("h"))
          .agg(sum("h")).collect()(0).getLong(0)
      })
      report("q220_hits_join", {
        val bl = d220.sparkSession.createDataFrame(
          d220.sparkSession.sparkContext.parallelize(
            phrases.map(org.apache.spark.sql.Row(_))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("bigram",
              org.apache.spark.sql.types.StringType))))
        d220.withColumn("words", split(col("s"), " "))
          .filter(size(col("words")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(words) - 1), " +
              "i -> concat(words[i-1], ' ', words[i]))")).as("bigram"))
          .join(bl, "bigram").count()
      })
      // blocklist-SIZE scaling on a fixed corpus: t grown past the
      // bigram vocabulary with synthetic never-matching phrases
      // (hits stay constant — the rows time the SCAN cost in t).
      // The automaton claim is wall flat in t; the alternation's is
      // O(len·t). The cached d220 keeps the corpus read out of the
      // comparison.
      val dc = d220.cache(); dc.count()
      for (t <- Seq(1000, 10000, 50000)) {
        val ps = phrases ++
          (0 until (t - phrases.length)).map(i => s"zqx$i wvu$i")
        report(s"q220_t${t}_ac",
          graft.text.PolicyOps.phraseScan(dc, ps)
            .agg(sum("n_hits")).collect()(0).getLong(0))
        report(s"q220_t${t}_regex", {
          val pat = "(?<=^| )(" +
            ps.map(java.util.regex.Pattern.quote).mkString("|") +
            ")(?= |$)"
          dc.select(regexp_count(col("s"), lit(pat)).cast("long").as("h"))
            .agg(sum("h")).collect()(0).getLong(0)
        })
      }
      dc.unpersist()
    }

    // ANN / embedding family: within-cell (SemDeDup) and LSH-bucket
    // (q26) pair volumes computed from group sizes — Σ C(g,2), no
    // pair materialization needed
    val v = t.embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    def cellPairs(k: Int): Long =
      graft.sim.KMeans.assignments(v, k, graft.sim.KMeans.Iters)
        .groupBy("cell").agg(count(lit(1)).as("g"))
        .agg(sum(expr("g * (g - 1) div 2"))).collect()(0).getLong(0)
    report("q116_cell_pairs_k8", cellPairs(8))
    def bucketPairs(r: Int): Long =
      graft.sim.Similarity
        .bandedBuckets(v, r, graft.sim.Similarity.NeardupBands)
        .groupBy("j", "bkt").agg(count(lit(1)).as("g"))
        .agg(sum(expr("g * (g - 1) div 2"))).collect()(0).getLong(0)
    report("q26_bucket_pairs", bucketPairs(graft.sim.Similarity.NeardupRows))
    // q228/q229: the basket co-occurrence relation the prod2vec
    // trainer aggregates (reported post-agg, floored, both directions)
    // and the sampled audit's candidate volume (|E|·(K+1) bound) over
    // the same relation as its positive edge set
    report("q228_pairs", graft.sim.Prod2Vec.basketPairs(t).count())
    report("q229_cand", {
      val emb = graft.sim.Prod2Vec.embeddings(spark, dir)
      val sym = graft.sim.Prod2Vec.basketPairs(t)
        .select(col("u").as("src"), col("v").as("dst"))
      graft.graph.NodeEmbeddings
        .scoredSampledPairs(emb, sym, graft.sim.Prod2Vec.NegK).count()
    })
    spark.stop()
  }
}
