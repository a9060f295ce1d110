package graft

import org.apache.spark.sql.functions._
import graft.text.SpanOps

class SpanOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force reference: a position is duplicated iff its k-window
    * occurs ≥2 times corpus-wide; islands merged sequentially. */
  private def refSpans(docs: Seq[(Long, String)], k: Int): Seq[(Long, Long, Long)] = {
    val grams = for {
      (id, s) <- docs if s.length >= k
      i <- 0 to (s.length - k)
    } yield (id, i, s.substring(i, i + k))
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val dup = grams.filter(g => counts(g._3) >= 2)
    dup.groupBy(_._1).toSeq.flatMap { case (id, ps) =>
      val sorted = ps.map(_._2).sorted
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (p <- sorted) {
        if (spans.nonEmpty && p <= spans.last._2) {
          val (s0, e0) = spans.last
          spans(spans.size - 1) = (s0, math.max(e0, p + k))
        } else spans += ((p, p + k))
      }
      // reference uses 0-based starts; operator emits 1-based
      spans.map { case (s, e) => (id, s + 1L, e + 1L) }
    }.sortBy(t => (t._1, t._2))
  }

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again ok"),
    (2L, "zz the quick brown fox jumps over the lazy dog again and zz"),
    (3L, "completely unique content with no repeats whatsoever here yes"),
    (4L, "abcabcabcabcabcabcabcabcabcabcabcabc padding tail x"),
    (5L, "abcabcabcabcabcabcabcabcabcabcabcabc padding tail y"),
    (6L, "short"),
  )

  test("q164 spans == brute-force reference at k=12") {
    val k = 12
    val d = corpus.toDF("doc_id", "s")
    val got = SpanOps.duplicateSpans(d, k)
      .select("doc_id", "span_start", "span_end").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(t => (t._1, t._2))
    assert(got == refSpans(corpus, k))
    assert(got.nonEmpty) // fixture actually exercises the operator
  }

  test("q164 spans never overlap and respect the min length") {
    val k = 12
    val d = corpus.toDF("doc_id", "s")
    val rows = SpanOps.duplicateSpans(d, k)
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 <= b._2, s"overlap: $a $b")
        case _ =>
      }
    }
    assert(rows.forall(r => r._4 >= k && r._4 == r._3 - r._2))
  }

  test("q170 scrub removes exactly the spans and conserves characters") {
    val k = 12
    val d = corpus.toDF("doc_id", "s")
    val spans = refSpans(corpus, k).groupBy(_._1)
    val out = SpanOps.scrubSpans(d, k)
      .select("doc_id", "n_spans", "removed_chars", "kept_chars", "scrubbed")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == corpus.map(_._1).toSet) // every doc present
    corpus.foreach { case (id, s) =>
      val (_, nSpans, removed, kept, scrubbed) = out(id)
      val ref = spans.getOrElse(id, Seq.empty)
      assert(nSpans == ref.size.toLong)
      // scalar reference scrub: drop chars covered by any span
      val covered = ref.flatMap { case (_, st, en) => (st - 1) until (en - 1) }.toSet
      val expected = s.zipWithIndex.collect {
        case (c, i) if !covered.contains(i) => c
      }.mkString
      assert(scrubbed == expected, s"doc $id scrub mismatch")
      assert(removed == covered.size.toLong)
      assert(kept + removed == s.length.toLong) // conservation
    }
    // the fixture actually removes something and keeps something
    assert(out.values.exists(_._3 > 0) && out.values.forall(_._4 >= 0))
  }

  test("q170 scrubbed corpus has no remaining duplicated k-gram from removed content") {
    val k = 12
    val d = corpus.toDF("doc_id", "s")
    val scrubbed = SpanOps.scrubSpans(d, k)
      .select("doc_id", "scrubbed").as[(Long, String)].collect().toSeq
    // conservative contract: every 40%+ duplicated run of length >= k
    // was cut from ALL docs, so re-running detection on the scrubbed
    // text finds only duplicates CREATED by the seam junctions
    val again = refSpans(scrubbed, k)
    val seams = again.map(_._1).toSet
    // seam-created duplicates are possible but must not resurrect the
    // original planted duplicates (docs 1,2 shared a 47-char run; the
    // run itself must be gone from both)
    val planted = "the quick brown fox jumps over the lazy dog"
    scrubbed.foreach { case (_, s) => assert(!s.contains(planted.take(k))) }
    assert(seams.subsetOf(scrubbed.map(_._1).toSet))
  }

  test("q169 chunks cover every token exactly and overlap by win-step") {
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // multi-chunk
      (2L, (1 to 32).map(i => s"w$i").mkString(" ")),  // exactly one window
      (3L, (1 to 33).map(i => s"u$i").mkString(" ")),  // one token spillover
      (4L, "a b c"),                                    // short doc
    ).toDF("doc_id", "s")
    val win = SpanOps.ChunkWindow
    val step = SpanOps.ChunkStep
    val rows = SpanOps.strideChunks(docs, win, step)
      .select("doc_id", "chunk_idx", "start_tok", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect()
    val byDoc = rows.groupBy(_._1)
    // every doc represented, chunk 0 always present
    assert(byDoc.keySet == Set(1L, 2L, 3L, 4L))
    byDoc.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 == 0L)
      // consecutive starts advance by exactly step
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 - a._3 == step)
        case _ =>
      }
      // chunk text token count matches n_chunk_tokens
      sorted.foreach { c =>
        assert(c._5.split(" ").length.toLong == c._4)
        assert(c._4 <= win)
      }
      // last chunk reaches the end of the doc; no redundant tail
      val n = sorted.map(c => c._3 + c._4).max
      val last = sorted.last
      assert(last._3 + last._4 == n)
      if (sorted.size > 1) assert(last._3 + win - step < n)
    }
    // doc 2 (exactly win tokens) and doc 4 (short) are single-chunk
    assert(byDoc(2L).size == 1 && byDoc(4L).size == 1)
    // doc 3: 33 tokens -> second window adds token 33
    assert(byDoc(3L).size == 2 && byDoc(3L).map(_._4).toSet == Set(32L, 9L))
  }

  /** Scalar robust winnowing (Schleimer et al. 2003): same md5-40bit
    * composite encoding, sliding window min, distinct picks. */
  private def refWinnow(s: String, k: Int, w: Int): (Long, Long, Long) = {
    val grams = (0 to s.length - k).map(i => (i + 1, s.substring(i, i + k)))
    val vs = grams.map { case (pos, g) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
      java.lang.Long.parseLong(hex, 16) * 1048576L + (1048575L - pos)
    }
    val picks = (w - 1 until vs.length)
      .map(i => vs.slice(i - w + 1, i + 1).min).distinct
    (grams.length.toLong, (grams.length - w + 1).toLong, picks.length.toLong)
  }

  test("winnowing matches the scalar reference and its density bounds") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "aaaaaaaaaaaaaaaaaaaa"), // degenerate: one distinct gram
      (3L, "abcabcabcabcabcabcabcabc"), // period-3 repetition
      (4L, "mixed 123 content with, punctuation! and spaces  ok"))
    val got = SpanOps.winnowing(docs.toDF("doc_id", "s"),
        SpanOps.WinnowK, SpanOps.WinnowW)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    for ((id, s) <- docs) {
      val (ng, nw, nf) = refWinnow(s, SpanOps.WinnowK, SpanOps.WinnowW)
      val (g1, g2, g3, dens) = got(id)
      assert((g1, g2, g3) == ((ng, nw, nf)), s"doc $id vs scalar reference")
      // coverage guarantee: >= 1 pick per w consecutive windows;
      // density bounded by window count
      assert(g3 >= (g2 + SpanOps.WinnowW - 1) / SpanOps.WinnowW && g3 <= g2)
      assert(math.abs(dens - g3.toDouble / g2) < 1e-6 + 5e-7)
    }
    // all-'a' doc: every window's rightmost-min is its newest
    // position, so the positional pick count equals the window count
    // (the rightmost rule trades density for position coverage on
    // degenerate runs — Schleimer et al. §5 discuss exactly this)
    assert(got(2L)._3 == got(2L)._2)
  }

  test("winnowing guarantee: docs sharing a >= w+k-1 run share a fingerprint") {
    val run = "zqxjvzqxjvzq" // 12 chars = WinnowW + WinnowK - 1
    val d1 = s"first document $run tail one"
    val d2 = s"completely different prefix $run other end"
    val sel = (s: String) => {
      val grams = (0 to s.length - SpanOps.WinnowK)
        .map(i => (i + 1, s.substring(i, i + SpanOps.WinnowK)))
      val vs = grams.map { case (pos, g) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
        (java.lang.Long.parseLong(hex, 16), pos)
      }
      (SpanOps.WinnowW - 1 until vs.length)
        .map(i => vs.slice(i - SpanOps.WinnowW + 1, i + 1)
          .minBy { case (h, p) => (h, -p) })
        .map(_._1).toSet
    }
    assert(sel(d1).intersect(sel(d2)).nonEmpty,
      "the paper's guarantee: a shared run of w+k-1 chars must share a fingerprint hash")
  }

  test("fingerprint pairs: planted-run recall, jaccard and witness verify") {
    val (k, w) = (SpanOps.PairK, SpanOps.PairW)
    // the guarantee run: any shared run of >= w+k-1 chars MUST yield
    // a shared fingerprint, hence a candidate pair
    val run = ("zqxjv" * 8).take(k + w - 1) // 39 chars
    val docs = Seq(
      (1L, s"first document body with the planted $run and a tail"),
      (2L, s"second unrelated prefix then $run closing words here"),
      (3L, "entirely distinct content sharing no long runs with others x"),
      (4L, s"third copy holder $run trailing remainder text"))
      .toDF("doc_id", "s")
    val got = SpanOps.fingerprintPairs(docs, k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(6)))).toMap
    // all three run-carrying docs pair up; doc 3 pairs with nobody
    assert(got.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)),
      s"candidate pairs ${got.keySet}")
    got.foreach { case (pair, (nShared, jac, wLcp)) =>
      assert(nShared >= 1L)
      // the witness extension must recover at least a full shared gram
      assert(wLcp >= k, s"$pair witness lcp $wLcp < k")
      assert(jac > 0.0 && jac < 1.0, s"$pair jaccard $jac")
    }
    // hand-check one jaccard: distinct k-grams of each doc, exact ratio
    val texts = Map(1L -> s"first document body with the planted $run and a tail",
      2L -> s"second unrelated prefix then $run closing words here")
    def gs(s: String) = (0 to s.length - k).map(i => s.substring(i, i + k)).toSet
    val (ga, gb) = (gs(texts(1L)), gs(texts(2L)))
    val expect = ga.intersect(gb).size.toDouble / ga.union(gb).size
    assert(math.abs(got((1L, 2L))._2 - expect) < 1e-6 + 5e-7,
      s"jaccard ${got((1L, 2L))._2} vs hand $expect")
  }

  test("fingerprint pairs df-cap: boilerplate dropped, rare runs kept, no-op when slack") {
    val (k, w) = (SpanOps.PairK, SpanOps.PairW)
    val boiler = ("standard license header text " * 3).take(k + w - 1)
    val rare = ("unique shared duplicated run " * 3).take(k + w - 1)
    // docs 1-5 all carry the boilerplate run; only 1 and 2 share the
    // rare run. dfCap=3 must drop the boilerplate fingerprints (df=5)
    // and keep the (1,2) pair alive through the rare run (df=2).
    val docs = (1L to 5L).map { i =>
      val extra = if (i <= 2) s" plus the $rare segment" else ""
      (i, s"document number $i body $boiler filler ${i * 7919}$extra")
    }.toDF("doc_id", "s")
    val capped = SpanOps.fingerprintPairs(docs, k, w, dfCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)),
      s"cap must keep only the rare-run pair, got $capped")
    // a cap that never binds is a no-op: identical to the exact form
    val uncapped = SpanOps.fingerprintPairs(docs, k, w)
      .collect().map(_.toSeq).toSet
    val slack = SpanOps.fingerprintPairs(docs, k, w, dfCap = 1000)
      .collect().map(_.toSeq).toSet
    assert(slack == uncapped)
    assert(uncapped.size == 10, s"all C(5,2) pairs share boilerplate: ${uncapped.size}")
  }

  test("keep-first scrub: first copy survives, later copies and self-repeats go") {
    val k = 12
    val run = "abcdefghijkl" // exactly k chars
    val docs = Seq(
      (1L, s"xx $run yy"),            // canonical copy (min doc_id)
      (2L, s"zz $run ww"),            // cross-doc later copy
      (3L, s"$run$run tail of three"), // self-repeat: 2nd occurrence goes
      (4L, "no duplicated content here at all"))
      .toDF("doc_id", "s")
    val keep = SpanOps.scrubSpansKeepFirst(docs, k)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    // doc 1 keeps the run untouched... BUT: doc 3's run at pos 1 is
    // the true minimum (doc 1's sits at pos 4)? No — min is by
    // (doc_id, pos), so doc 1 pos 4 < doc 3 pos 1 is FALSE ordering:
    // (1,4) < (3,1) lexicographically -> doc 1 is canonical.
    assert(keep(1L)._3 == s"xx $run yy" && keep(1L)._1 == 0L)
    // the shared run includes its flanking spaces (" run " = k+2
    // chars common to docs 1 and 2), so the scrub takes them too
    assert(keep(2L)._3 == "zzww" && keep(2L)._2 == k.toLong + 2)
    // doc 3: "abcdefghijklabcdefghijkl..." — every gram of the first
    // occurrence is canonical in... grams spanning the two copies
    // occur only here; the WHOLE 2k-char run's duplicated-and-
    // noncanonical positions merge, scrubbing the second copy
    assert(!keep(3L)._3.contains(run * 2) && keep(3L)._3.contains("tail"))
    assert(keep(4L)._3 == "no duplicated content here at all")
    // remove-all scrubs strictly more: every doc's removed_chars >=
    val all = SpanOps.scrubSpans(docs, k)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    keep.foreach { case (id, (_, removed, _)) =>
      assert(removed <= all(id), s"doc $id keep-first removed more than remove-all")
    }
    assert(all(1L) > 0L, "remove-all must scrub the canonical copy too")
  }

  test("winnowing dedup: clusters verified pairs, keep-best survivor, singletons intact") {
    val (k, w) = (SpanOps.PairK, SpanOps.PairW)
    val run = ("zqxjv" * 12).take(45)
    // docs 1-3 are near-identical (chained shared content: 1~2, 2~3),
    // doc 4 unrelated, doc 5 shares a run with nobody above theta
    val base = s"common body $run more shared text $run closing part"
    val docs = Seq(
      (1L, s"$base extra-one"),
      (2L, s"$base extra-two-longer-suffix-here"),
      (3L, s"$base extra3"),
      (4L, "totally different content with no shared runs at all x"),
      (5L, s"only a tiny $run island in an otherwise unrelated body " +
        "of completely different words stretching on and on and on"))
      .toDF("doc_id", "s")
    // compute exactly what q244's pipeline does on this fixture
    val pairs = SpanOps.fingerprintPairs(docs, k, w)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= SpanOps.DedupTheta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => a <= 3 && b <= 3 },
      s"only docs 1-3 may pair above theta: $pairs")
    val paired = pairs.flatMap(p => Seq(p._1, p._2))
    val und = pairs.toSeq.toDF("u", "v")
    val comp = graft.graph.StarContraction
      .ccAuto(paired.toSeq.toDF("node"), und)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet == Set(1L), s"one cluster rooted at 1: $comp")
    // survivor = longest member of cluster 1 = doc 2
    import org.apache.spark.sql.functions.col
    val lens = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.length(col("s")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lens(2L) > lens(1L) && lens(2L) > lens(3L))
    // the auto entry collapses to the fixed-width pipeline when the
    // oracled geometry fits the budget (it does on this fixture)
    val autoOut = SpanOps.winnowingDedupAuto(docs)
      .collect().map(_.toSeq).toSeq
    val fixedOut = SpanOps.dedupFromPairs(docs,
        SpanOps.fingerprintPairs(docs, k, w))
      .collect().map(_.toSeq).toSeq
    assert(autoOut == fixedOut && autoOut.nonEmpty)
    val survivors = autoOut.count(r => r(3).asInstanceOf[Boolean])
    assert(survivors == 3, // one for cluster {1,2,3}, docs 4 and 5 solo
      s"expected 3 survivors, got $survivors in $autoOut")
  }

  test("fingerprint pairs auto-k: collapses to oracled geometry when it fits, widens on low entropy") {
    val (k, w) = (SpanOps.PairK, SpanOps.PairW)
    // high-entropy corpus: k=24 volume fits the budget -> bit-equal
    val run = ("zqxjv" * 8).take(k + w - 1)
    val hi = Seq(
      (1L, s"first document body with the planted $run and a tail"),
      (2L, s"second unrelated prefix then $run closing words here"),
      (3L, "entirely distinct content sharing no long runs with others x"))
      .toDF("doc_id", "s")
    assert(SpanOps.fingerprintPairsAuto(hi).collect().map(_.toSeq).toSeq ==
      SpanOps.fingerprintPairs(hi, k, w).collect().map(_.toSeq).toSeq)
    // commonplace-run corpus: every doc carries the SAME 39-char run
    // (= k+w-1, so k=24 GUARANTEES all C(40,2) pairs — the background-
    // collision regime Part 17 measured), flanked by per-doc unique
    // text. Runs of 39 < k'+w-1 stop being guaranteed at k' >= 32 and
    // can't even share a gram at k' >= 40, so the ladder must settle
    // on a width where the pair volume fits the budget.
    val common = ("shared commonplace run body pad" * 2).take(k + w - 1)
    val salad = (1L to 40L).map { i =>
      val u = java.security.MessageDigest.getInstance("MD5")
        .digest(s"salt$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (i, s"$u $common ${u.reverse}")
    }.toDF("doc_id", "s")
    val nLow = SpanOps.fingerprintPairsAuto(salad).count()
    val nFixed = SpanOps.fingerprintPairs(salad, k, w).count()
    assert(nFixed == 40L * 39 / 2, s"fixed k drowns: $nFixed")
    assert(nLow < nFixed, s"auto must widen k: $nLow vs $nFixed")
    assert(nLow <= (SpanOps.AutoPairsPerDoc * 40).toLong,
      s"auto result must fit the per-doc budget: $nLow")
  }
}
