package graft

import org.apache.spark.sql.functions._
import graft.text.EditOps

class EditOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Scalar Levenshtein for the brute-force reference. */
  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }

  private def pad(s: String): String =
    s.take(EditOps.PrefixLen).padTo(EditOps.PrefixLen, '#')

  // planted edits cover every class the pigeonhole lemma must survive:
  // pure substitutions, an INSERTION (shifts every later segment),
  // a DELETION, mixed edits at k, and a beyond-k control
  private val base =
    "the quick brown fox jumps over the lazy dog near the old river bank"
  private val fixture = Seq(
    1L -> base,
    2L -> base.replace("quick", "quack"),                    // 1 substitution
    3L -> ("x" + base),                                      // 1 insertion at 0
    4L -> base.replace("the quick", "thequick"),             // 1 deletion
    // on the TRUNCATED equal-length prefixes a leading insertion also
    // costs one trailing deletion, so 1 ins + 1 sub lands at ED = 3
    5L -> ("z" + base.replace("fox", "fix")),
    6L -> base.toUpperCase,                                  // far beyond k
    7L -> "completely different text about spark partitions and shuffles",
  )

  test("q218 pairs equal the brute-force all-pairs reference on planted edits") {
    val got = EditOps.editNeardupPairs(
        fixture.toDF("doc_id", "s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (a, sa) <- fixture; (b, sb) <- fixture if a < b
      d = lev(pad(sa), pad(sb)) if d <= EditOps.EdK
    } yield (a, b, d.toLong)).toSet
    assert(want.nonEmpty && want.exists(_._3 > 0), "fixture must plant nonzero-ED pairs")
    assert(got == want)
    // the shifted-probe classes specifically must be present (exact
    // distances on the TRUNCATED prefix may differ by the end-cut ±1,
    // so assert membership, not a hardcoded distance)
    def has(a: Long, b: Long) = got.exists(t => t._1 == a && t._2 == b)
    assert(has(1L, 3L), "insertion pair missed (segment shift)")
    assert(has(1L, 4L), "deletion pair missed (segment shift)")
    assert(has(1L, 5L), "mixed k-edit pair missed")
  }

  test("q218 on the corpus equals brute force at sf0.001") {
    val docs = graft.text.TextOps.docs(spark, sfDir())
      .select("doc_id", "s").as[(Long, String)].collect()
    val want = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      d = lev(pad(sa), pad(sb)) if d <= EditOps.EdK
    } yield (a, b, d.toLong)).toSet
    val got = EditOps.q218EditNeardup(spark, sfDir())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }
}
