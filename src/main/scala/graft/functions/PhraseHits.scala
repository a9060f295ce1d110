package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Multi-phrase blocklist scan in ONE pass over the text: an
  * Aho–Corasick automaton (Aho & Corasick 1975, CACM 18(6)) over the
  * space-padded character stream, with every phrase padded to
  * `" phrase "` so a match is exactly a whole-word-aligned occurrence
  * on the whitespace-normalized text (shared delimiter spaces between
  * back-to-back occurrences are handled by the suffix/output chain,
  * which reports every match end). Output struct:
  * (n_hits = total occurrences over all phrases,
  *  n_terms = distinct phrases that occur ≥ once).
  *
  * Why an automaton and not the q73 regex alternation or a
  * bigram-explode + join: a Java-regex alternation of t terms scans
  * O(t) alternatives per position (O(len·t) per doc — the blocklist
  * size multiplies the corpus pass), and the explode + join pays a
  * corpus-grain shuffle of every candidate n-gram. The automaton is
  * O(len + matches) per doc REGARDLESS of blocklist size, built once
  * per expression instance per executor (the `@transient lazy val`),
  * zero shuffle — at 100 TB a 10⁵-term policy list costs the same
  * corpus pass as a 2-term one. Wall-clock A/B in tools/ScalingSweep.
  *
  * The phrase list is a constructor parameter (a bounded policy
  * list, broadcast inside the serialized expression), NOT a column —
  * mirroring how q121 ships collected codebooks.
  */
case class PhraseHits(child: Expression, phrases: Seq[String])
    extends UnaryExpression with CodegenFallback {

  require(phrases.nonEmpty, "empty blocklist")
  require(phrases.forall(p => p.nonEmpty && !p.startsWith(" ") &&
    !p.endsWith(" ")), "phrases must be non-empty and trimmed")
  // a duplicated phrase would get two pattern ids and silently double
  // its n_hits/n_terms contribution — a blocklist is a SET
  require(phrases.distinct.size == phrases.size,
    "duplicate phrases in blocklist")

  override def dataType: DataType = StructType(Seq(
    StructField("n_hits", LongType, nullable = false),
    StructField("n_terms", IntegerType, nullable = false)))

  override def prettyName: String = "graft_phrase_hits"

  /** The compiled automaton, built once per EXECUTOR (not per task —
    * the expression deserializes per task, and a 10⁵-phrase build is
    * ~100 MB of tables; the companion cache keys on the phrase list
    * so every task of every stage reuses one table set). */
  @transient private lazy val ac: PhraseHits.Dfa =
    PhraseHits.cache.computeIfAbsent(phrases, PhraseHits.compile)

  @transient private lazy val localSeen:
      ThreadLocal[java.util.BitSet] = ThreadLocal.withInitial(
    () => new java.util.BitSet(phrases.length))

  override protected def nullSafeEval(input: Any): Any = {
    val dfa = ac
    val s = input.asInstanceOf[UTF8String].toString
    val seen = localSeen.get()
    seen.clear()
    var hits = 0L
    var state = 0
    var i = -1
    val n = s.length
    while (i <= n) {
      // virtual ' ' padding at i = -1 and i = n
      val ch = if (i < 0 || i >= n) ' ' else s.charAt(i)
      val c = dfa.cmap(ch)
      if (c < 0) state = 0 // character outside every pattern
      else {
        state = dfa.delta(state * dfa.asize + c)
        val k = dfa.outCount(state)
        if (k > 0) {
          hits += k
          val ids = dfa.outIds(state)
          var j = 0
          while (j < k) { seen.set(ids(j)); j += 1 }
        }
      }
      i += 1
    }
    InternalRow(hits, seen.cardinality())
  }

  override protected def withNewChildInternal(newChild: Expression): PhraseHits =
    copy(child = newChild)
}

object PhraseHits {
  /** Compiled dense automaton: `delta(state·asize + cmap(ch))` is the
    * full transition function (fail links folded in). */
  private[functions] case class Dfa(cmap: Array[Int], asize: Int,
      delta: Array[Int], outCount: Array[Int], outIds: Array[Array[Int]])

  /** Per-executor compiled-automaton cache (see the `ac` field). */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], Dfa]()

  /** AC→DFA compilation: the pattern alphabet is mapped to
    * 0..asize-1 (any other character can only lead to the root, since
    * every trie edge is a pattern character), fail transitions are
    * folded into one flat `delta(state·asize + char)` table, and
    * `outIds(n)` lists the pattern ids ending at n or at any suffix
    * of n (fail-chain closure) so the scan is ONE array read + one
    * count add per character. */
  private val compile: java.util.function.Function[Seq[String], Dfa] = {
    phrases =>
    // alphabet over padded-pattern characters
    val cmap = new Array[Int](65536)
    java.util.Arrays.fill(cmap, -1)
    var asize = 0
    def idx(c: Char): Int = {
      if (cmap(c) < 0) { cmap(c) = asize; asize += 1 }
      cmap(c)
    }
    idx(' ')
    phrases.foreach(_.foreach(idx))
    // trie over the padded patterns
    val maxNodes = phrases.map(_.length + 2).sum + 1
    val goto = Array.fill(maxNodes * asize)(-1)
    val ends = Array.fill(maxNodes)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    var nNodes = 1
    var pid = 0
    while (pid < phrases.length) {
      val p = " " + phrases(pid) + " "
      var node = 0
      var i = 0
      while (i < p.length) {
        val c = idx(p.charAt(i))
        if (goto(node * asize + c) < 0) {
          goto(node * asize + c) = nNodes
          nNodes += 1
        }
        node = goto(node * asize + c)
        i += 1
      }
      ends(node) += pid
      pid += 1
    }
    // BFS: fail links, output closure, and DFA fill-in of the
    // missing transitions (delta(0, c) = 0 for absent root edges)
    val fail = new Array[Int](nNodes)
    val out = new Array[Array[Int]](nNodes)
    out(0) = ends(0).toArray
    val q = new java.util.ArrayDeque[Integer]()
    var c = 0
    while (c < asize) {
      val v = goto(c)
      if (v < 0) goto(c) = 0
      else { fail(v) = 0; out(v) = (ends(v) ++ out(0)).toArray; q.add(v) }
      c += 1
    }
    while (!q.isEmpty) {
      val u = q.poll().intValue()
      c = 0
      while (c < asize) {
        val v = goto(u * asize + c)
        if (v < 0) goto(u * asize + c) = goto(fail(u) * asize + c)
        else {
          fail(v) = goto(fail(u) * asize + c)
          out(v) = (ends(v) ++ out(fail(v))).toArray
          q.add(v)
        }
        c += 1
      }
    }
    val outCount = out.map(_.length)
    Dfa(cmap, asize, goto, outCount, out)
  }

  def apply(c: Column, phrases: Seq[String]): Column =
    ColumnBridge.column(PhraseHits(ColumnBridge.expression(c), phrases))
}
