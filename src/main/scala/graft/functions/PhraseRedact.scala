package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Blocklist REDACTION at production list size — the deliverable a
  * policy pass actually ships (q73's `<term>` replacement, phrase-
  * valued and blocklist-size-independent): every word covered by ANY
  * whole-word-aligned occurrence of ANY blocklisted phrase is
  * replaced by `<term>`; overlapping and nested occurrences simply
  * union their covered positions (word-coverage semantics — exactly
  * expressible in SQL as a positions join, unlike sequential
  * `regexp_replace`, whose consumed-match scan both misses
  * back-to-back occurrences and depends on replacement order).
  *
  * Machinery: Aho–Corasick over the WORD sequence (alphabet = the
  * distinct words of the blocklist — a match of an L-word phrase
  * ending at word i covers [i−L+1, i], so word-level states make the
  * coverage marks direct). Transitions are per-node int maps with
  * classic fail-walking — the word alphabet is too wide for the
  * dense-DFA fill [[PhraseHits]] uses, and the walk is O(words)
  * amortized. Compiled once per executor (companion cache).
  *
  * Output struct: (red = redacted text, n_covered = covered words).
  */
case class PhraseRedact(child: Expression, phrases: Seq[String])
    extends UnaryExpression with CodegenFallback {

  require(phrases.nonEmpty, "empty blocklist")
  require(phrases.forall(p => p.nonEmpty && !p.startsWith(" ") &&
    !p.endsWith(" ")), "phrases must be non-empty and trimmed")
  // coverage is idempotent under duplicates, so a duplicated list is
  // harmless here — deduplicate silently rather than throw, so a
  // list that is valid elsewhere is valid here.
  // PhraseHits keeps its require: there duplicates would double-count.
  private val distinctPhrases: Seq[String] = phrases.distinct

  override def dataType: DataType = StructType(Seq(
    StructField("red", StringType, nullable = false),
    StructField("n_covered", IntegerType, nullable = false)))

  override def prettyName: String = "graft_phrase_redact"

  @transient private lazy val ac: PhraseRedact.Trie =
    PhraseRedact.cache.computeIfAbsent(distinctPhrases, PhraseRedact.compile)

  override protected def nullSafeEval(input: Any): Any = {
    val trie = ac
    val words = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val covered = new Array[Boolean](words.length)
    var state = 0
    var i = 0
    while (i < words.length) {
      val wid = trie.wordIds.getOrDefault(words(i), -1)
      if (wid < 0) state = 0 // word outside every phrase
      else {
        while (state != 0 && !trie.goto(state).containsKey(wid))
          state = trie.fail(state)
        val t = trie.goto(state).get(wid)
        state = if (t != null) t.intValue() else 0
        val lens = trie.outLens(state)
        var j = 0
        while (j < lens.length) {
          var p = i - lens(j) + 1
          while (p <= i) { covered(p) = true; p += 1 }
          j += 1
        }
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder()
    var n = 0
    i = 0
    while (i < words.length) {
      if (i > 0) sb.append(' ')
      if (covered(i)) { sb.append("<term>"); n += 1 }
      else sb.append(words(i))
      i += 1
    }
    InternalRow(UTF8String.fromString(sb.toString), n)
  }

  override protected def withNewChildInternal(newChild: Expression): PhraseRedact =
    copy(child = newChild)
}

object PhraseRedact {
  /** Word-level automaton: `wordIds` maps blocklist words to the
    * alphabet, `goto`/`fail` are the classic tables, `outLens(n)`
    * lists the WORD LENGTHS of every phrase ending at n or at any
    * suffix of n (lengths are all the redaction needs). */
  private[functions] case class Trie(
      wordIds: java.util.HashMap[String, Integer],
      goto: Array[java.util.HashMap[Integer, Integer]],
      fail: Array[Int], outLens: Array[Array[Int]])

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], Trie]()

  private val compile: java.util.function.Function[Seq[String], Trie] = {
    phrases =>
    val wordIds = new java.util.HashMap[String, Integer]()
    val split = phrases.map(_.split(" ", -1))
    split.foreach(_.foreach { w =>
      if (!wordIds.containsKey(w)) wordIds.put(w, wordIds.size())
    })
    val goto = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Integer, Integer]())
    val ends = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    split.foreach { ws =>
      var node = 0
      ws.foreach { w =>
        val wid = wordIds.get(w)
        var nxt = goto(node).get(wid)
        if (nxt == null) {
          goto += new java.util.HashMap[Integer, Integer]()
          ends += scala.collection.mutable.ArrayBuffer.empty[Int]
          nxt = goto.length - 1
          goto(node).put(wid, nxt)
        }
        node = nxt
      }
      ends(node) += ws.length
    }
    val fail = new Array[Int](goto.length)
    val out = new Array[Array[Int]](goto.length)
    out(0) = ends(0).toArray
    val q = new java.util.ArrayDeque[Integer]()
    goto(0).forEach { (_, v) =>
      fail(v) = 0
      out(v) = (ends(v) ++ out(0)).toArray
      q.add(v)
    }
    while (!q.isEmpty) {
      val u = q.poll().intValue()
      goto(u).forEach { (w, v) =>
        var f = fail(u)
        while (f != 0 && !goto(f).containsKey(w)) f = fail(f)
        val t = goto(f).get(w)
        fail(v) = if (t != null && t != v) t.intValue() else 0
        out(v) = (ends(v) ++ out(fail(v))).toArray
        q.add(v)
      }
    }
    Trie(wordIds, goto.toArray, fail, out)
  }

  def apply(c: Column, phrases: Seq[String]): Column =
    ColumnBridge.column(PhraseRedact(ColumnBridge.expression(c), phrases))
}
