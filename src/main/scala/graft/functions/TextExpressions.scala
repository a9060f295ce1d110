package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit simhash of a whitespace-normalized string in ONE expression:
  * words = split(s, ' ') (trailing empties kept, mirroring Spark's
  * `split`), per-word hash = first 15 hex nibbles of md5(word) as a
  * 60-bit value, frequency-weighted ±1 per bit, sign → signature bit.
  * Bit-identical to the HOF `aggregate`/`zip_with` formulation and
  * the DuckDB oracle; one interpreted call per row instead of
  * |words|·60 interpreted lambda evals (HOFs are CodegenFallback). */
case class SimhashSignature(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  private val Bits = 60

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val md = MessageDigest.getInstance("MD5")
    val counts = new Array[Int](Bits)
    val words = s.split(" ", -1)
    var wi = 0
    while (wi < words.length) {
      md.reset()
      val digest = md.digest(words(wi).getBytes(StandardCharsets.UTF_8))
      // first 15 hex nibbles → 60-bit value
      var h = 0L
      var i = 0
      while (i < 15) {
        val nib = (digest(i / 2) >> (4 * (1 - i % 2))) & 0xf
        h = (h << 4) | nib
        i += 1
      }
      var b = 0
      while (b < Bits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      wi += 1
    }
    var sig = 0L
    var b = 0
    while (b < Bits) {
      if (counts(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashSignature =
    copy(child = newChild)
}

object SimhashSignature {
  def apply(c: Column): Column =
    ColumnBridge.column(SimhashSignature(ColumnBridge.expression(c)))
}

/** Distinct char-5-grams of a string as an array (first-occurrence
  * order) — the single-loop form of
  * `array_distinct(transform(sequence(...), i -> substring(s, i, 5)))`,
  * which pays an interpreted lambda eval per position (HOFs are
  * CodegenFallback). Null for strings shorter than 5. */
/** ALL overlapping k-code-point windows of a string WITH their
  * 1-based start positions: `array<struct<pos int, gram string>>`,
  * empty for sub-k strings. The q164 gram relation in ONE loop — the
  * declarative form (`explode(sequence(1, length-k+1))` followed by a
  * `substring` projection) duplicates the full document string
  * through every exploded row before the substring prunes it; this
  * emits only the 40-byte grams. Positions are CODE POINTS (Spark
  * `substring`/DuckDB `substr` parity — see MinhashSignature). */
case class PositionedGrams(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "gram width must be >= 1")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_positioned_grams"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    if (cps.length < k)
      return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cps.length - k + 1)
    var i = 0
    while (i + k <= cps.length) {
      out(i) = InternalRow(i + 1,
        UTF8String.fromString(new String(cps, i, k)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PositionedGrams =
    copy(child = newChild)
}

object PositionedGrams {
  def apply(c: Column, k: Int): Column =
    ColumnBridge.column(PositionedGrams(ColumnBridge.expression(c), k))
}

case class CharGrams(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_grams"

  // Null for sub-5-code-point strings even on non-nullable children.
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // Code-point windows — see MinhashSignature: Spark substring and
    // DuckDB substr count code points, not UTF-16 units.
    val cps = s.codePoints().toArray
    if (cps.length < 5) return null
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 5 <= cps.length) { seen.add(new String(cps, i, 5)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CharGrams =
    copy(child = newChild)
}

object CharGrams {
  def apply(c: Column): Column =
    ColumnBridge.column(CharGrams(ColumnBridge.expression(c)))
}

/** Distinct k-grams of a string (code-point windows, first-occurrence
  * order) — [[CharGrams]] generalized to any width. Empty array for
  * strings shorter than `k` code points (callers filter; an empty set
  * intersects to 0 either way). One JVM loop per row: the exploded
  * alternative shuffles the corpus's full positioned-gram relation
  * through a distinct + collect_list just to rebuild a per-doc set
  * that is a pure row-local function of the text (the q241/q244
  * verify's gram arrays). */
case class DistinctGrams(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "gram width must be >= 1")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_distinct_grams"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    if (cps.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + k <= cps.length) { seen.add(new String(cps, i, k)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): DistinctGrams =
    copy(child = newChild)
}

object DistinctGrams {
  def apply(c: Column, k: Int): Column =
    ColumnBridge.column(DistinctGrams(ColumnBridge.expression(c), k))
}

/** The winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
  * 2003, basic rule) of one document as a single row-local loop:
  * per-position composite v(pos) = h40(gram) · 2²⁰ + (2²⁰ − 1 − pos)
  * with h40 = the first 10 hex nibbles of md5(gram) (identical to
  * `Md5Prefix(gram, 1, 10)` — the first 5 digest bytes big-endian), sliding min over each w-window of full windows
  * only (pos ≥ w), distinct picks in first-occurrence order.
  *
  * Replaces the exploded formulation — positioned-gram explode →
  * corpus-wide hash exchange on doc_id → per-doc sort → O(w)-frame
  * window min → distinct — with one O(n) monotonic-deque pass per
  * document and NO shuffle at all (the selection is a pure per-doc
  * function; only the selected ~2/(w+1) density ever needs to leave
  * the row). Output set is bit-identical: same
  * composite arithmetic, same full-window rule, same distinct.
  *
  * Positions are 1-based and must stay under 2²⁰ for the composite's
  * order to hold — same loud failure as the column form (shard long
  * docs via q169ChunkStride first). Empty array for docs shorter
  * than w + k − 1 code points (no full window exists). */
case class WinnowingPicks(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1 && w >= 1, "gram width and window must be >= 1")

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnowing_picks"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    val n = cps.length - k + 1 // grams at positions 1..n
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val md = MessageDigest.getInstance("MD5")
    val vs = new Array[Long](n + 1) // 1-based
    var p = 1
    while (p <= n) {
      if (p > 1048575)
        throw new IllegalStateException(
          s"winnowing: doc has $p+ grams, past the 2^20 composite " +
            "position bound; shard long docs (q169ChunkStride) first")
      md.reset()
      val dig = md.digest(
        new String(cps, p - 1, k).getBytes(StandardCharsets.UTF_8))
      val h40 = ((dig(0) & 255L) << 32) | ((dig(1) & 255L) << 24) |
        ((dig(2) & 255L) << 16) | ((dig(3) & 255L) << 8) | (dig(4) & 255L)
      vs(p) = h40 * 1048576L + (1048575L - p)
      p += 1
    }
    // monotonic deque sliding min over windows [p-w+1, p], p = w..n
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val dq = new Array[Int](n + 1) // indices, increasing v
    var head = 0
    var tail = 0 // exclusive
    p = 1
    while (p <= n) {
      while (tail > head && vs(dq(tail - 1)) >= vs(p)) tail -= 1
      dq(tail) = p; tail += 1
      if (dq(head) <= p - w) head += 1
      if (p >= w) seen.add(vs(dq(head)))
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowingPicks =
    copy(child = newChild)
}

object WinnowingPicks {
  def apply(c: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowingPicks(ColumnBridge.expression(c), k, w))
}

/** Distinct n-word shingles of a space-separated string
  * (first-occurrence order): words = split(s, ' ') with trailing
  * empties kept (mirroring Spark `split`), shingle = `n` consecutive
  * words re-joined with ' '. Empty array for strings of fewer than
  * `n` words. Single JVM loop per row — the HOF formulation
  * (`transform(sequence(...), i -> array_join(slice(ws, i, n), ' '))`)
  * pays an interpreted lambda eval per position. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (words.length < n)
      return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n <= words.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  def apply(c: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(c), n))
}

/** Per-document repetition counters in one pass — the in-row half of
  * Gopher-style repetition quality filters (duplicate-word /
  * duplicate-n-gram fractions), so corpus-scale repetition scoring is
  * pure column math with ZERO shuffle. words = split(s, ' ') with
  * trailing empties kept. Output struct:
  * (n_words, n_distinct_words, top_word_count, n_bigrams,
  * n_distinct_bigrams) — counts only; consumers derive fractions, so
  * the values stay integer-exact for the oracle compare. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_distinct_words", IntegerType, nullable = false),
    StructField("top_word_count", IntegerType, nullable = false),
    StructField("n_bigrams", IntegerType, nullable = false),
    StructField("n_distinct_bigrams", IntegerType, nullable = false)))

  override def prettyName: String = "graft_repetition_stats"

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val wordCounts = new java.util.HashMap[String, Integer]()
    var top = 0
    var i = 0
    while (i < words.length) {
      val c = wordCounts.merge(words(i), 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    val bigrams = new java.util.HashSet[String]()
    i = 0
    while (i + 2 <= words.length) {
      bigrams.add(words(i) + " " + words(i + 1))
      i += 1
    }
    val nBigrams = math.max(words.length - 1, 0)
    InternalRow(words.length, wordCounts.size, top, nBigrams, bigrams.size)
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  def apply(c: Column): Column =
    ColumnBridge.column(RepetitionStats(ColumnBridge.expression(c)))
}
