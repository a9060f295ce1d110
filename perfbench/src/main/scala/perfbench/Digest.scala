package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Order-independent digest of a collected result, compared against the
  * same digest of the DuckDB oracle's answer (`oracle.py` mirrors every
  * rule here). Columns are taken in name order; every cell is rendered
  * canonically (non-integral numbers rounded half-even to 9 decimal
  * places, timestamps as epoch microseconds); rows and, per column,
  * cells are sorted by their UTF-8 bytes before hashing. Equal digests
  * mean equal multisets of rows; the per-column digests name the
  * columns that differ. */
final case class Digest(
    columns: Seq[String], rows: Long, all: String, perColumn: Seq[String])

object Digest {

  def of(fieldNames: Seq[String], rows: Array[Row]): Digest = {
    val order = fieldNames.zipWithIndex.sortBy(_._1)
    val cells = rows.map(r => order.map { case (_, i) => cell(r.get(i)) })
    val rowKeys = cells.map(cs => utf8(cs.mkString(Sep)))
    val perColumn = order.indices.map(j => hash(cells.map(cs => utf8(cs(j)))))
    Digest(order.map(_._1), rows.length.toLong, hash(rowKeys), perColumn)
  }

  private val Sep = "\u001f"

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  private def hash(items: Array[Array[Byte]]): String = {
    val sorted = items.clone()
    java.util.Arrays.parallelSort(sorted, ByBytes)
    val md = MessageDigest.getInstance("SHA-256")
    sorted.foreach { b => md.update(b); md.update('\n'.toByte) }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  /** Unsigned lexicographic order of byte strings. */
  private object ByBytes extends java.util.Comparator[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }

  private def micros(epochSecond: Long, nano: Int): String =
    (epochSecond * 1000000L + nano / 1000).toString

  /** Canonical text of one value; nested values render recursively. */
  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case f: Float => real(f.toDouble)
    case d: Double => real(d)
    case d: JBigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case s: String => text(s)
    case t: java.sql.Timestamp =>
      micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: Instant => micros(t.getEpochSecond, t.getNano)
    case t: LocalDateTime => micros(t.toEpochSecond(ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
        .mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case other => text(other.toString)
  }

  private def real(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else decimal(new JBigDecimal(d))

  private def decimal(d: JBigDecimal): String =
    d.setScale(9, RoundingMode.HALF_EVEN).toPlainString

  private def text(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n").replace(Sep, "\\x1f")
}
