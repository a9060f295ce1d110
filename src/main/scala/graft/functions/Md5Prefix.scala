package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The md5-prefix integer: `digits` hex digits of the md5 digest of a
  * string, read from 1-based hex position `start` as a base-16 number.
  * It is the one hash behind every deterministic sketch, sampler, walk
  * step and fingerprint in graft (HLL and count-min buckets, Bloom
  * bits, uniform draws, walk picks, audit fingerprints), and what lets
  * their DuckDB oracles reproduce them bit for bit.
  *
  * The Spark forms return `conv`'s decimal STRING: each caller applies
  * its own cast (`long`, `bigint`, `double`). `digits` ≤ 15 keeps the
  * value a non-negative LONG. */
object Md5Prefix {
  /** The integer as a Spark `Column` over the string column `s`. */
  def apply(s: Column, start: Int, digits: Int): Column =
    conv(substring(md5(s), start, digits), 16, 10)

  /** [[apply]] as Spark SQL text over the string expression `s`, for
    * `expr(...)` strings and higher-order-function lambdas. */
  def sql(s: String, start: Int, digits: Int): String =
    s"conv(substring(md5($s), $start, $digits), 16, 10)"

  /** The DuckDB mirror over a hex-digest expression `hexExpr` (an
    * `md5(...)` call, or a column holding one): the positional nibble
    * sum of its `len` hex digits from `start`, a BIGINT. */
  private[graft] def hexToLongSql(hexExpr: String, start: Int, len: Int): String =
    (0 until len).map { p =>
      val mult = math.pow(16, len - 1 - p).toLong
      s"(strpos('0123456789abcdef', substr($hexExpr, ${start + p}, 1)) - 1) * CAST($mult AS BIGINT)"
    }.mkString("(", " + ", ")")
}
