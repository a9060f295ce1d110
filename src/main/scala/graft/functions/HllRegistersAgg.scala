package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** HyperLogLog register aggregate over pre-hashed 60-bit values — the
  * one register builder of every HLL query (q187, q193, q195, q215,
  * q217): state is a fixed 64-byte register array per group (top 6
  * hash bits pick the register, the rank of the remaining 54 bits'
  * first set bit is max'd in), partial aggregation merges registers
  * ELEMENTWISE-MAX (lossless — a merged sketch is bit-identical to the
  * sketch of the union), and [[Hll.estimate]] reads it out.
  *
  * Why an aggregate and not the relational register form (a
  * (group, bucket) max-agg, then the per-group harmonic sum): that
  * form is TWO grouped aggregations, which Structured Streaming's
  * append mode cannot chain, while THIS is a single stateful aggregate
  * with O(1) state per group — the shape `groupBy(window).agg(...)`
  * needs (q217) and the same shape a batch `groupBy(k).agg(...)`
  * takes. The relational form lives on in the DuckDB oracles
  * ([[Hll.registersSql]], [[Hll.estimateSql]]), so every HLL query is
  * checked against an independent formulation.
  *
  * Input must be the 60-bit hash (a LONG in [0, 2^60), [[Hll.hash60]]),
  * computed in-row by the caller — keeping the hash OUTSIDE the
  * aggregate is what keeps it engine-portable (any system that can
  * md5 can feed or merge these sketches). */
case class HllRegistersAgg(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  import Hll.{M, WBits}

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_hll_registers"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes the 60-bit hash as LONG, got ${other.sql}")
  }

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val bucket = (h >>> WBits).toInt & (M - 1)
      val w = h & ((1L << WBits) - 1)
      val rho =
        if (w == 0L) WBits + 1
        else WBits - (63 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > buf(bucket)) buf(bucket) = rho.toByte
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Byte]): Any =
    new GenericArrayData(buf.map(b => b.toInt: Any))

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllRegistersAgg =
    copy(child = newChildren.head)
}

/** The portable HyperLogLog sketch (Flajolet et al. 2007), in one
  * place: constants, input hash, register builder, merge, estimator,
  * and the relational SQL form the oracles check it against.
  *
  * Numeric discipline: all register arithmetic is INTEGER — the
  * harmonic sum Σ 2^(−M_j) is carried as Σ 2^(55−M_j), a BIGINT ≤
  * 2^61, exact and order-free in both engines (a double accumulation
  * of 2^-55 terms exceeds the mantissa span and can land one ulp off,
  * flipping a .00005 rounding boundary); the α·m²·2^55 numerator is
  * one double literal inlined identically into both plans; ln appears
  * only in the final scalar, rounded 4dp. */
object Hll {
  /** Register count m. */
  val M = 64
  /** The m = 64 bias constant from the HLL paper. */
  val Alpha = 0.709
  /** Sub-bucket hash width: 60-bit md5 prefix = 6 bucket bits + 54. */
  private[graft] val WBits = 54
  /** α·m²·2^(W+1) as an exact double literal. */
  private val Num: String =
    new java.math.BigDecimal(Alpha * (M.toDouble * M) *
      math.pow(2, WBits + 1)).toPlainString

  /** The 60-bit input hash: the first 15 hex digits of md5 over `x`'s
    * string form, as a LONG. */
  def hash60(x: Column): Column = Md5Prefix(x.cast("string"), 1, 15).cast("long")

  /** [[hash60]] in DuckDB SQL. */
  private[graft] def hash60Sql(x: String): String =
    Md5Prefix.hexToLongSql(s"md5(CAST($x AS VARCHAR))", 1, 15)

  /** `df.groupBy(g).agg(Hll.registers(Hll.hash60(x)))`: the register
    * array (m INTs) of the group's hashes. */
  def registers(hash60: Column): Column =
    ColumnBridge.column(
      HllRegistersAgg(ColumnBridge.expression(hash60)).toAggregateExpression())

  /** Lossless union of two register arrays (elementwise max); a null
    * side (a group absent from it) contributes nothing. */
  def merge(a: Column, b: Column): Column =
    zip_with(coalesce(a, b), coalesce(b, a), greatest(_, _))

  /** The 4dp-rounded cardinality estimate of a register array: the
    * exact-BIGINT harmonic sum, one division, and the linear-counting
    * branch for small sets (raw ≤ 2.5m with an empty register). */
  def estimate(regs: Column): Column = {
    val sumt = aggregate(regs, lit(0L), (acc, r) =>
      acc + call_function("shiftleft", lit(1L), lit(WBits + 1) - r))
    val z = size(filter(regs, _ === 0))
    val raw = lit(Num).cast("double") / sumt
    round(when(raw <= 2.5 * M && z > 0,
      lit(M.toDouble) * log(lit(M.toDouble) / z)).otherwise(raw), 4)
  }

  /** Oracle CTE `name(keys…, reg, mj)`: the relational register
    * relation of `x`'s 60-bit hash per `keys` group of `src` — one
    * (group, reg) max-aggregation over the bucket and the 1-based
    * position of the first set bit in the 54-bit remainder. */
  private[graft] def registersSql(name: String, src: String,
      keys: Seq[String], x: String): String = {
    val b = 1L << WBits
    val pos = s"strpos(lpad(bin(v % $b), $WBits, '0'), '1')"
    s"""${name}_h AS (SELECT ${keys.mkString(", ")}, ${hash60Sql(x)} AS v
       |  FROM $src),
       |$name AS (SELECT ${keys.mkString(", ")}, v // $b AS reg,
       |  max(CASE WHEN $pos = 0 THEN ${WBits + 1} ELSE $pos END) AS mj
       |  FROM ${name}_h GROUP BY ${(1 to keys.size + 1).mkString(", ")})"""
      .stripMargin
  }

  /** Oracle CTE `name(keys…, est)`: [[estimate]] per `keys` group of a
    * register relation `regs(keys…, reg, mj)` — absent registers
    * count as zeros in both the harmonic sum and z. */
  private[graft] def estimateSql(name: String, regs: String,
      keys: Seq[String]): String =
    s"""${name}_sk AS (SELECT ${keys.mkString(", ")},
       |  sum(1::BIGINT << (${WBits + 1} - mj))
       |    + ($M - count(*)) * (1::BIGINT << ${WBits + 1}) AS sumt,
       |  $M - count(*) AS z
       |  FROM $regs GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}),
       |$name AS (SELECT ${keys.mkString(", ")},
       |  round(CASE WHEN $Num / sumt <= ${2.5 * M} AND z > 0
       |             THEN $M.0 * ln($M.0 / z)
       |             ELSE $Num / sumt END, 4) AS est
       |  FROM ${name}_sk)""".stripMargin
}
