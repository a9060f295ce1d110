package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** HyperLogLog register aggregate over pre-hashed 60-bit values — the
  * ONE-stateful-operator form of the q187/q193 sketch: state is a
  * fixed 64-byte register array per group (top 6 hash bits pick the
  * register, the rank of the remaining 54 bits' first set bit is
  * max'd in), partial aggregation merges registers ELEMENTWISE-MAX
  * (lossless — a merged sketch is bit-identical to the sketch of the
  * union), and the read-out is a projection over the register array
  * (the streaming q193 form reads it out in exact integer arithmetic).
  *
  * Why this exists next to the SQL-mirrorable register relation
  * (q187's (group, bucket) max-agg): that relation is TWO grouped
  * aggregations (registers, then the per-group harmonic sum), which
  * Structured Streaming's append mode cannot chain — while THIS is a
  * single stateful aggregate with O(1) state per group, exactly the
  * shape `groupBy(window).agg(...)` needs for a streaming windowed
  * distinct-count sketch. The register math is bit-identical to
  * q187/q193 (same md5-derived input hash, same bucket/rho split), so
  * the batch equivalence is spec-asserted, and the batch queries stay
  * the DuckDB-checkable contract.
  *
  * Input must be the 60-bit hash (a LONG in [0, 2^60)), computed
  * in-row by the caller — keeping the hash OUTSIDE the aggregate is
  * what keeps it engine-portable (any system that can md5 can feed
  * or merge these sketches). */
case class HllRegistersAgg(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  import HllRegistersAgg._

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
      val w = h & Mask
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

object HllRegistersAgg {
  /** Register count (must match [[graft.text.SourceOps.HllM]]). */
  val M = 64
  /** Sub-bucket hash width (SourceOps.HllWBits). */
  val WBits = 54
  val Mask: Long = (1L << WBits) - 1

  /** Column API: `df.groupBy(g).agg(HllRegistersAgg.registers(hash60))`. */
  def registers(hash60: Column): Column =
    ColumnBridge.column(
      HllRegistersAgg(ColumnBridge.expression(hash60)).toAggregateExpression())
}
