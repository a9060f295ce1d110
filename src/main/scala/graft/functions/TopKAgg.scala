package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Per-group top-k aggregate over doubles — the scale replacement for
  * the `row_number() OVER (PARTITION BY g ORDER BY x DESC) <= k`
  * pattern: a window must shuffle AND sort every group's full row
  * set, while this aggregate keeps a k-element min-heap per group and
  * PARTIAL-AGGREGATES (map-side combine), so only k doubles per group
  * per partition ever shuffle. Returns the up-to-k largest values,
  * sorted descending. Nulls are skipped; an empty group yields an
  * empty array. */
case class TopKAgg(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Double]] {

  require(k >= 1, "top-k needs k >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Double] =
    new java.util.PriorityQueue[java.lang.Double](k + 1)

  private def push(buf: java.util.PriorityQueue[java.lang.Double], v: Double): Unit =
    if (buf.size < k) buf.add(v)
    else if (v > buf.peek()) { buf.poll(); buf.add(v) }

  override def update(buf: java.util.PriorityQueue[java.lang.Double],
      input: InternalRow): java.util.PriorityQueue[java.lang.Double] = {
    val v = child.eval(input)
    if (v != null) push(buf, v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: java.util.PriorityQueue[java.lang.Double],
      other: java.util.PriorityQueue[java.lang.Double]): java.util.PriorityQueue[java.lang.Double] = {
    val it = other.iterator()
    while (it.hasNext) push(buf, it.next())
    buf
  }

  override def eval(buf: java.util.PriorityQueue[java.lang.Double]): Any = {
    val out = new Array[Double](buf.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = buf.poll(); i -= 1 } // heap pops ascending
    new GenericArrayData(out.map(x => x: Any))
  }

  override def serialize(buf: java.util.PriorityQueue[java.lang.Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeDouble(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(in.readDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(child = newChildren.head)
}

object TopKAgg {
  /** Column API: `df.groupBy(g).agg(TopKAgg.topk(col, 5))`. */
  def topk(c: Column, k: Int): Column =
    ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(c), k).toAggregateExpression())

  /** Column API for the keyed variant: array of {v, id} structs, best
    * first. `payload` may be any orderable atomic type — the output
    * `id` field keeps its type. */
  def topkKeyed(sort: Column, payload: Column, k: Int): Column =
    ColumnBridge.column(TopKKeyedAgg(ColumnBridge.expression(sort),
      ColumnBridge.expression(payload), k).toAggregateExpression())
}

/** Keyed per-group top-k: keeps the k largest (sort-value, payload)
  * pairs per group — the payload rides along, so q62-style queries
  * return WHICH rows won (order ids with their totals) without a
  * window over the full row set. Same partial-aggregation shape as
  * [[TopKAgg]]: only k (double, payload) pairs per group per
  * partition shuffle. Ordering is total and deterministic: larger
  * value wins, ties break toward the SMALLER payload — mirror a SQL
  * window with `ORDER BY v DESC, id ASC`. Output: array of {v, id}
  * structs, best first, where `id` KEEPS the payload's input type
  * (a LONG cast would throw on string/date join keys and silently
  * narrow int ones).
  * Payload may be any orderable type (the tie-break needs an order);
  * ties on non-atomic payloads follow Spark's interpreted ordering.
  * Null sort values and null payloads are skipped. */
case class TopKKeyedAgg(sort: Expression, payload: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.PriorityQueue[(Double, Any)]] {

  require(k >= 1, "top-k needs k >= 1")

  override def children: Seq[Expression] = Seq(sort, payload)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v", DoubleType, nullable = false),
    StructField("id", payload.dataType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_topk_keyed"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (sort.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName sort value must be DOUBLE, got ${sort.dataType.sql}")
    else if (!org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(payload.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName payload type ${payload.dataType.sql} is not " +
          "orderable (needed for the deterministic tie-break)")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** Interpreted ordering over the payload type — rebuilt lazily on
    * each executor (the Comparator itself need not serialize). */
  @transient private lazy val idOrdering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(payload.dataType)

  /** Worst-first order so the heap head is always the eviction
    * candidate: smaller value is worse; on equal values the LARGER
    * payload is worse (so the smaller payload survives a tie). */
  @transient private lazy val worstFirst: java.util.Comparator[(Double, Any)] =
    new java.util.Comparator[(Double, Any)] {
      override def compare(a: (Double, Any), b: (Double, Any)): Int = {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else idOrdering.compare(b._2, a._2)
      }
    }

  override def createAggregationBuffer(): java.util.PriorityQueue[(Double, Any)] =
    new java.util.PriorityQueue[(Double, Any)](k + 1, worstFirst)

  private def push(buf: java.util.PriorityQueue[(Double, Any)],
      p: (Double, Any)): Unit =
    if (buf.size < k) buf.add(p)
    else if (worstFirst.compare(p, buf.peek()) > 0) { buf.poll(); buf.add(p) }

  override def update(buf: java.util.PriorityQueue[(Double, Any)],
      input: InternalRow): java.util.PriorityQueue[(Double, Any)] = {
    val v = sort.eval(input)
    val id = payload.eval(input)
    if (v != null && id != null)
      // copy: variable-width payloads (UTF8String) may point into a
      // buffer the scan reuses for the next row
      push(buf, (v.asInstanceOf[Double], InternalRow.copyValue(id)))
    buf
  }

  override def merge(buf: java.util.PriorityQueue[(Double, Any)],
      other: java.util.PriorityQueue[(Double, Any)]): java.util.PriorityQueue[(Double, Any)] = {
    val it = other.iterator()
    while (it.hasNext) push(buf, it.next())
    buf
  }

  override def eval(buf: java.util.PriorityQueue[(Double, Any)]): Any = {
    val out = new Array[Any](buf.size)
    var i = out.length - 1
    while (i >= 0) { // heap pops worst-first; fill back-to-front
      val p = buf.poll()
      out(i) = InternalRow(p._1, p._2)
      i -= 1
    }
    new GenericArrayData(out)
  }

  /** (v, id) rows serialize through an UnsafeProjection over the
    * pair schema — type-aware for ANY payload type, length-prefixed
    * per pair. */
  @transient private lazy val pairSchema =
    Array[DataType](DoubleType, payload.dataType)

  override def serialize(buf: java.util.PriorityQueue[(Double, Any)]): Array[Byte] = {
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(pairSchema)
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val p = it.next()
      val row = proj(InternalRow(p._1, p._2))
      val bytes = row.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[(Double, Any)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rb = new Array[Byte](len)
      in.readFully(rb)
      row.pointTo(rb, len)
      buf.add((row.getDouble(0),
        InternalRow.copyValue(row.get(1, payload.dataType))))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKKeyedAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKKeyedAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKKeyedAgg =
    copy(sort = newChildren(0), payload = newChildren(1))
}
