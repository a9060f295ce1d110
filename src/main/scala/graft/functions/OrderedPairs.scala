package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** All pairs (u, v), u < v, of an `array<bigint>` set — the
  * basket-expansion step of the co-purchase pair relation, as ONE JVM
  * loop per row. The HOF spelling
  * (`flatten(transform(ps, x -> transform(filter(ps, y -> y > x),
  * ...)))`) evaluates O(|ps|²) interpreted lambda frames and
  * allocates an intermediate array per element — measured 5× the
  * whole query's previous CPU on the q228 basket relation. Output
  * order is row-local and deterministic (i-major, j-minor); every
  * consumer aggregates or dedups, so order never matters. */
case class OrderedPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${dt.sql}")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("u", LongType, nullable = false),
      StructField("v", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_ordered_pairs"

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val u = xs.getLong(i)
      var j = 0
      while (j < n) {
        val v = xs.getLong(j)
        if (u < v) { out(k) = InternalRow(u, v); k += 1 }
        j += 1
      }
      i += 1
    }
    // a set fills exactly n(n-1)/2 slots; a duplicated value (caller
    // passed a non-set) would leave a hole — surface it rather than
    // emit nulls
    if (k != out.length) throw new IllegalStateException(
      s"$prettyName expects distinct elements; " +
        s"got ${out.length - k} equal pairs")
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): OrderedPairs =
    copy(child = newChild)
}

object OrderedPairs {
  def apply(c: Column): Column =
    ColumnBridge.column(OrderedPairs(ColumnBridge.expression(c)))
}
