package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product over two `array<double>` columns.
  *
  * The similarity operators' hot path evaluates millions of 64-dim
  * dot products per task; the `zip_with` + `aggregate` HOF chain
  * allocates an intermediate array and a lambda frame per row, while
  * this expression compiles to a tight primitive loop inside
  * whole-stage codegen (and mirrors it on the interpreted path).
  * Accumulation order is ascending dimension — identical to the HOF
  * chain and the DuckDB oracle's ordered sum, so results are
  * bit-compatible with the previous formulation.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // Mismatched lengths eval to null (a malformed embedding must
  // surface as a visible null, not a plausible truncated score), so
  // the output is nullable even over non-nullable children.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Column API for [[DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private def foldInt(e: Expression): Int = {
    require(e.foldable, "integer argument must be a literal")
    e.eval().asInstanceOf[Number].intValue
  }

  private def foldStringSeq(e: Expression): Seq[String] = {
    require(e.foldable, "string-array argument must be a literal")
    e.eval().asInstanceOf[ArrayData]
      .toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.toString).toSeq
  }

  /** The full SQL surface of graft's custom expressions: (name,
    * implementing class, builder). Shared by [[register]] and
    * [[graft.GraftExtensions]] so the temp-function and
    * session-extension paths can never diverge. */
  private[graft] val sqlFunctions:
      Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct],
      e => DotProduct(e(0), e(1))),
    ("graft_minhash_signature", classOf[MinhashSignature],
      e => MinhashSignature(e(0), foldInt(e(1)))),
    ("graft_simhash", classOf[SimhashSignature],
      e => SimhashSignature(e(0))),
    ("graft_grams", classOf[CharGrams],
      e => CharGrams(e(0))),
    ("graft_word_shingles", classOf[WordShingles],
      e => WordShingles(e(0), foldInt(e(1)))),
    ("graft_repetition_stats", classOf[RepetitionStats],
      e => RepetitionStats(e(0))),
    ("graft_int8_quant_stats", classOf[Int8QuantStats],
      e => Int8QuantStats(e(0))),
    ("graft_phrase_hits", classOf[PhraseHits],
      e => PhraseHits(e(0), foldStringSeq(e(1)))),
    ("graft_phrase_redact", classOf[PhraseRedact],
      e => PhraseRedact(e(0), foldStringSeq(e(1)))),
    // aggregate: the analyzer wraps a returned AggregateFunction in
    // an AggregateExpression, same as the built-in max/min builders
    ("graft_topk", classOf[TopKAgg],
      e => TopKAgg(e(0), foldInt(e(1)))),
    ("graft_topk_keyed", classOf[TopKKeyedAgg],
      e => TopKKeyedAgg(e(0), e(1), foldInt(e(2)))),
  )

  /** Register graft's custom expressions as SQL functions on an
    * existing session (`SELECT graft_dot(a, b) ...`). For cluster
    * deployments set `spark.sql.extensions=graft.GraftExtensions`
    * instead — same registrations, applied at session build. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graft.FunctionRegistrar.registerTemp(
        spark, name, builder)
    }
}
