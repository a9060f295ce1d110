package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Session extensions: registers graft's full custom-expression
  * family at session build time — set
  * `spark.sql.extensions=graft.GraftExtensions` on the cluster so SQL
  * users get `graft_dot`, `graft_minhash_signature`, `graft_simhash`,
  * `graft_grams`, `graft_word_shingles`, `graft_repetition_stats`,
  * `graft_int8_quant_stats`, `graft_phrase_hits`,
  * `graft_phrase_redact` and the `graft_topk` aggregates without
  * touching the Column API — plus
  * the [[graft.plans.RangeJoinRewrite]] optimizer rule, which turns
  * naive interval theta joins into bucketized equi-joins. (On an
  * already-built session use `GraftFunctions.register` and
  * `spark.experimental.extraOptimizations` instead.) */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}
