package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into Spark's `private[sql]` plan-to-Dataset constructor, so a
  * checkpointed frame can be re-rooted on the same `LogicalRDD` with
  * other statistics. Lives in an `org.apache.spark.sql` subpackage
  * solely for access; contains no logic of its own. */
object StatsBridge {

  /** `cut` (a frame whose plan root is a `LogicalRDD`) re-rooted on a
    * copy of that `LogicalRDD` — same RDD, output, partitioning and
    * constraints — that reports `stats`. */
  def withStats(cut: DataFrame, stats: Statistics): DataFrame =
    cut.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = cut.sparkSession.asInstanceOf[SparkSession]
        Dataset.ofRows(session, lr.copy()(session, Some(stats), Some(lr.constraints)))
      case other => throw new IllegalArgumentException(
        s"withStats needs a LogicalRDD plan root, got ${other.nodeName}")
    }
}
