package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, StatsBridge}
import org.apache.spark.sql.types._

/** Lineage cutting for iterative plans and reused intermediates.
  *
  * On a real cluster `localCheckpoint` is not fault-tolerant: blocks
  * live only in executor storage, so losing one executor kills the
  * lineage-truncated job. Setting `spark.graft.checkpoint.dir` to a
  * reliable path (HDFS/S3) switches every cut to a reliable
  * `checkpoint`; unset (the local default) it stays the cheap
  * `localCheckpoint`.
  *
  * Cuts carry measured statistics. The cut's own job observes the row
  * count (and the bytes of every string/binary column), and the cut
  * frame reports them to the planner instead of the estimate of the
  * plan it came from — an estimate that compounds through every join
  * and aggregate of a loop, up to 10⁴¹ B for a 25-row PageRank state.
  * So `spark.sql.autoBroadcastJoinThreshold` broadcasts small loop
  * state when the plan is made, and big state keeps its shuffle join.
  * A loop whose change signal counts a cut's rows, or its rows
  * matching a predicate, reads it from the same observation
  * (`rowCount`, `cut(df, where)`), not from a second action.
  */
object Checkpoints {

  val ConfKey = "spark.graft.checkpoint.dir"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Observation names must be unique within a plan. */
  private val cutIds = new AtomicLong

  /** Materialize `df` and cut its lineage, honoring [[ConfKey]]. If
    * the context already has a different checkpoint dir, the
    * configured one wins (with a warning) — never silently write
    * checkpoints somewhere other than where [[ConfKey]] says. */
  def cut(df: DataFrame): DataFrame = observedCut(df, None)._1

  /** [[cut]] that also counts, in the same job, the rows of `df` that
    * match `where` (null counts as no match, as in `filter`). */
  def cut(df: DataFrame, where: Column): (DataFrame, Long) =
    observedCut(df, Some(where))

  /** The row count of a cut frame, as its own job measured it. */
  def rowCount(cut: DataFrame): Long = cut.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.stats.rowCount.isDefined => lr.stats.rowCount.get.toLong
    case other => throw new IllegalArgumentException(
      s"rowCount needs a frame returned by Checkpoints.cut, got a ${other.nodeName} root")
  }

  /** Materialize `df` with one observation on it — rows, rows matching
    * `where`, and the bytes of each string/binary column — and re-root
    * the cut on those statistics. Fixed-width columns count at their
    * width; a frame with a nested column keeps the planner's size
    * estimate but still reports its measured row count. */
  private def observedCut(df: DataFrame, where: Option[Column]): (DataFrame, Long) = {
    val (varWidth, rest) = df.queryExecution.analyzed.output.partition(a =>
      a.dataType match {
        case _: StringType | _: CharType | _: VarcharType | BinaryType => true
        case _ => false
      })
    val (fixed, nested) = rest.partition(a => a.dataType match {
      case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType |
          _: DayTimeIntervalType | _: YearMonthIntervalType | NullType |
          CalendarIntervalType => true
      case _ => false
    })
    val name = s"graft_cut_${cutIds.incrementAndGet()}"
    val metrics = count(lit(1)).as("rows") +:
      (where.map(w => count(when(w, lit(1))).as("matched")).toSeq ++
        varWidth.zipWithIndex.map { case (a, i) =>
          sum(octet_length(ColumnBridge.column(a))).as(s"bytes$i")
        })
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val c = materialize(observed)
    // read from the plan that just ran: the checkpoint action executes
    // `observed`'s own QueryExecution, so its metric collectors are
    // filled when the action returns
    val m = observed.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(s"cut observation $name did not report"))
    def metric(field: String): Long = {
      val i = m.fieldIndex(field)
      if (m.isNullAt(i)) 0L else m.getLong(i)
    }
    val rows = metric("rows")
    val matched = if (where.isDefined) metric("matched") else rows
    val size =
      if (nested.nonEmpty) c.queryExecution.analyzed.stats.sizeInBytes
      else BigInt(rows) * (8 + fixed.map(_.dataType.defaultSize).sum + 12 * varWidth.size) +
        varWidth.indices.map(i => BigInt(metric(s"bytes$i"))).sum
    (StatsBridge.withStats(c, Statistics(size.max(1), rowCount = Some(BigInt(rows)))), matched)
  }

  private def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey) match {
      case Some(dir) if dir.nonEmpty =>
        val sc = spark.sparkContext
        // setCheckpointDir stores a fully-qualified URI (scheme added,
        // UUID subdir appended), so raw-string prefix matching against
        // the conf value misfires on scheme-less paths and on sibling
        // dirs sharing a prefix (/a/b vs /a/bc). Qualify the conf path
        // the same way and compare the UUID dir's PARENT component.
        val confPath = new org.apache.hadoop.fs.Path(dir)
        val qualified = confPath
          .getFileSystem(sc.hadoopConfiguration).makeQualified(confPath)
        val existing = sc.getCheckpointDir
        val matches = existing.exists { e =>
          new org.apache.hadoop.fs.Path(e).getParent == qualified
        }
        if (!matches) {
          existing.foreach(e => log.warn(
            s"$ConfKey=$dir overrides existing checkpoint dir $e; " +
              s"resetting to $qualified"))
          sc.setCheckpointDir(dir)
        }
        df.checkpoint()
      case _ => df.localCheckpoint()
    }
  }

  /** [[cut]] unless `df` is ALREADY a cut root (its plan root is the
    * LogicalRDD of a checkpointed RDD) — the idempotent form for call
    * chains where both a composer and its component defensively cut
    * the same relation: q244/winnowingDedupAuto cut the corpus and
    * then call fingerprintPairs, which cuts its input again — a
    * redundant second materialization + storage of an identical
    * relation per query (ADVICE r12). A NON-checkpoint LogicalRDD
    * (e.g. a createDataFrame/zipWithIndex result) still cuts: its RDD
    * lineage would otherwise re-execute per action. */
  def cutOnce(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD
          if lr.rdd.isCheckpointed => df
      case _ => cut(df)
    }

  /** Free the cached blocks behind checkpointed DataFrames that are no
    * longer reachable (superseded loop iterations). Without this an
    * iterative algorithm retains every iteration's blocks for the
    * lifetime of the session — at cluster scale that is a memory leak
    * proportional to iterations × frontier size, and even locally the
    * accumulated deserialized blocks degrade GC across a long session.
    * Safe on aliased/released inputs: unpersist is idempotent.
    *
    * Only the frame's OWN checkpoint (the plan root) is freed: a frame
    * merely derived from a checkpoint does not own its ancestor's
    * blocks, and unpersisting every LogicalRDD reachable in the plan
    * would silently free still-needed ancestors (for localCheckpoint,
    * destroying the only copy). Passing a derived frame is a no-op
    * with a warning — release the cut frame itself instead. */
  def release(dfs: DataFrame*): Unit =
    dfs.filter(_ != null).foreach { df =>
      df.queryExecution.analyzed match {
        case lr: LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case other => log.warn(
          s"release() called on a non-checkpoint plan root " +
            s"(${other.nodeName}); nothing freed — pass the cut frame")
      }
    }

  /** Drop every persisted RDD and SQL-cached plan in the session —
    * end-of-query hygiene for Verify/Bench, where queries are
    * independent and nothing may carry blocks into the next one. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
