package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  PartitioningCollection, SinglePartition}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
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
  *
  * A cut that asks for a hash partitioning ([[Hashed]]: the loop state
  * and loop-invariant relations of [[Superstep.loopOn]]) is placed that
  * way — `repartition(n, key)`, or `coalesce(1)` for one partition —
  * and reports the partitioning to the planner, so a group-by or union
  * on the key reads the cut where it lies, with no Exchange. It reports
  * it only when the final physical plan of its own job provably ends in
  * it: a hash partitioning on the key into `n` (the repartition's own
  * shuffle, or its input's partitioning where the planner dropped the
  * repartition as redundant), or for `n` = 1 a single partition, which
  * clusters every key. A shuffle read that AQE coalesced claims
  * nothing. A plain cut whose rows lie in one partition can also be
  * re-rooted to report a single partition after the fact
  * ([[place]]), which runs no job: a loop-invariant relation is cut
  * plain first, to measure the bytes its partition count comes from.
  * Other cuts report what Spark's own checkpoint gives them: no
  * partitioning, for a plan AQE ran.
  *
  * A cut's blocks have one owner: the innermost open [[scoped]] body
  * when the cut is made. When that body returns, its scope frees every
  * cut it owns that the result does not read ([[Scope.retain]]) and
  * hands the rest to the enclosing scope; a cut made with no scope
  * open, or handed out of the outermost one, lives until
  * [[releaseAll]]. Operator code frees nothing by hand: each
  * registered query runs in a scope ([[SparkEntry.queries]]), each
  * [[Superstep]] loop is one, and a phase whose cuts must die before
  * more eager work runs is wrapped in its own.
  */
object Checkpoints {

  val ConfKey = "spark.graft.checkpoint.dir"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Observation names must be unique within a plan. */
  private val cutIds = new AtomicLong

  /** The cuts one [[scoped]] body made (or took over from the scopes
    * nested in it) and has not freed. */
  private[graft] final class Scope private[Checkpoints] {
    private[Checkpoints] var owned = Vector.empty[RDD[_]]

    /** Free every cut this scope owns that `live` does not read
      * ([[reads]]); the rest stay owned. */
    def retain(live: Any): Unit = {
      val ids = reads(live)
      val (keep, dead) = owned.partition(r => ids.contains(r.id))
      dead.foreach(_.unpersist(blocking = false))
      owned = keep
    }
  }

  /** The open scopes of this thread, innermost first. */
  private val open = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** `body` in a new scope: every cut made while it runs is the
    * scope's. When it returns, the cuts its result does not read are
    * freed and the rest handed to the enclosing scope (with none open,
    * left for [[releaseAll]]). If it throws, all of them are handed on. */
  def scoped[T](body: => T): T = scope(_ => body)

  /** [[scoped]], with the scope handed to `body`, which may
    * [[Scope.retain]] what it still needs partway through (a loop, at
    * the end of each round). */
  private[graft] def scope[T](body: Scope => T): T = {
    val s = new Scope
    val outer = open.get
    open.set(s :: outer)
    try {
      val out = body(s)
      s.retain(out)
      out
    } finally {
      open.set(outer)
      outer.headOption.foreach(_.owned ++= s.owned)
    }
  }

  /** Ids of the RDDs `live` reads: for every Dataset inside it
    * (tuples, case classes, collections), the RDD of each `LogicalRDD`
    * and `ExternalRDD` leaf of its analyzed plan and of the plans of
    * its subqueries, with those RDDs' lineage. A cut read through a
    * projection, a union or a subquery is read; so is one read only
    * through the lineage of a frame built over an RDD
    * (`createDataFrame(cut.rdd…)`). */
  private[graft] def reads(live: Any): Set[Int] = {
    val seen = mutable.Set.empty[Int]
    def lineage(rdd: RDD[_]): Unit =
      if (seen.add(rdd.id)) rdd.dependencies.foreach(d => lineage(d.rdd))
    def walk(v: Any): Unit = v match {
      case ds: Dataset[_] => ds.queryExecution.analyzed.foreachWithSubqueries {
        case lr: LogicalRDD => lineage(lr.rdd)
        case er: ExternalRDD[_] => lineage(er.rdd)
        case _ =>
      }
      case xs: Iterable[_] => xs.foreach(walk)
      case p: Product => p.productIterator.foreach(walk)
      case _ =>
    }
    walk(live)
    seen.toSet
  }

  /** Materialize `df` and cut its lineage, honoring [[ConfKey]]. If
    * the context already has a different checkpoint dir, the
    * configured one wins (with a warning) — never silently write
    * checkpoints somewhere other than where [[ConfKey]] says. */
  def cut(df: DataFrame): DataFrame = observedCut(df, None, None)._1

  /** [[cut]] that also counts, in the same job, the rows of `df` that
    * match `where` (null counts as no match, as in `filter`). */
  def cut(df: DataFrame, where: Column): (DataFrame, Long) =
    observedCut(df, Some(where), None)

  /** Hash partitioning on one column: `n` partitions by `key`, as
    * `repartition(n, col(key))` places the rows. One partition is a
    * single partition (`coalesce(1)`), which clusters every key. */
  final case class Hashed(key: String, n: Int)

  /** [[cut]] of `df` hash-partitioned as `by`. */
  def cut(df: DataFrame, by: Hashed): DataFrame = observedCut(df, None, Some(by))._1

  /** [[cut]] of `df` hash-partitioned as `by`, counting the rows that
    * match `where` as `cut(df, where)` does. */
  def cut(df: DataFrame, where: Column, by: Hashed): (DataFrame, Long) =
    observedCut(df, Some(where), Some(by))

  /** `cut`, a frame [[cut]] returned, placed as `by`: when `by` is one
    * partition and the cut's rows already lie in one, the same cut
    * re-rooted to report a single partition, which runs no job; else a
    * new cut of it, hash-partitioned as `by`. The caller still owns
    * `cut`. */
  def place(cut: DataFrame, by: Hashed): DataFrame = cut.queryExecution.analyzed match {
    case lr: LogicalRDD if by.n == 1 && lr.rdd.getNumPartitions == 1 =>
      StatsBridge.reRoot(cut, lr.stats, Some(SinglePartition))
    case _ => this.cut(cut, by)
  }

  /** How many partitions a cut frame reports its rows clustered into on
    * its column `key`: `n` for a hash partitioning on `key` alone, 1 for
    * a single partition. */
  def partitionsOn(cut: DataFrame, key: String): Option[Int] =
    cut.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.outputPartitioning match {
        case SinglePartition => Some(1)
        case HashPartitioning(Seq(a: Attribute), n) if a.name == key => Some(n)
        case _ => None
      }
      case _ => None
    }

  /** The row count of a cut frame, as its own job measured it. */
  def rowCount(cut: DataFrame): Long = cut.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.stats.rowCount.isDefined => lr.stats.rowCount.get.toLong
    case other => throw new IllegalArgumentException(
      s"rowCount needs a frame returned by Checkpoints.cut, got a ${other.nodeName} root")
  }

  /** Materialize `df` (repartitioned as `by`, when given) with one
    * observation on it — rows, rows matching `where`, and the bytes of
    * each string/binary column — and re-root the cut on those
    * statistics and on the partitioning its plan ended in. Fixed-width
    * columns count at their width; a frame with a nested column keeps
    * the planner's size estimate but still reports its measured row
    * count. */
  private def observedCut(df: DataFrame, where: Option[Column],
      by: Option[Hashed]): (DataFrame, Long) = {
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
    val placed = by.fold(df)(h =>
      if (h.n == 1) df.coalesce(1) else df.repartition(h.n, col(h.key)))
    val observed = placed.observe(name, metrics.head, metrics.tail: _*)
    val c = materialize(observed)
    c.queryExecution.analyzed match {
      case lr: LogicalRDD => open.get.headOption.foreach(_.owned :+= lr.rdd)
      case _ =>
    }
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
    (StatsBridge.reRoot(c, Statistics(size.max(1), rowCount = Some(BigInt(rows))),
      by.flatMap(endsAs(observed, _))), matched)
  }

  /** The partitioning `by` asks for, over the output of `ran`, if the
    * plan `ran` executed provably ends in it: a single partition when
    * `by.n` is 1, else a hash partitioning on `by.key` into `by.n`. Read
    * after the action, so an adaptive plan is in its final form, where a
    * coalesced shuffle read reports a coalesced partitioning, not `by`. */
  private def endsAs(ran: DataFrame, by: Hashed): Option[Partitioning] = {
    def leaves(p: Partitioning): Seq[Partitioning] = p match {
      case c: PartitioningCollection => c.partitionings.flatMap(leaves)
      case other => Seq(other)
    }
    val qe = ran.queryExecution
    val ended = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.outputPartitioning
      case p => p.outputPartitioning
    }
    if (by.n == 1) Some(SinglePartition).filter(_ => ended.numPartitions == 1)
    else qe.analyzed.output.find(_.name == by.key)
      .map(a => HashPartitioning(Seq(a), by.n))
      .filter(want => leaves(ended).exists {
        case e: Expression => want.semanticEquals(e)
        case _ => false
      })
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
    * the same relation: q244 cuts the corpus and then calls
    * fingerprintPairs, which cuts its input again, and q229 cuts its
    * pair relation and then hands it to `NodeEmbeddings.ppmiRows` —
    * each would otherwise be a redundant second materialization +
    * storage of an identical relation per query. A NON-checkpoint
    * LogicalRDD (e.g. a createDataFrame/zipWithIndex result) still
    * cuts: its RDD lineage would otherwise re-execute per action. */
  def cutOnce(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD
          if lr.rdd.isCheckpointed => df
      case _ => cut(df)
    }

  /** Drop every persisted RDD and SQL-cached plan in the session —
    * end-of-query hygiene for Verify/Bench, where queries are
    * independent and nothing may carry blocks into the next one: it
    * frees the cuts a query's answer read, which its scope handed out. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
