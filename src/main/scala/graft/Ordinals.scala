package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed dense ordinals — the shared primitive for "rank every
  * row of a data-scale relation by a sort key".
  *
  * An unpartitioned `row_number().over(Window.orderBy(...))` funnels
  * the WHOLE relation through one task (Spark itself warns
  * `No Partition Defined for Window operation`): at suite scale it's
  * invisible; on a cluster it is not merely slow but IMPOSSIBLE past
  * one executor's memory — every row moves to a single partition.
  * The scalable shape: a range-partitioned sort (every partition
  * sorted in parallel, partition p's keys ≤ partition p+1's), then
  * rank = per-partition offset + local position.
  *
  * Mechanics (all Tungsten — BENCH_SCALING Part 19 measured the
  * earlier `.rdd.zipWithIndex` seam paying InternalRow→Row
  * conversion on every row, which at 10⁸ rows cost as much as the
  * sort itself):
  *  1. `repartitionByRange(sortCols).sortWithinPartitions(sortCols)`,
  *     lineage-cut — the cut both freezes the sampled range bounds
  *     (two jobs over a live exchange may sample different bounds)
  *     and makes the sort run ONCE for the two consumers below.
  *  2. `spark_partition_id()` names the partition (public contract);
  *     `monotonically_increasing_id()` = (partition id << 33) | local
  *     row index, assigned in physical row order, supplies the local
  *     position for free — no window, no exchange. Only the LOW 33
  *     bits (the local index) are read from the mono encoding; the
  *     partition id comes from the public function, never from
  *     shifting the mono value (its high-bits layout is an
  *     implementation detail).
  *  3. per-partition counts → cumulative offsets (one tiny agg; the
  *     offsets relation is #partitions rows, broadcast back).
  *
  * Over DISTINCT sort keys the result is bit-identical to the
  * `row_number` it replaces (spec-pinned, OrdinalsSpec), with no
  * single-task stage and no row-format conversion.
  */
object Ordinals {

  /** `df` plus `rankCol` = `first` + position of the row in the
    * ascending `sortCols` order. Ranks are dense and deterministic
    * when the sort key is unique per row (callers pass distinct
    * keys); ties would otherwise order arbitrarily within equal keys.
    */
  def dense(df: DataFrame, sortCols: Seq[String], rankCol: String,
      first: Long = 1L): DataFrame =
    denseBy(df, sortCols.map(col), rankCol, first)

  /** [[dense]] over arbitrary sort Columns (mixed asc/desc). The sort
    * expression sequence must be a TOTAL order over `df`'s rows (end
    * with a unique tie-break column) or ranks within ties are
    * partition-order-dependent. */
  def denseBy(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
      rankCol: String, first: Long = 1L): DataFrame =
    denseByWithMeta(df, sortCols, rankCol, first)._1

  /** [[denseBy]] plus the EXACT row count (free: the per-partition
    * counts are already collected for the offsets, so callers that
    * need |df| — e.g. a doubling loop's convergence scalar — skip a
    * count job). The ranked frame reads an internal cut, which lives
    * as long as the caller's scope reads the ranks. */
  def denseByWithMeta(df: DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column], rankCol: String,
      first: Long = 1L): (DataFrame, Long) = {
    val mono = "__graft_ord_mono"
    val pid = "__graft_ord_pid"
    val cutFrame = Checkpoints.cut(
      df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*))
    val sorted = cutFrame
      .withColumn(mono, monotonically_increasing_id())
      .withColumn(pid, spark_partition_id().cast("long"))
    val counts = sorted.groupBy(pid).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq // #partitions rows — driver-side scalars
    // the local index below reads mono's low 33 bits — valid only
    // while every partition holds < 2^33 rows (any larger partition
    // would wrap); the per-partition counts are already on the driver,
    // so the guard is free
    require(counts.forall(_._2 < (1L << 33)),
      s"Ordinals: a partition holds >= 2^33 rows (max " +
        s"${counts.map(_._2).max}) — mono local index would wrap; " +
        "raise the partition count")
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).dropRight(1))
    val offRel = sorted.sparkSession.createDataFrame(offsets)
      .toDF(pid, "__off")
    val ranked = sorted.join(broadcast(offRel), pid)
      .withColumn(rankCol,
        col("__off") + (col(mono).bitwiseAND(lit((1L << 33) - 1))) + first)
      .drop(mono, pid, "__off")
    (ranked, counts.map(_._2).sum)
  }

  /** Exact `ntile(n)` over a global total order WITHOUT the
    * unpartitioned Window (whose sort runs in ONE task): rank via
    * [[denseBy]], then Spark's own ntile arithmetic — the first
    * N mod n buckets take ⌈N/n⌉ rows, the rest ⌊N/n⌋ — as a
    * projection over the rank and the exact row count
    * [[denseByWithMeta]] already holds (no count job). Bit-identical
    * to `ntile(n).over(Window.orderBy(sortCols))` (spec-pinned), one
    * parallel range-sort instead of a single-task window sort. */
  def ntileBy(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
      n: Int, bucketCol: String): DataFrame = {
    require(n >= 1, s"ntile needs n >= 1, got $n")
    val rk = "__graft_ntile_rank"
    val (ranked, total) = denseByWithMeta(df, sortCols, rk)
    ranked.withColumn(bucketCol, ntileOfRank(rk, total, n)).drop(rk)
  }

  /** Spark's `ntile(n)` bucket as a projection over an existing
    * 1-based dense rank column and the total row count — the
    * arithmetic tail of [[ntileBy]], exposed so callers that already
    * HOLD a rank (e.g. several metrics ranked in one melted pass,
    * q106) can bucket without another sort. The first N mod n buckets
    * take ⌈N/n⌉ rows, the rest ⌊N/n⌋. */
  def ntileOfRank(rankCol: String, total: Long, n: Int): org.apache.spark.sql.Column = {
    require(n >= 1, s"ntile needs n >= 1, got $n")
    val size = total / n
    val rem = total % n
    val cut = rem * (size + 1)
    // integer `div` keeps the bucket arithmetic exact at any N (a
    // double division could round across a bucket boundary)
    val bucket =
      if (size == 0) s"$rankCol" // N < n: one row per bucket = rank
      else s"""case when $rankCol <= $cut
              |  then ($rankCol - 1) div ${size + 1} + 1
              |  else $rem + ($rankCol - 1 - $cut) div $size + 1 end""".stripMargin
    expr(bucket).cast("long")
  }
}
