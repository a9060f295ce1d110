package graft

import org.apache.spark.sql.DataFrame

/** Scan-parallelism hygiene for compute-heavy row-local expressions. */
object Partitioning {

  /** Spread `df` across the session's cores when it arrives in fewer
    * partitions than the default parallelism — the local
    * one-small-parquet-file case, where a downstream per-row JVM loop
    * (gram hashing, winnowing selection) would otherwise run on 1–2
    * scan tasks while the rest of the machine idles (input-side
    * parallelism). Scale-adaptive, not a tuned constant:
    * at production scale a corpus scan already carries ≥ parallelism
    * partitions and this is the identity — the round-robin exchange
    * (and its determinism sort) is only ever paid on inputs small
    * enough for it to be trivial. */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}
