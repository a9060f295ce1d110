package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-lake sinks — the write side of the engine. The reference
  * persists entities idempotently (Neo4jClient.ts upsert/MERGE
  * semantics, src/Neo4jClient.ts); the lake equivalents are
  * partition-scoped overwrite (re-running a job converges instead of
  * appending duplicates) and bucketed tables (pre-shuffled layout so
  * repeated fact-fact joins skip the exchange entirely).
  *
  * Scale notes:
  *  - dynamic partition overwrite rewrites ONLY the partitions present
  *    in the incoming DataFrame — a day's backfill touches that day's
  *    directories, never the historical 100 TB;
  *  - bucketing pays one write-time shuffle to delete the read-time
  *    shuffle from every subsequent join/aggregation on the bucket
  *    key — the break-even is one repeated join, and module-dependency
  *    graphs are joined on module id constantly;
  *  - both writers take the session's parallelism; nothing repartitions
  *    to hard-coded counts.
  */
object ParquetSink {

  val OverwriteModeKey = "spark.sql.sources.partitionOverwriteMode"

  /** Idempotent partitioned write: with dynamic partition overwrite,
    * only partitions present in `df` are replaced — rerunning the same
    * job yields byte-identical content instead of duplicate rows, and
    * untouched partitions survive. */
  def writeIdempotent(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption(OverwriteModeKey)
    spark.conf.set(OverwriteModeKey, "dynamic")
    try df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(OverwriteModeKey, v)
      case None => spark.conf.unset(OverwriteModeKey)
    }
  }

  /** q155: the idempotent sink oracle-checked END TO END — orders are
    * written partition-by-status TWICE (the rerun that must converge,
    * not append), read back, and summarized per partition. The oracle
    * computes the identical summary straight from the source table, so
    * a sink that dropped, duplicated, or mangled rows on rerun — or a
    * partition layout that lost the partition column's values — hash-
    * mismatches. DECIMAL-summed totals keep the comparison exact
    * (q108's accumulation-order-free contract). */
  def q155SinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables(spark, dir).orders
    val out = java.nio.file.Files
      .createTempDirectory("graft-sink-roundtrip").toString
    try {
      writeIdempotent(orders, out, Seq("o_orderstatus"))
      writeIdempotent(orders, out, Seq("o_orderstatus")) // rerun converges
      eager(spark.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("o_orderstatus"))
    } finally deleteRecursively(out)
  }

  /** Collect a SMALL (summary-sized) result so backing temp state can
    * be deleted before the query result is handed to the caller. */
  private def eager(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(df.collect().toSeq, 1), df.schema)
  }

  private[graft] def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** q156: the bucketed sink oracle-checked END TO END — orders and
    * lineitem written as bucketed-by-orderkey EXTERNAL tables (data
    * under a temp path, metadata in the session catalog), then joined
    * and aggregated. The existing spec pins the zero-Exchange plan;
    * this query pins DATA FIDELITY through the bucketed write + join
    * against the direct source-table join in DuckDB. Revenue follows
    * the q108 round→DECIMAL contract so the sums are
    * accumulation-order-free in both engines. */
  def q156BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.Tables(spark, dir)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-bucketed-roundtrip").toString
    // Per-run table names: concurrent sessions sharing a metastore
    // must not collide, and nothing may stay registered after the
    // query returns (the tables + temp data are this query's scratch).
    val run = java.util.UUID.randomUUID().toString.replace("-", "")
    val ordersTbl = s"graft_orders_bkt_$run"
    val lineitemTbl = s"graft_lineitem_bkt_$run"
    try {
      t.orders.select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite").format("parquet")
        .option("path", s"$tmp/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordersTbl)
      t.lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite").format("parquet")
        .option("path", s"$tmp/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lineitemTbl)
      eager(spark.table(lineitemTbl)
        .join(spark.table(ordersTbl),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy("o_orderstatus"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $ordersTbl")
      spark.sql(s"DROP TABLE IF EXISTS $lineitemTbl")
      deleteRecursively(tmp)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q155_sink_roundtrip" -> (q155SinkRoundtrip _),
    "q156_bucketed_join" -> (q156BucketedJoin _),
  )

  val oracleSql: Map[String, String] = Map(
    "q155_sink_roundtrip" ->
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q156_bucketed_join" ->
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
