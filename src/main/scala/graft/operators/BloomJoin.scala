package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Md5Prefix

/** Bloom-filter join pruning — the runtime-filter pattern Spark's own
  * optimizer injects (`InjectRuntimeFilter`) and every warehouse uses
  * to skip a shuffle: summarize a selective dimension key set as an
  * m-bit filter, probe the fact side IN-ROW, and only the (few)
  * passing rows reach the real join. This operator makes the trade
  * measurable: it runs both the filter probe and the exact semi-join
  * and reports the false-positive cost per order-priority stratum.
  *
  * Scale shape: the filter is ≤ [[BloomM]] bits regardless of fact
  * size — the bit relation broadcasts where the dim-side semi-join
  * would shuffle the fact table; probes are pure projections (k md5
  * bit positions per key). No false negatives by construction
  * (spec-asserted): a member key's bits are all set, so pruning never
  * loses a row — the Bloom contract that makes it a safe pre-filter.
  *
  * Determinism: bit positions are md5 mod m (the q47 hashing
  * discipline); membership and counts are integers; fp_rate is one
  * terminal division rounded 6dp. Reference: Bloom 1970, CACM 13(7).
  */
object BloomJoin {

  val BloomM = 1024L
  val BloomK = 3
  val BalMin = 9000.0

  private def bit(i: Int, key: Column): Column =
    pmod(Md5Prefix(concat(lit(s"$i:"), key.cast("string")), 1, 8).cast("long"),
      lit(BloomM))

  def q133BloomPrune(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val dim = t.customer.filter(col("c_acctbal") > BalMin)
      .select(col("c_custkey").cast("long").as("k"))
    val o = t.orders.select(col("o_custkey").cast("long").as("k"),
      col("o_orderpriority"))
    bloomFlags(dim, o).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("member"), 1L).otherwise(0L)).as("n_member"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("pass") && !col("member"), 1L).otherwise(0L))
          .as("n_false_pos"))
      .withColumn("fp_rate",
        round(col("n_false_pos").cast("double")
          / (col("n_orders") - col("n_member")), 6))
      .orderBy("o_orderpriority")
  }

  /** Probe rows extended with (pass, member) — the per-row Bloom
    * verdict next to ground truth. `probe` must carry the key as
    * `k`. */
  private[graft] def bloomFlags(dim: DataFrame, probe: DataFrame): DataFrame = {
    val bits = dim
      .select(explode(array((0 until BloomK).map(i => bit(i, col("k"))): _*))
        .as("bit"))
      .distinct()
      .withColumn("present", lit(1))
    val member = dim.withColumn("is_member", lit(1))
    val probed = (0 until BloomK).foldLeft(probe) { (acc, i) =>
      acc.join(broadcast(bits
          .select(col("bit").as(s"bit$i"), col("present").as(s"h$i"))),
        bit(i, acc("k")) === col(s"bit$i"), "left")
        .drop(s"bit$i")
    }
    probed
      .withColumn("pass",
        (0 until BloomK).map(i => col(s"h$i").isNotNull).reduce(_ && _))
      .join(broadcast(member), Seq("k"), "left")
      .withColumn("member", col("is_member").isNotNull)
      .drop((0 until BloomK).map(i => s"h$i") :+ "is_member": _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q133_bloom_prune" -> (q133BloomPrune _),
  )

  private def bitSql(i: Int, keyExpr: String): String =
    s"""(${Md5Prefix.hexToLongSql(
      s"md5('$i:' || CAST($keyExpr AS VARCHAR))", 1, 8)} % $BloomM)"""

  val oracleSql: Map[String, String] = Map(
    "q133_bloom_prune" ->
      s"""WITH dim AS (
         |  SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
         |  WHERE c_acctbal > $BalMin),
         |bits AS (
         |  SELECT DISTINCT b AS bit FROM (
         |    ${(0 until BloomK).map(i =>
               s"SELECT ${bitSql(i, "k")} AS b FROM dim")
               .mkString("\n    UNION ALL\n    ")}
         |  )),
         |o AS (SELECT CAST(o_custkey AS BIGINT) AS k, o_orderpriority
         |      FROM orders),
         |f AS (
         |  SELECT o.o_orderpriority,
         |         (${(0 until BloomK).map(i =>
                s"${bitSql(i, "o.k")} IN (SELECT bit FROM bits)")
                .mkString("\n          AND ")}) AS pass,
         |         (o.k IN (SELECT k FROM dim)) AS member
         |  FROM o)
         |SELECT o_orderpriority,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       CAST(count(*) FILTER (member) AS BIGINT) AS n_member,
         |       CAST(count(*) FILTER (pass) AS BIGINT) AS n_pass,
         |       CAST(count(*) FILTER (pass AND NOT member) AS BIGINT)
         |         AS n_false_pos,
         |       round(CAST(count(*) FILTER (pass AND NOT member) AS DOUBLE)
         |             / (count(*) - count(*) FILTER (member)), 6) AS fp_rate
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
