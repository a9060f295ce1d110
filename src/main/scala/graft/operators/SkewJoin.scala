package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * When one join key holds a disproportionate share of the fact side
  * (a hub module every repo depends on, a hot user), a plain shuffle
  * join lands that key's rows on ONE reducer. AQE's skew-join split
  * handles sort-merge cases adaptively; this utility is the explicit,
  * plan-stable alternative: a hot key's fact rows get a random salt
  * in [0, buckets), its build rows are replicated `buckets` times,
  * and the join key becomes (key, salt) — spreading that key over
  * `buckets` reducers. Results are exactly those of the plain join
  * (spec-asserted); the build side must be the smaller relation since
  * it is replicated.
  */
object SkewJoin {

  /** Salted join with PER-KEY bucket counts derived from a measured
    * skew profile (the [[Profile.skewProfile]] / q102 output shape:
    * one small row per hot key carrying `key` and `cnt`) instead of a
    * fixed global constant: a hot key spreads over
    * ceil(cnt / targetPerBucket) reducers (capped at `maxBuckets`),
    * every other key keeps bucket count 1 — so the build side
    * replicates ONLY for the keys that need it, not `buckets`× for
    * the whole relation. The profile is hot-keys-only by construction
    * (top-k of an aggregation), so both profile joins broadcast.
    * Results are exactly the plain join's (spec-asserted). */
  def saltedByProfile(fact: DataFrame, build: DataFrame, factKey: String,
      buildKey: String, profile: DataFrame, targetPerBucket: Long,
      maxBuckets: Int = 64): DataFrame = {
    val nb = profile.select(col("key").as("__pk"),
      least(greatest(ceil(col("cnt") / targetPerBucket.toDouble), lit(1)),
        lit(maxBuckets)).cast("int").as("__nb"))
    val saltedFact = fact
      .join(broadcast(nb), col(factKey) === col("__pk"), "left")
      .withColumn("__nb", coalesce(col("__nb"), lit(1)))
      .withColumn("__salt", (rand(seed = 42) * col("__nb")).cast("int"))
      .drop("__pk", "__nb")
    val replicatedBuild = build
      .join(broadcast(nb), col(buildKey) === col("__pk"), "left")
      .withColumn("__nb", coalesce(col("__nb"), lit(1)))
      .withColumn("__salt", explode(expr("sequence(0, __nb - 1)")))
      .drop("__pk", "__nb")
    saltedFact.join(replicatedBuild,
        col(factKey) === col(buildKey) &&
          saltedFact("__salt") === replicatedBuild("__salt"))
      .drop("__salt")
  }

  /** q158: the salted join oracle-checked END TO END — lineitem ⋈
    * orders through the (key, salt) spread, with bucket counts
    * DERIVED from the measured q102-style skew profile of the fact
    * key (measure, then salt), then a per-status summary the DuckDB
    * oracle computes from the PLAIN join. Inner equi-join results are
    * salt-invariant by construction; a salting bug that dropped or
    * duplicated a (fact row, build row) match hash-mismatches here.
    * Quantities DECIMAL-sum (order-free). */
  def q158SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.Tables(spark, dir)
    val fact = t.lineitem.select("l_orderkey", "l_quantity")
    val profile = Profile.skewProfile(
      fact.select(col("l_orderkey").cast("long").as("k")), "k")
    saltedByProfile(
      fact,
      t.orders.select("o_orderkey", "o_orderstatus"),
      "l_orderkey", "o_orderkey", profile,
      targetPerBucket = 4)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("total_qty"))
      .orderBy("o_orderstatus")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_salted_join" -> (q158SaltedJoin _),
  )

  val oracleSql: Map[String, String] = Map(
    "q158_salted_join" ->
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
