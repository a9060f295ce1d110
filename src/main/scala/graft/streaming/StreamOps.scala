package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event-stream operators over the `events` table, each a
  * batch-equivalent DataFrame plan (the `queries()` entry,
  * oracle-checked against DuckDB). q161, q163, q216 and q217 run
  * their [[Streaming]] transform itself, so the streaming form is
  * what the oracle checks.
  *
  * All time math is done on epoch micros/millis (BIGINT) so the ns
  * parquet timestamps compare identically across Spark (µs) and
  * DuckDB (ns): truncation to ms/µs is the same floor in both.
  */
object StreamOps {

  val SessionGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min in micros

  // ---------------------------------------------------------------- q32
  /** Tumbling 1-hour window aggregation per event_type: count + exact
    * decimal sum of value (map-side partial agg; the window key is
    * derived column math, so the single shuffle is the groupBy). */
  def q32WindowedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .withColumn("bucket",
        floor(expr("ts_us div 1000") / lit(3600000.0)).cast("long"))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("bucket", "event_type")

  // ---------------------------------------------------------------- q33
  /** Gap-based sessionization (30-min inactivity): lag + cumulative
    * sum of session-start flags, then per-session stats. Partitioned
    * by user — the window never sees more than one user's events per
    * partition, the same keying the streaming form uses for state. */
  def q33Sessionization(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts_us").as("us"))
      .withColumn("prev", lag("us", 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("us") - col("prev") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("is_new").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("us").as("start_us"), max("us").as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
      .orderBy("user_id", "session_id")
  }

  // ---------------------------------------------------------------- q40
  /** Distinct users per tumbling hour: exact two-level aggregation
    * (dedup on (bucket, user) then count — partial-agg friendly, no
    * collect_set; the streaming form is watermark + dropDuplicates +
    * count, same two-level shape, and at 100 TB the approximate path
    * is approx_count_distinct with a fixed-size HLL sketch). */
  def q40WindowedUsers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .withColumn("bucket",
        floor(expr("ts_us div 1000") / lit(3600000.0)).cast("long"))
      .select("bucket", "user_id")
      .distinct()
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("bucket")

  // ---------------------------------------------------------------- q160
  /** S5's batch projection, oracle-checked: an at-least-once stream is
    * simulated by redelivering every 7th event as an EXACT copy (real
    * redelivery re-sends the same payload), then deduped by event_id —
    * the converged result `dropDuplicatesWithinWatermark` reaches once
    * the watermark passes (reference semantic: the miner's Redis
    * seen-set, src/RedisService.ts:1-86). The summary reports the
    * deduped counts AND how many duplicate arrivals were removed, so a
    * dedup that is a no-op (n_dups_removed=0) or over-drops (n too
    * low) hash-mismatches. */
  def q160StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val redelivered = ev.unionAll(ev.filter(col("event_id") % 7 === 0))
    val deduped = redelivered.dropDuplicates("event_id")
    deduped.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .join(redelivered.groupBy("event_type")
        .agg(count(lit(1)).as("n_arrivals")), Seq("event_type"))
      .withColumn("n_dups_removed", col("n_arrivals") - col("n"))
      .drop("n_arrivals")
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q161
  /** S3's batch shape, oracle-checked through [[Streaming.enrich]]
    * itself: events stream-joined (broadcast left join — the same
    * per-microbatch plan the streaming form uses) to a customer→nation
    * dimension, then rolled up per nation. Unmatched users keep their
    * events (left join) under 'UNKNOWN'. */
  def q161StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val dim = t.customer.select(col("c_custkey"), col("c_nationkey"))
      .join(t.nation.select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    Streaming.enrich(t.events, dim, "user_id", "c_custkey")
      .groupBy(coalesce(col("n_name"), lit("UNKNOWN")).as("nation"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("nation")
  }

  // ---------------------------------------------------------------- q163
  /** S6's batch shape, oracle-checked through
    * [[Streaming.streamStreamJoin]] itself (`withWatermark` is a no-op
    * on batch input, so the batch result IS the stream's converged
    * output): each event matched to the same user's events in the
    * following hour (inclusive, self-pair included — the streaming
    * join's exact condition), rolled up per user. A horizon bug (open
    * vs closed bounds, wrong interval arithmetic) shifts pair counts
    * and hash-mismatches. */
  def q163StreamJoinBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    Streaming.streamStreamJoin(ev, ev)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("left_id").as("n_left"))
      .orderBy("user_id")
  }

  // ------------------------------------------------------- q216 / q217
  /** Monotone run counter so repeated invocations (Verify + Bench in
    * one session) get distinct memory-sink table names. */
  private val streamRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run a [[Streaming]] transform as a REAL Structured Streaming
    * query over the events parquet: file source → stateful aggregate
    * (state store) → memory sink, `Trigger.AvailableNow` + complete
    * mode so the final table is the converged answer on bounded input
    * — the form a DuckDB oracle can check. Append-mode watermark
    * semantics (eviction, closed-window emission) are pinned
    * separately by StreamingSpec's MemoryStream runs; this entry
    * point is what upgrades S7/S8 from spec-only to oracle-checked.
    *
    * Scale shape: identical to the production streaming job — the
    * only local-mode concession is the memory sink (a cluster writes
    * to a real sink); state is partitioned by group key across
    * `spark.sql.shuffle.partitions` state-store partitions. */
  private def runAvailableNow(spark: SparkSession, dir: String, tag: String)(
      transform: DataFrame => DataFrame): DataFrame = {
    require(
      spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "streaming event queries cast NTZ ts to timestamp: requires " +
        "spark.sql.session.timeZone=UTC (call Tables.configure on the builder)")
    val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
    // the load path must be a GLOB: for a plain single-file path
    // FileStreamSource force-sets basePath to the file itself, which
    // partition discovery rejects ("basePath must be a directory")
    val src = spark.readStream.schema(schema)
      .parquet(s"$dir/events.[p]arquet")
      .select(col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
    val name = s"${tag}_${streamRuns.incrementAndGet()}"
    val q = transform(src).writeStream
      .format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** S7 oracled: [[Streaming.hoppingCounts]] executed as an actual
    * streaming query (state store + AvailableNow), oracle-mirrored by
    * the 6-way window expansion in SQL. Spark's `window(6h, 1h)` puts
    * an event in hour b into starts b-5..b (no clamping), which is
    * exactly the cross-join-with-offsets relation DuckDB computes. */
  def q216HoppingStream(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir, "q216_hop")(Streaming.hoppingCounts)
      .orderBy("window_start_hour")

  /** S8 oracled: [[Streaming.hllWindowedUsers]] executed as an actual
    * streaming query — the portable-register HLL sketch as ONE
    * stateful aggregate per window — checked against the register
    * relation spelled out in SQL (same md5-derived 60-bit hash, same
    * exact-BIGINT harmonic sum, same linear-counting branch). */
  def q217HllStream(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir, "q217_hll")(Streaming.hllWindowedUsers)
      .orderBy("bucket")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_windowed_agg" -> (q32WindowedAgg _),
    "q33_sessionization" -> (q33Sessionization _),
    "q40_windowed_users" -> (q40WindowedUsers _),
    "q160_stream_dedup" -> (q160StreamDedup _),
    "q161_stream_enrich" -> (q161StreamEnrich _),
    "q163_stream_join_batch" -> (q163StreamJoinBatch _),
    "q216_hopping_stream" -> (q216HoppingStream _),
    "q217_hll_stream" -> (q217HllStream _),
  )

  val oracleSql: Map[String, String] = Map(
    "q32_windowed_agg" ->
      """SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS bucket,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q33_sessionization" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |flags AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |              OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (SELECT user_id, us,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flags)
        |SELECT user_id, session_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       min(us) AS start_us, max(us) AS end_us,
        |       max(us) - min(us) AS duration_us
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q40_windowed_users" ->
      """SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS bucket,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // dedup restores the pre-redelivery table exactly, and the removed
    // count equals the injected duplicate rule — both sides computable
    // from `events` alone.
    "q160_stream_dedup" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_dups_removed
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q161_stream_enrich" ->
      """SELECT coalesce(n_name, 'UNKNOWN') AS nation,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |LEFT JOIN customer ON user_id = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q163_stream_join_batch" ->
      """SELECT l.user_id,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(count(DISTINCT l.event_id) AS BIGINT) AS n_left
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Spark's window(6h, 1h): an event in epoch-hour b belongs to the
    // 6 windows starting at hours b-5..b — the cross-join expansion.
    "q216_hopping_stream" ->
      """WITH e AS (SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS b
        |           FROM events)
        |SELECT b - k AS window_start_hour,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM e CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q193's register relation per tumbling hour, estimate-only: the
    // streaming single-agg sketch must land on the identical value.
    "q217_hll_stream" -> {
      import graft.text.SourceOps.{HllM, HllNum, HllWBits}
      s"""WITH ev AS (
         |  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS bucket,
         |         user_id
         |  FROM events),
         |h AS (SELECT bucket,
         |        ${graft.text.TextOps.hexToLongSql(
                    "md5(CAST(user_id AS VARCHAR))", 1, 15)} AS v
         |      FROM ev),
         |r AS (SELECT bucket, v // ${1L << HllWBits} AS reg,
         |        CASE WHEN strpos(lpad(bin(v % ${1L << HllWBits}),
         |                 $HllWBits, '0'), '1') = 0 THEN ${HllWBits + 1}
         |             ELSE strpos(lpad(bin(v % ${1L << HllWBits}),
         |                 $HllWBits, '0'), '1') END AS rho
         |      FROM h),
         |m AS (SELECT bucket, reg, max(rho) AS mj FROM r GROUP BY 1, 2),
         |sk AS (SELECT bucket,
         |         sum(1::BIGINT << (${HllWBits + 1} - mj))
         |           + ($HllM - count(*)) * (1::BIGINT << ${HllWBits + 1})
         |           AS sumt,
         |         $HllM - count(*) AS z
         |       FROM m GROUP BY 1)
         |SELECT bucket,
         |       round(CASE WHEN $HllNum / sumt <= ${2.5 * HllM} AND z > 0
         |                  THEN $HllM.0 * ln($HllM.0 / z)
         |                  ELSE $HllNum / sumt END, 4) AS hll_users
         |FROM sk ORDER BY bucket""".stripMargin
    },
  )
}
