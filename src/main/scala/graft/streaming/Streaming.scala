package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Hll

/** Structured Streaming forms of the event operators (SURVEY §2.5).
  * Semantics match the batch-equivalents in [[StreamOps]]; specs drive
  * them with MemoryStream + processAllAvailable.
  *
  * Each runs a registered query: q161 (S3) and q163 (S6) run the
  * transform over the batch table, q216 (S7) and q217 (S8) as real
  * streaming queries ([[StreamOps]]). At cluster scale these run
  * unchanged: watermark + window state is partitioned by group key,
  * and the enrichment join broadcasts the static dimension per
  * microbatch.
  */
object Streaming {

  /** S7: hopping (sliding) windows — the streaming form of
    * operators.EventOps.hoppingWindow (q82): `window(6h, 1h)` expands
    * each event into size/hop = 6 overlapping windows exactly like
    * the batch explode; watermark + append emit each window once it
    * can no longer change. (Distinct aggregations are unsupported in
    * streaming append mode, so the streaming form reports event
    * counts; the batch q82 adds n_users.) */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        floor(unix_millis(col("window.start")) / lit(3600000.0)).cast("long")
          .as("window_start_hour"),
        col("n_events"))

  /** S3: stream-static enrichment — stream joined to a broadcast
    * dimension (per-microbatch broadcast at scale). */
  def enrich(events: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** S6: windowed stream-stream join — each left event matched to
    * right events of the same user within the next hour. Both sides
    * watermarked so the state store can evict: left rows retire when
    * the right watermark passes their join horizon and vice versa —
    * the only stream-stream join shape whose state is bounded at
    * 100 TB/day event volume. */
  def streamStreamJoin(left: DataFrame, right: DataFrame): DataFrame =
    left.withWatermark("ts", "1 hour").as("l")
      .join(
        right.withWatermark("ts", "1 hour").as("r"),
        expr("""l.user_id = r.user_id AND
               |r.ts >= l.ts AND r.ts <= l.ts + interval 1 hour""".stripMargin))
      .select(col("l.event_id").as("left_id"), col("r.event_id").as("right_id"),
        col("l.user_id").as("user_id"))

  /** S8: windowed distinct-user sketch with PORTABLE registers — the
    * streaming form of q193, as ONE stateful aggregate. The relational
    * register form is two chained aggregations (registers, then the
    * harmonic sum), which append-mode streaming cannot express;
    * [[graft.functions.Hll.registers]] is a single `groupBy(window).agg`
    * with a fixed 64-byte state per window, and
    * [[graft.functions.Hll.estimate]] reads it out in the stateless
    * projection after the agg. The aggregate and estimator are q193's
    * own, so the streaming estimate is bit-equal to q193's batch
    * estimate per window (spec-asserted); the input hash is computed
    * IN-ROW, so any engine that can md5 can feed or merge these
    * sketches. */
  def hllWindowedUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(Hll.registers(Hll.hash60(col("user_id"))).as("regs"))
      .select(
        floor(unix_millis(col("window.start")) / lit(3600000.0)).cast("long")
          .as("bucket"),
        Hll.estimate(col("regs")).as("hll_users"))
}
