package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the event operators (SURVEY §2.5).
  * Semantics match the batch-equivalents in [[StreamOps]]; specs drive
  * them with MemoryStream + processAllAvailable.
  *
  * At cluster scale these run unchanged: watermark + window state is
  * partitioned by group key, sessionization state lives in the state
  * store keyed by user, and the enrichment join broadcasts the static
  * dimension per microbatch.
  */
object Streaming {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

  case class SessionState(sessionId: Long, nEvents: Long,
    startUs: Long, lastUs: Long)

  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
    start_us: Long, end_us: Long, duration_us: Long)

  /** S1: tumbling 1-hour windowed aggregation with a 2-hour watermark.
    * Append-mode safe: results emit once the watermark passes window
    * end. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(
        floor(unix_millis(col("window.start")) / lit(3600000.0)).cast("long")
          .as("bucket"),
        col("event_type"), col("n"), col("total"))

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

  /** One session-fold transition: nEvents=0 means "no open session,
    * sessionId is the last used id" — a fresh event therefore starts
    * session sessionId+1, keeping ids monotone across idle-timeout
    * flushes. */
  private[graft] def step(userId: Long, st: SessionState, us: Long,
      gap: Long): (Option[SessionOut], SessionState) =
    if (st.nEvents == 0L) (None, SessionState(st.sessionId + 1L, 1L, us, us))
    else if (us - st.lastUs > gap)
      (Some(flush(userId, st)), SessionState(st.sessionId + 1L, 1L, us, us))
    else (None, st.copy(nEvents = st.nEvents + 1, lastUs = us))

  private[graft] def flush(userId: Long, st: SessionState): SessionOut =
    SessionOut(userId, st.sessionId, st.nEvents, st.startUs, st.lastUs,
      st.lastUs - st.startUs)

  /** S2: gap-based sessionization via flatMapGroupsWithState — emits a
    * session row when the 30-min gap closes it; with
    * `ProcessingTimeTimeout` (the production default) the open session
    * flushes when the group goes idle. Pass `NoTimeout` in synchronous
    * tests: the timeout-check loop otherwise keeps scheduling no-data
    * batches, so `processAllAvailable` never settles.
    *
    * NOTE: within one batch, events are sorted in-memory per user —
    * the state store only ever holds one open session per user, which
    * is what bounds state at cluster scale. */
  def sessionize(events: Dataset[Event],
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    val gap = StreamOps.SessionGapUs
    val useTimeout = timeout != GroupStateTimeout.NoTimeout

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // flush the open session but KEEP the per-user counter
            // (nEvents=0 sentinel): the next session continues the
            // monotone id sequence instead of restarting at 1. The
            // counter state is O(#users) and carries no timeout, so it
            // is read-mostly after the flush.
            val out = state.getOption.filter(_.nEvents > 0L)
              .map(flush(userId, _)).toSeq
            state.getOption.foreach(st => state.update(st.copy(nEvents = 0L)))
            out.iterator
          } else {
            var st = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue, Long.MinValue))
            val out = Seq.newBuilder[SessionOut]
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime * 1000 + e.ts.getNanos / 1000 % 1000, e.event_id))
            for (e <- sorted) {
              val us = e.ts.getTime / 1000 * 1000000 + e.ts.getNanos / 1000
              val (emitted, next) = step(userId, st, us, gap)
              emitted.foreach(out += _)
              st = next
            }
            state.update(st)
            if (useTimeout) state.setTimeoutDuration("1 hour")
            out.result().iterator
          }
      }
  }

  /** S3: stream-static enrichment — stream joined to a broadcast
    * dimension (per-microbatch broadcast at scale). */
  def enrich(events: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** S5: exact dedup of an at-least-once event stream —
    * `dropDuplicatesWithinWatermark` keys the state store by event_id
    * and expires entries once the watermark passes, so state is
    * bounded by the watermark horizon (duplicates in real delivery
    * systems arrive close together), not by stream history. The batch
    * analog is q20's exact dedup. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

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

  /** S4: distinct users per tumbling hour on a stream — the
    * fixed-state path: approx_count_distinct keeps one HLL sketch per
    * window in the state store regardless of user cardinality (the
    * exact batch form is q40; at 100 TB the sketch is the only shape
    * whose state does not grow with distinct keys). */
  def windowedUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct("user_id").as("n_users_approx"))
      .select(
        floor(unix_millis(col("window.start")) / lit(3600000.0)).cast("long")
          .as("bucket"),
        col("n_users_approx"))

  /** S8: windowed distinct-user sketch with PORTABLE registers — the
    * streaming form of q193, as ONE stateful aggregate. q193's
    * SQL-mirrorable register relation is two chained aggregations
    * (registers, then the harmonic sum), which append-mode streaming
    * cannot express; [[graft.functions.HllRegistersAgg]] collapses
    * the sketch to a single `groupBy(window).agg` with a fixed
    * 64-byte state per window, and [[hllEstimateExact]] (q193's
    * integer read-out) converts registers to the count estimate in the
    * stateless projection after the agg.
    * The input hash is the same md5-derived 60-bit value as
    * q187/q193 — computed IN-ROW, so any engine that can md5 can
    * feed or merge these sketches; bit-equality of the streaming
    * estimate with q193's batch estimate is spec-asserted. */
  def hllWindowedUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .withColumn("h60",
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.HllRegistersAgg.registers(col("h60")).as("regs"))
      .select(
        floor(unix_millis(col("window.start")) / lit(3600000.0)).cast("long")
          .as("bucket"),
        round(hllEstimateExact("regs"), 4).as("hll_users"))

  /** q193's EXACT-integer readout over a register array: the harmonic
    * sum is a BIGINT Σ 2^(W+1−r) (registers span rho ≤ W+1 = 55, so
    * the 2^-r terms exceed a double's 53-bit mantissa span — a float
    * accumulation can land one ulp off q193's integer form and flip
    * a .00005 rounding boundary in the spec-pinned streaming-vs-batch
    * bit-equality), followed by the
    * single HllNum / sumt division and the identical linear-counting
    * branch. Interpreted HOFs, but evaluated once per WINDOW row. */
  private def hllEstimateExact(regs: String): Column = {
    import graft.text.SourceOps.{HllM, HllNum, HllWBits}
    val sumt = expr(
      s"""aggregate($regs, cast(0 as bigint),
         |  (acc, r) -> acc + shiftleft(cast(1 as bigint), ${HllWBits + 1} - r))"""
        .stripMargin)
    val z = size(expr(s"filter($regs, r -> r = 0)"))
    val raw = lit(HllNum).cast("double") / sumt
    when(raw <= 2.5 * HllM && z > 0,
      lit(HllM.toDouble) * log(lit(HllM.toDouble) / z)).otherwise(raw)
  }
}
