package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{StreamOps, Streaming}

object StreamingSpec {
  /** One event row as a MemoryStream feeds it. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import StreamingSpec.Event

  private def ts(minute: Long): Timestamp =
    new Timestamp(1700000000000L + minute * 60000L)

  private val sample = Seq(
    Event(1L, ts(0), 7L, "view", 1.0),
    Event(2L, ts(10), 7L, "view", 2.0),
    Event(3L, ts(70), 7L, "click", 3.0), // 60-min gap → new session
    Event(4L, ts(75), 8L, "view", 4.0),
    Event(5L, ts(130), 7L, "view", 5.0), // another gap
  )

  test("streaming hopping windows match the batch explode on closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(sample)
    // sentinel far in the future closes every sample window
    ms.addData(Seq(Event(99L, ts(6000), 9L, "view", 0.0)))
    val q = Streaming.hoppingCounts(ms.toDF())
      .writeStream.format("memory").queryName("hop")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("hop").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.operators.EventOps.hoppingWindow(
        sample.toDF().select(col("user_id"), col("event_type"),
          (unix_millis(col("ts")) * 1000L).as("ts_us")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    want.foreach { case (h, n) =>
      assert(got.get(h).contains(n), s"window $h: got ${got.get(h)}, want $n")
    }
  }

  test("batch sessionization q33 segments by the 30-minute gap") {
    val df = StreamOps.q33Sessionization(spark, sfDir())
    val bad = df.filter(col("n_events") < 1).count()
    assert(bad == 0)
    // session ids are dense per user starting at 1
    val firstIds = df.groupBy("user_id")
      .agg(min("session_id").as("m")).filter(col("m") =!= 1L).count()
    assert(firstIds == 0)
  }

  test("stream-stream join matches right events within the hour horizon") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    views.addData(Seq(
      Event(1L, ts(0), 7L, "view", 1.0),
      Event(2L, ts(5), 8L, "view", 1.0)))
    clicks.addData(Seq(
      Event(10L, ts(30), 7L, "click", 1.0),  // within horizon
      Event(11L, ts(120), 7L, "click", 1.0), // past the hour
      Event(12L, ts(20), 9L, "click", 1.0))) // other user
    // watermark-driving sentinels on both sides
    views.addData(Seq(Event(98L, ts(600), 5L, "view", 0.0)))
    clicks.addData(Seq(Event(99L, ts(600), 6L, "click", 0.0)))
    val q = Streaming.streamStreamJoin(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("ssjoin").collect()
      .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"))).toSet
    assert(got == Set((1L, 10L)))
  }

  test("stream-static enrichment keeps stream rows and adds dim columns") {
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("uid", "tier")
    val out = Streaming.enrich(sample.toDF(), dim, "user_id", "uid")
    assert(out.count() == sample.size)
    assert(out.columns.contains("tier"))
    assert(out.filter(col("tier").isNull).count() == 0)
  }

  test("S8 hll sketch: streaming estimate equals q193's batch estimate per window") {
    // batch equivalence on the real table: the single-agg register
    // sketch must reproduce the two-agg SQL-mirrorable form exactly
    val ev = Tables(spark, sfDir()).events
    // the table's ts is NTZ; under the UTC session the cast preserves
    // the epoch Tables derives for ts_us, so the buckets line up
    val viaAgg = Streaming.hllWindowedUsers(
      ev.select(col("ts").cast("timestamp").as("ts"), col("user_id")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaSql = graft.operators.EventOps.q193WindowedHllUsers(spark, sfDir())
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaAgg.keySet == viaSql.keySet)
    viaSql.foreach { case (b, e) =>
      assert(viaAgg(b) == e, s"bucket $b: agg ${viaAgg(b)} vs sql $e")
    }
  }

  test("q216/q217 oracled entries run REAL streaming and converge to the batch plans") {
    // q216: file source → window(6h,1h) state store → memory sink must
    // equal the batch-mode run of the SAME transform on the SAME table
    val got216 = StreamOps.q216HoppingStream(spark, sfDir())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = Tables(spark, sfDir()).events
      .select(col("ts").cast("timestamp").as("ts"), col("user_id"))
    val want216 = Streaming.hoppingCounts(ev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got216 == want216)
    // q217: the streaming single-agg HLL readout must be BIT-equal to
    // q193's two-agg SQL-mirrorable estimate per window
    val got217 = StreamOps.q217HllStream(spark, sfDir())
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want217 = graft.operators.EventOps.q193WindowedHllUsers(spark, sfDir())
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got217 == want217)
  }

  test("S8 hll sketch: streaming emission converges to the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val burst = (1 to 40).map(i =>
      Event(i.toLong, ts(i % 30), i.toLong % 25, "view", 1.0))
    ms.addData(burst)
    // watermark-driving sentinel far ahead closes the first window
    ms.addData(Seq(Event(99L, ts(600), 9L, "view", 0.0)))
    val q = Streaming.hllWindowedUsers(ms.toDF())
      .writeStream.format("memory").queryName("hllusers")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("hllusers").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = Streaming.hllWindowedUsers(burst.toDF())
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bucket0 = ts(0).getTime / 3600000L
    assert(got.contains(bucket0))
    // closed-window streaming output is BIT-equal to the batch run —
    // registers are deterministic, merge is lossless
    assert(got(bucket0) == batch(bucket0))
    // 25 distinct users; linear-counting regime keeps the estimate close
    assert(math.abs(got(bucket0) - 25.0) / 25.0 < 0.2, s"est ${got(bucket0)}")
  }
}
