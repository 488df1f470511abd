package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class IdEv(event_id: Long, ts: Timestamp, user_id: Long, value: Double)

class EventStreamsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window counts over a stream (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(ts("2024-01-01 00:10:00"), 1, "click", 1.0),
      Ev(ts("2024-01-01 00:40:00"), 1, "click", 2.0),
      Ev(ts("2024-01-01 01:10:00"), 2, "view", 3.0),
      Ev(ts("2024-01-01 01:20:00"), 2, "click", 4.0))
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .orderBy("window_start", "event_type")
        .select($"window_start".cast("string"), $"event_type", $"n", $"sum_value")
        .as[(String, String, Long, Double)].collect().toSeq
      assert(rows == Seq(
        ("2024-01-01 00:00:00", "click", 2L, 3.0),
        ("2024-01-01 01:00:00", "click", 1L, 4.0),
        ("2024-01-01 01:00:00", "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("session windows merge events within the gap (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      // user 1: two events 10 min apart (one session), then 40-min gap (new)
      Ev(ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Ev(ts("2024-01-01 00:10:00"), 1, "click", 2.0),
      Ev(ts("2024-01-01 00:50:00"), 1, "view", 4.0),
      // user 2: single event
      Ev(ts("2024-01-01 00:05:00"), 2, "view", 8.0))
    val q = EventStreams.sessionAggregates(mem.toDF())
      .writeStream.format("memory").queryName("session_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("session_test")
        .orderBy("user_id", "session_start")
        .select($"user_id", $"session_start".cast("string"), $"n_events", $"sum_value")
        .as[(Long, String, Long, Double)].collect().toSeq
      assert(rows == Seq(
        (1L, "2024-01-01 00:00:00", 2L, 3.0),
        (1L, "2024-01-01 00:50:00", 1L, 4.0),
        (2L, "2024-01-01 00:05:00", 1L, 8.0)))
    } finally q.stop()
  }

  test("sliding windows: every event lands in two overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(ts("2024-01-01 00:40:00"), 1, "click", 2.0),
      Ev(ts("2024-01-01 01:10:00"), 2, "click", 3.0))
    val q = EventStreams.slidingCounts(mem.toDF())
      .writeStream.format("memory").queryName("sliding_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sliding_test")
        .orderBy("window_start")
        .select($"window_start".cast("string"), $"n", $"sum_value")
        .as[(String, Long, Double)].collect().toSeq
      assert(rows == Seq(
        ("2024-01-01 00:00:00", 1L, 2.0),    // 00:00–01:00 ∋ 00:40
        ("2024-01-01 00:30:00", 2L, 5.0),    // 00:30–01:30 ∋ both
        ("2024-01-01 01:00:00", 1L, 3.0)))   // 01:00–02:00 ∋ 01:10
    } finally q.stop()
  }

  test("streaming dedup drops in-horizon duplicate event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IdEv]
    val q = EventStreams.dedupEvents(mem.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      mem.addData(
        IdEv(100L, ts("2024-01-01 00:00:00"), 1, 1.0),
        IdEv(101L, ts("2024-01-01 00:05:00"), 1, 2.0))
      q.processAllAvailable()
      mem.addData(IdEv(100L, ts("2024-01-01 00:10:00"), 1, 9.0))  // dup id
      q.processAllAvailable()
      mem.addData(IdEv(102L, ts("2024-01-01 00:20:00"), 2, 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream_test")
        .select($"event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(100L, 101L, 102L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with preceding-hour purchases") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = EventStreams.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    try {
      purchases.addData(
        Ev(ts("2024-01-01 00:30:00"), 1, "purchase", 10.0),  // in window
        Ev(ts("2024-01-01 02:00:00"), 1, "purchase", 20.0),  // after click
        Ev(ts("2024-01-01 00:45:00"), 2, "purchase", 30.0))  // other user
      clicks.addData(Ev(ts("2024-01-01 01:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssjoin_test")
        .select($"user_id", $"purchase_value").as[(Long, Double)].collect().toSeq
      assert(rows == Seq((1L, 10.0)))
    } finally q.stop()
  }

  test("watermark bounds state in append mode: late window emits after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.tumblingCounts(mem.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("append_test")
      .outputMode("append").start()
    try {
      mem.addData(Ev(ts("2024-01-01 00:10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // watermark still at 00:10 − 1h → nothing finalized
      assert(spark.table("append_test").count() == 0)
      // push event time far enough that the 00:00 window closes
      mem.addData(Ev(ts("2024-01-01 02:30:00"), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 05:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val finalized = spark.table("append_test")
        .select($"window_start".cast("string"), $"event_type")
        .as[(String, String)].collect().toSet
      assert(finalized.contains(("2024-01-01 00:00:00", "click")))
    } finally q.stop()
  }

  test("outer stream-stream join emits the null row only after watermark eviction") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = EventStreams.clickPurchaseJoinOuter(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssjoin_outer_test")
      .outputMode("append").start()
    try {
      purchases.addData(Ev(ts("2024-01-01 00:30:00"), 1, "purchase", 10.0))
      clicks.addData(
        Ev(ts("2024-01-01 01:00:00"), 1, "click", 1.0),  // matches
        Ev(ts("2024-01-01 01:00:00"), 2, "click", 2.0))  // never matches
      q.processAllAvailable()
      val matched = spark.table("ssjoin_outer_test")
        .select($"user_id", $"purchase_value").as[(Long, Option[Double])]
        .collect().toSet
      // the unmatched click must NOT have emitted yet: a purchase inside
      // its window could still arrive while the watermark allows it
      assert(matched == Set((1L, Some(10.0))))
      // advance the watermark far past the click windows on BOTH inputs;
      // eviction is what finally proves "no match" and legalizes the null
      purchases.addData(Ev(ts("2024-01-01 06:00:00"), 9, "purchase", 0.0))
      clicks.addData(Ev(ts("2024-01-01 06:00:00"), 9, "click", 0.0))
      q.processAllAvailable()
      // one more micro-batch so the post-eviction outer rows land
      purchases.addData(Ev(ts("2024-01-01 06:30:00"), 9, "purchase", 0.0))
      clicks.addData(Ev(ts("2024-01-01 06:30:00"), 9, "click", 0.0))
      q.processAllAvailable()
      val all = spark.table("ssjoin_outer_test")
        .select($"user_id", $"purchase_value").as[(Long, Option[Double])]
        .collect().toSet
      assert(all.contains((2L, None)),
        s"expected the evicted unmatched click to emit with nulls; got $all")
    } finally q.stop()
  }
}
