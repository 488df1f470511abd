package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import graft.ops.Sessionize
import graft.streaming.TwsStatefulOps.{ClosedSession, GroupQuantiles,
  OpenSession, SessionEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SessionStreamSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val Gap = 10L * 1000000 // 10s in micros

  private def ev(uid: Long, sec: Long, value: Double = 1.0,
                 id: Long = 0L): SessionEvent =
    SessionEvent(uid, new Timestamp(sec * 1000), sec * 1000000, value, id)

  test("foldSessions: gap split, extension, and late-singleton routing") {
    // 3 events inside the gap, then a jump past it
    val (closed, open) = TwsStatefulOps.foldSessions(1L, Gap,
      Iterator(ev(1L, 100), ev(1L, 105), ev(1L, 109), ev(1L, 200)), None)
    assert(closed == Seq(ClosedSession(1L, 100000000L, 109000000L, 3L, 3.0)))
    assert(open.contains(OpenSession(1L, 200000000L, 200000000L, 1L, 1.0)))
    // an event far BEFORE the open session becomes its own closed singleton
    val (closed2, open2) = TwsStatefulOps.foldSessions(1L, Gap,
      Iterator(ev(1L, 50)), open)
    assert(closed2 == Seq(ClosedSession(1L, 50000000L, 50000000L, 1L, 1.0)))
    assert(open2 == open)
    // within-batch sort is (ts, event_id): out-of-order input, same result
    val (closed3, _) = TwsStatefulOps.foldSessions(2L, Gap,
      Iterator(ev(2L, 200), ev(2L, 105), ev(2L, 100)), None)
    assert(closed3 == Seq(ClosedSession(2L, 100000000L, 105000000L, 2L, 2.0)))
    // late events within one gap of EACH OTHER coalesce into one late
    // sub-session instead of fragmenting into per-event singletons
    val (closed4, open4) = TwsStatefulOps.foldSessions(3L, Gap,
      Iterator(ev(3L, 50), ev(3L, 55), ev(3L, 90)),
      Some(OpenSession(3L, 200000000L, 210000000L, 2L, 2.0)))
    assert(closed4 == Seq(
      ClosedSession(3L, 50000000L, 55000000L, 2L, 2.0),
      ClosedSession(3L, 90000000L, 90000000L, 1L, 1.0)))
    assert(open4.contains(OpenSession(3L, 200000000L, 210000000L, 2L, 2.0)))
  }

  test("streaming sessions close by gap jump AND by watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = TwsStatefulOps.sessionizeStreamTws(mem.toDS(), Gap, "5 seconds")
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // user 1: one session (100-109), then a jump to 200 opens another
      mem.addData(ev(1L, 100), ev(1L, 105), ev(1L, 109))
      q.processAllAvailable()
      mem.addData(ev(1L, 200)) // closes 100-109 within the batch
      q.processAllAvailable()
      val afterJump = spark.table("sess_stream").as[ClosedSession].collect()
      assert(afterJump.toSeq ==
        Seq(ClosedSession(1L, 100000000L, 109000000L, 3L, 3.0)))
      // advance the watermark far past 200+gap with another user's event
      // (batch 4); the timer fires in the no-data batch that follows the
      // watermark move (batch 5), inside the same processAllAvailable
      mem.addData(ev(9L, 500))
      q.processAllAvailable()
      val all = spark.table("sess_stream").as[ClosedSession].collect()
      assert(all.contains(ClosedSession(1L, 200000000L, 200000000L, 1L, 1.0)),
        s"the event-time timer did not close the idle session: ${all.toSeq}")
      val closing = q.lastProgress
      assert((closing.batchId, closing.numInputRows,
        closing.sink.numOutputRows) == ((5L, 0L, 1L)),
        s"the session closed in an unexpected batch: ${closing.json}")
    } finally q.stop()
  }

  test("streaming KLL quantiles: same ladder as the batch aggregate, " +
    "rank envelope holds over the whole stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val q = TwsStatefulOps.kllQuantilesStreamTws(mem.toDS(), k = 200,
        qs = Seq(0.25, 0.5, 0.9))
      .writeStream.format("memory").queryName("kll_stream")
      .outputMode("update").start()
    val data = Array.tabulate(8000)(i => ((i * 6007) % 8000).toDouble)
    try {
      data.grouped(2000).foreach { b =>
        mem.addData(b.map(("g", _)).toSeq: _*); q.processAllAvailable()
      }
      val last = spark.table("kll_stream")
        .as[GroupQuantiles].collect().maxBy(_.n)
      assert(last.n == 8000)
      Seq(0.25, 0.5, 0.9).zip(last.est).foreach { case (qq, e) =>
        val lt = data.count(_ < e); val le = data.count(_ <= e)
        val target = qq * data.length
        val err = if (target < lt) (lt - target) / data.length
                  else if (target > le) (target - le) / data.length else 0.0
        assert(err <= 0.02, s"q=$qq err=$err")
      }
    } finally q.stop()
  }

  test("streaming closed sessions match the batch operator on ordered data") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev(1L, 100, 2.0, 1), ev(1L, 104, 1.0, 2), ev(2L, 100, 5.0, 3),
      ev(1L, 120, 3.0, 4), ev(2L, 130, 1.5, 5), ev(1L, 131, 0.5, 6),
      ev(1L, 160, 1.0, 7), ev(2L, 160, 2.0, 8))
    val mem = MemoryStream[SessionEvent]
    val q = TwsStatefulOps.sessionizeStreamTws(mem.toDS(), Gap, "0 seconds")
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").start()
    try {
      events.grouped(3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // drain: push the watermark past every end+gap; the timers fire in
      // the no-data batch that follows
      mem.addData(ev(99L, 1000)); q.processAllAvailable()
      val streamed = spark.table("sess_parity").as[ClosedSession].collect()
        .filter(_.user_id < 90).sortBy(s => (s.user_id, s.session_start_us))
      val batch = Sessionize.sessions(
          events.toDF(), col("user_id"), col("ts"), col("event_id"),
          Gap, Seq(sum("value").as("sum_value")))
        .select(col("key"),
          unix_micros(col("session_start")).as("s"),
          unix_micros(col("session_end")).as("e"),
          col("n_events"), col("sum_value"))
        .collect()
        .map(r => ClosedSession(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
        .sortBy(s => (s.user_id, s.session_start_us))
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }
}
