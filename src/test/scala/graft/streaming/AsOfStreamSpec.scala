package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import graft.ops.AsOfJoin
import graft.streaming.AsOfStream.{AsOfEvent, AsOfMatch, Buffers}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Certifies the streaming as-of triple ([[AsOfStream]]): the `resolve`
  * fold's tie rules, row-for-row parity of each `*WithinTws` operator
  * with the batch [[AsOfJoin]] `*Within` twin at the same horizon on a
  * seeded random frame, buffered state across a restart, and the
  * append-only late-data contract (a late right never reopens a
  * resolved left; a late left emits nothing).
  */
class AsOfStreamSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val Base = 1704067200L // 2024-01-01 00:00:00 UTC, seconds
  private val HorizonUs = 600L * 1000000L // 10 minutes

  private def ev(uid: Long, sec: Long, isLeft: Boolean, id: Long,
                 value: Double = 0.0): AsOfEvent =
    AsOfEvent(uid, isLeft, new Timestamp((Base + sec) * 1000),
      (Base + sec) * 1000000L, id, value)

  test("resolve: tie rules, per-direction gate, and right-buffer eviction") {
    // rights: 100s (ids 1,2 — equal ts), 700s (id 3); left at 700s and 650s
    val st = Buffers(
      l_ts = Seq(us(700), us(650), us(5000)),
      l_id = Seq(10L, 11L, 12L),
      r_ts = Seq(us(100), us(100), us(700)),
      r_id = Seq(1L, 2L, 3L),
      r_val = Seq(1.0, 2.0, 3.0))
    // watermark past 700+600 but not 5000+600
    val (out, kept) = AsOfStream.resolve(9L, HorizonUs, AsOfStream.Nearest,
      wmUs = us(1400), st)
    val byId = out.map(m => m.event_id -> m).toMap
    // left@700: backward candidates 100(out of tolerance: 600s exactly?
    // 700-100=600 ≤ 600 → in) ids 1,2 → max id 2; equal-ts right id 3 at
    // dist 0 → backward leg takes LATEST ≤ t = id 3, dist 0 wins
    assert(byId(10L).asof_event_id.contains(3L))
    assert(byId(10L).asof_side.contains("backward"))
    // left@650: backward 100 (dist 550, max id 2), forward 700 (dist 50)
    // → forward closer
    assert(byId(11L).asof_event_id.contains(3L))
    assert(byId(11L).asof_side.contains("forward"))
    // left@5000 still pending; rights ≥ wm − 2h = 1400−1200 = 200s kept
    assert(kept.l_id == Seq(12L))
    assert(kept.r_id == Seq(3L))
  }

  private def us(sec: Long): Long = (Base + sec) * 1000000L

  test("resolve: backward max-id and forward min-id on equal timestamps") {
    val st = Buffers(
      l_ts = Seq(us(200), us(300)), l_id = Seq(10L, 11L),
      r_ts = Seq(us(200), us(200), us(400), us(400)),
      r_id = Seq(1L, 2L, 5L, 6L), r_val = Seq(1.0, 2.0, 5.0, 6.0))
    val (out, _) = AsOfStream.resolve(9L, HorizonUs, AsOfStream.Nearest,
      wmUs = us(1000), st)
    val byId = out.map(m => m.event_id -> m).toMap
    // equal-ts tie at distance 0 → backward leg, LARGEST id
    assert(byId(10L).asof_event_id.contains(2L))
    assert(byId(10L).asof_side.contains("backward"))
    // 100s both ways → tie chooses backward (latest ≤ 300 is ts 200, id 2)
    assert(byId(11L).asof_event_id.contains(2L))
    assert(byId(11L).asof_side.contains("backward"))
    // forward-only mode: earliest ≥ 300 is ts 400, SMALLEST id 5
    val (fo, _) = AsOfStream.resolve(9L, HorizonUs, AsOfStream.Forward,
      wmUs = us(1000), st)
    val f = fo.map(m => m.event_id -> m).toMap
    assert(f(11L).asof_event_id.contains(5L))
    assert(f(11L).asof_side.isEmpty)
    // backward-only mode: latest ≤ 300 is ts 200, LARGEST id 2; resolves
    // as soon as the watermark passes t itself (not t + horizon)
    val (bo, _) = AsOfStream.resolve(9L, HorizonUs, AsOfStream.Backward,
      wmUs = us(250), st)
    val bm = bo.map(m => m.event_id -> m).toMap
    assert(bm.keySet == Set(10L), "backward due condition is wm > t")
    assert(bm(10L).asof_event_id.contains(2L))
    assert(bm(10L).asof_side.isEmpty)
  }

  /** Seeded random frame: ~25 users, clicks and purchases over 2 hours,
    * including equal-timestamp collisions (second granularity forces
    * plenty).
    */
  private def randomEvents(): Seq[AsOfEvent] = {
    val rnd = new scala.util.Random(42)
    (1L to 400L).map { id =>
      val uid = 1L + rnd.nextInt(25)
      val sec = rnd.nextInt(7200).toLong
      val isLeft = rnd.nextBoolean()
      ev(uid, sec, isLeft, id, value = rnd.nextInt(100).toDouble)
    }.sortBy(_.ts_micros) // arrival in event-time order, like a live feed
  }

  private def batchFrames(events: Seq[AsOfEvent]) = {
    val clicks = events.filter(_.is_left)
      .map(e => (e.event_id, e.user_id, e.ts))
      .toDF("event_id", "user_id", "ts")
    val purchases = events.filterNot(_.is_left)
      .map(e => (e.user_id, e.ts, e.event_id, e.value))
      .toDF("user_id", "ts", "event_id", "value")
    (clicks, purchases)
  }

  private def runStream(events: Seq[AsOfEvent], mode: AsOfStream.Mode,
                        name: String): Map[Long, AsOfMatch] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AsOfEvent]
    val ds = mode match {
      case AsOfStream.Nearest =>
        AsOfStream.nearestWithinTws(mem.toDS(), HorizonUs, "5 seconds")
      case AsOfStream.Forward =>
        AsOfStream.forwardWithinTws(mem.toDS(), HorizonUs, "5 seconds")
      case AsOfStream.Backward =>
        AsOfStream.backwardWithinTws(mem.toDS(), HorizonUs, "5 seconds")
    }
    val q = ds.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      events.grouped(60).foreach { chunk =>
        mem.addData(chunk: _*); q.processAllAvailable()
      }
      // flush: push the watermark past every left's horizon
      mem.addData(ev(999L, 7200 + 700, isLeft = false, 99999L))
      q.processAllAvailable()
      mem.addData(ev(999L, 7200 + 720, isLeft = false, 99998L))
      q.processAllAvailable()
      spark.table(name).as[AsOfMatch].collect()
        .filterNot(_.user_id == 999L)
        .map(m => m.event_id -> m).toMap
    } finally q.stop()
  }

  test("MemoryStream parity with batch forwardWithin on a random frame") {
    val events = randomEvents()
    val (clicks, purchases) = batchFrames(events)
    val expect = AsOfJoin.forwardWithin(clicks, purchases, "user_id",
        "ts", "ts", Seq("event_id", "value"), "event_id",
        toleranceMicros = HorizonUs)
      .select("event_id", "asof_event_id", "asof_value")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val got = runStream(events, AsOfStream.Forward, "asof_fwd_stream")
    assert(got.keySet == expect.keySet,
      s"left-row sets differ: ${got.keySet.size} vs ${expect.keySet.size}")
    expect.foreach { case (id, (mid, mval)) =>
      assert(got(id).asof_event_id == mid && got(id).asof_value == mval,
        s"forward mismatch at left $id: got ${got(id)}, want ($mid, $mval)")
    }
  }

  test("MemoryStream parity with batch backwardWithin on a random frame") {
    val events = randomEvents()
    val (clicks, purchases) = batchFrames(events)
    val expect = AsOfJoin.backwardWithin(clicks, purchases, "user_id",
        "ts", "ts", Seq("event_id", "value"), "event_id",
        toleranceMicros = HorizonUs)
      .select("event_id", "asof_event_id", "asof_value")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val got = runStream(events, AsOfStream.Backward, "asof_bwd_stream")
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, (mid, mval)) =>
      assert(got(id).asof_event_id == mid && got(id).asof_value == mval,
        s"backward mismatch at left $id: got ${got(id)}, want ($mid, $mval)")
    }
  }

  test("MemoryStream parity with batch nearestWithin on a random frame") {
    val events = randomEvents()
    val (clicks, purchases) = batchFrames(events)
    val expect = AsOfJoin.nearestWithin(clicks, purchases, "user_id",
        "ts", "ts", Seq("event_id", "value"), "event_id",
        toleranceMicros = HorizonUs)
      .select("event_id", "asof_event_id", "asof_value", "asof_side")
      .as[(Long, Option[Long], Option[Double], Option[String])].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val got = runStream(events, AsOfStream.Nearest, "asof_near_stream")
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, (mid, mval, side)) =>
      val g = got(id)
      assert(g.asof_event_id == mid && g.asof_value == mval &&
        g.asof_side == side,
        s"nearest mismatch at left $id: got $g, want ($mid, $mval, $side)")
    }
  }

  test("buffered as-of state survives a stop/restart cycle through the " +
    "checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_asof_ckpt").toString
    val results = java.util.Collections.synchronizedList(
      new java.util.ArrayList[AsOfMatch]())
    val mem = MemoryStream[AsOfEvent]
    def start() = AsOfStream
      .nearestWithinTws(mem.toDS(), HorizonUs, "5 seconds")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[AsOfMatch],
                       _: Long) => b.collect().foreach(results.add) }
      .start()
    val q1 = start()
    try {
      // a pending left with BOTH directional candidates buffered; the
      // watermark has not passed t + horizon, so nothing may emit yet
      mem.addData(ev(1L, 1000, isLeft = true, 10L),
        ev(1L, 800, isLeft = false, 20L, value = 5.0),
        ev(1L, 1100, isLeft = false, 21L, value = 7.0))
      q1.processAllAvailable()
      assert(results.isEmpty, "emitted before the horizon closed")
    } finally q1.stop()
    // restart from the same checkpoint: the buffers must rehydrate, and
    // advancing the watermark must resolve the left from RESTORED state
    // (nearest: forward 1100 at distance 100 beats backward 800 at 200)
    val q2 = start()
    try {
      mem.addData(ev(9L, 3000, isLeft = false, 90L))
      q2.processAllAvailable()
      mem.addData(ev(9L, 3010, isLeft = false, 91L))
      q2.processAllAvailable()
      val got = results.toArray(Array.empty[AsOfMatch])
        .filter(_.user_id == 1L).toSeq
      assert(got.map(m =>
        (m.event_id, m.asof_event_id, m.asof_side)) ==
        Seq((10L, Some(21L), Some("forward"))),
        s"state did not survive the restart: $got")
    } finally q2.stop()
  }

  test("late rows are dropped by the engine: a late right never reopens " +
    "a resolved left, a late left emits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AsOfEvent]
    val q = AsOfStream.nearestWithinTws(mem.toDS(), HorizonUs, "5 seconds")
      .writeStream.format("memory").queryName("asof_late_stream")
      .outputMode("append").start()
    try {
      // user 1: left at 1000s, forward right at 1100s
      mem.addData(ev(1L, 1000, isLeft = true, 10L),
        ev(1L, 1100, isLeft = false, 20L, value = 7.0))
      q.processAllAvailable()
      // advance watermark past 1000+600 → left resolves to the 1100 right
      mem.addData(ev(9L, 1700, isLeft = false, 90L))
      q.processAllAvailable()
      mem.addData(ev(9L, 1710, isLeft = false, 91L))
      q.processAllAvailable()
      def rows() = spark.table("asof_late_stream").as[AsOfMatch]
        .collect().filter(_.user_id == 1L).toSeq
      val first = rows()
      assert(first.map(m => (m.event_id, m.asof_event_id, m.asof_side)) ==
        Seq((10L, Some(20L), Some("forward"))))
      // a LATE right at 1050s would have been closer — but the engine's
      // late-data filter drops it before the state function, so the
      // resolved left stays resolved: no second row, no mutation
      mem.addData(ev(1L, 1050, isLeft = false, 21L, value = 9.0))
      q.processAllAvailable()
      assert(rows() == first, "late right reopened a resolved left")
      // a LATE left (horizon already closed: 900+600 < wm) is dropped the
      // same way — it emits NOTHING, never a wrong or partial match
      mem.addData(ev(1L, 900, isLeft = true, 11L))
      q.processAllAvailable()
      assert(rows() == first,
        s"late left produced output: ${rows().filter(_.event_id == 11L)}")
    } finally q.stop()
  }
}
