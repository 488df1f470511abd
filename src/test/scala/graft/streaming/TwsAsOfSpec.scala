package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import graft.ops.AsOfJoin
import graft.streaming.AsOfStream.{AsOfEvent, AsOfMatch}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Certifies the transformWithState as-of engine
  * ([[AsOfStream.nearestWithinTws]] family): row parity with the batch
  * `AsOfJoin.*Within` operators on AsOfStreamSpec's seeded random frame
  * in all three modes, fed as ONE micro-batch (every left buffers until
  * the flush moves the watermark, then resolves through the timer path;
  * AsOfStreamSpec feeds the same frame in 60-row batches and covers the
  * late-data contract and the stop/restart cycle).
  */
class TwsAsOfSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val Base = 1704067200L
  private val HorizonUs = 600L * 1000000L

  private def ev(uid: Long, sec: Long, isLeft: Boolean, id: Long,
                 value: Double = 0.0): AsOfEvent =
    AsOfEvent(uid, isLeft, new Timestamp((Base + sec) * 1000),
      (Base + sec) * 1000000L, id, value)

  private def randomEvents(): Seq[AsOfEvent] = {
    val rnd = new scala.util.Random(42)
    (1L to 400L).map { id =>
      val uid = 1L + rnd.nextInt(25)
      val sec = rnd.nextInt(7200).toLong
      val isLeft = rnd.nextBoolean()
      ev(uid, sec, isLeft, id, value = rnd.nextInt(100).toDouble)
    }.sortBy(_.ts_micros)
  }

  private def runEngine(events: Seq[AsOfEvent], mode: AsOfStream.Mode,
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
      mem.addData(events: _*)
      q.processAllAvailable()
      mem.addData(ev(999L, 7200 + 700, isLeft = false, 99999L))
      q.processAllAvailable()
      mem.addData(ev(999L, 7200 + 720, isLeft = false, 99998L))
      q.processAllAvailable()
      spark.table(name).as[AsOfMatch].collect()
        .filterNot(_.user_id == 999L)
        .map(m => m.event_id -> m).toMap
    } finally q.stop()
  }

  /** The batch operator's answer per left row: (match id, match value,
    * side — reported by `nearest` only).
    */
  private def batchAnswer(events: Seq[AsOfEvent], mode: AsOfStream.Mode)
  : Map[Long, (Option[Long], Option[Double], Option[String])] = {
    val clicks = events.filter(_.is_left)
      .map(e => (e.event_id, e.user_id, e.ts))
      .toDF("event_id", "user_id", "ts")
    val purchases = events.filterNot(_.is_left)
      .map(e => (e.user_id, e.ts, e.event_id, e.value))
      .toDF("user_id", "ts", "event_id", "value")
    val payload = Seq("event_id", "value")
    val joined = mode match {
      case AsOfStream.Backward => AsOfJoin.backwardWithin(clicks, purchases,
        "user_id", "ts", "ts", payload, "event_id", HorizonUs)
        .withColumn("asof_side", lit(null).cast("string"))
      case AsOfStream.Forward => AsOfJoin.forwardWithin(clicks, purchases,
        "user_id", "ts", "ts", payload, "event_id", HorizonUs)
        .withColumn("asof_side", lit(null).cast("string"))
      case AsOfStream.Nearest => AsOfJoin.nearestWithin(clicks, purchases,
        "user_id", "ts", "ts", payload, "event_id", HorizonUs)
    }
    joined.select("event_id", "asof_event_id", "asof_value", "asof_side")
      .as[(Long, Option[Long], Option[Double], Option[String])].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
  }

  test("tws engine matches the batch operators in all three modes on " +
    "one micro-batch") {
    val events = randomEvents()
    for (mode <- Seq(AsOfStream.Backward, AsOfStream.Forward,
        AsOfStream.Nearest)) {
      val tag = mode.toString.toLowerCase
      val want = batchAnswer(events, mode)
      val got = runEngine(events, mode, s"tws_asof_$tag")
      assert(got.keySet == want.keySet,
        s"$mode: left-row sets differ (${got.keySet.size} vs ${want.keySet.size})")
      want.foreach { case (id, w) =>
        val g = got(id)
        assert((g.asof_event_id, g.asof_value, g.asof_side) == w,
          s"$mode mismatch at left $id: $g vs $w")
      }
      // fixture-exercise: matched and unmatched lefts both occur
      assert(want.values.exists(_._1.isDefined) &&
        want.values.exists(_._1.isEmpty), s"$mode one-sided")
    }
  }
}
