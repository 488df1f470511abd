package graft.streaming

import graft.TestSpark
import graft.streaming.TwsStatefulOps.{FunnelProgress, GroupHeavyHitters,
  UserEvent, UserProfile}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StatefulOpsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("fold accumulates counts, purchase tally, and last-seen") {
    val out = TwsStatefulOps.fold(7L, Iterator(
      UserEvent(7L, "click", 1.0, 100L),
      UserEvent(7L, "purchase", 9.5, 300L),
      UserEvent(7L, "view", 0.5, 200L)), None)
    assert(out == UserProfile(7L, 3L, 1L, 11.0, 300L))
    // resumes from prior state
    val out2 = TwsStatefulOps.fold(7L,
      Iterator(UserEvent(7L, "purchase", 1.0, 500L)), Some(out))
    assert(out2 == UserProfile(7L, 4L, 2L, 12.0, 500L))
  }

  test("transformWithState maintains per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = TwsStatefulOps.userProfilesTws(mem.toDS())
      .writeStream.format("memory").queryName("profiles_test")
      .outputMode("update").start()
    try {
      mem.addData(
        UserEvent(1L, "click", 1.0, 100L),
        UserEvent(1L, "purchase", 5.0, 200L),
        UserEvent(2L, "view", 2.0, 150L))
      q.processAllAvailable()
      // second micro-batch builds on carried state for user 1
      mem.addData(UserEvent(1L, "purchase", 4.0, 400L))
      q.processAllAvailable()

      val latest = spark.table("profiles_test")
        .as[UserProfile].collect()
        .groupBy(_.user_id).map { case (u, ps) => u -> ps.maxBy(_.n_events) }
      assert(latest(1L) == UserProfile(1L, 3L, 2L, 10.0, 400L))
      assert(latest(2L) == UserProfile(2L, 1L, 0L, 2.0, 150L))
    } finally q.stop()
  }

  test("streaming heavy hitters: MG guarantee holds over the whole stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = TwsStatefulOps.heavyHittersStreamTws(mem.toDS(), k = 3)
      .writeStream.format("memory").queryName("hh_stream_test")
      .outputMode("update").start()
    // group g: 60×a + 30×b + 12 singletons over two micro-batches; n=102
    val batch1 = Seq.fill(40)("a") ++ Seq.fill(10)("b") ++
      (1 to 6).map(i => s"r$i")
    val batch2 = Seq.fill(20)("a") ++ Seq.fill(20)("b") ++
      (7 to 12).map(i => s"r$i")
    try {
      mem.addData(batch1.map(("g", _)): _*); q.processAllAvailable()
      mem.addData(batch2.map(("g", _)): _*); q.processAllAvailable()
      val finals = spark.table("hh_stream_test")
        .as[GroupHeavyHitters].collect()
        .maxBy(_.ests.sum) // the last (most-absorbed) snapshot
      val est = finals.items.zip(finals.ests).toMap
      val n = batch1.size + batch2.size
      val slack = n.toDouble / 4 // k+1 = 4
      assert(est.size <= 3)
      // a (60) and b (30) exceed n/4=25.5 → must be present, under-counted
      // by at most the slack
      assert(est.contains("a") && est("a") <= 60 && est("a") >= 60 - slack)
      assert(est.contains("b") && est("b") <= 30 && est("b") >= 30 - slack)
    } finally q.stop()
  }

  private val Steps = Seq("view", "click", "purchase")

  test("streaming funnel state matches the batch funnel operator") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = TwsStatefulOps.funnelProgressTws(mem.toDS(), Steps)
      .writeStream.format("memory").queryName("funnel_test")
      .outputMode("update").start()
    // user 1 converts across two micro-batches; user 2 clicks before
    // viewing (depth stalls at 1); user 3 views only; users 4 and 5 share
    // ONE timestamp across steps — row order (ts, event_id) must decide:
    // 4 has view(id 1) < click(id 2) → depth 2, 5 has click(id 1) <
    // view(id 2) → the click precedes the view, depth 1
    val batch1 = Seq(
      UserEvent(1L, "view", 0, 1000000L, 1L),
      UserEvent(1L, "click", 0, 2000000L, 2L),
      UserEvent(2L, "click", 0, 1000000L, 1L),
      UserEvent(2L, "view", 0, 2000000L, 2L),
      UserEvent(3L, "view", 0, 1000000L, 1L),
      UserEvent(4L, "view", 0, 1000000L, 1L),
      UserEvent(4L, "click", 0, 1000000L, 2L),
      UserEvent(5L, "click", 0, 1000000L, 1L),
      UserEvent(5L, "view", 0, 1000000L, 2L))
    val batch2 = Seq(
      UserEvent(1L, "purchase", 0, 3000000L, 3L),
      UserEvent(2L, "purchase", 0, 3000000L, 3L),
      // tied with user 4's click ts but LATER id in a later batch: the
      // carried (ts, id) state must still qualify the purchase
      UserEvent(4L, "purchase", 0, 1000000L, 3L))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("funnel_test").as[FunnelProgress]
        .collect().groupBy(_.user_id)
        .map { case (u, ps) => u -> ps.maxBy(_.depth).depth }
      // batch twin over the full log, same (ts, event_id) tie-break
      import org.apache.spark.sql.functions._
      val batchDf = (batch1 ++ batch2)
        .map(e => (e.user_id, new java.sql.Timestamp(e.ts_micros / 1000),
          e.event_id, e.event_type))
        .toDF("user_id", "ts", "event_id", "event_type")
      val batched = graft.ops.Behavior.funnel(batchDf, col("user_id"),
          col("ts"), col("event_id"), col("event_type"), Steps)
        .select("user_id", "depth").as[(Long, Int)].collect().toMap
      assert(streamed == batched)
      assert(streamed ==
        Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 3, 5L -> 1))
    } finally q.stop()
  }
}
