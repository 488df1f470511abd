package graft.ops

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BehaviorSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(us: Long) = new Timestamp(us / 1000) // whole-ms micros only

  // (event_id, user_id, ts, event_type)
  private def events(rows: (Long, Long, Long, String)*) =
    rows.toSeq
      .map { case (e, u, t, y) => (e, u, ts(t * 1000000), y) }
      .toDF("event_id", "user_id", "ts", "event_type")

  private val Steps = Seq("view", "click", "purchase")

  test("funnel: ordered steps qualify only after the previous step") {
    val df = events(
      // user 1: view@1 click@2 purchase@3 → depth 3
      (1L, 1L, 1L, "view"), (2L, 1L, 2L, "click"), (3L, 1L, 3L, "purchase"),
      // user 2: click@1 view@2 purchase@3 → click precedes view → depth 1,
      // but the purchase has no qualified click before it either
      (4L, 2L, 1L, "click"), (5L, 2L, 2L, "view"), (6L, 2L, 3L, "purchase"),
      // user 3: view only → depth 1
      (7L, 3L, 1L, "view"),
      // user 4: purchase then view then click → depth 2
      (8L, 4L, 1L, "purchase"), (9L, 4L, 2L, "view"), (10L, 4L, 3L, "click"))
    val out = Behavior.funnel(df, col("user_id"), col("ts"), col("event_id"),
        col("event_type"), Steps)
      .select("user_id", "depth").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("scd2: consecutive same-state events collapse into versions") {
    val df = events(
      // user 1: A A B A → A[1,3) B[3,4) A[4,∞)
      (1L, 1L, 1L, "A"), (2L, 1L, 2L, "A"), (3L, 1L, 3L, "B"),
      (4L, 1L, 4L, "A"),
      // user 2: single event → one open version
      (5L, 2L, 7L, "B"))
    val out = Behavior.scd2(df, col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .select("k", "version", "state", "valid_from_us", "valid_to_us",
        "is_current")
      .as[(Long, Long, String, Long, Option[Long], Boolean)]
      .collect().toSet
    assert(out == Set(
      (1L, 1L, "A", 1000000L, Some(3000000L), false),
      (1L, 2L, "B", 3000000L, Some(4000000L), false),
      (1L, 3L, "A", 4000000L, None, true),
      (2L, 1L, "B", 7000000L, None, true)))
  }

  test("markov: transition counts and row-normalized probabilities") {
    val df = events(
      // user 1: A→B, B→A, A→A ; user 2: A→B
      (1L, 1L, 1L, "A"), (2L, 1L, 2L, "B"), (3L, 1L, 3L, "A"),
      (4L, 1L, 4L, "A"),
      (5L, 2L, 1L, "A"), (6L, 2L, 2L, "B"))
    val out = Behavior.markovTransitions(df, col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      .select("from_state", "to_state", "n", "p")
      .as[(String, String, Long, Double)].collect().toSet
    // from A: A→B twice, A→A once (p 2/3, 1/3); from B: B→A once (p 1)
    assert(out == Set(
      ("A", "B", 2L, 0.666667), ("A", "A", 1L, 0.333333),
      ("B", "A", 1L, 1.0)))
  }

  test("funnel: simultaneous events resolve by tiebreak order") {
    // same ts: event_id order makes view precede click precede purchase
    val df = events(
      (1L, 1L, 5L, "view"), (2L, 1L, 5L, "click"), (3L, 1L, 5L, "purchase"))
    val out = Behavior.funnel(df, col("user_id"), col("ts"), col("event_id"),
        col("event_type"), Steps)
      .select("user_id", "depth").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 3))
  }

  test("lastTouchAttribution: purchase attributed to latest prior touch") {
    val df = events(
      (1L, 1L, 1L, "view"), (2L, 1L, 2L, "click"),
      (3L, 1L, 3L, "purchase"),                 // attr → click@2
      (4L, 1L, 4L, "signup"),
      (5L, 1L, 5L, "purchase"),                 // attr → signup@4
      (6L, 2L, 1L, "purchase"))                 // nothing before → null
    val out = Behavior.lastTouchAttribution(df, col("user_id"), col("ts"),
        col("event_id"), col("event_type"),
        conversionType = "purchase",
        touchTypes = Seq("click", "error", "signup", "view"))
      .select("event_id", "attr_type", "attr_us")
      .as[(Long, Option[String], Option[Long])].collect()
      .map { case (k, t, u) => k -> ((t, u)) }.toMap
    assert(out(3L) == ((Some("click"), Some(2000000L))))
    assert(out(5L) == ((Some("signup"), Some(4000000L))))
    assert(out(6L) == ((None, None)))
  }

  test("cohortRetention: offsets count distinct users per week") {
    // user 1 first event 2024-01-01 (Mon), active again +2 weeks
    // user 2 first event 2024-01-08, active same week twice
    def at(s: String) = Timestamp.from(java.time.Instant.parse(s))
    val df = Seq(
      (1L, 1L, at("2024-01-01T10:00:00Z")),
      (2L, 1L, at("2024-01-15T10:00:00Z")),
      (3L, 2L, at("2024-01-08T10:00:00Z")),
      (4L, 2L, at("2024-01-09T10:00:00Z")))
      .toDF("event_id", "user_id", "ts")
    val out = Behavior.cohortRetention(df, col("user_id"), col("ts"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cw"),
        col("week_offset"), col("n_users"))
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(("2024-01-01", 0L, 1L), ("2024-01-01", 2L, 1L),
      ("2024-01-08", 0L, 1L)))
  }

  test("zScoreOutliers keeps only far-from-mean rows per group") {
    val df = ((1 to 99).map(i => (i.toLong, "a", 10.0 + (i % 3))) :+
        (100L, "a", 500.0))
      .toDF("event_id", "event_type", "value")
    val out = Behavior.zScoreOutliers(df, col("event_type"), col("value"), 2.5)
      .select("event_id").as[Long].collect().toSeq
    assert(out == Seq(100L))
  }
}
