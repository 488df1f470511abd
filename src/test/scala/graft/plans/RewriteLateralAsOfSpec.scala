package graft.plans

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[RewriteLateralAsOf]] certification: the LATERAL-LIMIT-1 as-of idiom
  * rewrites to the AsOfJoin union-window plan with row-identical results
  * in both directions — including the null-key and null-time edges where
  * SQL equality and the window grouping disagree — while every
  * near-miss (no tiebreak, mixed sort directions, extra predicates,
  * double time column) keeps Spark's own plan.
  */
class RewriteLateralAsOfSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  /** Clicks/purchases with planted null keys, null times, timestamp
    * ties, and a keyless purchase — written to parquet (unbounded-input
    * fixture, same rationale as the rank spec).
    */
  private lazy val view: Unit = {
    def ts(s: String): java.sql.Timestamp =
      if (s == null) null else java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (1L, java.lang.Long.valueOf(1L), ts("2024-01-01 10:00:00"), "click", 0.0),
      (2L, java.lang.Long.valueOf(1L), ts("2024-01-01 12:00:00"), "click", 0.0),
      (3L, java.lang.Long.valueOf(1L), ts("2024-01-01 09:00:00"), "purchase", 5.0),
      (4L, java.lang.Long.valueOf(1L), ts("2024-01-01 09:00:00"), "purchase", 6.0), // tie: max id wins bwd
      (5L, java.lang.Long.valueOf(1L), ts("2024-01-01 12:00:00"), "purchase", 7.0), // equal ts: inclusive
      (6L, null.asInstanceOf[java.lang.Long], ts("2024-01-01 10:00:00"), "click", 0.0), // null-key click
      (7L, null.asInstanceOf[java.lang.Long], ts("2024-01-01 09:30:00"), "purchase", 9.0), // null-key purchase
      (8L, java.lang.Long.valueOf(2L), null.asInstanceOf[java.sql.Timestamp], "click", 0.0), // null-ts click
      (9L, java.lang.Long.valueOf(2L), ts("2024-01-01 08:00:00"), "purchase", 3.0),
      (10L, java.lang.Long.valueOf(2L), null.asInstanceOf[java.sql.Timestamp], "purchase", 4.0) // null-ts purchase
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val path = graft.SparkSessions.scratchDir() + "/lat_asof"
    rows.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("lat_asof")
  }

  private val bwdSql =
    """SELECT c.event_id, c.user_id, c.ts,
      |  p.event_id AS pid, p.ts AS pts, p.value AS pval
      |FROM lat_asof c
      |LEFT JOIN LATERAL (
      |  SELECT e.event_id, e.ts, e.value FROM lat_asof e
      |  WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
      |    AND e.ts <= c.ts
      |  ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) p ON true
      |WHERE c.event_type = 'click'
      |ORDER BY c.event_id""".stripMargin

  private def withRule[T](enabled: Boolean)(f: => T): T = {
    val key = RewriteLateralAsOf.ConfKey
    val old = spark.conf.getOption(key)
    spark.conf.set(key, enabled.toString)
    try f
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def rewritten(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("__graft_asof")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("backward lateral idiom rewrites with identical rows, edges included") {
    view
    val naive = withRule(false) {
      val df = spark.sql(bwdSql)
      assert(!rewritten(df))
      rows(df)
    }
    withRule(true) {
      val df = spark.sql(bwdSql)
      assert(rewritten(df), "backward lateral idiom was not rewritten")
      assert(!df.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoop"),
        "rewritten plan still contains the quadratic domain join")
      val got = rows(df)
      assert(got == naive)
      // spot-pin the edges against first principles: tie → max id (4),
      // inclusive equal-ts (5), null-key click matches nothing, null-ts
      // click matches nothing
      val byId = df.collect().map(r => r.getLong(0) ->
        Option(r.get(3)).map(_.toString)).toMap
      assert(byId(1L).contains("4"))
      assert(byId(2L).contains("5"))
      assert(byId(6L).isEmpty)
      assert(byId(8L).isEmpty)
    }
  }

  test("forward lateral idiom rewrites with identical rows") {
    view
    val fwdSql = bwdSql
      .replace("e.ts <= c.ts", "e.ts >= c.ts")
      .replace("ORDER BY e.ts DESC, e.event_id DESC",
        "ORDER BY e.ts ASC, e.event_id ASC")
    val naive = withRule(false)(rows(spark.sql(fwdSql)))
    withRule(true) {
      val df = spark.sql(fwdSql)
      assert(rewritten(df), "forward lateral idiom was not rewritten")
      assert(rows(df) == naive)
    }
  }

  test("tolerance idiom rewrites to the *Within twins, rows identical") {
    view
    // backward: purchases more than 30 minutes behind are no match —
    // this decorrelates into the ALTERNATE shape (order-less Window
    // over a global Sort) the matcher also recognizes
    val bwdTol = bwdSql.replace(
      "AND e.ts <= c.ts",
      "AND e.ts <= c.ts AND e.ts >= c.ts - INTERVAL 30 MINUTES")
    val naiveB = withRule(false)(rows(spark.sql(bwdTol)))
    withRule(true) {
      val df = spark.sql(bwdTol)
      assert(rewritten(df), "backward tolerance idiom was not rewritten")
      assert(rows(df) == naiveB)
      // click 1 at 10:00: the 09:00 purchases are out of tolerance now
      val byId = df.collect().map(r => r.getLong(0) ->
        Option(r.get(3)).map(_.toString)).toMap
      assert(byId(1L).isEmpty)
      assert(byId(2L).contains("5")) // equal-ts match: distance 0, kept
    }
    val fwdTol = bwdSql
      .replace("AND e.ts <= c.ts",
        "AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTES")
      .replace("ORDER BY e.ts DESC, e.event_id DESC",
        "ORDER BY e.ts ASC, e.event_id ASC")
    val naiveF = withRule(false)(rows(spark.sql(fwdTol)))
    withRule(true) {
      val df = spark.sql(fwdTol)
      assert(rewritten(df), "forward tolerance idiom was not rewritten")
      assert(rows(df) == naiveF)
    }
  }

  /** The nearest idiom has NO one-lateral spelling in Spark — `ORDER BY
    * abs(e.ts - c.ts)` is a correlated reference outside WHERE/HAVING
    * and fails ANALYSIS — so the expressible form is two laterals
    * (backward + forward candidates) + an outer least-distance CASE.
    * Both laterals must ride the rewrite independently: two
    * single-exchange as-of plans, zero quadratic domain joins.
    */
  test("two-lateral nearest spelling: both laterals rewrite, no BNLJ, " +
    "rows identical; the one-lateral spelling fails analysis") {
    view
    val nearSql =
      """SELECT event_id,
        |  CASE WHEN pick_b THEN b_id ELSE f_id END AS near_id,
        |  CASE WHEN pick_b THEN 'b'
        |       WHEN f_id IS NOT NULL THEN 'f' END AS side
        |FROM (
        |  SELECT c.event_id, b.event_id AS b_id, f.event_id AS f_id,
        |    b.event_id IS NOT NULL AND (f.event_id IS NULL OR
        |      c.ts - b.ts <= f.ts - c.ts) AS pick_b
        |  FROM lat_asof c
        |  LEFT JOIN LATERAL (
        |    SELECT e.event_id, e.ts FROM lat_asof e
        |    WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
        |      AND e.ts <= c.ts
        |    ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) b ON true
        |  LEFT JOIN LATERAL (
        |    SELECT e.event_id, e.ts FROM lat_asof e
        |    WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
        |      AND e.ts >= c.ts
        |    ORDER BY e.ts ASC, e.event_id ASC LIMIT 1) f ON true
        |  WHERE c.event_type = 'click')
        |ORDER BY event_id""".stripMargin
    val naive = withRule(false)(rows(spark.sql(nearSql)))
    withRule(true) {
      val df = spark.sql(nearSql)
      val opt = df.queryExecution.optimizedPlan.toString
      // BOTH directions spliced: each rewrite mints its own
      // __graft_asof_l_0 attribute, so two distinct exprIds must appear
      // (an unrewritten lateral would instead leave a BNLJ domain join,
      // caught below)
      assert("""__graft_asof_l_0#\d+""".r.findAllIn(opt).toSet.size >= 2,
        "both laterals should rewrite: " + opt.take(500))
      assert(!df.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoop"),
        "a quadratic domain join survived")
      assert(rows(df) == naive)
      // first principles: click 1 at 10:00 — backward 09:00 (dist 1h,
      // id 4 wins tie) vs forward 12:00 (dist 2h) → backward; click 2
      // at 12:00 — equal-ts purchase 5 both ways, tie prefers backward
      val byId = df.collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.toString), Option(r.getString(2)))).toMap
      assert(byId(1L) == (Some("4"), Some("b")))
      assert(byId(2L) == (Some("5"), Some("b")))
      assert(byId(6L) == (None, None)) // null key: no candidates
      assert(byId(8L) == (None, None)) // null ts: no candidates
    }
    // and the one-lateral spelling is not a missing rewrite — it is
    // unplannable: Spark refuses the correlated ORDER BY at analysis
    val oneLateral =
      """SELECT c.event_id FROM lat_asof c
        |LEFT JOIN LATERAL (
        |  SELECT e.event_id FROM lat_asof e
        |  WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
        |  ORDER BY abs(unix_micros(e.ts) - unix_micros(c.ts)) ASC,
        |    e.event_id ASC
        |  LIMIT 1) p ON true""".stripMargin
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(oneLateral).queryExecution.optimizedPlan
    }
    assert(err.getMessage.contains("CORRELATED_REFERENCE"))
  }

  test("near-miss shapes keep Spark's plan") {
    view
    withRule(true) {
      // no tiebreak: top-1 among timestamp ties is engine latitude the
      // union-window plan must not silently pin differently
      assert(!rewritten(spark.sql(bwdSql.replace(
        "ORDER BY e.ts DESC, e.event_id DESC", "ORDER BY e.ts DESC"))))
      // mixed directions: not the merge_asof tie rule
      assert(!rewritten(spark.sql(bwdSql.replace(
        "ORDER BY e.ts DESC, e.event_id DESC",
        "ORDER BY e.ts DESC, e.event_id ASC"))))
      // a YEAR-MONTH tolerance has no fixed microsecond width — refused
      assert(!rewritten(spark.sql(bwdSql.replace(
        "AND e.ts <= c.ts",
        "AND e.ts <= c.ts AND e.ts >= c.ts - INTERVAL 1 MONTH"))))
      // double time column: NaN <=> vs sort-order semantics — refused
      assert(!rewritten(spark.sql(bwdSql
        .replace("e.ts <= c.ts", "e.value <= c.value")
        .replace("ORDER BY e.ts DESC", "ORDER BY e.value DESC"))))
    }
  }
}
