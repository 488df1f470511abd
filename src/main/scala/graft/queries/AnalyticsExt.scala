package graft.queries

import graft.etl.Readers
import graft.ops.{AsOfJoin, RangeJoin, Sampling, TextDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second wave of analytics operators: multi-dimensional grouping (cube /
  * grouping sets), pivot/unpivot reshaping, filtered aggregation, exact
  * percentiles, moment statistics, navigation and range-frame windows,
  * semi/anti joins, as-of and range joins, deterministic hash sampling,
  * and levenshtein fuzzy matching. Same determinism contract as
  * [[Analytics]]: total ORDER BY, identical aliases both sides, doubles
  * rounded after aggregation.
  */
object AnalyticsExt {

  /** CUBE over (returnflag, linestatus): all 4 grouping combinations in one
    * pass — Spark expands the grouping sets map-side; one shuffle.
    */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val aggCubeSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS with the grouping_id bitmask disambiguating
    * which dimension each row aggregates over.
    */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy(col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val aggGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Conditional (filtered) aggregation: one scan, many predicated
    * aggregates — the idiomatic replacement for N filtered sub-queries.
    */
  def aggFiltered(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        round(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))
          .otherwise(0.0)), 2).as("sum_finished"),
        round(avg(when(col("o_totalprice") > 100000.0, col("o_totalprice"))), 2)
          .as("avg_large"))
      .orderBy("o_orderpriority")

  val aggFilteredSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
      |  round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'),
      |                 0.0::DOUBLE), 2) AS sum_finished,
      |  round(avg(o_totalprice) FILTER (WHERE o_totalprice > 100000.0::DOUBLE), 2)
      |    AS avg_large
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Exact interpolated percentiles (continuous quantiles) per group,
    * matching SQL `quantile_cont`: at 0-based position `p·(n-1)`, value =
    * `lower·(1-frac) + upper·frac` (Spark `Percentile`'s own formula;
    * round(4) absorbs the formula-order ULPs vs DuckDB).
    *
    * Plan shape — SORT-based, not the built-in `percentile` aggregate: the
    * `Percentile` TypedImperativeAggregate builds a value→count map per
    * group per partition and serializes those maps through the shuffle —
    * for mostly-distinct doubles that is the whole column shipped as
    * fat map buffers, then a single-threaded sort per group at output. A
    * rank window puts the same total order on the values with a
    * partition-parallel sort, the per-group size is one tiny aggregate,
    * and only the ≤2 boundary rows per requested percentile survive the
    * filter — the shuffle carries plain (group, value) pairs. Same
    * linearithmic work, but sorted in parallel and with none of the
    * aggregation-buffer serialization.
    */
  def aggPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val fracs = Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    // rank and group size from ONE sorted pass: the count window shares
    // the rank window's partitioning (and tolerates its ordering), so both
    // ride the same exchange+sort — no second evaluation, no sizes join
    val withN = Readers.table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      .withColumn("r", row_number().over(
        Window.partitionBy("l_returnflag").orderBy("v")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("l_returnflag")))
    val pos = (p: Double) => lit(p) * (col("n") - 1)   // 0-based
    val needed = fracs.map { case (_, p) =>
      col("r") === floor(pos(p)) + 1 || col("r") === ceil(pos(p)) + 1
    }.reduce(_ || _)
    val interp = fracs.map { case (name, p) =>
      val lower = max(when(col("r") === floor(pos(p)) + 1, col("v")))
      val upper = max(when(col("r") === ceil(pos(p)) + 1, col("v")))
      // n is constant within a group; max(n) re-expresses it post-agg
      val posA = lit(p) * (max(col("n")) - 1)
      val frac = posA - floor(posA)
      round(lower * (lit(1.0) - frac) + upper * frac, 4).as(name)
    }
    withN.filter(needed)
      .groupBy("l_returnflag")
      .agg(interp.head, interp.tail: _*)
      .orderBy("l_returnflag")
  }

  val aggPercentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Moment statistics: correlation, sample stddev/variance, covariance.
    * Rounded to 6 — the co-moment update order differs across partitionings
    * by ULPs.
    */
  def aggStats(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_extendedprice")), 2).as("var_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_qty_price"))
      .orderBy("l_returnflag")

  val aggStatsSql: String =
    """SELECT l_returnflag,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |  round(stddev_samp(l_quantity), 6) AS sd_qty,
      |  round(var_samp(l_extendedprice), 2) AS var_price,
      |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Pivot: order years × status → total price matrix. Pivot values are
    * pinned explicitly — the two-arg form costs an extra distinct-collect
    * job just to discover them, and unpinned columns are nondeterministic
    * schema at scale.
    */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "orders")
      .select(year(col("o_orderdate")).as("order_year"),
        col("o_orderstatus"), col("o_totalprice"))
      .groupBy("order_year")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(round(sum("o_totalprice"), 2))
      .select(col("order_year"), col("O").as("total_open"),
        col("F").as("total_finished"), col("P").as("total_partial"))
      .orderBy("order_year")

  val pivotStatusSql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS total_open,
      |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS total_finished,
      |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS total_partial
      |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin

  /** Unpivot (wide → long) then re-aggregate per measure. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .groupBy("measure")
      .agg(round(sum("val"), 2).as("total"), count(lit(1)).as("n"))
      .orderBy("measure")

  val unpivotMeasuresSql: String =
    """SELECT measure, round(sum(val), 2) AS total, count(*) AS n
      |FROM (
      |  SELECT l_orderkey, measure, val
      |  FROM lineitem
      |  UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
      |)
      |GROUP BY measure ORDER BY measure""".stripMargin

  /** Navigation window functions: lag / lead / first_value / ntile over
    * each customer's order history.
    */
  def windowNavigation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Readers.table(spark, dir, "orders")
      .filter(col("o_custkey") < 20)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        first_value(col("o_totalprice")).over(w).as("first_price"),
        ntile(4).over(w).as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val windowNavigationSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
      |FROM orders WHERE o_custkey < 20
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** RANGE frame over event-time: each order's trailing-30-day customer
    * spend — frame bounds defined by VALUE distance (days), not row count.
    */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val days = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
      .cast("long")
    val w = Window.partitionBy("o_custkey").orderBy(col("_days"))
      .rangeBetween(-30, Window.currentRow)
    Readers.table(spark, dir, "orders")
      .filter(col("o_custkey") < 50)
      .withColumn("_days", days)
      .withColumn("spend_30d", round(sum("o_totalprice").over(w), 2))
      .groupBy("o_custkey")
      .agg(round(max("spend_30d"), 2).as("max_spend_30d"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")
  }

  val windowRangeFrameSql: String =
    """SELECT o_custkey, round(max(spend_30d), 2) AS max_spend_30d,
      |  count(*) AS n_orders
      |FROM (
      |  SELECT o_custkey,
      |    round(sum(o_totalprice) OVER (
      |      PARTITION BY o_custkey ORDER BY days
      |      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS spend_30d
      |  FROM (SELECT o_custkey, o_totalprice,
      |          datediff('day', DATE '1992-01-01', o_orderdate) AS days
      |        FROM orders WHERE o_custkey < 50))
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Left-semi + left-anti joins: customers partitioned by order
    * existence. Both are build-side-only joins — no fact-row duplication,
    * the probe side streams.
    */
  def joinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val customer = Readers.table(spark, dir, "customer")
      .select("c_custkey", "c_mktsegment")
    val orders = Readers.table(spark, dir, "orders")
      .select(col("o_custkey"))
    val withOrders = customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("has_orders", lit(true))
    val withoutOrders = customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("has_orders", lit(false))
    withOrders.unionByName(withoutOrders).orderBy("c_custkey")
  }

  val joinSemiAntiSql: String =
    """SELECT c_custkey, c_mktsegment,
      |  EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_orders
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** The as-of keys' two sides from `events`: clicks
    * `(event_id, user_id, ts)` and purchases
    * `(user_id, ts, event_id, value)`.
    */
  private def clicksAndPurchases(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val events = Readers.events(spark, dir)
    (events.filter(col("event_type") === "click")
       .select("event_id", "user_id", "ts"),
     events.filter(col("event_type") === "purchase")
       .select("user_id", "ts", "event_id", "value"))
  }

  /** Backward as-of join inside the event stream: each click matched to
    * the same user's most recent purchase at or before it. See
    * [[graft.ops.AsOfJoin]] for why this is a union+window, not an
    * inequality join.
    */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(spark, dir)
    AsOfJoin.backward(clicks, purchases, key = "user_id",
        leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("event_id", "ts", "value"),
        rightTieBreak = "event_id")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("purchase_event_id"),
        col("asof_ts").as("purchase_ts"),
        col("asof_value").as("purchase_value"))
      .orderBy("event_id")
  }

  val joinAsofSql: String =
    """SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
      |  p.event_id AS purchase_event_id,
      |  p.ts AS purchase_ts,
      |  p.value AS purchase_value
      |FROM events c
      |LEFT JOIN LATERAL (
      |  SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value
      |  FROM events e
      |  WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
      |    AND CAST(e.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
      |  ORDER BY CAST(e.ts AS TIMESTAMP) DESC, e.event_id DESC
      |  LIMIT 1) p ON true
      |WHERE c.event_type = 'click'
      |ORDER BY c.event_id""".stripMargin

  /** Forward as-of: each click matched to the NEXT purchase at or after
    * it ([[AsOfJoin.forward]] — the mirror of `join_asof`'s backward
    * pass; same |L|+|R| union-window shape, flipped frame).
    */
  def joinAsofForward(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(spark, dir)
    AsOfJoin.forward(clicks, purchases, key = "user_id",
        leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("event_id", "ts", "value"),
        rightTieBreak = "event_id")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("purchase_event_id"),
        col("asof_ts").as("purchase_ts"),
        col("asof_value").as("purchase_value"))
      .orderBy("event_id")
  }

  val joinAsofForwardSql: String =
    """SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
      |  p.event_id AS purchase_event_id,
      |  p.ts AS purchase_ts,
      |  p.value AS purchase_value
      |FROM events c
      |LEFT JOIN LATERAL (
      |  SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value
      |  FROM events e
      |  WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
      |    AND CAST(e.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      |  ORDER BY CAST(e.ts AS TIMESTAMP) ASC, e.event_id ASC
      |  LIMIT 1) p ON true
      |WHERE c.event_type = 'click'
      |ORDER BY c.event_id""".stripMargin

  /** Backward as-of with `merge_asof`'s tolerance: a purchase more than
    * one hour before the click is no match at all
    * ([[AsOfJoin.backwardWithin]] — row-local gap gate on the same
    * single-exchange plan; since backward picks the LATEST match, an
    * out-of-tolerance latest means every other candidate is even older,
    * so gating equals filtering).
    */
  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(spark, dir)
    AsOfJoin.backwardWithin(clicks, purchases, key = "user_id",
        leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("event_id", "value"),
        rightTieBreak = "event_id", toleranceMicros = 3600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("purchase_event_id"),
        col("asof_value").as("purchase_value"))
      .orderBy("event_id")
  }

  val joinAsofToleranceSql: String =
    """SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
      |  p.event_id AS purchase_event_id,
      |  p.value AS purchase_value
      |FROM events c
      |LEFT JOIN LATERAL (
      |  SELECT e.event_id, e.value
      |  FROM events e
      |  WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
      |    AND CAST(e.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
      |    AND CAST(e.ts AS TIMESTAMP)
      |      >= CAST(c.ts AS TIMESTAMP) - INTERVAL 1 HOUR
      |  ORDER BY CAST(e.ts AS TIMESTAMP) DESC, e.event_id DESC
      |  LIMIT 1) p ON true
      |WHERE c.event_type = 'click'
      |ORDER BY c.event_id""".stripMargin

  /** Nearest as-of ([[AsOfJoin.nearest]]): the closer of the backward and
    * forward matches, exact-distance ties to backward; `asof_side` says
    * which direction won. Two keyed window passes, never a pair join.
    */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(spark, dir)
    AsOfJoin.nearest(clicks, purchases, key = "user_id",
        leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("event_id", "value"),
        rightTieBreak = "event_id")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("purchase_event_id"),
        col("asof_value").as("purchase_value"),
        col("asof_side").as("side"))
      .orderBy("event_id")
  }

  val joinAsofNearestSql: String =
    """SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
      |  p.event_id AS purchase_event_id,
      |  p.value AS purchase_value,
      |  p.side
      |FROM events c
      |LEFT JOIN LATERAL (
      |  SELECT event_id, value, side FROM (
      |    SELECT e.event_id, e.value,
      |      CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP))
      |             <= epoch_us(CAST(c.ts AS TIMESTAMP))
      |        THEN 'backward' ELSE 'forward' END AS side,
      |      CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP))
      |             <= epoch_us(CAST(c.ts AS TIMESTAMP))
      |        THEN 0 ELSE 1 END AS sideord,
      |      abs(epoch_us(CAST(e.ts AS TIMESTAMP))
      |        - epoch_us(CAST(c.ts AS TIMESTAMP))) AS dist
      |    FROM events e
      |    WHERE e.event_type = 'purchase' AND e.user_id = c.user_id)
      |  ORDER BY dist ASC, sideord ASC,
      |    CASE WHEN sideord = 0 THEN -event_id ELSE event_id END ASC
      |  LIMIT 1) p ON true
      |WHERE c.event_type = 'click'
      |ORDER BY c.event_id""".stripMargin

  /** Nearest as-of with the tolerance knob ([[AsOfJoin.nearestWithin]],
    * pandas `merge_asof(direction='nearest', tolerance=…)`): each
    * directional candidate is gated by its OWN distance before the
    * closer-of-the-two choice. With one symmetric tolerance that
    * composes to "the nearest match, nulls when it is further than
    * 30 minutes" — the per-direction gate can only nullify, never flip
    * the winner (the losing side is always at least as far as the
    * winning side, so an in-tolerance loser implies an in-tolerance
    * winner) — which is exactly what the one-`dist`-filter oracle
    * checks. The 30-minute knob (vs `join_asof_tolerance`'s hour) makes
    * the fixture produce all three outcomes: backward wins, forward
    * wins, and no-match nulls.
    */
  def joinAsofNearestTolerance(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(spark, dir)
    AsOfJoin.nearestWithin(clicks, purchases, key = "user_id",
        leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("event_id", "value"),
        rightTieBreak = "event_id", toleranceMicros = 1800L * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("purchase_event_id"),
        col("asof_value").as("purchase_value"),
        col("asof_side").as("side"))
      .orderBy("event_id")
  }

  val joinAsofNearestToleranceSql: String =
    """SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
      |  p.event_id AS purchase_event_id,
      |  p.value AS purchase_value,
      |  p.side
      |FROM events c
      |LEFT JOIN LATERAL (
      |  SELECT event_id, value, side FROM (
      |    SELECT e.event_id, e.value,
      |      CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP))
      |             <= epoch_us(CAST(c.ts AS TIMESTAMP))
      |        THEN 'backward' ELSE 'forward' END AS side,
      |      CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP))
      |             <= epoch_us(CAST(c.ts AS TIMESTAMP))
      |        THEN 0 ELSE 1 END AS sideord,
      |      abs(epoch_us(CAST(e.ts AS TIMESTAMP))
      |        - epoch_us(CAST(c.ts AS TIMESTAMP))) AS dist
      |    FROM events e
      |    WHERE e.event_type = 'purchase' AND e.user_id = c.user_id)
      |  WHERE dist <= 1800000000
      |  ORDER BY dist ASC, sideord ASC,
      |    CASE WHEN sideord = 0 THEN -event_id ELSE event_id END ASC
      |  LIMIT 1) p ON true
      |WHERE c.event_type = 'click'
      |ORDER BY c.event_id""".stripMargin

  /** The as-of SQL surface ([[graft.plans.RewriteLateralAsOf]]): the
    * SPARK SIDE of this key is raw SQL TEXT — the LATERAL-LIMIT-1 idiom,
    * the only way analyst SQL expresses merge_asof — and the optimizer
    * rule swaps Spark's decorrelated domain-join plan (a
    * BroadcastNestedLoopJoin of |distinct click ts| × |purchases| pairs:
    * measured NOT FINISHING in 10 min at sf0.1) for the
    * [[AsOfJoin.backward]] union-window plan (0.9s warm, same scale).
    * Results are oracle-identical to the `join_asof` key because both
    * run the same idiom — here BOTH engines run it as written.
    */
  def joinAsofLateralSql(spark: SparkSession, dir: String): DataFrame = {
    Readers.events(spark, dir).createOrReplaceTempView("events")
    spark.sql(
      """SELECT c.event_id, c.user_id, c.ts,
        |  p.event_id AS purchase_event_id,
        |  p.ts AS purchase_ts,
        |  p.value AS purchase_value
        |FROM events c
        |LEFT JOIN LATERAL (
        |  SELECT e.event_id, e.ts, e.value
        |  FROM events e
        |  WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
        |    AND e.ts <= c.ts
        |  ORDER BY e.ts DESC, e.event_id DESC
        |  LIMIT 1) p ON true
        |WHERE c.event_type = 'click'
        |ORDER BY c.event_id""".stripMargin)
  }

  /** The tolerance leg of the as-of SQL surface: the same LATERAL idiom
    * with the `e.ts >= c.ts - INTERVAL 1 HOUR` gate — which decorrelates
    * into the ALTERNATE shape (order-less Window over a global Sort)
    * [[graft.plans.RewriteLateralAsOf]] also recognizes, and rewrites to
    * [[AsOfJoin.backwardWithin]]. Oracle = the `join_asof_tolerance`
    * text (same idiom, both engines run it as written).
    */
  def joinAsofToleranceLateralSql(spark: SparkSession, dir: String)
  : DataFrame = {
    Readers.events(spark, dir).createOrReplaceTempView("events")
    spark.sql(
      """SELECT c.event_id, c.user_id, c.ts,
        |  p.event_id AS purchase_event_id,
        |  p.value AS purchase_value
        |FROM events c
        |LEFT JOIN LATERAL (
        |  SELECT e.event_id, e.value
        |  FROM events e
        |  WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
        |    AND e.ts <= c.ts
        |    AND e.ts >= c.ts - INTERVAL 1 HOUR
        |  ORDER BY e.ts DESC, e.event_id DESC
        |  LIMIT 1) p ON true
        |WHERE c.event_type = 'click'
        |ORDER BY c.event_id""".stripMargin)
  }

  /** The FORWARD spelling of the as-of SQL surface: ASC-ORDER-LIMIT-1
    * over `e.ts >= c.ts` — the "next event after" idiom. Same contract
    * as [[joinAsofLateralSql]]: the Spark side is raw SQL text, and
    * [[graft.plans.RewriteLateralAsOf]] swaps the quadratic decorrelated
    * domain-join plan for [[AsOfJoin.forward]]'s union-window plan
    * (direction read off the ORDER BY; RewriteLateralAsOfSpec pins the
    * rewrite and row parity). Oracle = the `join_asof_forward` text —
    * both engines run the same idiom as written.
    */
  def joinAsofForwardLateralSql(spark: SparkSession, dir: String)
  : DataFrame = {
    Readers.events(spark, dir).createOrReplaceTempView("events")
    spark.sql(
      """SELECT c.event_id, c.user_id, c.ts,
        |  p.event_id AS purchase_event_id,
        |  p.ts AS purchase_ts,
        |  p.value AS purchase_value
        |FROM events c
        |LEFT JOIN LATERAL (
        |  SELECT e.event_id, e.ts, e.value
        |  FROM events e
        |  WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
        |    AND e.ts >= c.ts
        |  ORDER BY e.ts ASC, e.event_id ASC
        |  LIMIT 1) p ON true
        |WHERE c.event_type = 'click'
        |ORDER BY c.event_id""".stripMargin)
  }

  /** The NEAREST as-of in analyst SQL — via the TWO-LATERAL spelling,
    * because the one-lateral spelling does not exist in Spark: `ORDER BY
    * abs(e.ts - c.ts)` inside the subquery is a correlated reference
    * outside WHERE/HAVING, which Spark refuses at ANALYSIS
    * (`UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.CORRELATED_REFERENCE`,
    * probed this round) — so there is no naive plan for a rule to
    * recognize, and "teach the rule the nearest idiom" resolves to: the
    * expressible spelling is one backward LATERAL + one forward LATERAL
    * + an outer least-distance CASE, and BOTH laterals already ride
    * [[graft.plans.RewriteLateralAsOf]] independently — two
    * single-exchange as-of plans instead of two quadratic domain joins,
    * with no new matcher surface. Ties prefer the backward candidate
    * (distance comparison is `<=`), spelled out in the SQL itself so
    * both engines evaluate the same rule. Timestamp subtraction yields
    * a comparable day-time interval in BOTH engines, so no epoch
    * function is needed.
    */
  def joinAsofNearestLateralSql(spark: SparkSession, dir: String)
  : DataFrame = {
    Readers.events(spark, dir).createOrReplaceTempView("events")
    spark.sql(
      """SELECT event_id, user_id, ts,
        |  CASE WHEN pick_b THEN b_event_id ELSE f_event_id END
        |    AS nearest_event_id,
        |  CASE WHEN pick_b THEN b_value ELSE f_value END AS nearest_value,
        |  CASE WHEN pick_b THEN 'backward'
        |       WHEN f_event_id IS NOT NULL THEN 'forward' END AS side
        |FROM (
        |  SELECT c.event_id, c.user_id, c.ts,
        |    b.event_id AS b_event_id, b.value AS b_value,
        |    f.event_id AS f_event_id, f.value AS f_value,
        |    b.event_id IS NOT NULL AND (f.event_id IS NULL OR
        |      c.ts - b.ts <= f.ts - c.ts) AS pick_b
        |  FROM events c
        |  LEFT JOIN LATERAL (
        |    SELECT e.event_id, e.ts, e.value FROM events e
        |    WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
        |      AND e.ts <= c.ts
        |    ORDER BY e.ts DESC, e.event_id DESC
        |    LIMIT 1) b ON true
        |  LEFT JOIN LATERAL (
        |    SELECT e.event_id, e.ts, e.value FROM events e
        |    WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
        |      AND e.ts >= c.ts
        |    ORDER BY e.ts ASC, e.event_id ASC
        |    LIMIT 1) f ON true
        |  WHERE c.event_type = 'click')
        |ORDER BY event_id""".stripMargin)
  }

  val joinAsofNearestLateralSqlOracle: String =
    """SELECT event_id, user_id, ts,
      |  CASE WHEN pick_b THEN b_event_id ELSE f_event_id END
      |    AS nearest_event_id,
      |  CASE WHEN pick_b THEN b_value ELSE f_value END AS nearest_value,
      |  CASE WHEN pick_b THEN 'backward'
      |       WHEN f_event_id IS NOT NULL THEN 'forward' END AS side
      |FROM (
      |  SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
      |    b.event_id AS b_event_id, b.value AS b_value,
      |    f.event_id AS f_event_id, f.value AS f_value,
      |    b.event_id IS NOT NULL AND (f.event_id IS NULL OR
      |      CAST(c.ts AS TIMESTAMP) - b.ts <= f.ts - CAST(c.ts AS TIMESTAMP))
      |      AS pick_b
      |  FROM events c
      |  LEFT JOIN LATERAL (
      |    SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value
      |    FROM events e
      |    WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
      |      AND CAST(e.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
      |    ORDER BY CAST(e.ts AS TIMESTAMP) DESC, e.event_id DESC
      |    LIMIT 1) b ON true
      |  LEFT JOIN LATERAL (
      |    SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value
      |    FROM events e
      |    WHERE e.event_type = 'purchase' AND e.user_id = c.user_id
      |      AND CAST(e.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      |    ORDER BY CAST(e.ts AS TIMESTAMP) ASC, e.event_id ASC
      |    LIMIT 1) f ON true
      |  WHERE c.event_type = 'click')
      |ORDER BY event_id""".stripMargin

  // intervals must be CLAMPED, not open-ended: an interval explodes into
  // (hi-lo)/bucketWidth bucket rows in the grid join — a 1e9 "no upper
  // bound" sentinel would generate ~2M rows for one dim row. Tiers cover
  // the actual p_retailprice domain (900..1000).
  private val TierRows = Seq(
    (900.0, 925.0, "budget"),
    (925.0, 950.0, "mid"),
    (950.0, 975.0, "premium"),
    (975.0, 1000.0, "luxury"))

  /** Range join via the shared-bucket-grid equi-join ([[graft.ops.RangeJoin]]):
    * parts priced into tiers. Aggregated per tier so the output is compact.
    */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tiers = TierRows.toDF("lo", "hi", "tier")
    RangeJoin.bucketedBetween(
        Readers.table(spark, dir, "part").select("p_partkey", "p_retailprice"),
        "p_retailprice", tiers, "lo", "hi", bucketWidth = 25.0)
      .groupBy("tier")
      .agg(count(lit(1)).as("n_parts"),
        round(avg("p_retailprice"), 4).as("avg_price"))
      .orderBy("tier")
  }

  val joinRangeSql: String = {
    val values = TierRows
      .map { case (lo, hi, t) => s"($lo::DOUBLE, $hi::DOUBLE, '$t')" }
      .mkString(", ")
    s"""SELECT tier, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
       |FROM part JOIN (VALUES $values) AS tiers(lo, hi, tier)
       |  ON p_retailprice >= lo AND p_retailprice < hi
       |GROUP BY tier ORDER BY tier""".stripMargin
  }

  /** Deterministic 10% hash sample, summarized per market segment. The
    * sample is a pure function of the key — identical across runs, engines,
    * and partitionings ([[graft.ops.Sampling]]).
    */
  def sampleHash(spark: SparkSession, dir: String): DataFrame =
    Sampling.hashSample(
        Readers.table(spark, dir, "customer"), col("c_custkey"),
        keep = 1, outOf = 10)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_sampled"),
        round(sum("c_acctbal"), 2).as("bal_sampled"))
      .orderBy("c_mktsegment")

  val sampleHashSql: String =
    """SELECT c_mktsegment, count(*) AS n_sampled,
      |  round(sum(c_acctbal), 2) AS bal_sampled
      |FROM customer
      |WHERE ('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::BIGINT % 10 < 1
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Fuzzy matching by TOKEN BLOCKING — the standard entity-resolution
    * shape: near-duplicate part names, where candidate pairs must share at
    * least one full word and exact levenshtein refines them. Matching runs
    * at the distinct-NAME level (with how many parts carry each name), the
    * granularity a real dedup pipeline works at before mapping labels back
    * to rows.
    *
    * Blocking-recall tradeoff: token blocking finds every pair that agrees
    * on one complete word ("hot gear" ~ "red gear"), and *misses* pairs
    * where every word is typo'd ("red widget" ~ "rad wdget" is within the
    * distance bound but shares no token, so it is never compared). That
    * miss is the price of never materializing the N² name pairs; tighter
    * recall needs finer keys (character q-gram bands, phonetic codes) at
    * proportionally larger candidate volume. The blocking predicate is part
    * of the operator's contract — the oracle expresses the same blocks.
    *
    * Scale shape: explode names into (token, name) rows and hash
    * equi-join on the token — candidates are only same-block pairs, never
    * a nested loop. The self-join aliases ONE exploded subtree (exchange
    * reuse); a stopword-frequency token would be a skew key for AQE, and a
    * production run would cap block sizes before the join (drop tokens
    * blocking more than K names — not needed at this vocabulary).
    */
  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame = {
    val names = Readers.table(spark, dir, "part")
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
    val toks = names.select(col("name"), col("n_parts"),
      explode(split(col("name"), " ")).as("tok"))
    val cand = toks.as("a")
      .join(toks.as("b").hint("shuffle_hash"),
        col("a.tok") === col("b.tok") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        col("a.n_parts").as("n_a"), col("b.n_parts").as("n_b"))
      .distinct() // a pair can share several tokens
    cand.withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select("name_a", "name_b", "n_a", "n_b", "dist")
      .orderBy("name_a", "name_b")
  }

  val fuzzyNamePairsSql: String =
    """WITH names AS (
      |  SELECT p_name AS name, count(*) AS n_parts FROM part GROUP BY p_name
      |),
      |toks AS (
      |  SELECT name, n_parts, unnest(string_split(name, ' ')) AS tok
      |  FROM names
      |),
      |cand AS (
      |  SELECT DISTINCT a.name AS name_a, b.name AS name_b,
      |    a.n_parts AS n_a, b.n_parts AS n_b
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.name < b.name
      |)
      |SELECT name_a, name_b, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b,
      |  CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
      |FROM cand
      |WHERE levenshtein(name_a, name_b) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  val JaroThreshold = 0.9

  /** Jaro–Winkler record linkage over part names: same token-blocked
    * candidate generation as [[fuzzyNamePairs]] (hash equi-join on shared
    * tokens — never all pairs), scored by the native codegen
    * `jaro_winkler` expression ([[graft.functions.JaroWinkler]],
    * fuzz-pinned bit-exact to the oracle engine's implementation). The
    * edit-distance variant treats "similar" as few edits; Jaro–Winkler
    * rewards shared prefixes — the scorer of choice for name data.
    */
  def fuzzyJaro(spark: SparkSession, dir: String): DataFrame = {
    val names = Readers.table(spark, dir, "part")
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
    val toks = names.select(col("name"),
      explode(split(col("name"), " ")).as("tok"))
    val cand = toks.as("a")
      .join(toks.as("b").hint("shuffle_hash"),
        col("a.tok") === col("b.tok") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
    cand
      .withColumn("jw", graft.functions.JaroWinklerFunctions
        .jaroWinkler(col("name_a"), col("name_b")))
      .filter(col("jw") >= JaroThreshold)
      .select(col("name_a"), col("name_b"), round(col("jw"), 6).as("jw_r"))
      .orderBy("name_a", "name_b")
  }

  val fuzzyJaroSql: String =
    s"""WITH names AS (
       |  SELECT p_name AS name FROM part GROUP BY p_name
       |),
       |toks AS (
       |  SELECT name, unnest(string_split(name, ' ')) AS tok FROM names
       |),
       |cand AS (
       |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
       |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.name < b.name
       |)
       |SELECT name_a, name_b,
       |  round(jaro_winkler_similarity(name_a, name_b), 6) AS jw_r
       |FROM cand
       |WHERE jaro_winkler_similarity(name_a, name_b) >= $JaroThreshold::DOUBLE
       |ORDER BY name_a, name_b""".stripMargin

  /** End-to-end entity resolution over part names: token-blocked
    * candidate pairs (the [[fuzzyNamePairs]] shape) → levenshtein ≤ 3
    * edges → connected components ([[graft.ops.TextDedup.duplicateClusters]],
    * pointer-jumped min-label propagation) → canonical entity = the
    * lexicographic min name of each component; singletons resolve to
    * themselves. The full blocking→matching→clustering→canonicalization
    * pipeline a real MDM/dedup system runs, each stage the scale shape
    * already verified on its own query.
    */
  def entityResolve(spark: SparkSession, dir: String): DataFrame = {
    val names = Readers.table(spark, dir, "part")
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n_parts"))
    val toks = names.select(col("name"),
      explode(split(col("name"), " ")).as("tok"))
    val pairs = toks.as("a")
      .join(toks.as("b").hint("shuffle_hash"),
        col("a.tok") === col("b.tok") && col("a.name") < col("b.name"))
      .select(col("a.name").as("doc_a"), col("b.name").as("doc_b"))
      .distinct()
      .filter(levenshtein(col("doc_a"), col("doc_b")) <= 3)
    val clusters = TextDedup.duplicateClusters(pairs)
    val resolved = names
      .join(clusters, names("name") === clusters("doc"), "left")
      .select(col("name"),
        coalesce(col("cluster"), col("name")).as("entity"), col("n_parts"))
    resolved
      .withColumn("entity_size",
        count(lit(1)).over(Window.partitionBy(col("entity"))))
      .orderBy("name")
  }

  val entityResolveSql: String =
    """WITH RECURSIVE names AS (
      |  SELECT p_name AS name, count(*) AS n_parts FROM part GROUP BY 1
      |),
      |toks AS (
      |  SELECT name, unnest(string_split(name, ' ')) AS tok FROM names
      |),
      |pairs AS (
      |  SELECT a, b FROM (
      |    SELECT DISTINCT a.name AS a, b.name AS b
      |    FROM toks a JOIN toks b ON a.tok = b.tok AND a.name < b.name)
      |  WHERE levenshtein(a, b) <= 3
      |),
      |edges AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION ALL SELECT b, a FROM pairs
      |),
      |reach(a, b) AS (
      |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
      |),
      |lab AS (SELECT a AS name, min(b) AS entity FROM reach GROUP BY a)
      |SELECT n.name, COALESCE(l.entity, n.name) AS entity,
      |  CAST(n.n_parts AS BIGINT) AS n_parts,
      |  CAST(count(*) OVER (PARTITION BY COALESCE(l.entity, n.name))
      |    AS BIGINT) AS entity_size
      |FROM names n LEFT JOIN lab l ON l.name = n.name
      |ORDER BY n.name""".stripMargin

  /** Approximate sketches: HyperLogLog++ distinct counts and quantile
    * estimates — the sub-linear-memory path when exact distinct/percentile
    * state would not fit (billions of keys per group at 100 TB). Sketch
    * internals are engine-specific (Spark HLL++/GK vs DuckDB HLL/t-digest),
    * so the raw estimates can never hash-match an oracle. What CAN match is
    * the sketch *contract*: each engine emits its exact values plus a
    * boolean asserting its own estimate lies within the advertised error
    * bound (3×rsd for HLL — ~99.7% of runs; 1% value tolerance for the
    * rank-ε=1/10000 median, generous at this group size). Rows, schema and
    * hash all check against DuckDB computing the same self-assertion.
    */
  /** Plan note: the sketches and their exact yardsticks are computed in
    * THREE separate subtrees joined on the (3-row) group key, never one
    * Aggregate. Combining `count_distinct` (distinct-rewrite Expand),
    * the imperative exact `percentile` and the two sketch aggregates in a
    * single agg forces a SortAggregate over the expanded rows with
    * map-valued buffers — measured 22s at sf0.1 vs ~1s for this shape:
    * sketches ride one hash aggregate, exact distinct is two stacked hash
    * aggregates (no Expand), and the exact median is the sort-based rank
    * formulation from [[aggPercentiles]].
    */
  def aggApproxSketch(spark: SparkSession, dir: String): DataFrame = {
    val li = Readers.table(spark, dir, "lineitem")
      .select("l_returnflag", "l_orderkey", "l_extendedprice")
    val sketches = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("nd_est_"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
        .as("p50_est_"))
    val ndExact = li.select("l_returnflag", "l_orderkey").distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("nd_exact"))
    val ranked = li
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      .withColumn("r", row_number().over(
        Window.partitionBy("l_returnflag").orderBy("v")))
      .withColumn("nn",
        count(lit(1)).over(Window.partitionBy("l_returnflag")))
    val pos = lit(0.5) * (col("nn") - 1)
    val posA = lit(0.5) * (max(col("nn")) - 1)
    val p50 = ranked
      .filter(col("r") === floor(pos) + 1 || col("r") === ceil(pos) + 1)
      .groupBy("l_returnflag")
      .agg((max(when(col("r") === floor(pos) + 1, col("v")))
        * (lit(1.0) - (posA - floor(posA)))
        + max(when(col("r") === ceil(pos) + 1, col("v")))
        * (posA - floor(posA))).as("p50_exact_"))
    sketches.join(ndExact, Seq("l_returnflag"))
      .join(p50, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"), col("nd_exact"),
        (abs(col("nd_est_") - col("nd_exact"))
          <= col("nd_exact") * lit(0.06)).as("nd_ok"),
        (abs(col("p50_est_") - col("p50_exact_"))
          <= col("p50_exact_") * lit(0.01)).as("p50_ok"))
      .orderBy("l_returnflag")
  }

  val aggApproxSketchSql: String =
    """SELECT l_returnflag,
      |  count(*) AS n,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_exact,
      |  abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
      |    <= 0.06::DOUBLE * count(DISTINCT l_orderkey) AS nd_ok,
      |  abs(approx_quantile(l_extendedprice, 0.5)
      |      - quantile_cont(l_extendedprice, 0.5))
      |    <= 0.01::DOUBLE * quantile_cont(l_extendedprice, 0.5) AS p50_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Sliding (hopping) event-time windows: 1-hour windows every 30
    * minutes — each event lands in exactly 2 overlapping windows. Same
    * `window()` operator the streaming twin uses, run in batch.
    */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Readers.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  val slidingWindowSql: String =
    """SELECT make_timestamp(w) AS window_start, event_type,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM (
      |  SELECT event_type, value,
      |    unnest([
      |      (epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) * 1800000000,
      |      (epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) * 1800000000
      |        - 1800000000]) AS w
      |  FROM events)
      |GROUP BY w, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** Date/time and string scalar-function surface (§2.7 extension): month
    * truncation, end-of-month, calendar-clamped month arithmetic, day-of-
    * week/quarter extraction, day arithmetic; pad/translate/reverse and
    * length/position functions. All codegen'd built-ins.
    */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "orders")
      // sort first, compute after (the cast_normalize/text_stats pattern,
      // r17 sweep): the range-partitioner's sampling job re-executes the
      // sort's child, so projecting the date/string expressions below the
      // sort ran them twice; sorting the 3 narrow source columns first
      // runs them exactly once, post-shuffle, with no materialization
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
      .orderBy("o_orderkey")
      .select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
        add_months(col("o_orderdate"), 3).cast("timestamp").as("plus3m"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("qtr"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
          .cast("long").as("days_since_92"),
        upper(col("o_orderpriority")).as("pri_upper"),
        lpad(col("o_orderpriority"), 12, "*").as("pri_padded"),
        translate(col("o_orderpriority"), "-", "_").as("pri_translated"),
        reverse(col("o_orderpriority")).as("pri_rev"),
        length(col("o_orderpriority")).as("pri_len"),
        instr(col("o_orderpriority"), "-").cast("long").as("dash_pos"))

  val scalarFuncsSql: String =
    """SELECT o_orderkey,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
      |  CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS TIMESTAMP) AS plus3m,
      |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |  CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
      |    AS days_since_92,
      |  upper(o_orderpriority) AS pri_upper,
      |  lpad(o_orderpriority, 12, '*') AS pri_padded,
      |  replace(o_orderpriority, '-', '_') AS pri_translated,
      |  reverse(o_orderpriority) AS pri_rev,
      |  CAST(length(o_orderpriority) AS INTEGER) AS pri_len,
      |  CAST(strpos(o_orderpriority, '-') AS BIGINT) AS dash_pos
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Per-group top-k via the engine's bounded-heap aggregate
    * ([[graft.functions.TopKStructs]]): k entries per (group × partition)
    * cross the shuffle, never the full group. Exploded back to rows for
    * the oracle compare.
    */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(graft.functions.TopKFunctions
        .topK(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))
      .orderBy("o_orderpriority", "rank")

  val topkPerGroupSql: String =
    """SELECT o_orderpriority, CAST(rank AS INTEGER) AS rank,
      |  o_orderkey, o_totalprice
      |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_orderpriority
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |      FROM orders)
      |WHERE rank <= 3
      |ORDER BY o_orderpriority, rank""".stripMargin

  /** Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL): duplicate
    * occurrences count, unlike the distinct-set variants in `set_ops`.
    * Output re-aggregated per key for a compact deterministic compare.
    */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val a = Readers.table(spark, dir, "orders").select(col("o_custkey").as("k"))
      .filter(col("k") < 200)
    val b = Readers.table(spark, dir, "events").select(col("user_id").as("k"))
    val ex = a.exceptAll(b).withColumn("op", lit("except_all"))
    val in = a.intersectAll(b).withColumn("op", lit("intersect_all"))
    ex.unionByName(in)
      .groupBy("op", "k").agg(count(lit(1)).as("n"))
      .orderBy("op", "k")
  }

  val setOpsAllSql: String =
    """SELECT op, k, count(*) AS n FROM (
      |  SELECT 'except_all' AS op, k FROM
      |    (SELECT o_custkey AS k FROM orders WHERE o_custkey < 200
      |     EXCEPT ALL SELECT user_id FROM events)
      |  UNION ALL
      |  SELECT 'intersect_all' AS op, k FROM
      |    (SELECT o_custkey AS k FROM orders WHERE o_custkey < 200
      |     INTERSECT ALL SELECT user_id FROM events)
      |) GROUP BY op, k ORDER BY op, k""".stripMargin

  /** FULL OUTER join with the null-handling scalar family over its
    * null-bearing output: null-safe equality (`<=>` ≡ IS NOT DISTINCT
    * FROM), coalesce, nullif.
    */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "customer").select("c_custkey", "c_mktsegment")
      .join(Readers.table(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus"),
        col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        col("c_custkey"), col("o_orderkey"),
        (col("c_custkey") <=> col("o_custkey")).as("matched"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        nullif(col("o_orderstatus"), lit("O")).as("status_nonopen"))
      .orderBy(col("c_custkey").asc_nulls_first,
        col("o_orderkey").asc_nulls_first)

  val joinFullOuterSql: String =
    """SELECT c_custkey, o_orderkey,
      |  (c_custkey IS NOT DISTINCT FROM o_custkey) AS matched,
      |  coalesce(c_mktsegment, 'UNKNOWN') AS segment,
      |  nullif(o_orderstatus, 'O') AS status_nonopen
      |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
      |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin

  /** Regular-expression scalar family: extract / count / replace / match,
    * POSIX-safe patterns only (identical across Java and RE2 dialects).
    */
  def regexOps(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
        regexp_count(col("text"), lit("[0-9]")).cast("long").as("n_digits"),
        regexp_replace(col("text"), "[aeiou]", "").substr(lit(1), lit(40))
          .as("devoweled_40"),
        col("text").rlike("data").as("mentions_data"))
      .orderBy("doc_id")

  val regexOpsSql: String =
    """SELECT doc_id,
      |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
      |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
      |  substr(regexp_replace(text, '[aeiou]', '', 'g'), 1, 40) AS devoweled_40,
      |  regexp_matches(text, 'data') AS mentions_data
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The full ranking-function family in one window: rank (gaps),
    * dense_rank (no gaps), percent_rank, cume_dist.
    */
  def windowRankVariants(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
    Readers.table(spark, dir, "orders")
      .filter(col("o_custkey") < 20)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        round(cume_dist().over(w), 6).as("cdist"))
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  val windowRankVariantsSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(rank() OVER w AS INTEGER) AS rnk,
      |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
      |  round(percent_rank() OVER w, 6) AS prnk,
      |  round(cume_dist() OVER w, 6) AS cdist
      |FROM orders WHERE o_custkey < 20
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
      |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin

  /** Array higher-order functions over tokenized text: filter / transform /
    * exists / forall / fold (aggregate) — all codegen lambda expressions,
    * no UDFs.
    */
  def arrayHof(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(filter(col("w"), t => length(t) > 4)).cast("long").as("n_long_tokens"),
        aggregate(transform(col("w"), t => length(t).cast("long")),
          lit(0L), (acc, x) => acc + x).as("total_chars"),
        exists(col("w"), t => t === "the").as("has_the"),
        forall(col("w"), t => length(t) < 30).as("all_short"))
      // pin before the deterministic-output sort (r17 sweep): the range
      // sampler re-executed the whole HOF battery; the computed rows are
      // narrow, so materializing them once beats running the maps twice.
      // Lazy + map-only subtree: construction stays job-free.
      .localCheckpoint(false)
      .orderBy("doc_id")

  val arrayHofSql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 4)) AS BIGINT)
      |    AS n_long_tokens,
      |  list_reduce(list_prepend(0::BIGINT,
      |      list_transform(string_split(text, ' '), t -> length(t)::BIGINT)),
      |    (acc, x) -> acc + x) AS total_chars,
      |  list_contains(string_split(text, ' '), 'the') AS has_the,
      |  len(list_filter(string_split(text, ' '), t -> length(t) >= 30)) = 0
      |    AS all_short
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Column profile of the orders table ([[graft.ops.Profiling]]): null
    * counts, exact distinct counts, numeric min/max, plus each engine's
    * own HLL sketch-contract boolean (the `agg_approx_sketch` pattern) —
    * one lazy single-row plan, no multi-distinct Expand, no collect.
    */
  def profileColumns(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.profile(Readers.table(spark, dir, "orders"))
      .orderBy("col_name")

  val profileColumnsSql: String = {
    val cols = Seq(
      ("o_orderkey", true), ("o_custkey", true), ("o_orderstatus", false),
      ("o_totalprice", true), ("o_orderdate", false), ("o_orderpriority", false))
    cols.map { case (c, numeric) =>
      val mn = if (numeric) s"min($c)::DOUBLE" else "NULL::DOUBLE"
      val mx = if (numeric) s"max($c)::DOUBLE" else "NULL::DOUBLE"
      s"""SELECT '$c' AS col_name,
         |  count(*) FILTER (WHERE $c IS NULL) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  $mn AS min_num, $mx AS max_num,
         |  abs(approx_count_distinct($c) - count(DISTINCT $c))
         |    <= 0.06::DOUBLE * count(DISTINCT $c) AS nd_ok
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Fixed-bound equi-width histogram of order totals (12 bins over
    * [0, 600000), under/overflow buckets 0 and 13).
    */
  def histogramPrice(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.histogram(Readers.table(spark, dir, "orders"),
        col("o_totalprice"), lo = 0.0, hi = 600000.0, buckets = 12)
      .orderBy("bucket")

  val histogramPriceSql: String =
    """SELECT bucket, count(*) AS n FROM (
      |  SELECT CASE WHEN o_totalprice IS NULL THEN NULL
      |    WHEN o_totalprice < 0.0::DOUBLE THEN 0::BIGINT
      |    WHEN o_totalprice >= 600000.0::DOUBLE THEN 13::BIGINT
      |    ELSE least(CAST(floor((o_totalprice - 0.0::DOUBLE) / 50000.0::DOUBLE) AS BIGINT)
      |               + 1::BIGINT, 12::BIGINT) END AS bucket
      |  FROM orders)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Equi-DEPTH binning (quantile buckets, SQL-`ntile` semantics):
    * complements the equi-width histogram — four buckets with equal
    * populations, each summarized by its value range.
    *
    * The naive form — `ntile(4)` over an unpartitioned window — funnels
    * the whole fact table through ONE task (a single-partition global
    * sort). This computes the bit-identical bucket assignment distributed
    * via [[graft.ops.Ranking.withNtile]]: range-partition on the order
    * key, per-range `row_number` (a window partitioned by the range id —
    * parallel), broadcast prefix-count offsets → exact global rank →
    * ntile arithmetic. No stage sees more than one range partition's rows;
    * the only unpartitioned window is the offsets prefix sum, one row per
    * PARTITION (cluster metadata, not data).
    *
    * Cost shape (`Dev one`, warm): FLAT across sf0.001→0.01→0.1
    * (1.20/1.08/1.16s) — the ~5-stage pipeline's scheduling floor, data
    * cost invisible at these SFs. The retired single-task ntile read
    * 0.21s at sf0.1 only because 1.5M rows sort trivially in one task —
    * the exact shape that stops existing at 100×.
    */
  def histogramQuantile(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Ranking.withNtile(
        Readers.table(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice"), col("o_orderkey")), 4, "q")
      .groupBy("q")
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("q")

  val histogramQuantileSql: String =
    """SELECT q, count(*) AS n,
      |  round(min(o_totalprice), 2) AS lo,
      |  round(max(o_totalprice), 2) AS hi
      |FROM (SELECT o_totalprice,
      |        CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER)
      |          AS q
      |      FROM orders)
      |GROUP BY q ORDER BY q""".stripMargin

  /** Collect-style aggregation: the distinct values of a group gathered
    * into one deterministic string (sorted collect_set ≡ string_agg
    * DISTINCT ... ORDER BY).
    */
  def aggCollect(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
          .as("priorities"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  val aggCollectSql: String =
    """SELECT o_orderstatus,
      |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
      |    AS priorities,
      |  count(DISTINCT o_orderpriority) AS n_priorities,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Generator null-preservation: `explode_outer` keeps a row (with a null
    * element) for empty arrays, where plain `explode` drops the parent row
    * — the LEFT-JOIN-shaped generator. Short documents (< 3 words, no
    * shingles) prove the distinction.
    */
  def explodeOuterCounts(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        explode_outer(graft.ops.TextDedup.shinglesFromWords(col("w"))).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_rows"), count(col("s")).as("n_shingles"))
      .orderBy("doc_id")

  val explodeOuterCountsSql: String =
    """SELECT d.doc_id,
      |  CAST(greatest(coalesce(sh.n, 0), 1) AS BIGINT) AS n_rows,
      |  CAST(coalesce(sh.n, 0) AS BIGINT) AS n_shingles
      |FROM documents d
      |LEFT JOIN (
      |  SELECT doc_id, count(*) AS n FROM (
      |    SELECT doc_id,
      |      unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |              for i in range(1, greatest(len(w) - 1, 1))]) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      |  GROUP BY doc_id) sh USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Split-family string functions: split_part, element_at over split,
    * size, contains/startswith/endswith predicates.
    */
  def stringSplitOps(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "orders")
      // sort first, compute after (see scalarFuncs): the split/contains
      // battery otherwise ran twice — once for the range sampler, once
      // for the real pass
      .select("o_orderkey", "o_orderpriority")
      .orderBy("o_orderkey")
      .select(col("o_orderkey"),
        split_part(col("o_orderpriority"), lit("-"), lit(1)).as("pri_code"),
        split_part(col("o_orderpriority"), lit("-"), lit(2)).as("pri_name"),
        element_at(split(col("o_orderpriority"), "-"), -1).as("pri_last"),
        size(split(col("o_orderpriority"), "-")).cast("int").as("n_parts"),
        col("o_orderpriority").contains("URGENT").as("is_urgent_word"),
        col("o_orderpriority").startsWith("1").as("is_top"),
        col("o_orderpriority").endsWith("W").as("ends_w"))

  val stringSplitOpsSql: String =
    """SELECT o_orderkey,
      |  split_part(o_orderpriority, '-', 1) AS pri_code,
      |  split_part(o_orderpriority, '-', 2) AS pri_name,
      |  string_split(o_orderpriority, '-')[-1] AS pri_last,
      |  CAST(len(string_split(o_orderpriority, '-')) AS INTEGER) AS n_parts,
      |  contains(o_orderpriority, 'URGENT') AS is_urgent_word,
      |  starts_with(o_orderpriority, '1') AS is_top,
      |  ends_with(o_orderpriority, 'W') AS ends_w
      |FROM orders ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "explode_outer_counts" -> explodeOuterCounts,
    "string_split_ops" -> stringSplitOps,
    "histogram_quantile" -> histogramQuantile,
    "agg_collect" -> aggCollect,
    "profile_columns" -> profileColumns,
    "histogram_price" -> histogramPrice,
    "window_rank_variants" -> windowRankVariants,
    "array_hof" -> arrayHof,
    "set_ops_all" -> setOpsAll,
    "join_full_outer" -> joinFullOuter,
    "regex_ops" -> regexOps,
    "topk_per_group" -> topkPerGroup,
    "sliding_window" -> slidingWindow,
    "scalar_funcs" -> scalarFuncs,
    "agg_approx_sketch" -> aggApproxSketch,
    "agg_cube" -> aggCube,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_filtered" -> aggFiltered,
    "agg_percentiles" -> aggPercentiles,
    "agg_stats" -> aggStats,
    "pivot_status" -> pivotStatus,
    "unpivot_measures" -> unpivotMeasures,
    "window_navigation" -> windowNavigation,
    "window_range_frame" -> windowRangeFrame,
    "join_semi_anti" -> joinSemiAnti,
    "join_asof" -> joinAsof,
    "join_asof_forward" -> joinAsofForward,
    "join_asof_nearest" -> joinAsofNearest,
    "join_asof_tolerance" -> joinAsofTolerance,
    "join_asof_nearest_tolerance" -> joinAsofNearestTolerance,
    "join_asof_lateral_sql" -> joinAsofLateralSql,
    "join_asof_forward_lateral_sql" -> joinAsofForwardLateralSql,
    "join_asof_nearest_lateral_sql" -> joinAsofNearestLateralSql,
    "join_asof_tolerance_lateral_sql" -> joinAsofToleranceLateralSql,
    "join_range" -> joinRange,
    "sample_hash" -> sampleHash,
    "fuzzy_name_pairs" -> fuzzyNamePairs,
    "fuzzy_jaro" -> fuzzyJaro,
    "entity_resolve" -> entityResolve
  )

  val oracle: Map[String, String] = Map(
    "explode_outer_counts" -> explodeOuterCountsSql,
    "string_split_ops" -> stringSplitOpsSql,
    "histogram_quantile" -> histogramQuantileSql,
    "agg_collect" -> aggCollectSql,
    "profile_columns" -> profileColumnsSql,
    "histogram_price" -> histogramPriceSql,
    "window_rank_variants" -> windowRankVariantsSql,
    "array_hof" -> arrayHofSql,
    "set_ops_all" -> setOpsAllSql,
    "join_full_outer" -> joinFullOuterSql,
    "regex_ops" -> regexOpsSql,
    "topk_per_group" -> topkPerGroupSql,
    "sliding_window" -> slidingWindowSql,
    "scalar_funcs" -> scalarFuncsSql,
    "agg_approx_sketch" -> aggApproxSketchSql,
    "agg_cube" -> aggCubeSql,
    "agg_grouping_sets" -> aggGroupingSetsSql,
    "agg_filtered" -> aggFilteredSql,
    "agg_percentiles" -> aggPercentilesSql,
    "agg_stats" -> aggStatsSql,
    "pivot_status" -> pivotStatusSql,
    "unpivot_measures" -> unpivotMeasuresSql,
    "window_navigation" -> windowNavigationSql,
    "window_range_frame" -> windowRangeFrameSql,
    "join_semi_anti" -> joinSemiAntiSql,
    "join_asof" -> joinAsofSql,
    "join_asof_forward" -> joinAsofForwardSql,
    "join_asof_nearest" -> joinAsofNearestSql,
    "join_asof_tolerance" -> joinAsofToleranceSql,
    "join_asof_nearest_tolerance" -> joinAsofNearestToleranceSql,
    "join_asof_lateral_sql" -> joinAsofSql,
    "join_asof_forward_lateral_sql" -> joinAsofForwardSql,
    "join_asof_nearest_lateral_sql" -> joinAsofNearestLateralSqlOracle,
    "join_asof_tolerance_lateral_sql" -> joinAsofToleranceSql,
    "join_range" -> joinRangeSql,
    "sample_hash" -> sampleHashSql,
    "fuzzy_name_pairs" -> fuzzyNamePairsSql,
    "fuzzy_jaro" -> fuzzyJaroSql,
    "entity_resolve" -> entityResolveSql
  )
}
