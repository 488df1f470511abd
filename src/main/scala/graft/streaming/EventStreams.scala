package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming twins of the batch event analytics: the same
  * declarative transforms applied to an unbounded source. Callers supply
  * any streaming DataFrame with (ts: timestamp, user_id, event_type,
  * value) — `readStream` over a parquet/kafka source, or MemoryStream in
  * tests.
  *
  * Watermarks bound state: an hour-window aggregate keeps only windows
  * newer than (max event time − watermark); session state is evicted the
  * same way. At 100 TB/day the state store is the scale constraint — these
  * queries key state by (window, event_type) and (user, session), both of
  * which are bounded by the watermark horizon, not by history.
  */
object EventStreams {

  /** Tumbling one-hour windowed counts/sums with a lateness watermark —
    * streaming twin of `Analytics.tumblingWindow`.
    */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based session windows per user (30-minute inactivity), the
    * streaming twin of `graft.ops.Sessionize` — `session_window` merges
    * events whose gaps are under the timeout, watermark evicts closed
    * sessions from the state store.
    */
  def sessionAggregates(events: DataFrame, gap: String = "30 minutes",
                        watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Sliding (hopping) windows — streaming twin of
    * `AnalyticsExt.slidingWindow`. Each event contributes to
    * window/slide overlapping windows; state per open window is evicted
    * at the watermark like the tumbling case.
    */
  def slidingCounts(events: DataFrame, watermark: String = "2 hours")
  : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Exact streaming dedup on the event id: first occurrence wins,
    * duplicates arriving within the watermark horizon are dropped, and —
    * the part that makes it deployable — `withWatermark` +
    * `dropDuplicatesWithinWatermark` EVICTS seen-ids older than the
    * horizon, so state is bounded by (arrival rate × watermark), not by
    * the life of the stream. The batch twin is `dedup_exact`/
    * `dedup_keep_first`.
    */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours")
  : DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click paired with the same user's
    * purchases in the preceding hour — the bounded-state streaming
    * analogue of the batch as-of join ([[graft.ops.AsOfJoin]]). The time
    * bound on BOTH inputs is what lets each side's join state be evicted
    * at the watermark; an unbounded-time stream join cannot release
    * state.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        watermark: String = "1 hour"): DataFrame =
    intervalJoin(clicks, purchases, watermark, "inner")

  /** LEFT OUTER stream-stream interval join: every click eventually
    * emits — matched rows as they pair up, unmatched rows with null
    * purchase columns ONLY once the watermark proves no in-window
    * purchase can still arrive. That deferred null is the semantic heart
    * of streaming outer joins: correctness depends on the state-eviction
    * clock, so the time bound is not an optimization here but what makes
    * the null answer ever legal. Same bounded state as the inner
    * variant.
    */
  def clickPurchaseJoinOuter(clicks: DataFrame, purchases: DataFrame,
                             watermark: String = "1 hour"): DataFrame =
    intervalJoin(clicks, purchases, watermark, "left_outer")

  /** Clicks joined to the same user's purchases in the hour up to each
    * click, both sides watermarked by `watermark`.
    */
  private def intervalJoin(clicks: DataFrame, purchases: DataFrame,
                           watermark: String, joinType: String): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"),
      joinType)
      .select("user_id", "click_ts", "purchase_ts", "purchase_value")
  }

  /** Point-in-time (SCD-2) enrichment of a stream against a STATIC
    * dimension — the production arrangement: the dimension is built
    * nightly by the batch [[graft.ops.Behavior.scd2]], the live stream
    * joins the version valid AT each event's timestamp. Because SCD-2
    * validity intervals tile time per key, at most one version matches —
    * the join never fans out, and a left join marks events before the
    * key's first version with null state rather than dropping them.
    *
    * Shape: a stream-static join needs NO state store (nothing to
    * watermark — the static side is complete); the interval predicate is
    * a residual on the key equi-join, and Spark re-plans the static side
    * every micro-batch, so a dimension refresh lands without restarting
    * the stream (re-read via the standard source path; broadcast when
    * small). This is the streaming twin of the batch `scd2_lookup`
    * (which resolves the same semantics as a backward as-of join).
    */
  def enrichPointInTime(stream: DataFrame, dim: DataFrame,
                        key: String = "user_id", tsCol: String = "ts",
                        payload: Seq[String] = Seq("version", "state"))
  : DataFrame = {
    val us = unix_micros(col(tsCol))
    val d = dim.select((col(key).as("__dk") +: col("valid_from_us") +:
      col("valid_to_us") +: payload.map(col)): _*)
    stream.join(d,
        col(key) === col("__dk") &&
          col("valid_from_us") <= us &&
          (col("valid_to_us").isNull || us < col("valid_to_us")),
        "left_outer")
      .drop("__dk", "valid_from_us", "valid_to_us")
  }
}
