package graft.queries

import graft.etl.Readers
import graft.ops.{AsOfJoin, Behavior, Sessionize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics queries over `events`: ordered funnel, cohort
  * retention, last-touch attribution, z-score outliers. Each has a DuckDB
  * oracle spelled with the same window frames; timestamps travel as
  * epoch-micros BIGINTs (exact in both engines).
  */
object BehaviorQueries {

  val FunnelSteps = Seq("view", "click", "purchase")
  val TouchTypes  = Seq("click", "error", "signup", "view")

  /** Per-user ordered funnel view → click → purchase: first qualifying
    * micros per step + depth. "Ordered" = each step strictly after a
    * qualifying previous step in (ts, event_id) stream order.
    */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame =
    Behavior.funnel(Readers.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        FunnelSteps)
      .orderBy("user_id")

  private val beforeFrame =
    """PARTITION BY user_id ORDER BY us, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING""".stripMargin

  val funnelConversionSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |),
       |q0 AS (
       |  SELECT *, CASE WHEN event_type = '${FunnelSteps(0)}' THEN us END AS qual_0
       |  FROM e
       |),
       |q1 AS (
       |  SELECT *, CASE WHEN event_type = '${FunnelSteps(1)}' AND
       |      min(qual_0) OVER ($beforeFrame) IS NOT NULL
       |    THEN us END AS qual_1
       |  FROM q0
       |),
       |q2 AS (
       |  SELECT *, CASE WHEN event_type = '${FunnelSteps(2)}' AND
       |      min(qual_1) OVER ($beforeFrame) IS NOT NULL
       |    THEN us END AS qual_2
       |  FROM q1
       |)
       |SELECT user_id,
       |  CAST(min(qual_0) AS BIGINT) AS step1_us,
       |  CAST(min(qual_1) AS BIGINT) AS step2_us,
       |  CAST(min(qual_2) AS BIGINT) AS step3_us,
       |  CAST(CASE WHEN min(qual_2) IS NOT NULL THEN 3
       |            WHEN min(qual_1) IS NOT NULL THEN 2
       |            WHEN min(qual_0) IS NOT NULL THEN 1
       |            ELSE 0 END AS INT) AS depth
       |FROM q2 GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Weekly cohort retention triangle: (first-event week, week offset) →
    * distinct active users.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame =
    Behavior.cohortRetention(Readers.events(spark, dir),
        col("user_id"), col("ts"))
      .orderBy("cohort_week", "week_offset")

  val cohortRetentionSql: String =
    """WITH c AS (
      |  SELECT user_id,
      |    date_trunc('week', min(CAST(ts AS TIMESTAMP))
      |      OVER (PARTITION BY user_id)) AS cohort_week,
      |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
      |  FROM events
      |)
      |SELECT cohort_week,
      |  CAST(date_diff('day', CAST(cohort_week AS DATE), CAST(week AS DATE)) // 7
      |       AS BIGINT) AS week_offset,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Last-touch attribution: each purchase attributed to the user's most
    * recent preceding non-purchase event (packed-long window argmax).
    */
  def attributionLastTouch(spark: SparkSession, dir: String): DataFrame =
    Behavior.lastTouchAttribution(Readers.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        conversionType = "purchase", touchTypes = TouchTypes)
      .orderBy("event_id")

  val attributionLastTouchSql: String = {
    val code = TouchTypes.zipWithIndex
      .map { case (t, i) => s"WHEN '$t' THEN $i" }.mkString(" ")
    val decode = TouchTypes.zipWithIndex
      .map { case (t, i) => s"WHEN $i THEN '$t'" }.mkString(" ")
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |),
       |p AS (
       |  SELECT *,
       |    max(CASE WHEN event_type <> 'purchase'
       |        THEN us * 8 + (CASE event_type $code END) END)
       |      OVER ($beforeFrame) AS prev_packed
       |  FROM e
       |)
       |SELECT event_id, user_id, us AS purchase_us,
       |  CASE prev_packed % 8 $decode END AS attr_type,
       |  CAST(prev_packed // 8 AS BIGINT) AS attr_us
       |FROM p WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin
  }

  val OutlierThreshold = 2.5

  /** Per-event-type z-score outliers on `value` (|z| > 2.5, z rounded
    * before thresholding so both engines make the same keep decision).
    */
  def outlierZscore(spark: SparkSession, dir: String): DataFrame =
    Behavior.zScoreOutliers(
        Readers.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value")),
        col("event_type"), col("value"), OutlierThreshold)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 6).as("value_r"), col("z"))
      .orderBy("event_id")

  val outlierZscoreSql: String =
    s"""WITH s AS (
       |  SELECT event_id, event_type, value,
       |    round((value - avg(value) OVER (PARTITION BY event_type))
       |          / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS z
       |  FROM events
       |)
       |SELECT event_id, event_type, round(value, 6) AS value_r, z
       |FROM s WHERE abs(z) > $OutlierThreshold ORDER BY event_id""".stripMargin

  /** SCD-type-2 dimension build: per user, versioned event-type validity
    * intervals (consecutive same-type events collapse into one version).
    */
  def scd2Build(spark: SparkSession, dir: String): DataFrame =
    Behavior.scd2(Readers.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumnRenamed("k", "user_id")
      .orderBy("user_id", "version")

  val scd2BuildSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    event_type AS state
      |  FROM events
      |),
      |ch AS (
      |  SELECT * FROM (
      |    SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS prev
      |    FROM e)
      |  WHERE state IS DISTINCT FROM prev
      |)
      |SELECT user_id, version, state, valid_from_us, valid_to_us,
      |  valid_to_us IS NULL AS is_current
      |FROM (
      |  SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version, state,
      |    us AS valid_from_us, lead(us) OVER w AS valid_to_us
      |  FROM ch
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
      |ORDER BY user_id, version""".stripMargin

  /** Point-in-time (SCD-2) lookup: each purchase joined to the state
    * version valid AT its timestamp. Dimension = SCD-2 build over the
    * user's NON-purchase events; the lookup is the as-of backward join
    * (one keyed window pass — never an interval nested loop), which is
    * exactly the PIT join because SCD-2 validity intervals tile time.
    */
  def scd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    val events = Readers.events(spark, dir)
    val versions = Behavior.scd2(
        events.filter(col("event_type") =!= "purchase"),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumnRenamed("k", "user_id")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"))
    AsOfJoin.backward(purchases, versions, key = "user_id",
        leftTime = "purchase_us", rightTime = "valid_from_us",
        rightPayload = Seq("version", "state"), rightTieBreak = "version")
      .orderBy("event_id")
  }

  val scd2LookupSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    event_type AS state
      |  FROM events WHERE event_type <> 'purchase'
      |),
      |ch AS (
      |  SELECT * FROM (
      |    SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS prev
      |    FROM e)
      |  WHERE state IS DISTINCT FROM prev
      |),
      |v AS (
      |  SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version, state,
      |    us AS valid_from_us, lead(us) OVER w AS valid_to_us
      |  FROM ch
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |),
      |p AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id, p.purchase_us,
      |  v.version AS asof_version, v.state AS asof_state
      |FROM p LEFT JOIN v
      |  ON v.user_id = p.user_id
      | AND v.valid_from_us <= p.purchase_us
      | AND (v.valid_to_us IS NULL OR p.purchase_us < v.valid_to_us)
      |ORDER BY p.event_id""".stripMargin

  /** Rolling 7-day active users (the WAU curve): a sliding COUNT DISTINCT,
    * which no engine supports as a window function — the scalable
    * formulation explodes each (user, active-day) onto the ≤7 report days
    * it contributes to and distinct-counts per report day. Work is
    * O(active-pairs × window), independent of total event volume (events
    * collapse to distinct (user, day) first — that dedup is the only
    * event-volume-sized shuffle).
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Readers.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .distinct()
    val span = ud.agg(max(col("day")).as("mx"))
    ud.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("report_day"))
      .crossJoin(broadcast(span))
      .filter(col("report_day") <= col("mx"))
      .groupBy("report_day")
      .agg(count_distinct(col("user_id")).as("active_users"))
      .orderBy("report_day")
  }

  /** Each user's active days `ud`, the last day `mx`, and every
    * (user, report day) pair a 7-day window puts the user in (`e`).
    */
  private def activeWindowCtes: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    date_diff('day', DATE '1970-01-01',
      |              CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
      |  FROM events
      |),
      |mx AS (SELECT max(day) AS mx FROM ud),
      |e AS (
      |  SELECT user_id, unnest(generate_series(day, day + 6)) AS report_day
      |  FROM ud
      |)""".stripMargin

  val rollingActiveUsersSql: String =
    s"""$activeWindowCtes
      |SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT)
      |  AS active_users
      |FROM e CROSS JOIN mx WHERE report_day <= mx
      |GROUP BY report_day ORDER BY report_day""".stripMargin

  /** HLL sketch precision for [[rollingActiveSketch]] (rse = 1.04/√2^lgK). */
  val RollLgK = 12

  /** Sketch-based rolling 7-day active users — the 100 TB twin of
    * [[rollingActiveUsers]]. The exact query duplicates every (user, day)
    * row up to 7× before a `count_distinct` whose per-day state is
    * user-count-sized; this path builds ONE HLL sketch per day (map-side
    * combined, fixed 2^lgK-byte state) and merges 7 sketches per report
    * day — at scale the daily sketches are a few KB each and the rolling
    * union touches no raw data. Published contract (the
    * [[segmentOverlap]] pattern): the exact count plus a boolean that the
    * estimate landed inside the proven 3·rse envelope — the estimate
    * itself is engine-specific (DataSketches HLL), so the oracle checks
    * the envelope, not the value; the exact yardstick column doubles as
    * the local verification and would be dropped in production.
    */
  def rollingActiveSketch(spark: SparkSession, dir: String): DataFrame = {
    val days = Readers.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
    val perDay = days.groupBy("day")
      .agg(expr(s"hll_sketch_agg(user_id, $RollLgK)").as("sk"))
    val bounds = perDay.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("report_day"))
    // range join on the (tiny, day-level) sketch table: each report day
    // merges its trailing week's sketches; days whose window saw no
    // activity drop out — the same set the exact query emits
    val est = spine.join(broadcast(perDay),
        col("day").between(col("report_day") - 6, col("report_day")))
      .groupBy("report_day")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = days.distinct()
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("report_day"))
      .crossJoin(broadcast(bounds))
      .filter(col("report_day") <= col("hi"))
      .groupBy("report_day")
      .agg(count_distinct(col("user_id")).as("active_users"))
    val rse3 = 3.0 * 1.04 / math.sqrt((1 << RollLgK).toDouble)
    est.join(exact, Seq("report_day"))
      .select(col("report_day"), col("active_users"),
        (abs(col("est") - col("active_users")) <=
          lit(rse3) * col("active_users")).as("ok"))
      .orderBy("report_day")
  }

  val rollingActiveSketchSql: String =
    s"""$activeWindowCtes
      |SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT)
      |  AS active_users, TRUE AS ok
      |FROM e CROSS JOIN mx WHERE report_day <= mx
      |GROUP BY report_day ORDER BY report_day""".stripMargin

  /** Robust (MAD) outlier bounds per event type: median and the median
    * absolute deviation — the location/scale pair that one wild value
    * can't drag, unlike mean/stddev ([[outlierZscore]]'s pair). Two exact
    * median passes (the second over |x − med|, med broadcast back); emits
    * per-type bounds plus the count outside med ± 3·1.4826·MAD. Both
    * medians come from the bracket-and-refine
    * [[graft.ops.Quantiles.exact]] — the built-in exact `percentile`
    * would hold each event type's whole value→count map in one
    * aggregation buffer, the r6-flagged unbounded-group-size OOM.
    */
  def outlierMad(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quantiles
    // one lazy checkpoint of the 2-column slice feeds BOTH exact-median
    // chains AND the final counting aggregate — the source is evaluated
    // once, the ~7 downstream passes read the compact materialization
    val ev = Readers.events(spark, dir).select(col("event_type"), col("value"))
      .localCheckpoint(false)
    // the per-type scalar frames are ALSO lazily checkpointed: med is
    // referenced by every one of the MAD chain's three internal passes
    // (and bounded by the final count pass), and each broadcast reference
    // would otherwise re-run the whole upstream exact-quantile chain —
    // measured 3x the med cost at sf0.1 before these two lines
    val med = Quantiles.exact(ev, Seq(Quantiles.Q("med", col("value"), 0.5)),
      groupCols = Seq("event_type"), materialize = false)
      .localCheckpoint(false)
    val mad = Quantiles.exact(
        ev.join(broadcast(med), Seq("event_type")),
        Seq(Quantiles.Q("mad", abs(col("value") - col("med")), 0.5)),
        groupCols = Seq("event_type"), materialize = false)
      .join(broadcast(med), Seq("event_type"))
    val k = lit(3.0 * 1.4826)
    val bounded = mad.select(col("event_type"), col("med"), col("mad"),
      (col("med") - k * col("mad")).as("lo"),
      (col("med") + k * col("mad")).as("hi"))
      .localCheckpoint(false)
    ev.join(broadcast(bounded), Seq("event_type"))
      .groupBy("event_type")
      .agg(round(first(col("med")), 6).as("med"),
        round(first(col("mad")), 6).as("mad"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  val outlierMadSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1
      |),
      |mad AS (
      |  SELECT e.event_type,
      |    quantile_cont(abs(e.value - m.med), 0.5) AS mad, any_value(m.med) AS med
      |  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
      |)
      |SELECT e.event_type, round(any_value(m.med), 6) AS med,
      |  round(any_value(m.mad), 6) AS mad,
      |  CAST(sum(CASE WHEN e.value < m.med - 3.0::DOUBLE * 1.4826::DOUBLE * m.mad
      |                  OR e.value > m.med + 3.0::DOUBLE * 1.4826::DOUBLE * m.mad
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM events e JOIN mad m USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** Time-to-convert distribution: among users who completed the funnel,
    * the latency from first entry step to conversion — min/median/p90/max
    * in seconds, on top of [[funnelConversion]]'s per-user output. The
    * exact p50/p90 come from the bracket-and-refine
    * [[graft.ops.Quantiles.exact]] (one converted-user row per user is
    * still user-count-sized at 100 TB — the built-in exact `percentile`
    * would buffer all of them in one reducer); min/max/count stay one
    * plain constant-state aggregate, cross-joined back.
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quantiles
    val lat = Behavior.funnel(Readers.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        FunnelSteps)
      .filter(col("depth") === FunnelSteps.size)
      .select(((col(s"step${FunnelSteps.size}_us") - col("step1_us"))
        / 1000000L).as("latency_s"))
      // the funnel's window cascade is the expensive part — materialize its
      // tiny per-converted-user output once (lazily), share across the
      // quantile passes and the min/max/count aggregate
      .localCheckpoint(false)
    val q = Quantiles.exact(lat, Seq(
      Quantiles.Q("p50", col("latency_s"), 0.5),
      Quantiles.Q("p90", col("latency_s"), 0.9)), materialize = false)
    lat.agg(count(lit(1)).as("n_converted"),
        round(min(col("latency_s")), 6).as("lat_min"),
        round(max(col("latency_s")), 6).as("lat_max"))
      .crossJoin(broadcast(q))
      .select(col("n_converted"), col("lat_min"),
        round(col("p50"), 6).as("lat_p50"),
        round(col("p90"), 6).as("lat_p90"),
        col("lat_max"))
  }

  val funnelLatencySql: String = {
    val inner = funnelConversionSql.stripSuffix(" ORDER BY user_id")
      .replace("ORDER BY user_id", "")
    s"""WITH f AS ($inner),
       |l AS (
       |  SELECT (step3_us - step1_us) / 1000000.0::DOUBLE AS latency_s
       |  FROM f WHERE depth = ${FunnelSteps.size}
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_converted,
       |  round(min(latency_s), 6) AS lat_min,
       |  round(quantile_cont(latency_s, 0.5), 6) AS lat_p50,
       |  round(quantile_cont(latency_s, 0.9), 6) AS lat_p90,
       |  round(max(latency_s), 6) AS lat_max
       |FROM l""".stripMargin
  }

  /** First-order Markov transition matrix of event types per user stream. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame =
    Behavior.markovTransitions(Readers.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .orderBy("from_state", "to_state")

  val markovTransitionsSql: String =
    """WITH l AS (
      |  SELECT event_type AS to_state,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS from_state
      |  FROM events
      |)
      |SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n,
      |  round(count(*) / (sum(count(*)) OVER (PARTITION BY from_state))::DOUBLE,
      |    6) AS p
      |FROM l WHERE from_state IS NOT NULL
      |GROUP BY from_state, to_state ORDER BY from_state, to_state""".stripMargin

  val PathK = 20

  /** Top-k 3-step behavior paths: the most common consecutive event-type
    * trigrams across user timelines, ties broken lexicographically so the
    * k-cut is engine-stable. Per-user `lead` windows over (ts, event_id)
    * row order — the sequence-mining primitive; the count table is
    * |types|³-bounded, the top-k a TakeOrdered, never a full sort.
    */
  def pathTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    Readers.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type").as("s1"))
      .withColumn("s2", lead(col("s1"), 1).over(w))
      .withColumn("s3", lead(col("s1"), 2).over(w))
      .filter(col("s2").isNotNull && col("s3").isNotNull)
      .groupBy("s1", "s2", "s3").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
      .limit(PathK)
  }

  val pathTopkSql: String =
    s"""WITH l AS (
       |  SELECT event_type AS s1,
       |    lead(event_type, 1) OVER w AS s2,
       |    lead(event_type, 2) OVER w AS s3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id
       |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
       |)
       |SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
       |FROM l WHERE s2 IS NOT NULL AND s3 IS NOT NULL
       |GROUP BY s1, s2, s3
       |ORDER BY n DESC, s1, s2, s3 LIMIT $PathK""".stripMargin

  /** Exponential time-decay attribution half-life (days). */
  val DecayHalfLifeDays = 7.0
  val DecayLookbackDays = 14L

  /** Time-decay multi-touch attribution: every touch inside the lookback
    * window before a purchase earns credit `2^(−Δdays/half-life)`,
    * normalized per conversion so each purchase distributes exactly 1.0;
    * reported as total credit per touch type. The touch↔conversion pairing
    * is a hash equi-join on user_id with the time-range predicate applied
    * on the joined stream — per-user work is (touches × conversions)
    * bounded by the lookback window, the at-scale contract (an unbounded
    * lookback would be the quadratic trap; the window is the product
    * knob).
    */
  def attributionDecay(spark: SparkSession, dir: String): DataFrame = {
    val DayUs = 86400000000L
    val ev = Readers.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
    val touches = ev.filter(col("event_type").isin(TouchTypes: _*))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("us").as("touch_us"))
    val convs = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("us").as("conv_us"))
    val paired = convs.join(touches, Seq("user_id"))
      .filter(col("touch_us") < col("conv_us") &&
        col("touch_us") >= col("conv_us") - lit(DecayLookbackDays * DayUs))
      .withColumn("w", pow(lit(2.0),
        -(col("conv_us") - col("touch_us")).cast("double") /
          lit(DayUs.toDouble) / lit(DecayHalfLifeDays)))
    val perConv = Window.partitionBy("conv_id")
    paired
      .withColumn("credit", col("w") / sum(col("w")).over(perConv))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("credit")), 6).as("credit"))
      .orderBy("touch_type")
  }

  val attributionDecaySql: String = {
    val types = TouchTypes.map(t => s"'$t'").mkString(", ")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |),
       |t AS (SELECT user_id, event_type AS touch_type, us AS touch_us
       |      FROM ev WHERE event_type IN ($types)),
       |c AS (SELECT user_id, event_id AS conv_id, us AS conv_us
       |      FROM ev WHERE event_type = 'purchase'),
       |p AS (
       |  SELECT conv_id, touch_type,
       |    pow(2.0::DOUBLE, -(conv_us - touch_us)::DOUBLE
       |        / 86400000000.0::DOUBLE / ${DecayHalfLifeDays}::DOUBLE) AS w
       |  FROM c JOIN t ON c.user_id = t.user_id
       |    AND touch_us < conv_us
       |    AND touch_us >= conv_us - ${DecayLookbackDays}::BIGINT * 86400000000
       |),
       |n AS (
       |  SELECT touch_type, w / sum(w) OVER (PARTITION BY conv_id) AS credit
       |  FROM p
       |)
       |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
       |  round(sum(credit), 6) AS credit
       |FROM n GROUP BY touch_type ORDER BY touch_type""".stripMargin
  }

  /** Engagement power-law readout: log₂-bucketed histogram of per-user
    * event counts (bucket b covers [2^b, 2^(b+1))). Bucketing is
    * INTEGER-exact via binary-representation length — `floor(log2(n))`
    * through float logs diverges between engines at exact powers of two,
    * so the bucket id never touches a double. Two hash aggregates; the
    * histogram is |buckets|-sized however large the user base.
    */
  def engagementHist(spark: SparkSession, dir: String): DataFrame =
    Readers.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .select(expr("length(bin(n)) - 1").cast("int").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"))
      .withColumn("lo", expr("shiftleft(1L, bucket)"))
      .select("bucket", "lo", "n_users")
      .orderBy("bucket")

  val engagementHistSql: String =
    """WITH u AS (
      |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
      |),
      |b AS (SELECT CAST(length(bin(n)) - 1 AS INTEGER) AS bucket FROM u)
      |SELECT bucket, CAST(1::BIGINT << bucket AS BIGINT) AS lo,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Gaps-and-islands: longest consecutive-active-day streak per user,
    * reported as a streak-length histogram. The island key is the classic
    * `day_idx − row_number()` difference (constant within a run of
    * consecutive days, distinct across gaps) — one keyed window over the
    * per-user DISTINCT day set, so work is bounded by active (user, day)
    * pairs, never raw event volume; every value is an integer, exact in
    * both engines.
    */
  def userStreaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day_idx")
    val days = Readers.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_idx"))
      .distinct()
    days
      .withColumn("grp", col("day_idx") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max(col("len")).as("best"))
      .groupBy(col("best").as("streak_len"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("streak_len")
  }

  val userStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    date_diff('day', DATE '1970-01-01',
      |              CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day_idx
      |  FROM events
      |),
      |runs AS (
      |  SELECT user_id,
      |    day_idx - row_number() OVER (PARTITION BY user_id
      |      ORDER BY day_idx) AS grp
      |  FROM days
      |),
      |lens AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS len
      |  FROM runs GROUP BY user_id, grp
      |),
      |best AS (SELECT user_id, max(len) AS best FROM lens GROUP BY user_id)
      |SELECT best AS streak_len, CAST(count(*) AS BIGINT) AS n_users
      |FROM best GROUP BY best ORDER BY streak_len""".stripMargin

  /** Weekly growth accounting: every active (user, week) classified as
    * NEW (first-ever week), RETAINED (also active the previous week) or
    * RESURRECTED (active before, but not last week); CHURNED falls out
    * arithmetically as `active(w−1) − retained(w)` — every user active
    * last week either retained or churned, so no extra join pays for it.
    * One distinct (user, week) set, one per-user min, one self-join on
    * (user, week−1) presence; all integers, exact in both engines.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val uw = Readers.events(spark, dir)
      .select(col("user_id"),
        // double-divide + cast truncates toward zero, and DuckDB's `//`
        // also truncates (checked: -7//2 = -3) — the engines agree even
        // for pre-epoch days, so the bucketing is pinned to truncation
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long") / 7L).cast("long").as("week_idx"))
      .distinct()
      // no checkpoint: first-week, prev-week probe, and counts all reuse the
      // distinct's exchange (ReuseExchange)
    val firstWeek = uw.groupBy("user_id").agg(min("week_idx").as("first_week"))
    val prev = uw.select(col("user_id"),
      (col("week_idx") + 1L).as("week_idx"), lit(true).as("was_active"))
    val classified = uw
      .join(firstWeek, Seq("user_id"))
      .join(prev, Seq("user_id", "week_idx"), "left")
      .select(col("week_idx"),
        when(col("week_idx") === col("first_week"), "new")
          .when(col("was_active"), "retained")
          .otherwise("resurrected").as("cls"))
    val weekly = classified.groupBy("week_idx")
      .agg(count(when(col("cls") === "new", 1)).as("n_new"),
        count(when(col("cls") === "retained", 1)).as("n_retained"),
        count(when(col("cls") === "resurrected", 1)).as("n_resurrected"))
    val active = uw.groupBy("week_idx").agg(count(lit(1)).as("n_active"))
    weekly
      .join(active.select((col("week_idx") + 1L).as("week_idx"),
        col("n_active").as("prev_active")), Seq("week_idx"), "left")
      .select(col("week_idx"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        (coalesce(col("prev_active"), lit(0L)) - col("n_retained"))
          .as("n_churned"))
      .orderBy("week_idx")
  }

  val growthAccountingSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    date_diff('day', DATE '1970-01-01',
      |              CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week_idx
      |  FROM events
      |),
      |fw AS (SELECT user_id, min(week_idx) AS first_week
      |       FROM uw GROUP BY user_id),
      |cls AS (
      |  SELECT u.week_idx,
      |    CASE WHEN u.week_idx = f.first_week THEN 'new'
      |         WHEN p.user_id IS NOT NULL THEN 'retained'
      |         ELSE 'resurrected' END AS cls
      |  FROM uw u
      |  JOIN fw f ON f.user_id = u.user_id
      |  LEFT JOIN uw p ON p.user_id = u.user_id
      |    AND p.week_idx = u.week_idx - 1
      |),
      |weekly AS (
      |  SELECT week_idx,
      |    CAST(count(*) FILTER (WHERE cls = 'new') AS BIGINT) AS n_new,
      |    CAST(count(*) FILTER (WHERE cls = 'retained') AS BIGINT)
      |      AS n_retained,
      |    CAST(count(*) FILTER (WHERE cls = 'resurrected') AS BIGINT)
      |      AS n_resurrected
      |  FROM cls GROUP BY week_idx
      |),
      |act AS (SELECT week_idx, CAST(count(*) AS BIGINT) AS n_active
      |        FROM uw GROUP BY week_idx)
      |SELECT w.week_idx, n_new, n_retained, n_resurrected,
      |  CAST(COALESCE(a.n_active, 0) - n_retained AS BIGINT) AS n_churned
      |FROM weekly w
      |LEFT JOIN act a ON a.week_idx = w.week_idx - 1
      |ORDER BY w.week_idx""".stripMargin


  /** Funnel scoped to SESSIONS instead of lifetimes: sessionize (30-min
    * gap), then run the ordered funnel per (user, session) — a view
    * yesterday no longer qualifies today's click, which is what
    * product analytics usually means by "conversion". Composition of two
    * existing operators sharing one shuffle family: the session window
    * and the funnel windows both partition by user, so the funnel's
    * (user, session) partitions nest inside the session exchange.
    * Output: sessions per funnel depth with the share of all sessions.
    */
  def sessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.withSessionNo(Readers.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"),
        gapMicros = 30L * 60 * 1000000)
      .withColumn("skey", concat_ws("#", col("user_id"), col("session_no")))
    val f = Behavior.funnel(sess, col("skey"), col("ts"), col("event_id"),
      col("event_type"), FunnelSteps)
    val byDepth = f.groupBy("depth").agg(count(lit(1)).as("n_sessions"))
    val tot = byDepth.agg(sum("n_sessions").cast("double").as("total"))
    byDepth.crossJoin(broadcast(tot))
      .select(col("depth"), col("n_sessions"),
        round(col("n_sessions") / col("total"), 6).as("frac"))
      .orderBy("depth")
  }

  private val sessionBeforeFrame =
    """PARTITION BY user_id, session_no ORDER BY us, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING""".stripMargin

  val sessionFunnelSql: String =
    s"""WITH s AS (
       |  SELECT user_id, event_id, event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id
       |           ORDER BY CAST(ts AS TIMESTAMP), event_id
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM (
       |    SELECT user_id, ts, event_id, event_type,
       |      CASE WHEN prev_us IS NULL
       |                OR epoch_us(CAST(ts AS TIMESTAMP)) - prev_us > 1800000000
       |           THEN 1 ELSE 0 END AS is_new
       |    FROM (
       |      SELECT user_id, ts, event_id, event_type,
       |        lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
       |          PARTITION BY user_id
       |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
       |      FROM events))
       |),
       |q0 AS (
       |  SELECT *, CASE WHEN event_type = '${FunnelSteps(0)}' THEN us END AS qual_0
       |  FROM s
       |),
       |q1 AS (
       |  SELECT *, CASE WHEN event_type = '${FunnelSteps(1)}' AND
       |      min(qual_0) OVER ($sessionBeforeFrame) IS NOT NULL
       |    THEN us END AS qual_1
       |  FROM q0
       |),
       |q2 AS (
       |  SELECT *, CASE WHEN event_type = '${FunnelSteps(2)}' AND
       |      min(qual_1) OVER ($sessionBeforeFrame) IS NOT NULL
       |    THEN us END AS qual_2
       |  FROM q1
       |),
       |f AS (
       |  SELECT user_id, session_no,
       |    CAST(CASE WHEN min(qual_2) IS NOT NULL THEN 3
       |              WHEN min(qual_1) IS NOT NULL THEN 2
       |              WHEN min(qual_0) IS NOT NULL THEN 1
       |              ELSE 0 END AS INT) AS depth
       |  FROM q2 GROUP BY user_id, session_no
       |),
       |d AS (SELECT depth, CAST(count(*) AS BIGINT) AS n_sessions
       |      FROM f GROUP BY 1),
       |t AS (SELECT sum(n_sessions)::DOUBLE AS total FROM d)
       |SELECT depth, n_sessions, round(n_sessions / total, 6) AS frac
       |FROM d CROSS JOIN t ORDER BY depth""".stripMargin


  /** Watermark-lateness audit: treating event_id as ARRIVAL order (the
    * generator assigns ids in emission order), each event's lateness is
    * how far the stream's event-time high-water mark had already passed
    * it on arrival. The histogram answers the question every streaming
    * deployment must: "how much state does watermark delay X buy, and
    * what fraction of events would it drop" — computed from batch
    * history BEFORE committing a streaming config. One window pass in
    * arrival order + one aggregate.
    */
  def latenessAudit(spark: SparkSession, dir: String): DataFrame = {
    // arrival model: daily files delivered in day order, rows UNORDERED
    // within each day (md5 of the id — the deterministic stand-in for
    // multi-source interleaving). The generator's event_id order is
    // perfectly time-sorted, which would make the audit vacuous.
    //
    // The running high-water mark is computed HIERARCHICALLY: a naive
    // `max() OVER (ORDER BY day, h, event_id)` is one unpartitioned
    // window — the whole table collapses into a single sort task. Instead
    // the arrival order's leading key (day) partitions the heavy window:
    //   hwm(row) = max(running max WITHIN the row's day,
    //                  max over all PRIOR days' totals)
    // The within-day window shards across days; the cross-day running max
    // is a window over one row PER DAY (thousands of rows at any scale),
    // broadcast back onto the events. Identical value, scale-correct shape.
    //
    // Deliberate trade: `base` feeds both the per-day aggregate and the
    // windowed main branch, and the two shapes share no exchange — the
    // events parquet is scanned twice. Two parallel scans beat the one
    // scan + single-partition global sort they replace (the sort is the
    // non-scalable part); a deployment that already materializes daily
    // maxima (typical ingestion bookkeeping) gets scan #2 for free.
    val withinDay = Window.partitionBy("day")
      .orderBy(col("h"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = Readers.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("day", expr("us div 86400000000"))
      .withColumn("h", md5(col("event_id").cast("string")))
    val priorDays = base.groupBy("day").agg(max("us").as("day_max"))
      .withColumn("prior_hwm", max(col("day_max")).over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)))
      .select("day", "prior_hwm")
    val lateness = base
      .withColumn("day_run", max(col("us")).over(withinDay))
      .join(broadcast(priorDays), Seq("day"))
      // greatest() ignores the null prior_hwm of the first day
      .withColumn("hwm", greatest(col("day_run"), col("prior_hwm")))
      // integer seconds (div), matching the oracle's floor division —
      // double '/' would put a 0.5s-late event in a different bucket
      .withColumn("late_s", expr("(hwm - us) div 1000000"))
    val buckets = lateness.select(
      when(col("late_s") === 0, "0_on_time")
        .when(col("late_s") <= 60, "1_under_1m")
        .when(col("late_s") <= 3600, "2_under_1h")
        .when(col("late_s") <= 86400, "3_under_1d")
        .otherwise("4_over_1d").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val tot = buckets.agg(sum("n").cast("double").as("total"))
    buckets.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n"),
        round(col("n") / col("total"), 6).as("frac"))
      .orderBy("bucket")
  }

  val latenessAuditSql: String =
    """WITH e AS (
      |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    md5(event_id::VARCHAR) AS h
      |  FROM events
      |), l AS (
      |  SELECT (max(us) OVER (ORDER BY day, h, event_id
      |            ROWS UNBOUNDED PRECEDING) - us) // 1000000 AS late_s
      |  FROM e
      |), b AS (
      |  SELECT CASE WHEN late_s = 0 THEN '0_on_time'
      |              WHEN late_s <= 60 THEN '1_under_1m'
      |              WHEN late_s <= 3600 THEN '2_under_1h'
      |              WHEN late_s <= 86400 THEN '3_under_1d'
      |              ELSE '4_over_1d' END AS bucket,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM l GROUP BY 1
      |), t AS (SELECT sum(n)::DOUBLE AS total FROM b)
      |SELECT bucket, n, round(n / total, 6) AS frac
      |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "session_funnel" -> sessionFunnel,
    "lateness_audit" -> latenessAudit,
    "growth_accounting" -> growthAccounting,
    "user_streaks" -> userStreaks,
    "engagement_hist" -> engagementHist,
    "path_topk" -> pathTopk,
    "attribution_decay" -> attributionDecay,
    "funnel_conversion" -> funnelConversion,
    "cohort_retention" -> cohortRetention,
    "attribution_last_touch" -> attributionLastTouch,
    "outlier_zscore" -> outlierZscore,
    "scd2_build" -> scd2Build,
    "scd2_lookup" -> scd2Lookup,
    "rolling_active_users" -> rollingActiveUsers,
    "rolling_active_sketch" -> rollingActiveSketch,
    "outlier_mad" -> outlierMad,
    "funnel_latency" -> funnelLatency,
    "markov_transitions" -> markovTransitions)

  val oracle: Map[String, String] = Map(
    "session_funnel" -> sessionFunnelSql,
    "lateness_audit" -> latenessAuditSql,
    "growth_accounting" -> growthAccountingSql,
    "user_streaks" -> userStreaksSql,
    "engagement_hist" -> engagementHistSql,
    "path_topk" -> pathTopkSql,
    "attribution_decay" -> attributionDecaySql,
    "funnel_conversion" -> funnelConversionSql,
    "cohort_retention" -> cohortRetentionSql,
    "attribution_last_touch" -> attributionLastTouchSql,
    "outlier_zscore" -> outlierZscoreSql,
    "scd2_build" -> scd2BuildSql,
    "scd2_lookup" -> scd2LookupSql,
    "rolling_active_users" -> rollingActiveUsersSql,
    "rolling_active_sketch" -> rollingActiveSketchSql,
    "outlier_mad" -> outlierMadSql,
    "funnel_latency" -> funnelLatencySql,
    "markov_transitions" -> markovTransitionsSql)
}
