package graft.ops

import org.apache.spark.sql.SparkSession

/** Catalog registration + statistics collection for the testdata star —
  * the prerequisite for COST-BASED optimization.
  *
  * Path-based reads (`spark.read.parquet(...)`) carry only a size
  * estimate, so Catalyst's cost-based join reorder never fires on them.
  * The production posture at 100 TB is different: tables live in a
  * catalog and `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`
  * maintains row counts + NDV/min/max histograms, and then
  * `CostBasedJoinReorder` re-orders multi-join chains so selective
  * dimensions shrink the fact FIRST — the optimizer-level twin of the
  * runtime AQE re-planning the suite already exercises. This helper
  * registers EXTERNAL tables over the existing parquet (no copy) and
  * analyzes the join keys once per (session, dir); `graft_cbo_*` names
  * are scoped by an md5 digest of the dir path — collision-resistant,
  * unlike `String.hashCode`, where a collision would make
  * `CREATE TABLE IF NOT EXISTS` silently reuse the first dir's
  * LOCATION and analyze the wrong scale's data.
  */
object CatalogStats {

  private val done = new graft.SessionMemo[String, Map[String, String]]

  /** Key columns that get column-level stats per table. */
  private val StarKeys: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
      "l_linenumber"),
    "orders" -> Seq("o_orderkey"),
    "part" -> Seq("p_partkey"))

  /** Ensure the star tables for `dir` exist in the session catalog with
    * fresh column statistics; returns logical-name → catalog-name.
    * Idempotent and memoized — the ANALYZE scans run once per
    * (session, dir).
    */
  def ensureStarStats(spark: SparkSession, dir: String): Map[String, String] =
    done(spark, dir) {
      StarKeys.map { case (table, keys) =>
        val name = s"graft_cbo_${table}_" + dirDigest(dir)
        spark.sql(s"CREATE TABLE IF NOT EXISTS $name USING parquet " +
          s"LOCATION '$dir/$table.parquet'")
        spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS " +
          keys.mkString(", "))
        table -> name
      }
    }

  /** Collision-resistant table-name suffix for a data dir (first 12 hex
    * chars of the path's md5 — 48 bits, vs `String.hashCode`'s trivially
    * collidable 32).
    */
  private[graft] def dirDigest(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** Run `body` with cost-based optimization (and join reorder) enabled,
    * restoring the session's previous settings after. NOTE: Spark reads
    * these flags at OPTIMIZATION time, not DataFrame-construction time —
    * callers must force the work (collect, or
    * `queryExecution.optimizedPlan`) INSIDE `body` for the flags to have
    * any effect.
    */
  def withCbo[T](spark: SparkSession)(body: => T): T = {
    withCboImpl(spark)(body)
  }

  /** Build a DataFrame under CBO and return a frame whose LOGICAL PLAN
    * IS the CBO-optimized plan. Spark reads the CBO flags at
    * OPTIMIZATION time and every ACTION builds a fresh QueryExecution
    * over the frame's logical plan — so merely forcing
    * `queryExecution.executedPlan` inside the scope pins nothing for a
    * later `.write`/`.count`, which re-optimizes the ANALYZED plan with
    * the restored (CBO-off) conf. Splicing the memoized
    * `optimizedPlan` back in as the logical plan makes the CBO-chosen
    * shape what every downstream action re-uses (stats-gated rewrites
    * are already applied; re-optimization cannot un-apply them, and
    * [[graft.plans.DistributeGlobalRank]] cannot re-fire on the
    * replacement — its windows are range-id-partitioned with no column
    * stats, or sit above structural limits). Unlike the old
    * collect-inside-the-scope contract this stays LAZY and
    * unbounded-safe: nothing is materialized on the driver, so a
    * linear-in-data result flows executor-to-sink at any scale.
    */
  def cboOptimized(spark: SparkSession)(build: => org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val optimized = withCboImpl(spark)(build.queryExecution.optimizedPlan)
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, optimized)
  }

  private def withCboImpl[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")(body)

  /** Run `body` with the given session-conf settings, restoring each
    * key's previous value (or unset state) after. Same optimization-time
    * caveat as [[withCbo]]: conf-sensitive work must be FORCED inside
    * `body`.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)
                 (body: => T): T = {
    val conf = spark.conf
    val prev = settings.map { case (k, _) => k -> conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
