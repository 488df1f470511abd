package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse reliability operators: a declarative data-quality check suite
  * (the deequ/dbt-test shape) and CDC upsert (the MERGE shape). Both are
  * the operations a production pipeline runs on every load, so both are
  * built around the cheapest plan that can answer them:
  *
  *   - row-level checks (null / accepted-values / range) for ONE table all
  *     ride a single aggregate pass — a map-side-combined `sum(when(...))`
  *     per check, one scan total no matter how many checks are declared;
  *   - uniqueness is a keyed count-distinct-free shape (`groupBy(key)
  *     .count > 1` then one tiny re-aggregate) — two exchanges of key
  *     cardinality, never a sort;
  *   - referential integrity is a LEFT ANTI join against the parent keys —
  *     broadcastable when the parent is a dimension, and only the child's
  *     key column travels;
  *   - upsert is dedup-keep-latest on the change feed (window over the key,
  *     ONE shuffle) followed by a single full-outer join against the base.
  *
  * Check results are tiny (one row per check) regardless of input size, so
  * the whole suite's cost is the scans — which is the floor.
  */
object Quality {

  /** A row-level check: `fails` marks a violating row. All checks for a
    * table are folded into one aggregate pass.
    */
  final case class RowCheck(name: String, fails: Column)

  private val resultCols =
    Seq("check_name", "n_rows", "n_failed", "pass").map(col)

  /** One result row per row-level check, from a SINGLE scan+aggregate of
    * `df`: (check_name, n_rows, n_failed, pass). The per-check failure
    * counts are parallel `sum(when(...))` aggregates (all map-side
    * combined); the unpivot to one-row-per-check happens on the 1-row
    * aggregate output, so it is free.
    */
  def rowChecks(df: DataFrame, checks: Seq[RowCheck]): DataFrame = {
    require(checks.nonEmpty, "need at least one check")
    val aggs = count(lit(1)).as("n_rows") +:
      checks.map(c => sum(when(c.fails, 1L).otherwise(0L)).as(c.name))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = checks.map { c =>
      struct(lit(c.name).as("check_name"), col("n_rows"),
        col(c.name).as("n_failed"), (col(c.name) === 0L).as("pass"))
    }
    one.select(explode(array(stacked: _*)).as("r")).select(col("r.*"))
  }

  /** Key-uniqueness check: n_failed = number of ROWS involved in a
    * duplicated key (so a clean table reports 0 and the number is
    * row-denominated like the other checks). Two exchanges: the keyed
    * count (map-side combined), then the 1-row re-aggregate.
    */
  def uniquenessCheck(df: DataFrame, name: String, keys: Seq[Column])
  : DataFrame =
    df.groupBy(keys: _*).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_rows"),
        sum(when(col("n") > 1L, col("n")).otherwise(0L)).as("n_failed"))
      .select(lit(name).as("check_name"), col("n_rows"), col("n_failed"),
        (col("n_failed") === 0L).as("pass"))

  /** Referential-integrity check: child rows whose `childKey` has no match
    * in `parent.parentKey`. LEFT ANTI against the (distinct) parent keys —
    * broadcast when the parent is small; only the key columns shuffle.
    */
  def referentialCheck(child: DataFrame, childKey: Column, parent: DataFrame,
                       parentKey: Column, name: String): DataFrame = {
    val orphans = child.select(childKey.as("k"))
      .join(parent.select(parentKey.as("k")).distinct(), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_failed"))
    val total = child.agg(count(lit(1)).as("n_rows"))
    total.crossJoin(orphans)
      .select(lit(name).as("check_name"), col("n_rows"), col("n_failed"),
        (col("n_failed") === 0L).as("pass"))
  }

  /** Run a full suite (any mix of the three check shapes) and stack the
    * one-row results. The union is of 1-row frames — plan breadth, not
    * data volume.
    */
  def suite(results: Seq[DataFrame]): DataFrame =
    results.map(_.select(resultCols: _*)).reduce(_.unionByName(_))

  /** Table reconciliation: compare two keyed tables and report, in ONE
    * full-outer-join pass, the row-presence split (`only_left`,
    * `only_right`, `n_common`) and a null-safe per-column mismatch count
    * over the common rows. The migration-validation op ("did the new
    * pipeline produce the same table?") — output is metric rows, constant
    * size regardless of input.
    */
  def tableDiff(left: DataFrame, right: DataFrame, key: String,
                compareCols: Seq[String]): DataFrame = {
    val l = left.select(col(key) +: compareCols.map(c => col(c).as(s"l_$c"))
      :+ lit(true).as("l_present"): _*)
    val r = right.select(col(key) +: compareCols.map(c => col(c).as(s"r_$c"))
      :+ lit(true).as("r_present"): _*)
    val joined = l.join(r, Seq(key), "full_outer")
      .na.fill(false, Seq("l_present", "r_present"))
    val both = col("l_present") && col("r_present")
    val aggs =
      sum(when(col("l_present") && !col("r_present"), 1L).otherwise(0L))
        .as("only_left") +:
      sum(when(col("r_present") && !col("l_present"), 1L).otherwise(0L))
        .as("only_right") +:
      sum(when(both, 1L).otherwise(0L)).as("n_common") +:
      compareCols.map(c =>
        sum(when(both && !(col(s"l_$c") <=> col(s"r_$c")), 1L).otherwise(0L))
          .as(s"diff_$c"))
    val one = joined.agg(aggs.head, aggs.tail: _*)
    val metrics = Seq("only_left", "only_right", "n_common") ++
      compareCols.map(c => s"diff_$c")
    val stacked = metrics.map(m =>
      struct(lit(m).as("metric"), col(m).as("n")))
    one.select(explode(array(stacked: _*)).as("r")).select(col("r.*"))
  }

  /** CDC upsert (MERGE): apply a change feed to a base table.
    *
    *   - the change feed is deduplicated to ONE change per key: the first
    *     row under `versionOrder`, an EXPLICIT ordering the caller owns —
    *     pass `col("v").desc` (as every call site here does) for the
    *     keep-latest MERGE; plain ascending columns would keep the OLDEST
    *     change (the r6-advice foot-gun this parameter name now states);
    *   - then one full-outer join base↔changes decides the action per key:
    *     `update` (both sides), `insert` (change only), `keep` (base only);
    *   - every non-key payload column is `coalesce(change, base)`.
    *
    * `base` and `changes` must share the key column `key`; `payload` lists
    * the non-key columns of the OUTPUT (each present in at least one side —
    * a side missing a column contributes nulls, so inserts can carry fewer
    * columns than the base).
    */
  def upsertLatest(base: DataFrame, changes: DataFrame, key: String,
                   versionOrder: Seq[Column], payload: Seq[String]): DataFrame = {
    val latest = changes
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col(key)).orderBy(versionOrder: _*)))
      .filter(col("__rn") === 1).drop("__rn")
    val b = prefixed(base, "b_", key, payload)
    val c = prefixed(latest, "c_", key, payload)
    val action = when(col("b_present") && col("c_present"), "update")
      .when(col("c_present"), "insert")
      .otherwise("keep")
    val merged = payload.map(p =>
      coalesce(col(s"c_$p"), col(s"b_$p")).as(p))
    b.join(c, Seq(key), "full_outer")
      .na.fill(false, Seq("b_present", "c_present"))
      .select(col(key) +: merged :+ action.as("action"): _*)
  }

  /** Full MERGE semantics over a change feed carrying an op column:
    * the LATEST change per key (by `versionOrder`) decides — op `D`
    * removes the key (earlier updates of the same key are superseded and
    * never apply), anything else upserts via [[upsertLatest]]. Returns
    * the applied table: deleted keys are absent, survivors carry the
    * insert/update/keep action. Delete application is a left-anti join on
    * the (small) latest-delete key set — no second pass over the base.
    */
  def mergeCdc(base: DataFrame, changes: DataFrame, key: String,
               versionOrder: Seq[Column], payload: Seq[String],
               opCol: String = "op"): DataFrame = {
    // a null op would slip through BOTH the =!= 'D' (upsert) and === 'D'
    // (delete) filters below, silently keeping the stale base row while
    // superseding every older update — fail the malformed feed loudly
    // instead, like the rest of the quality ops
    val validated = changes.withColumn(opCol,
      when(col(opCol).isNull,
        raise_error(lit(s"mergeCdc: null $opCol in change feed")))
        .otherwise(col(opCol)))
    val latest = validated
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col(key)).orderBy(versionOrder: _*)))
      .filter(col("__rn") === 1).drop("__rn")
    val applied = upsertLatest(base,
      latest.filter(col(opCol) =!= "D").drop(opCol),
      key, versionOrder, payload)
    applied.join(latest.filter(col(opCol) === "D").select(col(key)),
      Seq(key), "left_anti")
  }

  private def prefixed(df: DataFrame, prefix: String, key: String,
                       payload: Seq[String]): DataFrame = {
    val cols = col(key) +: payload.map { p =>
      (if (df.columns.contains(p)) col(p) else lit(null)).as(s"$prefix$p")
    } :+ lit(true).as(s"${prefix}present")
    df.select(cols: _*)
  }
}
