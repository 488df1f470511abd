package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed global ranking: total-order `row_number`/`ntile` without an
  * unpartitioned Window.
  *
  * An `ntile(k) OVER (ORDER BY ...)` (or global `row_number`) plans as a
  * single-partition sort — ALL rows through one task, the canonical
  * 100 TB scale-killer. The same total order distributes mechanically
  * (the swap `abcClassification` documents at
  * `queries/StatsQueries.scala:358-361`):
  *
  *  1. Split the leading order key into P contiguous ranges. The split
  *     values come from ONE `percentile_approx` aggregate (a Greenwald–
  *     Khanna sketch — one distributed pass, O(accuracy·log n) state) and
  *     range membership is a map-side `size(filter(bounds, _ < key))`
  *     against the broadcast 1-row bounds array. Deterministic by
  *     construction — unlike `repartitionByRange`, whose SAMPLED split
  *     points can differ between two evaluations of the same plan and
  *     mis-align the offsets unless the frame is first materialized.
  *     Rows tied on a split value all land in the LOWER range (strict
  *     `<`), so ranges stay contiguous in the total order even across
  *     ties; the remaining order columns only ever decide order WITHIN a
  *     range.
  *  2. Per-range counts → prefix offsets. The offsets frame is ONE ROW
  *     PER RANGE — metadata-sized at any data scale (a 1000-executor job
  *     is a few thousand rows), so its prefix-sum window is bounded by
  *     cluster size, never data size.
  *  3. Per-range `row_number` (a Window PARTITIONED by the range id —
  *     every range sorts locally, all in parallel) plus the broadcast
  *     offset = the exact global 0-based rank.
  *
  * Everything stays declarative — no checkpoint, no collect, construction
  * is job-free — at the cost of the bounds sketch running once per
  * consuming pass (Catalyst/AQE reuse the identical aggregate subtree
  * where possible; it is one narrow-column pass regardless).
  *
  * Contract: order columns must be ASCENDING (enforced), the leading one
  * numeric and high-cardinality — a heavily tied leading key degrades to
  * fewer effective ranges (the same failure mode `repartitionByRange` has
  * on tied sample points). Pass a tiebreaker (e.g. the primary key) to
  * make the order total, which makes ranks deterministic.
  */
object Ranking {

  /** `df` plus `outCol` = exact 0-based global rank by `order`
    * (ascending composite). No single-task stage at any width.
    */
  def withGlobalRowNumber(df: DataFrame, order: Seq[Column],
                          outCol: String,
                          splitPoints: Option[Seq[Double]] = None): DataFrame =
    withRankAndCount(df, order, outCol, None, None, splitPoints)

  /** As [[withGlobalRowNumber]], but range-splitting on an explicit
    * numeric `rangeKey` instead of the leading order column — for total
    * orders whose leading key is DESCENDING or non-numeric (a string).
    *
    * Contract: `rangeKey` must be monotone NON-DECREASING along the total
    * order (ties allowed — tied rows land in the lower range together, so
    * contiguity survives). Only BALANCE depends on how finely the proxy
    * resolves the order; rank arithmetic stays exact for any proxy. E.g.
    * for `(n DESC, word ASC)` pass `-n + stringPrefixFraction(word)`:
    * distinct counts differ by ≥ 1 so the fraction never reorders them,
    * and within a tied count the word prefix spreads the rows across
    * ranges — which is what defuses a Zipf tail of count-1 words all
    * sharing one range.
    */
  def withGlobalRowNumber(df: DataFrame, order: Seq[Column],
                          outCol: String, rangeKey: Column): DataFrame =
    withRankAndCount(df, order, outCol, None, Some(rangeKey))

  /** A [0, 1) fraction that is monotone non-decreasing in the string's
    * binary (code-point) order, from the first four characters — 21 bits
    * per code point, so the first differing character always dominates
    * the remainder. A range-split proxy, never an order substitute:
    * strings sharing a 4-char prefix collapse to the same value.
    */
  def stringPrefixFraction(s: Column): Column = {
    def cp(i: Int): Column =
      coalesce(ascii(substring(s, i, 1)), lit(0)).cast("double")
    val w = math.pow(2.0, 21)
    (((cp(4) / w + cp(3)) / w + cp(2)) / w + cp(1)) / w
  }

  /** `df` plus `outCol` = `ntile(buckets)` in the total order given by
    * `order` — bit-identical to the SQL window function (first `n mod k`
    * buckets get the extra row), computed distributed.
    */
  def withNtile(df: DataFrame, order: Seq[Column], buckets: Int,
                outCol: String,
                rangeKey: Option[Column] = None): DataFrame = {
    require(buckets >= 1, s"ntile needs >= 1 bucket, got $buckets")
    val rn = "__graft_rn"
    val n = "__graft_n"
    val withRank = withRankAndCount(df, order, rn, Some(n), rangeKey)
    withRank
      .withColumn(outCol, ntileFromRank(col(rn), col(n), buckets).cast("int"))
      .drop(rn, n)
  }

  /** SQL `ntile(buckets)` from the 0-based rank and the total count:
    * b = n/k rows per bucket, the first r = n%k buckets take one extra;
    * for 0-based rank p the first r·(b+1) ranks map onto the wide
    * buckets, the rest onto width-b buckets. Long-exact arithmetic via
    * double division + cast (truncation = floor for non-negatives; exact
    * far past any row count that fits a cluster). Returns the 1-based
    * bucket as a long.
    */
  def ntileFromRank(rank0: Column, n: Column, buckets: Int): Column = {
    val k = lit(buckets.toLong)
    val b = (n.cast("double") / k).cast("long")
    val r = n % k
    val wide = r * (b + lit(1L))
    when(rank0 < wide,
      (rank0.cast("double") / (b + lit(1L))).cast("long") + lit(1L))
      .otherwise(r + ((rank0 - wide).cast("double") / b).cast("long") + lit(1L))
  }

  /** `df` plus `out` = the running (prefix) sum of `value` in the total
    * order `order`, INCLUSIVE of the current row — `sum(value) OVER
    * (ORDER BY … ROWS UNBOUNDED PRECEDING)`, distributed: per-range local
    * running sums in parallel windows plus a broadcast per-range-total
    * exclusive prefix. Exact in the value's own type (a long input
    * cumsums as long). Same rangeKey contract as [[withGlobalRowNumber]].
    */
  def withRunningSum(df: DataFrame, order: Seq[Column], value: Column,
                     out: String,
                     rangeKey: Option[Column] = None): DataFrame =
    withGlobalPrefix(df, order, None, None,
      Seq(RunningSpec(value, RunSum, inclusive = true, out)), rangeKey)

  /** `df` plus `out` = the running minimum of `value` over all STRICTLY
    * PRECEDING rows of the total order (`min(value) OVER (ORDER BY … ROWS
    * BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)` — null on the global
    * first row), distributed the same way. The exclusive frame is the
    * skyline/Pareto shape: "the best among everything before me".
    */
  def withRunningMinExclusive(df: DataFrame, order: Seq[Column],
                              value: Column, out: String,
                              rangeKey: Option[Column] = None): DataFrame =
    withGlobalPrefix(df, order, None, None,
      Seq(RunningSpec(value, RunMin, inclusive = false, out)), rangeKey)

  /** One running-aggregate output of [[withGlobalPrefix]]: the prefix
    * `kind` of `value` in the total order, written to column `out`,
    * INCLUSIVE of the current row or exclusive (strictly preceding — null
    * on the global first row, and wherever every preceding value is
    * null, exactly like the SQL window aggregate it mirrors).
    */
  sealed trait RunKind
  case object RunSum extends RunKind
  case object RunMin extends RunKind
  case object RunMax extends RunKind
  case class RunningSpec(value: Column, kind: RunKind, inclusive: Boolean,
                         out: String)

  /** A PER-RANGE-LOCAL `lag` (offset < 0) / `lead` (offset > 0) of
    * `value`, computed inside the same per-range window pass — null in
    * the first/last |offset| rows of each range, where the true answer
    * lives across the seam (callers stitch those from a bounded
    * boundary broadcast; see [[graft.plans.DistributeGlobalRank]]).
    */
  case class ShiftSpec(value: Column, offset: Int, out: String)

  /** The generalized single-pass prefix engine every public entry point
    * delegates to: ONE range assignment (GK-sketch split), ONE per-range
    * totals aggregate, ONE broadcast offsets frame, ONE per-range local
    * window — producing, together, any combination of the exact 0-based
    * global rank (`rankCol`), the total row count on every row
    * (`countCol`), and any number of running sum/min/max columns
    * (`aggs`). Callers computing several prefix quantities over one
    * total order ([[graft.plans.DistributeGlobalRank]]'s multi-function
    * windows) pay the distributed pass once; a per-quantity API would
    * shuffle once per column AND could disagree on tie placement between
    * passes — here every output is consistent because every output reads
    * the same local sort.
    *
    * Null semantics match the SQL window aggregates: a prefix whose
    * values are all null is null (sum/min/max ignore nulls, they don't
    * zero them), offsets from all-null ranges stay null, and the
    * combine steps treat a null side as "no contribution".
    */
  def withGlobalPrefix(df: DataFrame, order: Seq[Column],
                       rankCol: Option[String], countCol: Option[String],
                       aggs: Seq[RunningSpec] = Nil,
                       rangeKey: Option[Column] = None,
                       internals: Option[(String, String, String)] = None,
                       shifts: Seq[ShiftSpec] = Nil,
                       splitPoints: Option[Seq[Double]] = None)
  : DataFrame = {
    checkOrder(order, rangeKey)
    val ranges = rangesOf(df)
    val cnt = "__graft_cnt"
    val head = rangeKey.getOrElse(defaultRangeProxy(df, order.head))
      .cast("double")
    val valNames = aggs.indices.map(i => s"__graft_val_$i")
    val totNames = aggs.indices.map(i => s"__graft_tot_$i")
    val runOffNames = aggs.indices.map(i => s"__graft_roff_$i")
    // Spec dedup: two running aggregates with the same kind, inclusivity,
    // and CONSTANT value are one column — the common case is a count
    // prefix requested twice (a caller's sum over lit(1) plus the
    // engine's own non-null count of it, which folds to the identical
    // sum(1)); undeduplicated, the optimizer collapses both to the same
    // window aggregate and Spark runs it twice per row (PlanLint
    // duplicate-window-function). Only provably-foldable values dedup —
    // column-valued specs keep their own slot.
    val withVals = aggs.zip(valNames).foldLeft(df) {
      case (d, (s, nm)) => d.withColumn(nm, s.value)
    }
    // Foldability is invisible pre-analysis (the Column bridge wraps an
    // opaque ColumnNode), so constants are detected on the ANALYZED
    // aliases: walk the projects top-down, keep each val column's first
    // (outermost) defining expression, and canonicalize the ones that
    // evaluate to a constant. Analysis is job-free (construction stays
    // lazy). Non-foldable values keep their own slot.
    val aliasExpr: Map[String, org.apache.spark.sql.catalyst.expressions.Expression] = {
      val pairs = withVals.queryExecution.analyzed.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.collect {
            case a: org.apache.spark.sql.catalyst.expressions.Alias =>
              a.name -> a.child
          }
      }.flatten
      pairs.foldLeft(Map.empty[String,
          org.apache.spark.sql.catalyst.expressions.Expression]) {
        case (m, (n, e)) => if (m.contains(n)) m else m + (n -> e)
      }
    }
    val canonOf: Seq[Option[(RunKind, Boolean, Any, String)]] =
      aggs.zip(valNames).map { case (s, nm) =>
        aliasExpr.get(nm) match {
          case Some(e) if e.resolved && e.foldable =>
            try Some((s.kind, s.inclusive, e.eval(null),
              e.dataType.catalogString))
            catch { case _: Throwable => None }
          case _ => None
        }
      }
    val repOf: Seq[Int] = aggs.indices.map { i =>
      canonOf(i) match {
        case Some(c) =>
          aggs.indices.find(j => canonOf(j).contains(c)).getOrElse(i)
        case None => i
      }
    }
    val reps: Seq[Int] = aggs.indices.filter(i => repOf(i) == i)
    val data = assignRanges(withVals, head, splitPoints)
    def aggFn(k: RunKind)(c: Column): Column = k match {
      case RunSum => sum(c)
      case RunMin => min(c)
      case RunMax => max(c)
    }
    // one row per range; every prefix window over it is bounded by the
    // RANGE count (cluster metadata), not the data — the structural
    // `limit` makes that cardinality visible to Catalyst and PlanLint
    val perRange = data.groupBy(col(pidCol)).agg(count(lit(1)).as(cnt),
        reps.map { i =>
          aggFn(aggs(i).kind)(col(valNames(i))).as(totNames(i))
        }: _*)
      .limit(ranges)
    val prefixW = Window.orderBy(pidCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    var offsets = perRange.withColumn(offCol,
      coalesce(sum(col(cnt)).over(prefixW), lit(0L)))
    offsets = reps.foldLeft(offsets) { case (o, i) =>
      o.withColumn(runOffNames(i),
        aggFn(aggs(i).kind)(col(totNames(i))).over(prefixW))
    }
    offsets = countCol match {
      case Some(nm) => offsets.withColumn(nm, sum(col(cnt)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      case None => offsets
    }
    offsets = offsets.select((Seq(pidCol, offCol) ++ countCol.toSeq ++
      reps.map(runOffNames) ++ (if (internals.isDefined) Seq(cnt) else Nil))
      .map(col): _*)
    // per-range locals: a Window PARTITIONED by the range id — every
    // range sorts once locally, all ranges in parallel, and rank plus
    // every running aggregate read that one sort
    val w = Window.partitionBy(pidCol).orderBy(order: _*)
    var res = data.join(broadcast(offsets), pidCol)
    // the 0-based local index materializes ONCE and serves both the
    // global rank and the internals' idx output — requested together
    // (the DistributeGlobalRank partitioned leg), an inline row_number
    // per consumer planned two identical window functions
    val rnLoc = "__graft_rnloc"
    if (rankCol.nonEmpty || internals.nonEmpty)
      res = res.withColumn(rnLoc,
        row_number().over(w).cast("long") - lit(1L))
    rankCol.foreach { rc =>
      res = res.withColumn(rc, col(offCol) + col(rnLoc))
    }
    // Materialize each local prefix ONCE before the null-handling CASE:
    // Spark's window extraction creates one physical window function per
    // OCCURRENCE of a window expression (identical specs are NOT
    // deduplicated across CASE branches), and the combine below
    // references `local` three times (null guard, branch value, the
    // combine arm) — inlined, every RunningSpec cost THREE same-frame
    // window functions instead of one. Measured on
    // window_running_skewfree (4 specs → 12 window sums in the data
    // pass's WindowExec): the plan now carries exactly one sum per
    // spec; the CASE runs in a plain projection above the window.
    val localNames = aggs.indices.map(i => s"__graft_loc_$i")
    reps.foreach { i =>
      val frame = w.rowsBetween(Window.unboundedPreceding,
        if (aggs(i).inclusive) Window.currentRow else -1)
      res = res.withColumn(localNames(i),
        aggFn(aggs(i).kind)(col(valNames(i))).over(frame))
    }
    reps.map(i => ((aggs(i), localNames(i)), runOffNames(i)))
      .foreach { case ((s, ln), r) =>
      val local = col(ln)
      val off = col(r)
      val combined = s.kind match {
        case RunSum =>
          when(off.isNull, local).when(local.isNull, off)
            .otherwise(off + local)
        case RunMin =>
          when(off.isNull, local).when(local.isNull, off)
            .otherwise(least(off, local))
        case RunMax =>
          when(off.isNull, local).when(local.isNull, off)
            .otherwise(greatest(off, local))
      }
      res = res.withColumn(s.out, combined)
    }
    // deduplicated specs read their representative's output column
    aggs.indices.filterNot(reps.contains).foreach { i =>
      res = res.withColumn(aggs(i).out, col(aggs(repOf(i)).out))
    }
    // per-range-local lag/lead in the SAME WindowExec (offset window
    // functions ignore frames, so they share the one local sort)
    shifts.foreach { s =>
      require(s.offset != 0, "shift offset must be non-zero")
      val f = if (s.offset < 0) lag(s.value, -s.offset)
              else lead(s.value, s.offset)
      res = res.withColumn(s.out, f.over(w))
    }
    // expose the pass internals on request (range id, 0-based local
    // index, range row count) — what a caller computing per-range-local
    // quantities (e.g. boundary-broadcast lag/lead in
    // [[graft.plans.DistributeGlobalRank]]) needs to avoid a second
    // full-data exchange
    internals.foreach { case (pidOut, idxOut, cntOut) =>
      res = res.withColumn(pidOut, col(pidCol))
        .withColumn(idxOut, col(rnLoc))
        .withColumn(cntOut, col(cnt))
    }
    res.drop(Seq(pidCol, offCol, rnLoc) ++ runOffNames ++ valNames ++
      localNames ++ (if (internals.isDefined) Seq(cnt) else Nil): _*)
  }

  /** `df` plus `out` = the 1-based `row_number() OVER (PARTITION BY
    * partKeys ORDER BY order)` — computed WITHOUT a hash-partitioned
    * window, so a power-law key cannot funnel its whole partition
    * through one task's sort.
    *
    * A plain partitioned window shuffles by key and then SORTS EACH
    * KEY'S ROWS IN ONE TASK — un-splittable: AQE can split a skewed
    * join probe, but not a window sort, so the heaviest key bounds the
    * stage at any cluster size. Here the rank within a key is derived
    * from the GLOBAL order (partKeys, order...): one range-split global
    * rank (every sort task holds ~n/P contiguous rows, whatever the key
    * histogram says), one per-key MIN-rank aggregate (map-side
    * combined — the skewed key collapses to partial minima before its
    * exchange), one join back (skew-splittable by AQE, and broadcast
    * when the key dimension is small), and a subtraction. The residual
    * skew thus lands only in shapes the engine already knows how to
    * split.
    *
    * Keys order nulls-first within the global order — SQL PARTITION BY
    * groups nulls as one partition, and the join back matches
    * null-safely, so null keys rank exactly like the naive window.
    * Contract: ascending orders only without an explicit `rangeKey`
    * (pass one for a descending leading key). For COMPOSITE integral
    * keys the default proxy packs every key lexicographically from
    * runtime min/max bounds and refines by the leading order column,
    * so a composite key no longer collapses the range split to
    * NDV(head) (see the packing block in [[withPartitionedPrefix]]);
    * single and non-integral keys keep the zero-extra-pass head-only
    * default (a string head via [[stringPrefixFraction]]) — for a
    * provably low-NDV single key pass an explicit `rangeKey`, or go
    * through the stats-gated optimizer rule. Every proxy choice is
    * balance-only — it can degrade parallelism, never a rank.
    */
  def withPartitionedRowNumber(df: DataFrame, partKeys: Seq[Column],
                               order: Seq[Column], out: String,
                               rangeKey: Option[Column] = None): DataFrame =
    withPartitionedPrefix(df, partKeys, order, Some(out), Nil, rangeKey)

  /** `df` plus one column per spec = `sum(value) OVER (PARTITION BY
    * partKeys ORDER BY order ROWS UNBOUNDED PRECEDING)` for each
    * `(value, out)` — the skew-free twin of [[withPartitionedRowNumber]]
    * for running totals: a naive partitioned window sorts each key in
    * one task, so the heaviest key bounds the stage; here ONE global
    * range-split pass computes, per row, the global inclusive AND
    * exclusive prefix sums (and non-null counts), a per-key `min_by`
    * aggregate picks the exclusive values at each key's FIRST row (the
    * "everything before this key" base — map-side combinable), and the
    * within-key sum is the difference.
    *
    * Null semantics match the SQL window aggregate exactly: a key
    * prefix with no non-null values is null, not zero — that is what
    * the count base is for (`incl − base` alone would turn "null so
    * far" into 0 whenever earlier keys contributed). Bit-exact for
    * integral values; fractional values re-associate across ranges
    * (the same caveat as any distributed sum — cast to integral units
    * first when exactness matters).
    */
  def withPartitionedRunningSums(df: DataFrame, partKeys: Seq[Column],
                                 order: Seq[Column],
                                 sums: Seq[(Column, String)],
                                 rangeKey: Option[Column] = None)
  : DataFrame =
    withPartitionedPrefix(df, partKeys, order, None, sums, rangeKey)

  /** The combined engine behind [[withPartitionedRowNumber]] and
    * [[withPartitionedRunningSums]] — and the entry point for callers
    * needing BOTH (the [[graft.plans.DistributeGlobalRank]] partitioned
    * leg). Two passes that never read each other's output row side:
    *
    *   1. the DATA pass — one range-split global prefix over
    *      (keys, order) producing, per row, the 0-based global rank and
    *      each sum's INCLUSIVE prefix (+ its non-null count);
    *   2. the BASE pass — per-key totals aggregated DIRECTLY FROM THE
    *      INPUT (map-side combined: row count, each sum's per-key total
    *      and non-null count), then a distributed EXCLUSIVE prefix over
    *      that one-row-per-key frame in key order. "Rows before this
    *      key" is the key's min global rank; "sum before this key" is
    *      its exclusive base — the same per-distinct-key-totals trick
    *      the RANGE-frame leg of the optimizer rule uses.
    *
    * The in-key quantities are then inclusive − base after ONE join.
    * Earlier formulations aggregated the bases FROM the ranked frame
    * (`min_by(exclusive, rank)`), which put the whole data pass on both
    * sides of its own join — the self-join lineage recomputed the DAG
    * once per side, and chaining the rank and sum entry points
    * compounded it (measured 20× vs the naive window on the
    * optimizer-rewrite probe; this shape measures ~2×, the honest
    * multi-stage floor at toy scale).
    *
    * `broadcastBase = true` hints the per-key base frame broadcast-side:
    * callers that have PROVEN the key's cardinality small (catalog
    * stats — the rewrite leg's gate) skip the sort-merge fallback that
    * Catalyst's size estimate would otherwise pick for a derived frame.
    * Rank semantics follow [[withPartitionedRowNumber]]; sum null
    * semantics follow [[withPartitionedRunningSums]] (a key prefix with
    * no non-null values is null, via each sum's non-null-count base —
    * the per-key SQL `sum` total is itself null for an all-null key, so
    * the exclusive combine skips it exactly like the row-level form).
    */
  /** Per-key running sums with the DEFAULT RANGE frame semantics —
    * `sum(v) OVER (PARTITION BY k ORDER BY o)`, where PEERS (rows tying
    * on the full order tuple) SHARE one value — computed without a
    * hash-partitioned window and TIE-EXACT at any scale (unlike a ROWS
    * rewrite, which would attribute tied rows in pipeline order):
    *
    *   1. per-(key, order-tuple) group totals, aggregated map-side
    *      (a hot key collapses before its exchange);
    *   2. a [[withPartitionedRunningSums]] prefix over the
    *      one-row-per-group frame (groups are unique per tuple, so its
    *      ROWS prefix IS the RANGE prefix);
    *   3. a null-safe equi-join back on (key, order tuple) — a JOIN,
    *      not a window, so residual key skew is AQE-splittable.
    *
    * `orderKeys` carry (column, ascending) — grouping ignores
    * direction, the prefix honors it. `rangeProxy` builds the inner
    * range-split proxy from (the key columns, the leading order
    * column), all AS SEEN INSIDE the helper (renamed copies) — e.g. the
    * stats-furnished packed-key + order-fraction proxy of
    * [[graft.plans.DistributeGlobalRank]]'s partitioned leg. It must be
    * weakly monotone in the (keys…, order) lexicographic order — which
    * is why it takes EVERY key column: a head-key-only proxy plus an
    * order fraction would invert against a second key. Without it the
    * inner pass splits on the leading key alone, which is only balanced
    * when the key cardinality clears the partition count.
    * Null contract matches the SQL window aggregate: a group prefix
    * whose values are all null is null (the per-group SQL `sum` is
    * itself null there, and the inner pass's count bases skip it).
    */
  def withPartitionedRangeSums(df: DataFrame, partKeys: Seq[Column],
                               orderKeys: Seq[(Column, Boolean)],
                               sums: Seq[(Column, String)],
                               rangeProxy: Option[(Seq[Column], Column) => Column] = None,
                               splitPoints: Option[Seq[Double]] = None,
                               baseSplitPoints: Option[Seq[Double]] = None)
  : DataFrame = {
    require(partKeys.nonEmpty && orderKeys.nonEmpty && sums.nonEmpty,
      "needs partition keys, order keys, and at least one sum spec")
    val kNames = partKeys.indices.map(i => s"__graft_rgs_k_$i")
    val oNames = orderKeys.indices.map(i => s"__graft_rgs_o_$i")
    val tots = sums.indices.map(i => s"__graft_rgs_t_$i")
    val outs = sums.map(_._2)
    val withK = (kNames.zip(partKeys) ++ oNames.zip(orderKeys.map(_._1)))
      .foldLeft(df) { case (d, (nm, c)) => d.withColumn(nm, c) }
    val group = withK.groupBy((kNames ++ oNames).map(col): _*)
      .agg(sum(sums.head._1).as(tots.head),
        sums.tail.zip(tots.tail).map { case ((v, _), t) =>
          sum(v).as(t)
        }: _*)
    val ordered = oNames.zip(orderKeys.map(_._2)).map {
      case (nm, asc) => if (asc) col(nm).asc_nulls_first
        else col(nm).desc_nulls_last
    }
    val rangeKey = rangeProxy.map(f =>
      f(kNames.map(col), col(oNames.head)))
    val prefixed = withPartitionedPrefix(group, kNames.map(col), ordered,
        None, tots.zip(outs).map { case (t, o) => (col(t), o) }, rangeKey,
        splitPoints = splitPoints, baseSplitPoints = baseSplitPoints)
      .select((kNames ++ oNames).map(c => col(c).as(c + "_d")) ++
        outs.map(col): _*)
    val cond = (kNames ++ oNames)
      .map(c => withK(c) <=> prefixed(c + "_d")).reduce(_ && _)
    withK.join(prefixed, cond)
      .drop((kNames ++ oNames ++ (kNames ++ oNames).map(_ + "_d")): _*)
  }

  def withPartitionedPrefix(df: DataFrame, partKeys: Seq[Column],
                            order: Seq[Column], rankOut: Option[String],
                            sums: Seq[(Column, String)],
                            rangeKey: Option[Column] = None,
                            broadcastBase: Boolean = false,
                            splitPoints: Option[Seq[Double]] = None,
                            baseSplitPoints: Option[Seq[Double]] = None)
  : DataFrame = {
    require(partKeys.nonEmpty,
      "use the global entry points for empty partition keys")
    require(rankOut.nonEmpty || sums.nonEmpty,
      "needs a rank output and/or at least one (value, out) sum spec")
    val kNames = partKeys.indices.map(i => s"__graft_pk_$i")
    val dNames = kNames.map(_ + "_d")
    val tmp = "__graft_prs_rn"
    val incl = sums.indices.map(i => s"__graft_prs_i_$i")
    val cIncl = sums.indices.map(i => s"__graft_prs_ci_$i")
    val kTot = sums.indices.map(i => s"__graft_prs_kt_$i")
    val kCnt = sums.indices.map(i => s"__graft_prs_kc_$i")
    val bases = sums.indices.map(i => s"__graft_prs_b_$i")
    val cBases = sums.indices.map(i => s"__graft_prs_cb_$i")
    val kn = "__graft_prs_kn"
    val rnBase = "__graft_prs_rnb"
    val withK = kNames.zip(partKeys).foldLeft(df) {
      case (d, (nm, c)) => d.withColumn(nm, c)
    }
    // data pass: rank + inclusive prefixes only (bases come from the
    // key frame, so no exclusive row-level columns are needed)
    val specs = sums.zipWithIndex.flatMap { case ((v, _), i) =>
      Seq(
        RunningSpec(v, RunSum, inclusive = true, incl(i)),
        RunningSpec(v.isNotNull.cast("long"), RunSum,
          inclusive = true, cIncl(i)))
    }
    // ---- library-default range proxy (no explicit rangeKey) ----
    // The old default split on the HEAD key alone, which for a
    // COMPOSITE key collapses to ≤ NDV(head) ranges whatever the other
    // keys contribute — reinstating the single-task skew this module
    // removes. For composite INTEGRAL keys the default now packs EVERY
    // key lexicographically from runtime min/max bounds (one extra
    // map-side-combined aggregate, broadcast as one row) and refines
    // within the last key by the leading order column normalized to
    // [0, 1) — the same packing [[graft.plans.DistributeGlobalRank]]'s
    // stats-gated leg builds from catalog statistics, here with EXACT
    // bounds. SINGLE keys keep the zero-extra-pass head proxy: for a
    // high-NDV key the packing buys nothing and the bounds pass is pure
    // cost (measured +43% on window_rank_skewfree at sf0.1, r12); for a
    // provably low-NDV single key the caller has real options — an
    // explicit rangeKey, or analyst SQL through the stats-gated rule,
    // which builds this same proxy only when statistics prove the cap.
    // Guards, all balance-only (the proxy stays weakly monotone in the
    // (keys…, order) lexicographic order or falls back to a prefix of
    // it):
    //   - span PRODUCT > 2^52 → the packed double could collapse
    //     adjacent blocks, so the whole expression falls back to the
    //     bare head key (a data-dependent but row-uniform branch — the
    //     guard reads the one-row bounds frame);
    //   - null key slot → −1, BELOW every value slot (explicit
    //     isNotNull gate: greatest/least SKIP nulls);
    //   - order fraction only from a PLAIN (unwrapped) ascending head
    //     of an orderable scalar type, nanvl BEFORE the clamp (NaN
    //     sorts greatest), null → 0 (nulls-first);
    //   - non-integral keys keep the old head-only default.
    val autoDrop = scala.collection.mutable.ListBuffer.empty[String]
    val (dataIn, proxyIn): (DataFrame, Option[Column]) =
      if (rangeKey.nonEmpty) (withK, rangeKey)
      else {
        // the no-proxy contract stays ascending-only — the auto proxy
        // must not silently accept orders it cannot encode
        order.foreach(c => require(
          !org.apache.spark.sql.GraftColumnBridge.isDescending(c),
          "Ranking distributes ASCENDING total orders; flip the sign/" +
            "negate the key instead of passing .desc, or pass an " +
            "explicit rangeKey"))
        val integral = kNames.forall(nm => withK.schema(nm).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        })
        if (!integral || kNames.size == 1) (withK, None)
        else {
          val mnN = kNames.map(_ + "_bmn")
          val mxN = kNames.map(_ + "_bmx")
          val (oMnN, oMxN) = ("__graft_pb_omn", "__graft_pb_omx")
          val headNum: Option[Column] = order.headOption
            .filterNot(org.apache.spark.sql.GraftColumnBridge.isSortWrapped)
            .flatMap { h =>
              withK.select(h).schema.head.dataType match {
                case _: NumericType | StringType | TimestampType |
                     TimestampNTZType | DateType =>
                  Some(defaultRangeProxy(withK, h).cast("double"))
                case _ => None
              }
            }
          val aggCols =
            kNames.zip(mnN).map { case (k, m) => min(col(k)).as(m) } ++
              kNames.zip(mxN).map { case (k, m) => max(col(k)).as(m) } ++
              headNum.toSeq.flatMap(hn =>
                Seq(min(hn).as(oMnN), max(hn).as(oMxN)))
          val bounds = withK.agg(aggCols.head, aggCols.tail: _*).limit(1)
          val withB = withK.crossJoin(broadcast(bounds))
          autoDrop ++= mnN; autoDrop ++= mxN
          if (headNum.isDefined) autoDrop ++= Seq(oMnN, oMxN)
          // each slot's multiplier is span + 1, with null → 0 and values
          // shifted to [1, span]: a null slot must own its OWN position
          // BELOW the block, not the "-1" of a span-wide multiplier —
          // there, block ranges OVERLAP by exactly one value, so
          // (k₁=s, k₂=max) ties with (k₁=s+1, k₂=null) and the order
          // fraction added below INVERTS them (caught by the RankingSpec
          // property search: ndv=1 second key with nulls)
          // spans and slots subtract in LONG space BEFORE casting:
          // cast(k) − cast(mn) computed in doubles collapses adjacent
          // distinct longs once |value| > 2^53 (snowflake IDs,
          // nanosecond epochs) even when the span itself is tiny — the
          // double-computed span then under-sizes the multiplier and
          // the order fraction inverts keys across a block boundary.
          // try_subtract yields null on long overflow (a true span
          // beyond Long range), which fails spanOk and falls back; once
          // spanOk holds (span ≤ 2^52) k − mn is exact in long AND as a
          // double, whatever the key magnitude. The bounds come from
          // the data itself (min/max of this frame), so k ∈ [mn, mx]
          // always and the slot subtraction cannot overflow when the
          // spanOk branch is taken.
          // (operands widen to long FIRST — exact for any integral —
          // since byte/short arithmetic stays in the narrow type and a
          // span wider than that type would overflow under ANSI)
          val spansL = kNames.indices.map(i =>
            try_subtract(col(mxN(i)).cast("long"), col(mnN(i)).cast("long")))
          val spans = kNames.indices.map(i =>
            spansL(i).cast("double") + lit(2.0))
          val spanOk = spansL.map(_.isNotNull).reduce(_ && _) &&
            spans.reduce(_ * _) <= lit(4503599627370496.0) // 2^52
          val packed = kNames.indices.foldLeft(lit(0.0)) { (acc, i) =>
            val slot = when(col(kNames(i)).isNotNull,
              (col(kNames(i)).cast("long") - col(mnN(i)).cast("long"))
                .cast("double") + lit(1.0))
              .otherwise(lit(0.0))
            acc * spans(i) + slot
          }
          val hi = 1.0 - 1e-9
          val frac = headNum.map { hn =>
            val span = col(oMxN) - col(oMnN) + lit(1.0)
            val filled = nanvl((hn - col(oMnN)) / span, lit(hi))
            coalesce(when(hn.isNotNull,
              least(greatest(filled, lit(0.0)), lit(hi))), lit(0.0))
          }.getOrElse(lit(0.0))
          val auto = when(coalesce(spanOk, lit(false)), packed + frac)
            .otherwise(col(kNames.head).cast("double"))
          (withB, Some(auto))
        }
      }
    // plain key columns sort ascending-nulls-first by default, which
    // both groups each key contiguously and keeps the head usable as
    // the range proxy
    val ranked = withGlobalPrefix(dataIn, kNames.map(col) ++ order,
        Some(tmp), None, specs, proxyIn, splitPoints = splitPoints)
      .drop(autoDrop.toSeq: _*)
    // base pass: per-key totals straight from the input (map-side
    // combined — a hot key collapses to partial aggregates before its
    // exchange), then an exclusive distributed prefix over the
    // one-row-per-key frame in the same key order
    val keyAggCols =
      count(lit(1)).cast("long").as(kn) +:
        sums.zipWithIndex.flatMap { case ((v, _), i) =>
          Seq(sum(v).as(kTot(i)),
            count(v).cast("long").as(kCnt(i)))
        }
    val keyFrame = withK.groupBy(kNames.map(col): _*)
      .agg(keyAggCols.head, keyAggCols.tail: _*)
    val baseSpecs =
      RunningSpec(col(kn), RunSum, inclusive = false, rnBase) +:
        sums.indices.flatMap(i => Seq(
          RunningSpec(col(kTot(i)), RunSum, inclusive = false, bases(i)),
          RunningSpec(col(kCnt(i)), RunSum, inclusive = false, cBases(i))))
    val base0 = withGlobalPrefix(keyFrame, kNames.map(col), None, None,
        baseSpecs, splitPoints = baseSplitPoints)
      .select((kNames.zip(dNames).map { case (k, d) => col(k).as(d) } ++
        (rnBase +: (bases ++ cBases)).map(col)): _*)
    val base = if (broadcastBase) broadcast(base0) else base0
    val cond = kNames.zip(dNames)
      .map { case (k, d) => ranked(k) <=> base(d) }.reduce(_ && _)
    var res = ranked.join(base, cond)
    rankOut.foreach { out =>
      // global rank is 0-based; "rows before this key" re-bases it
      res = res.withColumn(out,
        col(tmp) - coalesce(col(rnBase), lit(0L)) + lit(1L))
    }
    sums.zipWithIndex.foreach { case ((_, out), i) =>
      val inKeyCnt = col(cIncl(i)) - coalesce(col(cBases(i)), lit(0L))
      res = res.withColumn(out,
        when(inKeyCnt > 0L,
          col(incl(i)) - coalesce(col(bases(i)),
            lit(0L).cast(res.schema(incl(i)).dataType))))
    }
    res.drop((kNames ++ dNames ++ incl ++ cIncl ++
      bases ++ cBases :+ rnBase :+ tmp): _*)
  }

  private val pidCol = "__graft_pid"
  private val offCol = "__graft_off"

  private def rangesOf(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  private def checkOrder(order: Seq[Column], rangeKey: Option[Column]): Unit = {
    require(order.nonEmpty, "global rank needs an order")
    // with an explicit range proxy the order may mix directions — the
    // proxy carries the monotonicity contract instead of the leading key
    if (rangeKey.isEmpty) order.foreach(c => require(
      !org.apache.spark.sql.GraftColumnBridge.isDescending(c),
      "Ranking distributes ASCENDING total orders; flip the sign/negate " +
        "the key instead of passing .desc, or pass an explicit rangeKey"))
  }

  /** `df` plus the contiguous range id derived from the numeric `head`
    * proxy: deterministic split points from ONE GK sketch (low accuracy
    * on purpose — split points only steer BALANCE, each range lands
    * within ~n/accuracy rows of even; a tight sketch would pay O(row)
    * insert cost for precision nothing uses), then range id = how many
    * split points lie strictly below the key. Ties on a split value
    * collapse into the LOWER range (contiguity over ties); an all-null
    * bounds array (empty input) or null key maps to range 0.
    */
  /** The range proxy used when the caller passes no explicit `rangeKey`:
    * the leading order column, pre-mapped for the types whose direct
    * `cast("double")` would SILENTLY return null — which would land
    * every row in range 0 and reinstate the single-task sort this whole
    * module exists to remove. StringType maps through
    * [[stringPrefixFraction]] (monotone in binary order — a valid,
    * if coarser, proxy), TIMESTAMP_NTZ hops through TimestampType
    * (Spark 4 has no direct NTZ→double cast), DateType through its
    * epoch-day number. Everything else keeps the raw column; a type the
    * cast rejects outright fails analysis loudly, which is fine.
    */
  private[ops] def defaultRangeProxy(df: DataFrame, h: Column): Column = {
    import org.apache.spark.sql.types._
    df.select(h).schema.head.dataType match {
      case StringType => stringPrefixFraction(h)
      case TimestampNTZType => h.cast(TimestampType)
      case DateType => datediff(h, lit("1970-01-01").cast(DateType))
      case _ => h
    }
  }

  /** Materializes the proxy ONCE per row, then assigns range ids by
    * comparing against the materialized column. The unrolled CaseWhen
    * comparisons below are excluded from Catalyst subexpression
    * elimination (conditions evaluate conditionally), so an inline
    * computed proxy — stringPrefixFraction is 4 substring+ascii calls,
    * the packed composite proxy a dozen arithmetic whens — would be
    * RE-EVALUATED per comparison, k× per row (the r13 shape that cost
    * token_budget_select/keywords_topk/vocab_build 1.3–1.8× at sf0.1:
    * ~31 × 4 substring evals per row on their string-fraction proxies).
    */
  private def assignRanges(df: DataFrame, headExpr: Column,
                           splits: Option[Seq[Double]]): DataFrame = {
    // Materialize the range head once per row ONLY when it is computed:
    // CaseWhen conditions are excluded from subexpression elimination, so
    // the unrolled whens would re-evaluate a computed head k times per
    // row (the r14 token_budget_select finding: 31 × 4 substring evals).
    // A head that is already a bare column has no re-evaluation cost —
    // and materializing it anyway DUPLICATES the column through every
    // exchange below the pid compute (measured: window_running_skewfree
    // 1.1 → 1.4s from the unconditional projection).
    val simpleHead =
      try {
        org.apache.spark.sql.GraftColumnBridge.expression(headExpr) match {
          case _: org.apache.spark.sql.catalyst.expressions.AttributeReference => true
          case _: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => true
          case _ => false
        }
      } catch { case _: Throwable => false }
    if (simpleHead) assignRangesOn(df, headExpr, splits)
    else {
      val hc = "__graft_rhead"
      assignRangesOn(df.withColumn(hc, headExpr), col(hc), splits).drop(hc)
    }
  }

  private def assignRangesOn(df: DataFrame, head: Column,
                             splits: Option[Seq[Double]]): DataFrame =
    splits match {
      case Some(ss) =>
        // caller-furnished split points (e.g. stats-derived, see
        // [[graft.plans.DistributeGlobalRank]]): the range id becomes a
        // PURE MAP — no percentile aggregate, no broadcast, and
        // crucially no second traversal of the input lineage (for a
        // window over a pre-aggregate that traversal re-runs the whole
        // upstream shuffle). Split-point quality is balance-only, same
        // contract as the GK sketch below; tie and null placement are
        // identical (strict `<`, null → range 0).
        require(ss.size < rangesOf(df),
          s"${ss.size} split points need at least ${ss.size + 1} " +
            "shuffle partitions")
        require(ss.zip(ss.drop(1)).forall { case (a, b) => a <= b },
          "split points must be non-decreasing")
        // UNIFORM splits (every stats-derived set is) take a CLOSED
        // FORM: pid = clamp(ceil((head − s₀)/step), 0, k) — whole-stage
        // codegen arithmetic. The array spelling below is an
        // interpreted ArrayFilter lambda per row (31 evals/row at 32
        // partitions), measured as the DOMINANT cost of the rewritten
        // plan at 21M rows (the r13 ×64 string-leg probe): it also
        // breaks the codegen stage around it. Boundary FP wobble moves
        // a row one range over — monotone, contiguous, balance-only.
        val uniform = ss.size >= 2 && {
          val step = (ss.last - ss.head) / (ss.size - 1)
          step > 0 && ss.zipWithIndex.forall { case (v, i) =>
            math.abs(v - (ss.head + i * step)) <= step * 1e-6 }
        }
        if (uniform) {
          val step = (ss.last - ss.head) / (ss.size - 1)
          val t = ceil((head - lit(ss.head)) / lit(step)).cast("int")
          df.withColumn(pidCol,
            when(head.isNotNull,
              least(greatest(t, lit(0)), lit(ss.size)))
              .otherwise(lit(0)))
        } else {
          // non-uniform literal splits: UNROLLED codegen comparisons
          // (k whens), not an interpreted ArrayFilter lambda — same
          // `< head` count, null head → every when 0 → range 0
          val cnt = ss.map(b => when(lit(b) < head, 1).otherwise(0))
            .reduce(_ + _)
          df.withColumn(pidCol, cnt)
        }
      case None =>
        val ranges = rangesOf(df)
        val fracs = (1 until ranges).map(_.toDouble / ranges)
        val bounds = df.agg(
          percentile_approx(head, typedLit(fracs), lit(1000))
            .as("__graft_bounds"))
        // UNROLLED codegen comparisons over the broadcast bounds array
        // (k element_at + when per row), replacing the interpreted
        // ArrayFilter lambda that dominated the rewritten plan at 21M
        // rows (r13 ×64 probe: ~650M interpreted evals, and the HOF
        // breaks the codegen span around it). A null element (empty
        // input percentiles) compares null → 0, exactly the old
        // `b.isNotNull && b < head`; a null head → every when 0 →
        // range 0, same placement.
        val cnt = (1 to ranges - 1)
          .map(i => when(element_at(col("__graft_bounds"), i) < head, 1)
            .otherwise(0))
          .reduceOption[Column](_ + _).getOrElse(lit(0))
        df.crossJoin(broadcast(bounds))
          .withColumn(pidCol, cnt)
          .drop("__graft_bounds")
    }

  private def withRankAndCount(df: DataFrame, order: Seq[Column],
                               outCol: String,
                               countCol: Option[String],
                               rangeKey: Option[Column],
                               splitPoints: Option[Seq[Double]] = None)
  : DataFrame =
    withGlobalPrefix(df, order, Some(outCol), countCol, Nil, rangeKey,
      splitPoints = splitPoints)
}
