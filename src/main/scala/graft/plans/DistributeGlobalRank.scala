package graft.plans

import graft.ops.Ranking
import graft.ops.Ranking.{RunMax, RunMin, RunSum, RunningSpec}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, First, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{coalesce, datediff, lit, nanvl}
import org.apache.spark.sql.types._

/** Optimizer-level auto-distribution of global ranks: an unpartitioned
  * `row_number()`/`ntile(k)` window over an UNBOUNDED input — the single
  * most common accidental scale-killer in analyst SQL (Spark itself only
  * warns: "No Partition Defined … can cause serious performance
  * degradation") — is rewritten during optimization into the distributed
  * [[graft.ops.Ranking]] form: GK-sketch range split, per-range parallel
  * windows, broadcast prefix offsets. Bit-identical output (RankingSpec
  * pins parity across ragged sizes, ties, and descending/proxy orders),
  * no single-task sort at any data size. Registered by
  * [[GraftExtensions]]; disable with `spark.graft.distributeGlobalRank=
  * false`.
  *
  * The rule runs LATE IN THE OPTIMIZER, not the analyzer, and the timing
  * is load-bearing: DataFrame pipelines analyze incrementally, so at
  * analysis time a `.withColumn(rank).filter(rank <= k)` chain presents
  * the window WITHOUT its filter and an analysis-time rewrite would
  * destroy the top-k idiom before it even forms (measured 3× on the RRF
  * fusion query before the move). By the optimizer's user-provided
  * batch, the full tree is present and `InferWindowGroupLimit` /
  * `LimitPushDownThroughWindow` have already claimed the top-k shapes.
  *
  * The rule REFUSES anything it cannot prove it preserves — each guard is
  * a correctness or performance story, not a limitation note:
  *
  *   - a window whose child is already a `WindowGroupLimit`, and a rank
  *     consumed by any remaining `Filter` in the tree, stay untouched:
  *     the top-k heap is strictly better than a full distributed rank
  *     (checked conservatively against every filter);
  *   - a child with a known `maxRows` bound (a limit — including the one
  *     `LimitPushDownThroughWindow` inserts — or a global aggregate)
  *     stays untouched: a bounded single-task sort is cheaper than the
  *     5-stage distributed pipeline;
  *   - the WHOLE SQL rank family rewrites: `row_number`/`ntile`
  *     arithmetically from (rank, n); the tie-aware trio
  *     `rank`/`percent_rank`/`cume_dist` and `dense_rank` all read the
  *     DISTINCT-key group frame — per-group counts (a map-side-combined
  *     groupBy, so a heavily tied key never skews the way a
  *     `Window.partitionBy(key)` would: 50 distinct values would mean
  *     50 single-threaded peer windows at any scale), a distributed
  *     prefix over that small frame (SQL rank = exclusive prefix count
  *     + 1, cume_dist = inclusive prefix count / n, dense rank = the
  *     group's own row number), joined back null-safely;
  *   - running aggregates over the same global order rewrite too —
  *     `sum`/`count`/`avg`/`min`/`max OVER (ORDER BY …)`, the analyst's
  *     cumulative total. The default RANGE frame (peers share a value)
  *     is computed per DISTINCT key tuple — per-group totals, a
  *     distributed prefix over the small group frame, a null-safe join
  *     back — so it is tie-exact at any scale; an explicit
  *     `ROWS UNBOUNDED PRECEDING` frame rides the row-level prefix pass
  *     (within tied keys its attribution follows the pipeline's
  *     arbitrary-but-consistent tie order — the same latitude SQL gives
  *     any engine). `sum`/`avg` rewrite only for INTEGRAL inputs:
  *     re-associating fractional addition would drift ULPs vs the naive
  *     sequential fold, and a rewrite must never change stored bits
  *     (avg is exact to 2^53 where the naive double accumulation is
  *     too); `min`/`max`/`count` are order-insensitive, so any
  *     orderable atomic type qualifies. DISTINCT, FILTER, and `try_*`
  *     aggregates stay naive;
  *   - the offset functions `lag`/`lead` (literal offset, RESPECT
  *     NULLS) are per-range LOCAL window shifts riding the same pass;
  *     only each range's first/last k rows read across a seam, stitched
  *     by a ≤ P·k-row boundary broadcast (cluster metadata × offset,
  *     never data size — no full-data exchange). Misses take the
  *     default (evaluated on the current row) by rank arithmetic, so a
  *     legitimately-null value is never confused with a missing row;
  *     `first_value` broadcasts the rank-0 row.
  *     `last_value`/`nth_value`/IGNORE NULLS stay naive: they read the
  *     frame end or skip rows — semantics that depend on the peer
  *     group's engine order, which no rewrite should try to reproduce
  *     bit-stably;
  *   - whole-partition aggregates — `sum(x) OVER ()`, the
  *     percent-of-total idiom, with or without an ORDER BY when the
  *     frame is unbounded-to-unbounded — become ONE map-side-combined
  *     global aggregate broadcast to every row (same type restrictions
  *     as the running forms);
  *   - the leading sort key must admit a numeric range proxy (numeric /
  *     timestamp / date cast, string via
  *     [[Ranking.stringPrefixFraction]]) — except for order-free
  *     whole-partition nodes, which never touch the range machinery;
  *     direction, null placement, and NaN placement are all encoded into
  *     the proxy (split points only steer balance, so a lossy proxy can
  *     degrade parallelism but never a rank);
  *   - a node containing ANY unsupported function stays untouched (one
  *     poisoned function would still need the single-task sort, so a
  *     partial rewrite would only add exchanges); a node whose functions
  *     are ALL supported shares one distributed prefix pass across them.
  *
  * The replacement subtree is built with the SAME DataFrame-level
  * machinery users call directly ([[Ranking.withGlobalRowNumber]] /
  * [[Ranking.withNtile]]), run through its own full optimization (the
  * outer optimizer's main batches are already past, so the splice brings
  * its pushdown/pruning with it), then spliced with the original output
  * attribute ids. The spliced subtree cannot re-trigger the rule: its
  * per-range window is partitioned, its offsets windows sit above a
  * structural `limit` (bounded `maxRows`), so the fixed point is reached
  * in one application.
  */
object DistributeGlobalRank extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.distributeGlobalRank"

  /** Cost floor for the partitioned leg: refuse unless stats prove at
    * least this many rows per key (rowCount / Πndv — a LOWER bound on
    * the true rows-per-key, since the NDV product over-counts the
    * composite cardinality). The cap proof alone says the naive plan's
    * parallelism is bounded; it does not say the bound HURTS — at small
    * rows-per-key the ≤NDV single-task sorts are trivially cheap and
    * the distributed form pays its multi-stage floor. Measured brackets
    * (local[32], lineitem replicas): with the r12 plan the
    * naive/rewritten ratio crossed at ~10M rows/key (NOTES_r12.md);
    * after r13 removed the interpreted range-id lambda the crossover
    * moved to ~1.5M rows/key on the packed (NDV=7) leg and ~2M
    * pairs/key on the dense-index (string NDV=3) leg (NOTES_r13.md) —
    * the default is 2× the worst measured crossover, one floor for
    * both legs. Above it the cap is also an OPERATIONAL hazard, not
    * just a slowdown: per-key sort data approaches single-task memory
    * and the 2 GB shuffle-block ceiling, where the naive plan stops
    * completing at all. Set to 0 to disable (the demo query keys do,
    * to exercise the rewritten plan at test scale).
    */
  val PartitionedMinRowsKey =
    "spark.graft.distributePartitionedWindow.minRowsPerKey"
  val DefaultMinRowsPerKey = 4000000L

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(ConfKey, "true").toBoolean) return plan
    if (!plan.resolved) return plan
    // every attribute any Filter consumes, anywhere in the tree: a rank
    // among them is (or may be) a top-k idiom the main batches have not
    // finished claiming — skip. Conservative by design: over-guarding
    // skips an optimization, under-guarding would destroy one.
    val filterRefs = AttributeSet(
      plan.collect { case Filter(cond, _) => cond.references.toSeq }.flatten)
    plan.transformUp {
      case w: Window
        if w.windowExpressions.forall(a => !filterRefs.contains(a.toAttribute)) =>
        // an optimizer rule must DEGRADE, never break: any internal
        // failure (an analysis error in the replacement subtree, an
        // unforeseen type) keeps the naive plan and says so
        try rewrite(w).getOrElse(w)
        catch {
          case scala.util.control.NonFatal(e) =>
            logWarning(s"DistributeGlobalRank left a window naive: $e")
            w
        }
    }
  }

  private def rewrite(w: Window): Option[LogicalPlan] = {
    // empty ORDER BY is fine when every function is a whole-partition
    // aggregate (`sum(x) OVER ()` — the percent-of-total idiom): those
    // rewrite to a global aggregate + broadcast, no order needed
    if (w.partitionSpec.nonEmpty) return rewritePartitioned(w)
    if (!w.child.resolved || w.child.maxRows.isDefined) return None
    if (w.child.isInstanceOf[WindowGroupLimit]) return None
    if (w.windowExpressions.isEmpty) return None
    // every function in the node must derive from the global 0-based row
    // number — they then all share ONE distributed rank pass. row_number
    // and ntile(k) are pure arithmetic on (rank, n); the tie-aware trio
    // (rank / percent_rank / cume_dist) additionally reads its peer
    // group's first/last row number through a window PARTITIONED by the
    // order keys (a keyed shuffle — distributes like any groupBy; SQL
    // peers and PARTITION BY agree that nulls group together);
    // dense_rank adds a second distributed rank over the DISTINCT key
    // frame, joined back null-safely.
    sealed trait RankFn
    case object RowNum extends RankFn
    case class Tile(k: Int) extends RankFn
    case object TieRank extends RankFn
    case object TiePercent extends RankFn
    case object TieCume extends RankFn
    case object TieDense extends RankFn
    // running aggregates over the same global order — `sum(x) OVER
    // (ORDER BY …)`, the analyst's cumulative total. `rows` = an
    // explicit ROWS frame (prefix attribution within tied keys follows
    // the pipeline's arbitrary-but-consistent tie order, exactly the
    // latitude SQL gives the naive plan); the default RANGE frame is
    // tie-exact ALWAYS — peers share one value by definition, so it is
    // computed per distinct key tuple and joined back.
    sealed trait AggOp
    case object OpSum extends AggOp
    case object OpCount extends AggOp
    case object OpAvg extends AggOp
    case object OpMin extends AggOp
    case object OpMax extends AggOp
    case class Running(op: AggOp, value: Option[Expression], rows: Boolean,
                       dt: DataType) extends RankFn
    // offset functions read a FIXED ROW POSITION rather than a prefix:
    // lag/lead are LOCAL within a range partition except in the
    // first/last k rows, which stitch from a bounded boundary
    // broadcast; first_value broadcasts the rank-0 row.
    // last_value/nth_value stay naive on purpose: they read the frame
    // END, which under the default RANGE frame is the peer group's
    // engine-ordered last row — a bit-unstable semantics no rewrite
    // should try to reproduce. offset = +k for lead, -k for lag; the
    // default expression is evaluated on the CURRENT row at misses,
    // and misses are decided by rank arithmetic (rank < k /
    // rank + k ≥ n), so a legitimately-null value is never confused
    // with a missing row.
    case class OffsetFn(value: Expression, offset: Int,
                        default: Expression, dt: DataType)
      extends RankFn
    case class FirstVal(value: Expression, dt: DataType) extends RankFn
    // whole-partition aggregate (`sum(x) OVER ()` / explicit unbounded-
    // to-unbounded frame): ONE global aggregate, broadcast to every row
    case class Whole(op: AggOp, value: Option[Expression], dt: DataType)
      extends RankFn
    // min/max are order-insensitive — exact for any orderable atomic
    def minMaxOk(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | TimestampType | TimestampNTZType |
           DateType | BooleanType => true
      case _ => false
    }
    val funcs: Seq[(String, ExprId, RankFn)] = w.windowExpressions.map {
      case a @ Alias(WindowExpression(f, spec), n)
          if spec.partitionSpec.isEmpty && spec.orderSpec == w.orderSpec =>
        f match {
          case RowNumber() => (n, a.exprId, RowNum)
          case NTile(Literal(k: Int, IntegerType)) => (n, a.exprId, Tile(k))
          case _: Rank => (n, a.exprId, TieRank)
          case _: PercentRank => (n, a.exprId, TiePercent)
          case _: CumeDist => (n, a.exprId, TieCume)
          case _: DenseRank => (n, a.exprId, TieDense)
          case lg @ Lag(in, Literal(k: Int, IntegerType), dflt, false) =>
            (n, a.exprId, OffsetFn(in, -k, dflt, lg.dataType))
          case ld @ Lead(in, Literal(k: Int, IntegerType), dflt, false) =>
            (n, a.exprId, OffsetFn(in, k, dflt, ld.dataType))
          case ae: AggregateExpression
              if !ae.isDistinct && ae.filter.isEmpty =>
            // frame classes: WHOLE partition (both ends unbounded —
            // `sum(x) OVER ()`, the percent-of-total idiom, the one
            // window shape legal without ORDER BY), ROWS prefix, RANGE
            // prefix (the prefixes need the order)
            val frameKind: Int = spec.frameSpecification match {
              case SpecifiedWindowFrame(_, UnboundedPreceding,
                UnboundedFollowing) => 0
              case SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
                CurrentRow) if w.orderSpec.nonEmpty => 1
              case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding,
                CurrentRow) if w.orderSpec.nonEmpty => 2
              case _ => return None
            }
            val whole = frameKind == 0
            val rows = frameKind == 1
            def run(op: AggOp, v: Option[Expression]): RankFn =
              if (whole) Whole(op, v, ae.dataType)
              else Running(op, v, rows, ae.dataType)
            val fn: RankFn = ae.aggregateFunction match {
              // first_value = the rank-0 row's value on every row (any
              // unbounded-preceding frame start reads it); a broadcast,
              // not a prefix — meaningless without an order
              case First(ch, false) if w.orderSpec.nonEmpty =>
                FirstVal(ch, ae.dataType)
              case s: Sum if s.evalContext.evalMode != EvalMode.TRY &&
                  integral(s.child.dataType) =>
                run(OpSum, Some(s.child))
              case c: Count
                  if c.children.forall(ch => ch.foldable && !ch.nullable) =>
                run(OpCount, None)
              case c: Count if c.children.size == 1 =>
                run(OpCount, Some(c.children.head))
              case av: Average if av.evalMode != EvalMode.TRY &&
                  integral(av.child.dataType) =>
                run(OpAvg, Some(av.child))
              case m: Min if minMaxOk(m.child.dataType) =>
                run(OpMin, Some(m.child))
              case m: Max if minMaxOk(m.child.dataType) =>
                run(OpMax, Some(m.child))
              case _ => return None
            }
            (n, a.exprId, fn)
          case _ => return None
        }
      case _ => return None
    }
    // empty order ⇒ only whole-partition aggregates got this far (rank,
    // prefix, and offset functions all demand an ORDER BY), and those
    // never touch the range machinery — no proxy needed
    val proxyOpt =
      if (w.orderSpec.isEmpty) None
      else Some(proxyFor(w.orderSpec.head).getOrElse(return None))
    val spark = SparkSession.active
    val childDf = GraftColumnBridge.ofRows(spark, w.child)
    val orderCols = w.orderSpec.map(sortCol)
    val tmpRank = "__graft_auto_rank"
    val tmpN = "__graft_auto_n"
    val tmpDense = "__graft_auto_dense"
    import org.apache.spark.sql.functions.{col => fcol, count => fcount, max => fmax, min => fmin, sum => fsum, when => fwhen}
    def valueCol(e: Expression): Column = GraftColumnBridge.column(e)
    // count = running sum of a non-null 0/1 indicator (count(*) sums a
    // literal 1), so it rides the same sum machinery and is never null
    def indicator(v: Option[Expression]): Column = v match {
      case None => lit(1L)
      case Some(e) => valueCol(e).isNotNull.cast("long")
    }
    val needRankCol = funcs.exists(_._3 match {
      case RowNum | Tile(_) => true
      case _: OffsetFn | _: FirstVal => true
      case _ => false
    })
    val needN = funcs.exists(_._3 match {
      case Tile(_) | TiePercent | TieCume => true
      // a lead's miss test is rank + k > n - 1
      case OffsetFn(_, off, _, _) => off > 0
      case _ => false
    })
    // offset functions: per-range-local lag/lead in the SAME window
    // pass; only the first/last k rows of each range read across a
    // seam, stitched from a ≤ P·k-row boundary broadcast — no
    // full-data exchange anywhere (the earlier rank-equi self-join
    // formulation shuffled the whole fact twice per offset)
    val offsetFns = funcs.collect {
      case (_, _, o: OffsetFn) if o.offset != 0 => o
    }
    val tmpPid = "__graft_auto_pid"
    val tmpIdx = "__graft_auto_idx"
    val tmpCnt = "__graft_auto_cnt"
    val offOuts = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Expression), (Expression, String)]
    offsetFns.foreach { o =>
      val k = (o.offset, o.value.canonicalized)
      if (!offOuts.contains(k))
        offOuts(k) = (o.value, s"__graft_auto_sh_${offOuts.size}")
    }
    val shiftSpecs = offOuts.toSeq.map { case ((off, _), (v, nm)) =>
      Ranking.ShiftSpec(valueCol(v), off, nm + "_l")
    }
    // distinct ROWS-frame running aggregates, each mapped to the prefix
    // column(s) it needs from the row-level pass (avg needs sum + count)
    val runs = funcs.collect { case (_, _, r: Running) => r }
    def runKey(r: Running): (AggOp, Option[Expression], Boolean) =
      (r.op, r.value.map(_.canonicalized), r.rows)
    val rowOuts = scala.collection.mutable.LinkedHashMap
      .empty[(AggOp, Option[Expression], Boolean), (Running, String, Option[String])]
    runs.filter(_.rows).foreach { r =>
      val k = runKey(r)
      if (!rowOuts.contains(k)) {
        val i = rowOuts.size
        rowOuts(k) = (r, s"__graft_auto_run_${i}_m",
          if (r.op == OpAvg) Some(s"__graft_auto_run_${i}_c") else None)
      }
    }
    val rowSpecs: Seq[RunningSpec] = rowOuts.values.toSeq.flatMap {
      case (r, main, cntOpt) =>
        val mainSpec = r.op match {
          case OpSum => RunningSpec(valueCol(r.value.get).cast("long"),
            RunSum, inclusive = true, main)
          case OpAvg => RunningSpec(valueCol(r.value.get).cast("long"),
            RunSum, inclusive = true, main)
          case OpCount => RunningSpec(indicator(r.value),
            RunSum, inclusive = true, main)
          case OpMin => RunningSpec(valueCol(r.value.get),
            RunMin, inclusive = true, main)
          case OpMax => RunningSpec(valueCol(r.value.get),
            RunMax, inclusive = true, main)
        }
        mainSpec +: cntOpt.toSeq.map(c =>
          RunningSpec(indicator(r.value), RunSum, inclusive = true, c))
    }
    // the row-level pass: ONE range assignment computes the global rank,
    // the total count, and every ROWS-frame prefix — all reading one
    // local sort, so mixed outputs are tie-consistent with each other
    val rowPass = needRankCol || rowSpecs.nonEmpty
    var ranked =
      if (rowPass)
        Ranking.withGlobalPrefix(childDf, orderCols,
          if (needRankCol) Some(tmpRank) else None,
          if (needN) Some(tmpN) else None, rowSpecs, proxyOpt,
          internals = if (offsetFns.nonEmpty)
            Some((tmpPid, tmpIdx, tmpCnt)) else None,
          shifts = shiftSpecs)
      else childDf
    // n without a row pass (tie trio alone): ONE global count aggregate,
    // broadcast to every row — a map-side-combined pass, far cheaper
    // than ranking the table just to learn its size
    if (needN && !rowPass) {
      val nFrame = childDf.agg(fcount(lit(1)).cast("long").as(tmpN))
        .limit(1)
      ranked = ranked.crossJoin(
        org.apache.spark.sql.functions.broadcast(nFrame))
    }
    // snapshot for offset-function build sides: contains the rank and
    // the child attributes, WITHOUT the later group join — the shifted
    // frames and the first-row broadcast must not re-execute that work
    val afterRowPass = ranked
    // the group-level pass serves dense_rank, the tie-aware trio
    // (rank / percent_rank / cume_dist), AND every RANGE-frame
    // aggregate: all are per-distinct-key-tuple quantities. One
    // groupBy over the full order keys (map-side combined, so a
    // 50-distinct-value fact column never skews a shuffle the way a
    // Window.partitionBy(key) would), ONE distributed prefix over the
    // much smaller group frame (dense rank = the group's row number;
    // SQL rank = exclusive prefix row count + 1; cume_dist = inclusive
    // prefix count / n; a RANGE prefix = the running aggregate of
    // per-group totals), joined back null-safely (<=> matches SQL peer
    // semantics: nulls tie with nulls, and Spark normalizes NaN)
    val needDense = funcs.exists(_._3 == TieDense)
    val needTie = funcs.exists(f =>
      f._3 == TieRank || f._3 == TiePercent || f._3 == TieCume)
    val gOuts = scala.collection.mutable.LinkedHashMap
      .empty[(AggOp, Option[Expression], Boolean), (Running, String, Option[String])]
    runs.filterNot(_.rows).foreach { r =>
      val k = runKey(r)
      if (!gOuts.contains(k)) {
        val i = gOuts.size
        gOuts(k) = (r, s"__graft_auto_gp_${i}_m",
          if (r.op == OpAvg) Some(s"__graft_auto_gp_${i}_c") else None)
      }
    }
    // the tie trio reads the group-count prefix (and its own group's
    // count, kept as the _t column) — registered as a RANGE count(*)
    // so a real `count(*) OVER (ORDER BY …)` in the same window shares it
    val tieKey: (AggOp, Option[Expression], Boolean) = (OpCount, None, false)
    if (needTie && !gOuts.contains(tieKey))
      gOuts(tieKey) = (Running(OpCount, None, rows = false, LongType),
        s"__graft_auto_gp_${gOuts.size}_m", None)
    val keepTots: Set[String] =
      if (needTie) Set(gOuts(tieKey)._2 + "_t") else Set.empty
    if (needDense || gOuts.nonEmpty) {
      val keyNames = w.orderSpec.indices.map(i => s"__graft_auto_key_$i")
      ranked = keyNames.zip(w.orderSpec).foldLeft(ranked) {
        case (df, (nm, so)) =>
          df.withColumn(nm, GraftColumnBridge.column(so.child))
      }
      val dKeyNames = keyNames.map(_ + "_d")
      // per-group totals (group = one distinct key tuple); the names are
      // the prefix-output names with a _t suffix so the prefix spec can
      // read them before they are dropped
      val gAggExprs = gOuts.values.toSeq.flatMap { case (r, main, cntOpt) =>
        val tot = r.op match {
          case OpSum => fsum(valueCol(r.value.get).cast("long"))
          case OpAvg => fsum(valueCol(r.value.get).cast("long"))
          case OpCount => fsum(indicator(r.value))
          case OpMin => fmin(valueCol(r.value.get))
          case OpMax => fmax(valueCol(r.value.get))
        }
        (tot.as(main + "_t")) +: cntOpt.toSeq.map(c =>
          fsum(indicator(r.value)).as(c + "_t"))
      }
      val grouped = ranked.groupBy(keyNames.map(fcol): _*)
        .agg(fcount(lit(1)).as("__graft_auto_gn"), gAggExprs: _*)
        .select((keyNames.zip(dKeyNames).map { case (k, d) =>
          fcol(k).as(d)
        } ++ gOuts.values.toSeq.flatMap { case (_, main, cntOpt) =>
          (main + "_t") +: cntOpt.toSeq.map(_ + "_t")
        }.map(fcol)): _*)
      val dOrder = dKeyNames.zip(w.orderSpec).map { case (nm, so) =>
        directed(fcol(nm), so.direction, so.nullOrdering)
      }
      val head = w.orderSpec.head
      val dProxy = proxyOf(fcol(dKeyNames.head), head.child.dataType,
        head.direction, head.nullOrdering).getOrElse(return None)
      val gSpecs = gOuts.values.toSeq.flatMap { case (r, main, cntOpt) =>
        val kind = r.op match {
          case OpMin => RunMin
          case OpMax => RunMax
          case _ => RunSum
        }
        RunningSpec(fcol(main + "_t"), kind, inclusive = true, main) +:
          cntOpt.toSeq.map(c =>
            RunningSpec(fcol(c + "_t"), RunSum, inclusive = true, c))
      }
      val dRanked = Ranking.withGlobalPrefix(grouped, dOrder,
          if (needDense) Some(tmpDense) else None, None, gSpecs,
          Some(dProxy))
        .drop("__graft_auto_gn")
        .drop(gOuts.values.toSeq.flatMap { case (_, main, cntOpt) =>
          (main + "_t") +: cntOpt.toSeq.map(_ + "_t")
        }.filterNot(keepTots): _*)
      val cond = keyNames.zip(dKeyNames)
        .map { case (k, d) => ranked(k) <=> dRanked(d) }.reduce(_ && _)
      ranked = ranked.join(dRanked, cond)
        .drop((keyNames ++ dKeyNames): _*)
    }
    // boundary stitching: rows whose offset target crosses a range seam
    // read it from a broadcast of each range's first/last maxK rows —
    // bounded by P·maxK (cluster metadata × offset), never data size.
    // Coverage: a row at local index i < k targets rank−k, which sits
    // within the last (k−i) ≤ maxK rows of ITS range, so the tail
    // filter always contains it; a left-join null on a covered rank is
    // therefore a legitimately-null VALUE, and misses are decided by
    // rank arithmetic alone (no hit marker needed)
    if (offsetFns.nonEmpty) {
      val ranges = spark.sessionState.conf.numShufflePartitions
      val lagKs = offOuts.keys.collect { case (off, _) if off < 0 => -off }
      val leadKs = offOuts.keys.collect { case (off, _) if off > 0 => off }
      offOuts.keys.map(_._1).toSeq.distinct.foreach { off =>
        val isLag = off < 0
        val maxK = (if (isLag) lagKs else leadKs).max
        val bFilter =
          if (isLag) fcol(tmpIdx) >= fcol(tmpCnt) - lit(maxK.toLong)
          else fcol(tmpIdx) < lit(maxK.toLong)
        val tag = (if (isLag) "m" else "") + math.abs(off)
        val brank = s"__graft_auto_br_$tag"
        val members = offOuts.collect {
          case ((o2, _), (v, nm)) if o2 == off => (v, nm)
        }.toSeq
        val b = afterRowPass.filter(bFilter)
          .select((fcol(tmpRank).as(brank) +:
            members.map { case (v, nm) =>
              GraftColumnBridge.column(v).as(nm + "_b")
            }): _*)
          .limit(ranges * maxK)
        ranked = ranked.join(
          org.apache.spark.sql.functions.broadcast(b),
          ranked(tmpRank) + lit(off.toLong) === b(brank), "left")
          .drop(brank)
      }
    }
    // first_value: the rank-0 row, broadcast to every row (bounded
    // build side — rank 0 is unique, the limit makes that structural)
    val firstOuts = scala.collection.mutable.LinkedHashMap
      .empty[Expression, (Expression, String)]
    funcs.collect { case (_, _, f: FirstVal) => f }.foreach { f =>
      val k = f.value.canonicalized
      if (!firstOuts.contains(k))
        firstOuts(k) = (f.value, s"__graft_auto_fv_${firstOuts.size}")
    }
    if (firstOuts.nonEmpty) {
      val firstRow = afterRowPass.filter(fcol(tmpRank) === lit(0L))
        .select(firstOuts.values.toSeq.map { case (v, nm) =>
          GraftColumnBridge.column(v).as(nm)
        }: _*)
        .limit(1)
      ranked = ranked.crossJoin(
        org.apache.spark.sql.functions.broadcast(firstRow))
    }
    // whole-partition aggregates: ONE map-side-combined global
    // aggregate over the child, broadcast to every row
    val wholeOuts = scala.collection.mutable.LinkedHashMap
      .empty[(AggOp, Option[Expression]), (Whole, String, Option[String])]
    funcs.collect { case (_, _, r: Whole) => r }.foreach { r =>
      val k = (r.op, r.value.map(_.canonicalized))
      if (!wholeOuts.contains(k)) {
        val i = wholeOuts.size
        wholeOuts(k) = (r, s"__graft_auto_wh_${i}_m",
          if (r.op == OpAvg) Some(s"__graft_auto_wh_${i}_c") else None)
      }
    }
    if (wholeOuts.nonEmpty) {
      val aggExprs = wholeOuts.values.toSeq.flatMap { case (r, main, cntOpt) =>
        val tot = r.op match {
          case OpSum => fsum(valueCol(r.value.get).cast("long"))
          case OpAvg => fsum(valueCol(r.value.get).cast("long"))
          case OpCount => fsum(indicator(r.value))
          case OpMin => fmin(valueCol(r.value.get))
          case OpMax => fmax(valueCol(r.value.get))
        }
        tot.as(main) +: cntOpt.toSeq.map(c =>
          fsum(indicator(r.value)).as(c))
      }
      val wFrame = childDf.agg(aggExprs.head, aggExprs.tail: _*).limit(1)
      ranked = ranked.crossJoin(
        org.apache.spark.sql.functions.broadcast(wFrame))
    }
    val rn = fcol(tmpRank)
    val n = fcol(tmpN)
    val outNames = funcs.indices.map(i => s"__graft_auto_out_$i")
    funcs.zip(outNames).foreach { case ((_, _, fn), nm) =>
      val c = fn match {
        case Tile(k) => Ranking.ntileFromRank(rn, n, k).cast("int")
        case RowNum => (rn + lit(1L)).cast("int")
        // SQL rank = rows strictly before my peer group + 1; cume_dist
        // = rows through my peer group / n; percent_rank = (rank-1)/
        // (n-1), 0 when n = 1 — all from the group-count prefix
        // (inclusive prefix `incl`, own group count `own`)
        case TieRank =>
          val incl = fcol(gOuts(tieKey)._2)
          val own = fcol(gOuts(tieKey)._2 + "_t")
          (incl - own + lit(1L)).cast("int")
        case TiePercent =>
          val incl = fcol(gOuts(tieKey)._2)
          val own = fcol(gOuts(tieKey)._2 + "_t")
          fwhen(n === lit(1L), lit(0.0)).otherwise(
            (incl - own).cast("double") / (n - lit(1L)).cast("double"))
        case TieCume =>
          fcol(gOuts(tieKey)._2).cast("double") / n.cast("double")
        case TieDense => (fcol(tmpDense) + lit(1L)).cast("int")
        case r: Running =>
          val (_, main, cntOpt) =
            if (r.rows) rowOuts(runKey(r)) else gOuts(runKey(r))
          val raw = r.op match {
            case OpAvg => fcol(main).cast("double") /
              fcol(cntOpt.get).cast("double")
            case _ => fcol(main)
          }
          raw.cast(r.dt)
        case o: OffsetFn if o.offset == 0 =>
          // lag/lead with offset 0 is the value itself
          valueCol(o.value).cast(o.dt)
        case o: OffsetFn =>
          val nm2 = offOuts((o.offset, o.value.canonicalized))._2
          val k = math.abs(o.offset).toLong
          val local = fcol(nm2 + "_l")
          val bval = fcol(nm2 + "_b")
          val dflt = GraftColumnBridge.column(o.default)
          val c0 =
            if (o.offset < 0)
              fwhen(rn < lit(k), dflt).otherwise(
                fwhen(fcol(tmpIdx) >= lit(k), local).otherwise(bval))
            else
              fwhen(rn + lit(k) > n - lit(1L), dflt).otherwise(
                fwhen(fcol(tmpIdx) + lit(k) < fcol(tmpCnt), local)
                  .otherwise(bval))
          c0.cast(o.dt)
        case f: FirstVal =>
          fcol(firstOuts(f.value.canonicalized)._2).cast(f.dt)
        case r: Whole =>
          val (_, main, cntOpt) =
            wholeOuts((r.op, r.value.map(_.canonicalized)))
          val raw = r.op match {
            case OpAvg => fcol(main).cast("double") /
              fcol(cntOpt.get).cast("double")
            case _ => fcol(main)
          }
          raw.cast(r.dt)
      }
      ranked = ranked.withColumn(nm, c)
    }
    ranked = ranked.drop(
      (if (needRankCol) Seq(tmpRank) else Nil) ++
        (if (needN) Seq(tmpN) else Nil) ++
        (if (needDense) Seq(tmpDense) else Nil) ++
        rowOuts.values.toSeq.flatMap { case (_, m, c) => m +: c.toSeq } ++
        gOuts.values.toSeq.flatMap { case (_, m, c) => m +: c.toSeq } ++
        keepTots.toSeq ++
        (if (offsetFns.nonEmpty) Seq(tmpPid, tmpIdx, tmpCnt) else Nil) ++
        offOuts.values.toSeq.flatMap { case (_, nm) =>
          Seq(nm + "_l", nm + "_b")
        } ++
        firstOuts.values.toSeq.map(_._2) ++
        wholeOuts.values.toSeq.flatMap { case (_, m, c) => m +: c.toSeq }: _*)
    splice(w, ranked, outNames, funcs).map { p =>
      logInfo(s"distributing ${funcs.size} unpartitioned rank function(s) " +
        s"over ${w.orderSpec.map(_.sql).mkString(", ")}")
      p
    }
  }

  /** Splice `ranked` in place of window `w`. `ranked` carries
    * `w.child`'s columns plus one column per window function of
    * `funcs`, named `outNames` in the same order; each keeps the name
    * and id the window gave it. None when the replacement lost a column.
    */
  private def splice(w: Window, ranked: DataFrame, outNames: Seq[String],
                     funcs: Seq[(String, ExprId, Any)]): Option[LogicalPlan] = {
    // fully optimize the replacement in its own QueryExecution: the
    // outer optimizer's pushdown/pruning batches are already past, so
    // the splice must arrive pre-optimized (output ids are stable across
    // optimization — only the tree under them changes)
    val analyzed = ranked.queryExecution.optimizedPlan
    val byName = analyzed.output.map(a => a.name -> a).toMap
    val outAttrs = outNames.map(n => byName.getOrElse(n, return None))
    val childAttrs = analyzed.output.filterNot(a => outNames.contains(a.name))
    if (childAttrs.size != w.child.output.size) return None
    // original ids survive Ranking's projections except where the
    // analyzer's self-join deduplication re-aliased — restore them so
    // everything upstream of the old Window still resolves
    val restored = w.child.output.zip(childAttrs).map { case (orig, got) =>
      if (orig.exprId == got.exprId) got
      else Alias(got, orig.name)(exprId = orig.exprId)
    }
    val ranks = funcs.zip(outAttrs).map { case ((name, id, _), attr) =>
      Alias(attr, name)(exprId = id)
    }
    Some(Project(restored ++ ranks, analyzed))
  }

  /** The PARTITIONED-window leg, gated on catalog statistics — the
    * cost-based twin of the unpartitioned rewrite. A
    * `Window.partitionBy(key)` sorts each key's rows in ONE task,
    * un-splittable by AQE (it splits skewed join probes, never window
    * sorts), so when NDV(key) ≪ shuffle partitions the stage runs at
    * parallelism ≤ NDV whatever the cluster width — but that skew is
    * not statically provable from the plan alone, which is why the
    * unpartitioned rule always refused these nodes. Column statistics
    * (`ANALYZE TABLE … FOR COLUMNS`, [[graft.ops.CatalogStats]]) make
    * it provable, and the SAME stats solve the rewrite's other
    * problem: [[Ranking.withPartitionedRowNumber]] range-splits on a
    * proxy led by the partition key, and a low-NDV key alone collapses
    * to ≤ NDV ranges — so the proxy here extends WITHIN keys with the
    * leading order column normalized into [0, 1) by its stats min/max
    * (`key + (v − min)/(max − min + 1)`). Stale bounds only clamp the
    * fraction — the proxy stays weakly monotone in the total order, so
    * balance degrades, never a rank.
    *
    * Guards (each refusal keeps the naive plan):
    *   - stats must exist and prove it: one or more attribute keys of
    *     numeric / string / date / timestamp type whose distinctCount
    *     PRODUCT satisfies `2·Πndv ≤ shuffle partitions` (the product
    *     upper-bounds the composite cardinality whatever the
    *     correlation). ALL-integral keys pack lexicographically from
    *     their min/max stats (the key-to-key proxy gap is ≥ 1, so the
    *     within-key fraction can never reorder keys; slot-span
    *     products past 2^52 exact-double territory refuse); any other
    *     orderable mix — `PARTITION BY source`, the most common real
    *     crawl shape — goes through a DENSE KEY INDEX instead: the
    *     distinct key tuples (≤ Πndv, proven; computed from the DATA,
    *     so stale stats can only mis-size the broadcast, never lose a
    *     key) take a distributed rank in key order and broadcast-join
    *     back null-safely, and `idx + fraction` is the packed proxy
    *     with slot width 1 (the index is bijective and monotone, so
    *     partitioning by it ≡ partitioning by the keys). Also needed: a
    *     leading order column with known min/max of a numeric /
    *     date / timestamp type — path-based reads carry neither, so
    *     this leg never fires outside a stats-bearing catalog table
    *     (the stats-absent refusal PlanLintSpec-style pinned in
    *     DistributeRankSpec);
    *   - stats must also prove the rewrite WORTH IT: rowCount / Πndv
    *     (a lower bound on rows-per-key) must clear
    *     [[PartitionedMinRowsKey]] — a proven cap over trivially small
    *     per-key sorts is not a bottleneck, and the naive plan wins
    *     below the measured crossover (refusal spec-pinned; floor 0
    *     disables for the demo keys);
    *   - functions: `row_number()`, and running `sum`/`count`/`avg`
    *     (integral sum/avg — the distributed subtraction
    *     re-associates, exact only for integers) in BOTH frame
    *     spellings: an explicit ROWS prefix rides the per-row
    *     [[Ranking.withPartitionedPrefix]] pass (tie attribution
    *     follows the pipeline's arbitrary-but-consistent order — the
    *     same latitude SQL gives the naive plan), and the DEFAULT
    *     RANGE frame — peers share one value — computes per distinct
    *     (key, order tuple) via [[Ranking.withPartitionedRangeSums]]
    *     (group totals → prefix over the group frame → null-safe
    *     join-back), TIE-EXACT at any scale. The RANGE path
    *     additionally needs plain attribute order keys with default
    *     null placement; a node MIXING the two grains stays naive
    *     (two pipelines + two join-backs would beat no plan);
    *   - same bounded-child / WindowGroupLimit / filter-consumed
    *     guards as the unpartitioned leg.
    */
  private def rewritePartitioned(w: Window): Option[LogicalPlan] = {
    if (w.orderSpec.isEmpty || w.windowExpressions.isEmpty) return None
    if (!w.child.resolved || w.child.maxRows.isDefined) return None
    if (w.child.isInstanceOf[WindowGroupLimit]) return None
    def integralKey(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // a key the DENSE-INDEX path below can order: anything the
    // withGlobalRowNumber range machinery handles as an order column
    def indexableKey(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }
    // one OR MORE attribute keys: the NDV PRODUCT is an upper bound on
    // the composite key's true cardinality (2·Πndv ≤ parts ⇒
    // 2·NDV(combined) ≤ parts — sound whatever the correlation). ALL
    // integral keys pack LEXICOGRAPHICALLY from their min/max stats
    // (zero extra passes); any other orderable mix — the analyst's
    // `PARTITION BY source` over a low-NDV STRING is the most common
    // real shape — goes through the dense key index below instead
    val keys: Seq[Attribute] = w.partitionSpec.map {
      case a: Attribute if indexableKey(a.dataType) => a
      case _ => return None
    }
    if (keys.isEmpty) return None
    val allIntegral = keys.forall(k => integralKey(k.dataType))
    val stats = w.child.stats
    val keyStats = keys.map(k =>
      stats.attributeStats.get(k).getOrElse(return None))
    val ndvs = keyStats.map(_.distinctCount.getOrElse(return None))
    if (ndvs.exists(_ <= 0)) return None
    val ndv = ndvs.product
    val parts = conf.numShufflePartitions
    if (ndv * 2 > BigInt(parts)) return None
    // cost gate (see [[PartitionedMinRowsKey]]): a PROVEN parallelism
    // cap only matters when each key carries enough rows for its
    // single-task sort to dominate the distributed form's multi-stage
    // floor. rowCount / ndv lower-bounds rows-per-key; absent row-count
    // stats nothing is provable, so refuse (naive plan kept).
    val minRowsPerKey = conf
      .getConfString(PartitionedMinRowsKey, DefaultMinRowsPerKey.toString)
      .toLong
    if (minRowsPerKey > 0) {
      val rowCount = stats.rowCount.getOrElse(return None)
      if (rowCount < BigInt(minRowsPerKey) * ndv) return None
    }
    val so = w.orderSpec.head
    val oAttr = so.child match {
      case a: Attribute => a
      case _ => return None
    }
    val oStat = stats.attributeStats.get(oAttr).getOrElse(return None)
    def statNum(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case d: Decimal => Some(d.toDouble)
      case _ => None
    }
    val oMin = oStat.min.flatMap(statNum).getOrElse(return None)
    val oMax = oStat.max.flatMap(statNum).getOrElse(return None)
    if (!(oMax >= oMin)) return None
    // data-side numeric view of the order column, on the SAME scale as
    // the stats values (days for dates, micros for timestamps) — as a
    // FUNCTION, because the range path applies it to a renamed copy
    import org.apache.spark.sql.functions.{col => fcol, greatest => fgreatest, least => fleast, unix_micros, when => fwhen}
    val oCol = GraftColumnBridge.column(oAttr)
    if (!(oAttr.dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType =>
        true
      case _ => false
    })) return None
    def numOf(c: Column): Column = oAttr.dataType match {
      case DateType => datediff(c, lit("1970-01-01").cast("date"))
        .cast("double")
      case TimestampType => unix_micros(c).cast("double")
      case TimestampNTZType =>
        unix_micros(c.cast(TimestampType)).cast("double")
      case _ => c.cast("double")
    }
    sealed trait PFn
    case object PRowNum extends PFn
    case class PSum(value: Expression, dt: DataType,
                    range: Boolean) extends PFn
    case class PCount(value: Option[Expression], dt: DataType,
                      range: Boolean) extends PFn
    case class PAvg(value: Expression, dt: DataType,
                    range: Boolean) extends PFn
    val funcs: Seq[(String, ExprId, PFn)] = w.windowExpressions.map {
      case a @ Alias(WindowExpression(f, spec), n)
          if spec.partitionSpec == w.partitionSpec &&
            spec.orderSpec == w.orderSpec =>
        f match {
          case RowNumber() => (n, a.exprId, PRowNum)
          case ae: AggregateExpression
              if !ae.isDistinct && ae.filter.isEmpty =>
            // explicit ROWS prefix rides the row-level pass; the
            // DEFAULT RANGE prefix (peers share values) computes per
            // distinct (key, order-tuple) group — tie-exact at any scale
            val range = spec.frameSpecification match {
              case SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
                CurrentRow) => false
              case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding,
                CurrentRow) => true
              case _ => return None
            }
            val fn: PFn = ae.aggregateFunction match {
              case s: Sum if s.evalContext.evalMode != EvalMode.TRY &&
                  integral(s.child.dataType) =>
                PSum(s.child, ae.dataType, range)
              case c: Count
                  if c.children.forall(ch => ch.foldable && !ch.nullable) =>
                PCount(None, ae.dataType, range)
              case c: Count if c.children.size == 1 =>
                PCount(Some(c.children.head), ae.dataType, range)
              case av: Average if av.evalMode != EvalMode.TRY &&
                  integral(av.child.dataType) =>
                PAvg(av.child, ae.dataType, range)
              case _ => return None
            }
            (n, a.exprId, fn)
          case _ => return None
        }
      case _ => return None
    }
    // the stats-furnished range proxy: key + clamped in-key fraction.
    // Fraction orientation follows the order direction; null/NaN fills
    // follow their sort placement (nulls-first → 0, NaN greatest → 1−ε
    // ascending / 0 descending). All fills are balance-only.
    val spark = SparkSession.active
    val childDf = GraftColumnBridge.ofRows(spark, w.child)
    val keyCols = keys.map(GraftColumnBridge.column)
    val span = oMax - oMin + 1.0
    val hi = 1.0 - 1e-9
    val nanFill = if (so.direction == Descending) 0.0 else hi
    val nullFill = if (so.nullOrdering == NullsFirst) 0.0 else hi
    // CAUTION: Spark's greatest/least SKIP nulls (they return the
    // non-null argument) and treat NaN as largest — so the null fill
    // must be an explicit isNotNull gate (greatest(null, 0) = 0 would
    // silently merge nulls with the minimum) and nanvl must run BEFORE
    // the clamp (least(NaN, hi) = hi would override a 0.0 NaN fill on
    // descending orders, inverting NaN's nulls-like placement)
    def fracOf(c: Column): Column = {
      val n = numOf(c)
      val frac0 =
        if (so.direction == Descending) (lit(oMax) - n) / lit(span)
        else (n - lit(oMin)) / lit(span)
      val filled = nanvl(frac0, lit(nanFill))
      coalesce(
        fwhen(n.isNotNull,
          fleast(fgreatest(filled, lit(0.0)), lit(hi))),
        lit(nullFill))
    }
    // lexicographic key packing from the stats bounds: fold
    // packed = packed · (span_i + 1) + slot_i, where slot_i = 0 for a
    // null key and clamp(k_i − min_i, [0, span_i−1]) + 1 ∈ [1, span_i]
    // otherwise (nulls sort FIRST within their slot, like the plain
    // ascending key copies the prefix machinery sorts by). The
    // multiplier must be span + 1 — with a span-wide multiplier and
    // null = −1, adjacent blocks OVERLAP by one value, (k₁=s, k₂=max)
    // ties with (k₁=s+1, k₂=null), and the within-key fraction added
    // below can INVERT them (found by RankingSpec's property search on
    // the library twin of this packing; latent here for any composite
    // whose NON-HEAD key carries nulls). Clamping keeps stale
    // out-of-bounds values weakly monotone (they collapse onto the
    // block edge — ties, balance-only). The slot product must stay
    // exactly representable (≤ 2^52): a rounded product could collapse
    // two adjacent k₁ blocks with the same inversion hazard — so
    // wide-span keys refuse rather than risk a rank.
    def statLong(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    val keyBounds: Seq[(Long, Long)] =
      if (!allIntegral) Nil
      else keyStats.map { st =>
        val mn = st.min.flatMap(statLong).getOrElse(return None)
        val mx = st.max.flatMap(statLong).getOrElse(return None)
        if (mx < mn) return None
        (mn, mx)
      }
    // the span check applies to a SINGLE key too: packedOf's double
    // result must keep every distinct (shifted) key value distinct, and
    // past a 2^52 SPAN two adjacent slot values can collapse onto one
    // double — fracOf's within-key fraction (< 1) would then INVERT the
    // (key, order) lexicographic order, silently corrupting ranks. Weak
    // monotonicity is the proxy's correctness contract, so wide SPANS
    // refuse whatever the key count; high-MAGNITUDE keys with a proven
    // small span (snowflake IDs, nanosecond epochs) are fine because
    // packedOf subtracts the min in long space before casting.
    if (allIntegral) {
      val spanProduct = keyBounds.map { case (mn, mx) =>
        BigInt(mx) - BigInt(mn) + 2 // span + 1: the null slot is its own
      }.product
      if (spanProduct > (BigInt(1L) << 52)) return None
    }
    def packedOf(cols: Seq[Column]): Column =
      keys.indices.foldLeft(lit(0.0)) { (acc, i) =>
        val (mn, mx) = keyBounds(i)
        val kSpan = (BigInt(mx) - BigInt(mn) + 1).toDouble
        // explicit null gate (see fracOf): a null key slot must land
        // BELOW every value slot, like the ascending-nulls-first key
        // copies the prefix machinery sorts by — in its OWN slot 0,
        // values shifted to [1, span] under the span+1 multiplier.
        // Clamp in LONG space, subtract in LONG space, cast LAST:
        // cast(k) − mn.toDouble computed in doubles collapses adjacent
        // distinct longs once |value| > 2^53 (snowflake IDs with a
        // stats-proven tiny span pass the 2^52 SPAN gate yet corrupt
        // ranks when the fraction inverts across the collapse) — the
        // long clamp to the stats bounds is exact at any magnitude,
        // keeps stale out-of-bounds values weakly monotone on the block
        // edge as before, and guarantees the subtraction ∈ [0, span−1]
        // ≤ 2^52 so it can neither overflow nor round
        val ci = fwhen(cols(i).isNotNull,
          (fleast(fgreatest(cols(i).cast("long"), lit(mn)), lit(mx)) -
            lit(mn)).cast("double") + lit(1.0))
        acc * lit(kSpan + 1.0) + coalesce(ci, lit(0.0))
      }
    // NON-integral (or mixed) keys cannot pack into slots — there is no
    // "gap ≥ 1" argument for strings — but the SAME stats proof that
    // made the rewrite worthwhile also bounds a DENSE KEY INDEX: the
    // distinct key tuples (≤ Πndv rows, from the DATA, so stale stats
    // cannot lose a key — only mis-size the broadcast) get a
    // distributed 0-based rank in key order (withGlobalRowNumber — no
    // naive window anywhere, string heads ride stringPrefixFraction)
    // and broadcast-join back null-safely. The index is a BIJECTION
    // onto the key tuples and monotone in their sort order, so
    // `idx + fracOf(order)` is exactly the packed proxy with slot
    // width 1 — and partitioning the helper BY the index column is
    // equivalent to partitioning by the keys.
    val idxName = "__graft_auto_kidx"
    val (baseDf, helperKeys, proxyFn, dropAfter):
        (org.apache.spark.sql.DataFrame, Seq[Column],
          (Seq[Column], Column) => Column, Seq[String]) =
      if (allIntegral)
        (childDf, keyCols, (ks, o) => packedOf(ks) + fracOf(o), Nil)
      else {
        val kcopy = keys.indices.map(i => s"__graft_auto_kc_$i")
        val distinctKeys = childDf.select(keys.zip(kcopy).map {
          case (a, nm) => GraftColumnBridge.column(a).as(nm)
        }: _*).distinct()
        // stats-furnished splits for the index rank too — the head key's
        // proxy domain is known (string-prefix fraction sup = U+10FFFF
        // over 2^21, or the numeric stats bounds), so the ≤ Πndv-row
        // distinct frame skips its percentile pass as well; any
        // imbalance is irrelevant at that proven size
        val headIdxSplits: Option[Seq[Double]] = keys.head.dataType match {
          case StringType =>
            val d = 1114112.0 / 2097152.0
            Some((1 until parts).map(i => d * i / parts))
          case _ =>
            for {
              mn <- keyStats.head.min.flatMap(statNum)
              mx <- keyStats.head.max.flatMap(statNum)
              if mx >= mn
            } yield (1 until parts).map(i => mn + (mx + 1 - mn) * i / parts)
        }
        val idxFrame = Ranking.withGlobalRowNumber(distinctKeys,
          kcopy.map(fcol), idxName, splitPoints = headIdxSplits)
        val joinCond = keys.zip(kcopy).map { case (a, nm) =>
          GraftColumnBridge.column(a) <=> idxFrame(nm)
        }.reduce(_ && _)
        val joined = childDf.join(
            org.apache.spark.sql.functions.broadcast(idxFrame), joinCond)
          .drop(kcopy: _*)
        (joined, Seq(fcol(idxName)),
          (ks, o) => ks.head.cast("double") + fracOf(o), Seq(idxName))
      }
    val rangeKey = proxyFn(helperKeys, oCol)
    // stats-furnished SPLIT POINTS: the same statistics that prove the
    // NDV cap also bound the PROXY DOMAIN, so the range assignment can
    // be a pure map over literal bounds instead of a percentile
    // aggregate — removing one full traversal of the input lineage
    // (for a window over a pre-aggregate that traversal re-runs the
    // whole upstream shuffle) and its scheduler stages from BOTH the
    // data pass and the key-frame base pass. Split quality is
    // balance-only (identical contract to the GK sketch they replace):
    // a skewed order distribution or stale NDV just unbalances ranges,
    // never a rank. Gated on a DENSE key domain for the packed path —
    // span+1 ≤ 4·ndv per key, else sparse slots would concentrate the
    // real keys into few ranges and the sketch earns its pass; the
    // dense-index path is dense in [0, D) BY CONSTRUCTION.
    val proxyDomain: Option[Double] =
      if (!allIntegral) Some(ndv.toDouble)
      else if (keyBounds.zip(ndvs).forall { case ((mn, mx), nd) =>
        BigInt(mx) - BigInt(mn) + 2 <= nd * 4 })
        Some(keyBounds.map { case (mn, mx) =>
          (BigInt(mx) - BigInt(mn) + 2).toDouble }.product)
      else None
    val dataSplits = proxyDomain.map(d =>
      (1 until parts).map(i => d * i / parts))
    // base pass orders the one-row-per-key frame by the key copies;
    // its default proxy is the HEAD key (integral path) or the dense
    // index (string path) — both stats-bounded
    val baseSplits: Option[Seq[Double]] =
      if (proxyDomain.isEmpty) None
      else if (!allIntegral)
        Some((1 until parts).map(i => ndv.toDouble * i / parts))
      else {
        val (mn0, mx0) = keyBounds.head
        val span0 = (BigInt(mx0) - BigInt(mn0) + 1).toDouble
        Some((1 until parts).map(i => mn0.toDouble + span0 * i / parts))
      }
    val orderCols = w.orderSpec.map(sortCol)
    val tmpRank = "__graft_auto_prn"
    // grain split: RANGE aggregates compute per distinct (key, order
    // tuple); row-level functions (row_number, ROWS aggregates) ride the
    // per-row prefix. A node mixing both grains would need two pipelines
    // and two join-backs — refused, the naive plan keeps it in one sort.
    def isRange(f: PFn): Boolean = f match {
      case PSum(_, _, r) => r
      case PCount(_, _, r) => r
      case PAvg(_, _, r) => r
      case _ => false
    }
    val anyRange = funcs.exists(f => isRange(f._3))
    if (anyRange && funcs.exists(f => !isRange(f._3))) return None
    if (anyRange) {
      // the group-and-join-back path needs plain attribute order keys
      // with DEFAULT null placement (the helper's grouping and the SQL
      // peer definition must agree on where nulls land)
      val ok = w.orderSpec.forall { so2 =>
        so2.child.isInstanceOf[Attribute] &&
          ((so2.direction == Ascending && so2.nullOrdering == NullsFirst) ||
            (so2.direction == Descending && so2.nullOrdering == NullsLast))
      }
      if (!ok) return None
    }
    // keyed by canonicalized form so every reference to the same value
    // expression — across window functions and the later output
    // mapping — resolves to the one registered prefix column
    val sums = scala.collection.mutable.LinkedHashMap
      .empty[(Boolean, Option[Expression]), (Option[Expression], String)]
    def sumOut(indicator: Boolean, v: Option[Expression]): String = {
      val k = (indicator, v.map(_.canonicalized))
      sums.getOrElseUpdate(k, (v, s"__graft_auto_ps_${sums.size}"))._2
    }
    // register the needed prefix sums (avg = its sum + its count)
    funcs.foreach {
      case (_, _, PSum(v, _, _)) => sumOut(indicator = false, Some(v))
      case (_, _, PCount(v, _, _)) => sumOut(indicator = true, v)
      case (_, _, PAvg(v, _, _)) =>
        sumOut(indicator = false, Some(v)); sumOut(indicator = true, Some(v))
      case _ =>
    }
    def valueCol(e: Expression): Column = GraftColumnBridge.column(e)
    val sumSpecs: Seq[(Column, String)] = sums.toSeq.map {
      case ((ind, _), (v, out)) =>
        val c =
          if (ind) v.map(e => valueCol(e).isNotNull.cast("long"))
            .getOrElse(lit(1L))
          else valueCol(v.get).cast("long")
        (c, out)
    }
    // ONE combined pass per grain (chaining per-quantity entry points
    // would recompute the first pass's DAG several times through the
    // second's self-join lineage — measured 20× on this probe); base
    // broadcast is safe: ≤ NDV rows, proven
    val wantRank = funcs.exists(_._3 == PRowNum)
    var ranked =
      if (anyRange)
        Ranking.withPartitionedRangeSums(baseDf, helperKeys,
          w.orderSpec.map(so2 => (GraftColumnBridge.column(so2.child),
            so2.direction == Ascending)),
          sumSpecs,
          rangeProxy = Some(proxyFn),
          splitPoints = dataSplits, baseSplitPoints = baseSplits)
      else Ranking.withPartitionedPrefix(baseDf, helperKeys,
        orderCols, if (wantRank) Some(tmpRank) else None, sumSpecs,
        Some(rangeKey), broadcastBase = true,
        splitPoints = dataSplits, baseSplitPoints = baseSplits)
    ranked = ranked.drop(dropAfter: _*)
    val outNames = funcs.map(_._1)
    funcs.foreach { case (nm, _, fn) =>
      import org.apache.spark.sql.functions.{coalesce => fcoalesce}
      val c: Column = fn match {
        case PRowNum => fcol(tmpRank).cast("int")
        case PSum(v, dt, _) =>
          fcol(sumOut(indicator = false, Some(v))).cast(dt)
        case PCount(v, dt, _) =>
          // count is 0 where sum-gating says "no rows yet", never null
          fcoalesce(fcol(sumOut(indicator = true, v)), lit(0L)).cast(dt)
        case PAvg(v, dt, _) =>
          (fcol(sumOut(indicator = false, Some(v))).cast("double") /
            fcol(sumOut(indicator = true, Some(v))).cast("double")).cast(dt)
      }
      ranked = ranked.withColumn(nm, c)
    }
    ranked = ranked.drop(
      (if (funcs.exists(_._3 == PRowNum)) Seq(tmpRank) else Nil) ++
        sums.values.toSeq.map(_._2): _*)
    splice(w, ranked, outNames, funcs).map { p =>
      logInfo(s"distributing ${funcs.size} partitioned window function(s) " +
        s"over ${keys.map(_.sql).mkString(", ")} " +
        s"(stats NDV<=$ndv, partitions=$parts)")
      p
    }
  }

  /** The numeric range-split proxy for the leading sort key: monotone
    * non-decreasing along the sort order, with null and NaN placement
    * folded in as ±MaxValue fills (nulls-first means smallest-proxy;
    * NaN sorts greatest in Spark, so last ascending / first descending).
    */
  private def proxyFor(so: SortOrder): Option[Column] =
    proxyOf(GraftColumnBridge.column(so.child), so.child.dataType,
      so.direction, so.nullOrdering)

  private def proxyOf(c: Column, dt: DataType, direction: SortDirection,
                      nulls: NullOrdering): Option[Column] = {
    val base: Column = dt match {
      case _: NumericType | TimestampType => c.cast("double")
      // NTZ has no direct numeric cast; the hop through the session-zone
      // instant is monotone non-decreasing in the local-time order (DST
      // gaps/overlaps only create ties), which is all a proxy needs
      case TimestampNTZType => c.cast(TimestampType).cast("double")
      // days since epoch — timezone-free and monotone in the date order
      case DateType => datediff(c, lit("1970-01-01").cast("date"))
        .cast("double")
      case StringType => Ranking.stringPrefixFraction(c)
      case _ => return None
    }
    val signed = if (direction == Descending) -base else base
    val nanFill =
      if (direction == Descending) Double.MinValue else Double.MaxValue
    val nullFill =
      if (nulls == NullsFirst) Double.MinValue else Double.MaxValue
    Some(coalesce(nanvl(signed, lit(nanFill)), lit(nullFill)))
  }

  private def directed(c: Column, direction: SortDirection,
                       nulls: NullOrdering): Column =
    (direction, nulls) match {
      case (Ascending, NullsFirst) => c.asc_nulls_first
      case (Ascending, NullsLast) => c.asc_nulls_last
      case (Descending, NullsFirst) => c.desc_nulls_first
      case (Descending, NullsLast) => c.desc_nulls_last
    }

  private def sortCol(so: SortOrder): Column =
    directed(GraftColumnBridge.column(so.child), so.direction, so.nullOrdering)

  // sum/avg only over integral inputs: the distributed combine
  // re-associates the addition, which is exact for integers (to 2^53
  // for avg's double division) but would drift ULPs on fractional
  // types vs the naive sequential fold — a rewrite must never change
  // stored bits, so fractional running sums stay naive.
  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
}
