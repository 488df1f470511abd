package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Streaming twins of the as-of join family
  * ([[graft.ops.AsOfJoin.backwardWithin]] / `forwardWithin` /
  * `nearestWithin`). Forward and nearest cannot be answered
  * row-at-a-time because the match is in the FUTURE: a forward match
  * for a left row at `t` may arrive any time until the watermark passes
  * `t + horizon`. Backward is subtler than it looks: its match is in
  * the past, but a right row with `rt ≤ t` is ON TIME (not
  * late-dropped) until the watermark passes `rt` — so emitting before
  * `watermark > t` could miss a better match still legitimately in
  * flight. All three therefore BUFFER left rows in keyed state until
  * their resolution point, then resolve against the buffered right rows
  * and emit exactly once (append mode) — the same watermark-buffered-
  * emit discipline `TwsStatefulOps.sessionizeStreamTws` uses to close
  * gap sessions; they differ only in the horizon arithmetic.
  *
  * The horizon is load-bearing, not a convenience: an UNBOUNDED forward
  * as-of would have to hold every unmatched left row forever (the match
  * may always still come), which contradicts bounded state. Bounding the
  * wait IS `merge_asof`'s tolerance knob, so the streaming operator is
  * the `*Within` twin by construction, and parity is against the batch
  * `forwardWithin`/`nearestWithin` at the same `horizonMicros`.
  *
  * State per key is two buffers, both watermark-bounded:
  *   - unresolved left rows — resolved and dropped once
  *     `watermark > t + horizon`;
  *   - right rows — a right at `r` can serve backward candidates for
  *     lefts up to `r + horizon` (which resolve by `r + 2·horizon`), so
  *     rights evict at `watermark − 2·horizon` (nearest) /
  *     `watermark − horizon` (forward). State size is O(arrival rate ×
  *     horizon) per key, never O(history).
  *
  * Tie rules replicate the batch operator exactly: forward takes the
  *  earliest right at-or-after `t` (equal timestamps → SMALLEST
  * `event_id`), the nearest backward leg takes the latest at-or-before
  * (equal → LARGEST id), equal-distance ties choose backward, and each
  * directional candidate is gated by its own distance BEFORE the
  * closer-of-the-two choice — inclusive at the bound.
  *
  * Late data: in `TimeMode.EventTime` the engine DROPS input rows
  * older than the watermark before they reach the state function
  * (`TransformWithStateExec`'s event-time filter — pinned by
  * AsOfStreamSpec and TwsAsOfSpec) — so a late right can never reopen a
  * resolved left (append-only emit holds by construction) and a late
  * left emits nothing rather than a wrong or partial match. The
  * `resolve` fold still handles an arrived-late left defensively (it
  * would settle immediately against the surviving buffer), but under
  * this engine that branch only serves rows inside the
  * allowed-lateness window.
  *
  * The operator runs on `transformWithState`: the buffers live in
  * ListState, and one named event-time timer per key is re-armed at the
  * key's next resolution point (earliest pending left's horizon; with
  * only rights buffered, the last right's evictability). It needs the
  * RocksDB state store provider, which the engine's sessions set.
  */
object AsOfStream {

  /** One event on the unioned stream: `is_left` tags the probe side
    * (clicks) vs the reference side (purchases). `ts` rides the
    * watermark; `ts_micros` is the exact arithmetic (the engine-wide
    * time unit, no ms-truncation drift against the batch operator).
    */
  case class AsOfEvent(user_id: Long, is_left: Boolean,
                       ts: java.sql.Timestamp, ts_micros: Long,
                       event_id: Long, value: Double)

  /** One resolved left row — the streaming analogue of the batch
    * operator's `asof_*` output columns (`asof_side` is null in forward
    * mode and on no-match rows, like the batch `nearest`).
    */
  case class AsOfMatch(user_id: Long, event_id: Long, ts_micros: Long,
                       asof_event_id: Option[Long],
                       asof_ts_micros: Option[Long],
                       asof_value: Option[Double],
                       asof_side: Option[String])

  /** One key's buffers as parallel-seq columns — the input and output of
    * the [[resolve]] fold. Lefts: (ts_us, event_id); rights: (ts_us,
    * event_id, value).
    */
  case class Buffers(l_ts: Seq[Long], l_id: Seq[Long],
                     r_ts: Seq[Long], r_id: Seq[Long], r_val: Seq[Double])

  private[streaming] sealed trait Mode
  private[streaming] case object Backward extends Mode
  private[streaming] case object Forward extends Mode
  private[streaming] case object Nearest extends Mode

  /** A left row's resolution point: backward matches are complete once
    * the watermark passes `t` itself; forward/nearest wait out the full
    * look-ahead horizon.
    */
  private def dueAt(mode: Mode, t: Long, horizon: Long): Long = mode match {
    case Backward => t
    case _ => t + horizon
  }

  /** Resolve every buffered left whose horizon the watermark has passed
    * (plus — late-left handling — any left already past it on arrival)
    * against the right buffer; returns (emitted, remaining state).
    * Shared by the streaming operator and direct unit tests, like
    * `TwsStatefulOps.foldSessions`.
    */
  private[streaming] def resolve(uid: Long, horizon: Long,
                                 mode: Mode, wmUs: Long,
                                 st: Buffers)
  : (Seq[AsOfMatch], Buffers) = {
    val lefts = st.l_ts.zip(st.l_id)
    val rights = st.r_ts.lazyZip(st.r_id).lazyZip(st.r_val).toSeq
    val (due, pending) = lefts.partition { case (t, _) =>
      dueAt(mode, t, horizon) < wmUs
    }
    val out = due.sorted.map { case (t, lid) =>
      // forward: earliest (r, id) at-or-after t within horizon
      val fwd = if (mode == Backward) None
        else rights.filter(r => r._1 >= t && r._1 - t <= horizon)
          .sortBy(r => (r._1, r._2)).headOption
      // backward: latest (r, id) at-or-before t within horizon
      val bwd = if (mode == Forward) None
        else rights.filter(r => r._1 <= t && t - r._1 <= horizon)
          .sortBy(r => (r._1, r._2)).lastOption
      val chosen: Option[((Long, Long, Double), String)] = (bwd, fwd) match {
        case (Some(b), Some(f)) =>
          if (t - b._1 <= f._1 - t) Some((b, "backward"))
          else Some((f, "forward"))
        case (Some(b), None) => Some((b, "backward"))
        case (None, Some(f)) => Some((f, "forward"))
        case (None, None) => None
      }
      AsOfMatch(uid, lid, t,
        chosen.map(_._1._2), chosen.map(_._1._1), chosen.map(_._1._3),
        chosen.map(_._2).filter(_ => mode == Nearest))
    }
    val keptRights = rights.filter(_._1 >= wmUs - backHorizon(mode, horizon))
    (out, Buffers(pending.map(_._1), pending.map(_._2),
      keptRights.map(_._1), keptRights.map(_._2), keptRights.map(_._3)))
  }

  /** How long a right row can still serve an unresolved left: one
    * horizon behind the watermark for the directional modes, two for
    * nearest (a right at `r` backs lefts up to `r + horizon`, which
    * resolve at `r + 2·horizon`).
    */
  private def backHorizon(mode: Mode, horizon: Long): Long = mode match {
    case Nearest => 2 * horizon
    case _ => horizon
  }

  /** Backward as-of over a stream: each left row matched to the latest
    * right row in `[t − horizonMicros, t]` on the same key. Backward
    * needs no future rows, but it DOES need the watermark: a left row
    * resolves only once `watermark > t`, because a right row with
    * `rt ≤ t` is on time (not late-dropped) until the watermark passes
    * `rt` — emitting earlier could miss a better match still
    * legitimately in flight. So even the "easy" direction buffers, just
    * with the shortest horizon of the three (`t`, not `t + horizon`).
    */
  def backwardWithinTws(events: Dataset[AsOfEvent], horizonMicros: Long,
                        watermarkDelay: String): Dataset[AsOfMatch] =
    runTws(events, horizonMicros, Backward, watermarkDelay)

  /** Forward as-of over a stream: each left row matched to the earliest
    * right row in `[t, t + horizonMicros]` on the same key, emitted once
    * the watermark proves no earlier-qualifying right can still arrive.
    */
  def forwardWithinTws(events: Dataset[AsOfEvent], horizonMicros: Long,
                       watermarkDelay: String): Dataset[AsOfMatch] =
    runTws(events, horizonMicros, Forward, watermarkDelay)

  /** Nearest as-of over a stream: the closer of the backward and forward
    * matches within `horizonMicros`, ties to backward, `asof_side`
    * reporting the winning direction.
    */
  def nearestWithinTws(events: Dataset[AsOfEvent], horizonMicros: Long,
                       watermarkDelay: String): Dataset[AsOfMatch] =
    runTws(events, horizonMicros, Nearest, watermarkDelay)

  /** List-element rows for the TWS buffers — ListState appends are the
    * point: a batch that arrives while the watermark is still short of
    * the armed timer (the common case while the watermark trails the
    * horizon) costs O(new rows) of state I/O on BOTH sides — the
    * handleInputRows fast path appends without calling stored(), so
    * neither list is read — where a single Buffers blob in a ValueState
    * would re-serialize (and re-read) the WHOLE per-key buffer every
    * batch. At ×10 buffered state that is the difference between O(Δ)
    * and O(buffer) per batch; the full read-resolve-rewrite pass runs
    * only at resolution points.
    */
  // private[streaming], not private: the list-element encoders are
  // compiled by Janino, which needs bytecode-public access to the class
  // (object-private compiles to a private member and the encoder falls
  // back to interpreter mode — observed as per-element UnsafeProjection
  // codegen warnings)
  private[streaming] case class LeftBuf(ts: Long, id: Long)
  private[streaming] case class RightBuf(ts: Long, id: Long, value: Double)

  private class AsOfProcessor(horizonMicros: Long, mode: Mode)
      extends StatefulProcessor[Long, AsOfEvent, AsOfMatch] {
    @transient private var lefts: ListState[LeftBuf] = _
    @transient private var rights: ListState[RightBuf] = _
    @transient private var timer: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lefts = getHandle.getListState[LeftBuf]("lefts",
        Encoders.product[LeftBuf], TTLConfig.NONE)
      rights = getHandle.getListState[RightBuf]("rights",
        Encoders.product[RightBuf], TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    private def stored(): Buffers = {
      val l = lefts.get().toSeq
      val r = rights.get().toSeq
      Buffers(l.map(_.ts), l.map(_.id),
        r.map(_.ts), r.map(_.id), r.map(_.value))
    }

    /** Resolve-and-rearm, shared by the input and timer paths: emits the
      * due lefts, persists the surviving buffers (append-only when the
      * resolve changed nothing, full rewrite otherwise), and re-arms the
      * wake-up timer: the earliest pending left's resolution point (with
      * only rights left, when the last of them becomes evictable),
      * strictly past the current watermark.
      */
    private def step(uid: Long, prior: Buffers,
                     newL: Seq[LeftBuf], newR: Seq[RightBuf], wmMs: Long)
    : Iterator[AsOfMatch] = {
      val merged = Buffers(
        prior.l_ts ++ newL.map(_.ts), prior.l_id ++ newL.map(_.id),
        prior.r_ts ++ newR.map(_.ts), prior.r_id ++ newR.map(_.id),
        prior.r_val ++ newR.map(_.value))
      val (out, kept) = resolve(uid, horizonMicros, mode,
        wmMs * 1000L, merged)
      if (kept.l_ts.isEmpty && kept.r_ts.isEmpty) {
        lefts.clear(); rights.clear()
        if (timer.exists()) { getHandle.deleteTimer(timer.get()); timer.clear() }
      } else {
        // resolve only ever REMOVES (due lefts, evicted rights): equal
        // sizes ⇒ identical content ⇒ the stored prefix is still valid
        // and the new rows append in O(Δ)
        val untouched = out.isEmpty &&
          kept.l_ts.length == merged.l_ts.length &&
          kept.r_ts.length == merged.r_ts.length
        if (untouched) {
          if (newL.nonEmpty) lefts.appendList(newL.toArray)
          if (newR.nonEmpty) rights.appendList(newR.toArray)
        } else {
          lefts.clear()
          if (kept.l_ts.nonEmpty) lefts.appendList(
            kept.l_ts.zip(kept.l_id).map { case (t, i) => LeftBuf(t, i) }
              .toArray)
          rights.clear()
          if (kept.r_ts.nonEmpty) rights.appendList(
            kept.r_ts.lazyZip(kept.r_id).lazyZip(kept.r_val)
              .map(RightBuf.apply).toArray)
        }
        val dueUs =
          if (kept.l_ts.nonEmpty) dueAt(mode, kept.l_ts.min, horizonMicros)
          else kept.r_ts.max + backHorizon(mode, horizonMicros)
        val dueMs = math.max(dueUs / 1000L + 1L, wmMs + 1L)
        // skip the RocksDB delete+put when the due time is unchanged
        if (!timer.exists() || timer.get() != dueMs) {
          if (timer.exists()) getHandle.deleteTimer(timer.get())
          getHandle.registerTimer(dueMs)
          timer.update(dueMs)
        }
      }
      out.iterator
    }

    override def handleInputRows(uid: Long, batch: Iterator[AsOfEvent],
                                 tv: TimerValues): Iterator[AsOfMatch] = {
      val (ls, rs) = batch.toSeq.partition(_.is_left)
      val wmMs = tv.getCurrentWatermarkInMs()
      val newL = ls.map(e => LeftBuf(e.ts_micros, e.event_id))
      val newR = rs.map(e => RightBuf(e.ts_micros, e.event_id, e.value))
      // O(Δ) fast path for READS too (r14 ADVICE: appends were O(Δ) but
      // stored() still read both full lists every batch): the armed timer
      // is the earliest instant any buffered left can resolve (resolution
      // is purely watermark-driven — a pending left never emits early no
      // matter what rights arrive), so while the watermark is still short
      // of it nothing can emit and nothing must evict for correctness.
      // Append the new rows without reading the buffers and pull the
      // timer earlier if a new left is due sooner; the full
      // read-resolve-rewrite pass runs when the timer fires (or a batch
      // arrives at/past it). Right eviction is deferred with it —
      // bounded by one timer period, reclaimed by the next full pass.
      if (timer.exists() && wmMs < timer.get()) {
        if (newL.nonEmpty) lefts.appendList(newL.toArray)
        if (newR.nonEmpty) rights.appendList(newR.toArray)
        if (newL.nonEmpty) {
          val dueUs = newL.map(l => dueAt(mode, l.ts, horizonMicros)).min
          val dueMs = math.max(dueUs / 1000L + 1L, wmMs + 1L)
          if (dueMs < timer.get()) {
            getHandle.deleteTimer(timer.get())
            getHandle.registerTimer(dueMs)
            timer.update(dueMs)
          }
        }
        Iterator.empty
      } else step(uid, stored(), newL, newR, wmMs)
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
    : Iterator[AsOfMatch] = {
      timer.clear() // the fired timer is spent; step re-arms if needed
      step(uid, stored(), Nil, Nil, tv.getCurrentWatermarkInMs())
    }
  }

  private def runTws(events: Dataset[AsOfEvent], horizonMicros: Long,
                     mode: Mode, watermarkDelay: String)
  : Dataset[AsOfMatch] = {
    implicit val outEnc = Encoders.product[AsOfMatch]
    events
      .withWatermark("ts", watermarkDelay)
      .as(Encoders.product[AsOfEvent])
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new AsOfProcessor(horizonMicros, mode),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
