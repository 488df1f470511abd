package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Custom keyed state over an event stream via Spark 4's
  * `transformWithState` — the escape hatch for stateful semantics the
  * built-in window/session operators can't express. Every op here needs
  * the RocksDB state store provider, which the engine's sessions set.
  *
  * The folds (`fold`, `foldFunnel`, `foldSessions`, the
  * Misra–Gries / KLL sketches) are plain functions so specs can replay
  * them directly; the processors only hydrate and persist state around
  * them. What the state API buys each op:
  *
  *  - profiles: NATIVE state TTL — the store evicts idle users itself
  *    (see [[userProfilesTws]]).
  *  - heavy hitters: the counter map is a typed [[MapState]] — per-item
  *    point reads/writes against RocksDB instead of re-serializing one
  *    whole-map blob per batch. At k=8 this is cosmetic; at a
  *    per-group k in the thousands it is the difference between O(Δ)
  *    and O(k) state I/O per batch.
  *  - sessionize: a named event-time timer re-armed at
  *    `session end + gap` closes idle sessions.
  *  - funnel / KLL: state is one fixed-size progress record /
  *    serialized sketch per key.
  */
object TwsStatefulOps {

  case class UserEvent(user_id: Long, event_type: String, value: Double,
                       ts_micros: Long, event_id: Long = 0L)

  case class UserProfile(user_id: Long, n_events: Long, n_purchases: Long,
                         sum_value: Double, last_seen_micros: Long)

  /** Fold a batch of events into the carried state. */
  private[streaming] def fold(userId: Long, events: Iterator[UserEvent],
                              prior: Option[UserProfile]): UserProfile =
    events.foldLeft(prior.getOrElse(UserProfile(userId, 0L, 0L, 0.0, 0L))) {
      (p, e) =>
        UserProfile(
          userId,
          p.n_events + 1,
          p.n_purchases + (if (e.event_type == "purchase") 1 else 0),
          p.sum_value + e.value,
          math.max(p.last_seen_micros, e.ts_micros))
    }

  private class ProfileProcessor(idleTtl: Option[java.time.Duration])
      extends StatefulProcessor[Long, UserEvent, UserProfile] {
    @transient private var prof: ValueState[UserProfile] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      prof = getHandle.getValueState[UserProfile]("prof",
        Encoders.product[UserProfile],
        idleTtl.fold(TTLConfig.NONE)(TTLConfig(_)))

    override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
                                 tv: TimerValues): Iterator[UserProfile] = {
      val prior = if (prof.exists()) Some(prof.get()) else None
      val updated = fold(uid, rows, prior)
      prof.update(updated)
      Iterator.single(updated)
    }
  }

  /** Streaming per-user profiles (event counts, value sum, last-seen):
    * emits the refreshed profile for each user updated in the
    * micro-batch.
    *
    * `idleTtl = Some(d)` expires the state of users idle past `d` with
    * NATIVE state TTL — the production setting that bounds the store to
    * O(active users in horizon), not O(all users ever); such a user's
    * next event starts a fresh profile. TTL runs in
    * `TimeMode.ProcessingTime`, so `processAllAvailable()` never drains
    * the query: drive it with a real trigger.
    */
  def userProfilesTws(events: Dataset[UserEvent],
                      idleTtl: Option[java.time.Duration] = None)
  : Dataset[UserProfile] = {
    implicit val enc = Encoders.product[UserProfile]
    val mode = if (idleTtl.isDefined) TimeMode.ProcessingTime()
      else TimeMode.None()
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new ProfileProcessor(idleTtl), mode,
        OutputMode.Update())
  }

  /** Per-user funnel progress: epoch-micros each step was first reached
    * (-1 = not yet) with the reaching event's id (the tie-break), plus
    * the derived depth. The state is MONOTONE — a reached step never
    * unreaches — which is what makes it safe to carry across
    * micro-batches forever (and makes late events conservative: an
    * out-of-order step can miss a conversion, never invent one).
    */
  case class FunnelProgress(user_id: Long, step_us: Seq[Long],
                            step_id: Seq[Long], depth: Int)

  /** Fold a (within-batch, row-order-sorted) event iterator into funnel
    * progress. Shared by the streaming operator and its batch-parity
    * spec, with the SAME row order as [[graft.ops.Behavior.funnel]]:
    * events sort by (ts_micros, event_id), and step i qualifies iff a
    * qualified step i-1 event is strictly earlier in THAT order — so two
    * events sharing a timestamp resolve by event_id in both engines
    * (the r6-advice equal-timestamp divergence), which is why the state
    * carries each step's (ts, event_id) pair, not the timestamp alone.
    */
  private[streaming] def foldFunnel(userId: Long, steps: Seq[String],
                                    events: Iterator[UserEvent],
                                    prior: Option[FunnelProgress])
  : FunnelProgress = {
    val us = prior.map(_.step_us.toArray)
      .getOrElse(Array.fill(steps.size)(-1L))
    val ids = prior.map(_.step_id.toArray)
      .getOrElse(Array.fill(steps.size)(0L))
    events.toSeq.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
      val i = steps.indexOf(e.event_type)
      // strictly earlier in (ts, event_id) row order — the batch rule
      def earlier(j: Int): Boolean = us(j) >= 0 &&
        (us(j) < e.ts_micros ||
          (us(j) == e.ts_micros && ids(j) < e.event_id))
      if (i >= 0 && us(i) < 0 && (i == 0 || earlier(i - 1))) {
        us(i) = e.ts_micros; ids(i) = e.event_id
      }
    }
    FunnelProgress(userId, us.toSeq, ids.toSeq, us.count(_ >= 0))
  }

  private class FunnelProcessor(steps: Seq[String])
      extends StatefulProcessor[Long, UserEvent, FunnelProgress] {
    @transient private var st: ValueState[FunnelProgress] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelProgress]("funnel",
        Encoders.product[FunnelProgress], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
                                 tv: TimerValues): Iterator[FunnelProgress] = {
      val prior = if (st.exists()) Some(st.get()) else None
      val next = foldFunnel(uid, steps, rows, prior)
      st.update(next)
      Iterator.single(next)
    }
  }

  /** Streaming ordered funnel: the stateful twin of
    * [[graft.ops.Behavior.funnel]]. State per user is a fixed-size array
    * of step timestamps — O(steps), the smallest possible funnel state.
    * Emits the refreshed progress for each user touched in the
    * micro-batch. Ordering contract: event-time order is respected
    * WITHIN a batch (sorted here) and ACROSS batches only as the source
    * delivers it — the streaming answer converges to the batch answer
    * when per-user delivery is in order (the Kafka-partition-by-user
    * deployment), and undercounts otherwise; the batch operator is the
    * reconciliation pass, same split as DocStreams.
    */
  def funnelProgressTws(events: Dataset[UserEvent], steps: Seq[String])
  : Dataset[FunnelProgress] = {
    implicit val enc = Encoders.product[FunnelProgress]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new FunnelProcessor(steps), TimeMode.None(),
        OutputMode.Update())
  }

  /** Per-group continuous heavy hitters: the streaming twin of the
    * `graft_heavy_hitters` batch aggregate, carrying the SAME Misra–Gries
    * counter map ([[graft.functions.MisraGries]]) as keyed state — O(k)
    * per group forever, the bounded-state contract a 100 TB/day stream
    * needs for "top items per key so far". The n/(k+1) presence and
    * under-count guarantees hold over the whole stream because state
    * update IS the batch fold.
    */
  case class GroupHeavyHitters(group: String, items: Seq[String],
                               ests: Seq[Long])

  private class HeavyHittersProcessor(k: Int)
      extends StatefulProcessor[String, (String, String), GroupHeavyHitters] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("mg",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(group: String,
                                 rows: Iterator[(String, String)],
                                 tv: TimerValues)
    : Iterator[GroupHeavyHitters] = {
      val prior = scala.collection.mutable.HashMap.empty[String, Long]
      counts.iterator().foreach { case (i, e) => prior.update(i, e) }
      val buf = prior.clone()
      rows.foreach { case (_, item) =>
        graft.functions.MisraGries.offer(buf, item, k)
      }
      // point-write only the delta against the prior snapshot: evicted
      // keys are removed, and updateValue fires only for counters whose
      // value actually changed (offered or decremented) — O(touched)
      // state writes per batch, never a whole-map rewrite of the k
      // surviving counters (r14 ADVICE: the old loop rewrote every
      // survivor, making writes O(k) even on a batch touching one item)
      prior.keysIterator.foreach { i => if (!buf.contains(i)) counts.removeKey(i) }
      buf.foreach { case (i, e) =>
        if (!prior.get(i).contains(e)) counts.updateValue(i, e)
      }
      val sorted = buf.toSeq.sortBy { case (i, e) => (-e, i) }
      Iterator.single(GroupHeavyHitters(group, sorted.map(_._1),
        sorted.map(_._2)))
    }
  }

  /** Continuous Misra–Gries heavy hitters per group (see
    * [[GroupHeavyHitters]]), the counter map held as typed [[MapState]].
    */
  def heavyHittersStreamTws(events: Dataset[(String, String)], k: Int)
  : Dataset[GroupHeavyHitters] = {
    implicit val enc = Encoders.product[GroupHeavyHitters]
    events.groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new HeavyHittersProcessor(k), TimeMode.None(),
        OutputMode.Update())
  }

  /** Continuous per-group quantiles: the streaming twin of
    * `graft_kll_quantiles` — the SAME [[graft.functions.Kll]] ladder rides
    * as keyed state (serialized form, so state-store encoding is the
    * aggregate's own wire format), folded per micro-batch, O(k·log n) per
    * group forever. Emits refreshed estimates for groups touched in the
    * batch; the rank-envelope guarantee holds over the whole stream
    * because the state update IS the batch fold.
    */
  case class GroupQuantiles(group: String, n: Long, est: Seq[Double])

  private class KllProcessor(k: Int, qs: Seq[Double])
      extends StatefulProcessor[String, (String, Double), GroupQuantiles] {
    @transient private var st: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Array[Byte]]("kll", Encoders.BINARY,
        TTLConfig.NONE)

    override def handleInputRows(group: String,
                                 rows: Iterator[(String, Double)],
                                 tv: TimerValues): Iterator[GroupQuantiles] = {
      val sketch = (if (st.exists()) Some(st.get()) else None)
        .map(graft.functions.Kll.deserialize)
        .getOrElse(new graft.functions.Kll.KllState(k))
      rows.foreach { case (_, v) => graft.functions.Kll.insert(sketch, v) }
      st.update(graft.functions.Kll.serialize(sketch))
      Iterator.single(GroupQuantiles(group, sketch.count,
        qs.map(graft.functions.Kll.quantile(sketch, _))))
    }
  }

  /** Continuous KLL quantiles `qs` per group (see [[GroupQuantiles]]). */
  def kllQuantilesStreamTws(values: Dataset[(String, Double)], k: Int,
                            qs: Seq[Double]): Dataset[GroupQuantiles] = {
    implicit val enc = Encoders.product[GroupQuantiles]
    values.groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new KllProcessor(k, qs), TimeMode.None(),
        OutputMode.Update())
  }

  /** Event for gap sessionization: `ts` (TimestampType) carries the
    * watermark, `ts_micros` the exact arithmetic (micros, the engine-wide
    * time unit — no ms truncation drift against the batch operator).
    */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
                          ts_micros: Long, value: Double, event_id: Long)

  /** The open-session state: O(1) per active user — the boundedness that
    * lets the state store survive any stream length; idle users expire
    * via an event-time timer, not processing time, so reprocessing old
    * data behaves identically to live runs.
    */
  case class OpenSession(user_id: Long, start_us: Long, end_us: Long,
                         n: Long, sum_value: Double)

  /** A closed session, keyed by (user, start) — no ordinal: a session
    * number would have to survive state expiry to stay consistent, which
    * contradicts bounded state. The batch twin's `session_no` is
    * recoverable downstream by ranking starts per user.
    */
  case class ClosedSession(user_id: Long, session_start_us: Long,
                           session_end_us: Long, n_events: Long,
                           sum_value: Double)

  /** Fold a micro-batch into gap sessions: returns the sessions CLOSED by
    * this batch plus the still-open one. Within-batch order is (ts,
    * event_id) like every engine operator. Events older than the open
    * session's own gap window (late past the watermark) fold into their
    * own LATE sub-session for the batch — late events within one gap of
    * each other coalesce instead of fragmenting into per-event
    * singletons — which closes at batch end (only one open session may
    * persist as state). Conservative contract: late data can still
    * FRAGMENT sessions relative to the batch operator (at batch
    * boundaries, and when events straddle the late threshold — the
    * threshold is fixed against the open session's current start, so an
    * in-gap pair can land on opposite sides of it); it never corrupts or
    * resurrects a closed session.
    */
  private[streaming] def foldSessions(uid: Long, gapMicros: Long,
                                      events: Iterator[SessionEvent],
                                      prior: Option[OpenSession])
  : (Seq[ClosedSession], Option[OpenSession]) = {
    def close(s: OpenSession) =
      ClosedSession(uid, s.start_us, s.end_us, s.n, s.sum_value)
    val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
    var open = prior
    var lateOpen: Option[OpenSession] = None
    events.toSeq.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
      open match {
        case None =>
          open = Some(OpenSession(uid, e.ts_micros, e.ts_micros, 1L, e.value))
        case Some(s) if e.ts_micros > s.end_us + gapMicros =>
          closed += close(s)
          open = Some(OpenSession(uid, e.ts_micros, e.ts_micros, 1L, e.value))
        case Some(s) if e.ts_micros < s.start_us - gapMicros =>
          // ascending order ⇒ a late event can only extend the late
          // sub-session's end, never precede it
          lateOpen match {
            case Some(ls) if e.ts_micros <= ls.end_us + gapMicros =>
              lateOpen = Some(ls.copy(end_us = e.ts_micros,
                n = ls.n + 1, sum_value = ls.sum_value + e.value))
            case other =>
              other.foreach(ls => closed += close(ls))
              lateOpen = Some(
                OpenSession(uid, e.ts_micros, e.ts_micros, 1L, e.value))
          }
        case Some(s) =>
          open = Some(s.copy(
            start_us = math.min(s.start_us, e.ts_micros),
            end_us = math.max(s.end_us, e.ts_micros),
            n = s.n + 1, sum_value = s.sum_value + e.value))
      }
    }
    lateOpen.foreach(ls => closed += close(ls))
    (closed.toSeq, open)
  }

  private class SessionProcessor(gapMicros: Long)
      extends StatefulProcessor[Long, SessionEvent, ClosedSession] {
    @transient private var open: ValueState[OpenSession] = _
    @transient private var timer: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[SessionEvent],
                                 tv: TimerValues): Iterator[ClosedSession] = {
      val prior = if (open.exists()) Some(open.get()) else None
      val (closed, openNext) =
        foldSessions(uid, gapMicros, rows, prior)
      openNext match {
        case Some(s) =>
          open.update(s)
          // close when the watermark passes end + gap, strictly past the
          // current watermark. Re-registering a timer is a RocksDB
          // delete+put; skip it when the due time is unchanged (idle-user
          // batches)
          val due = math.max(s.end_us / 1000L + gapMicros / 1000L,
            tv.getCurrentWatermarkInMs() + 1L)
          if (!timer.exists() || timer.get() != due) {
            if (timer.exists()) getHandle.deleteTimer(timer.get())
            getHandle.registerTimer(due)
            timer.update(due)
          }
        case None =>
          open.clear()
          if (timer.exists()) { getHandle.deleteTimer(timer.get()); timer.clear() }
      }
      closed.iterator
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
    : Iterator[ClosedSession] = {
      timer.clear()
      if (!open.exists()) Iterator.empty
      else {
        val s = open.get()
        open.clear()
        Iterator.single(
          ClosedSession(uid, s.start_us, s.end_us, s.n, s.sum_value))
      }
    }
  }

  /** Streaming gap sessionization — the stateful twin of
    * [[graft.ops.Sessionize]]: sessions close when the EVENT-TIME
    * watermark passes their end plus the gap (never wall-clock, so
    * replays are deterministic), emitted append-only exactly once. A
    * micro-batch can also close a session directly when a same-user
    * event lands past the gap. State is one [[OpenSession]] per active
    * user, cleared at close by a named timer, so the store holds only
    * users inside their gap horizon.
    */
  def sessionizeStreamTws(events: Dataset[SessionEvent], gapMicros: Long,
                          watermarkDelay: String): Dataset[ClosedSession] = {
    implicit val enc = Encoders.product[ClosedSession]
    events
      .withWatermark("ts", watermarkDelay)
      .as(Encoders.product[SessionEvent])
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapMicros),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
