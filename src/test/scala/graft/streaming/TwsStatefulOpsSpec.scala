package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import graft.functions.Kll
import graft.ops.Sessionize
import graft.streaming.TwsStatefulOps._
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[TwsStatefulOps]] certification on a shared seeded feed at two batch
  * shapes. Update-mode ops emit one row per touched key per batch, so
  * profiles, funnel and KLL must equal a sequential replay of their fold
  * over the same micro-batches, key by key in arrival order — the
  * replay isolates the state plumbing (ValueState hydration, update-mode
  * emission). Misra–Gries counters depend on arrival order within a
  * group, so heavy hitters is held to its guarantee instead; sessionize
  * (append mode, closes by event-time timer) must equal the batch
  * [[Sessionize]] operator on the in-order feed after a watermark flush.
  * The profiles' idle-TTL mode runs on a real processing-time trigger.
  */
class TwsStatefulOpsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def runOp[T, O](data: Seq[T], chunk: Int, name: String,
                          mode: String)
                         (build: Dataset[T] => Dataset[O])
                         (implicit te: Encoder[T], oe: Encoder[O]): Seq[O] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[T]
    val q = build(mem.toDS()).writeStream.format("memory")
      .queryName(name).outputMode(mode).start()
    try {
      data.grouped(chunk).foreach { c =>
        mem.addData(c: _*); q.processAllAvailable()
      }
      spark.table(name).as[O].collect().toSeq
    } finally q.stop()
  }

  /** Sequential replay of a keyed fold over the same micro-batches: per
    * batch, each touched key folds its rows (arrival order) onto its
    * carried state and emits what the operator would.
    */
  private def replay[T, K, S, O](data: Seq[T], chunk: Int)(key: T => K)
                                (step: (K, Seq[T], Option[S]) => (S, O))
  : Seq[O] = {
    val state = scala.collection.mutable.HashMap.empty[K, S]
    data.grouped(chunk).toSeq.flatMap { c =>
      c.groupBy(key).toSeq.map { case (k, rows) =>
        val (next, out) = step(k, rows, state.get(k))
        state(k) = next
        out
      }
    }
  }

  private def matchesReplay[T, K, S, O](data: Seq[T], name: String)
                                       (build: Dataset[T] => Dataset[O])
                                       (key: T => K)
                                       (step: (K, Seq[T], Option[S]) => (S, O))
                                       (implicit te: Encoder[T],
                                        oe: Encoder[O]): Unit =
    for (chunk <- Seq(data.size, 37)) {
      val tag = s"${name}_c$chunk"
      val got = runOp(data, chunk, tag, "update")(build)
      val want = replay(data, chunk)(key)(step)
      assert(got.nonEmpty, s"$tag: empty output")
      assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
        want.groupBy(identity).view.mapValues(_.size).toMap,
        s"$tag: emission multisets differ (${got.size} vs ${want.size})")
    }

  private val Base = 1704067200L

  private val events: Seq[UserEvent] = {
    val rnd = new scala.util.Random(23)
    val types = Seq("view", "view", "click", "purchase")
    (1L to 300L).map { id =>
      UserEvent(1L + rnd.nextInt(20), types(rnd.nextInt(types.size)),
        rnd.nextInt(100).toDouble,
        (Base + id * 7 + rnd.nextInt(5)) * 1000000L, id)
    }
  }

  test("tws user profiles match the sequential replay at two batch shapes") {
    matchesReplay(events, "tws_prof")(
      ds => TwsStatefulOps.userProfilesTws(ds))(_.user_id) {
      (uid: Long, rows: Seq[UserEvent], prior: Option[UserProfile]) =>
        val p = TwsStatefulOps.fold(uid, rows.iterator, prior)
        (p, p)
    }
  }

  test("tws user profiles with an idle TTL: a user idle past the TTL " +
    "restarts at n_events = 1") {
    // TTL runs in TimeMode.ProcessingTime, where processAllAvailable never
    // drains the query: drive a real trigger and poll the sink instead
    implicit val sqlCtx = spark.sqlContext
    val ttl = java.time.Duration.ofSeconds(10)
    val mem = MemoryStream[UserEvent]
    val q = TwsStatefulOps.userProfilesTws(mem.toDS(), idleTtl = Some(ttl))
      .writeStream.format("memory").queryName("tws_prof_ttl")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    /** The user's emitted profiles, once there are `n` of them. */
    def awaitProfiles(uid: Long, n: Int): Seq[UserProfile] = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      def rows() = spark.table("tws_prof_ttl").as[UserProfile].collect()
        .filter(_.user_id == uid).toSeq
      var r = rows()
      while (r.size < n && System.nanoTime() < deadline) {
        Thread.sleep(100); r = rows()
      }
      assert(r.size == n, s"user $uid: ${r.size} profiles, want $n")
      r
    }
    try {
      mem.addData(UserEvent(1L, "click", 1.0, 100L),
        UserEvent(2L, "view", 1.0, 100L))
      awaitProfiles(1L, 1)
      // the batch that stored user 1 started before this instant
      val storedBy = System.nanoTime()
      // user 2 comes back well inside the TTL: its profile carries over
      mem.addData(UserEvent(2L, "purchase", 2.0, 200L))
      assert(awaitProfiles(2L, 2).last == UserProfile(2L, 2L, 1L, 3.0, 200L))
      // user 1 stays idle one second past the TTL, then comes back
      val idleMs = (storedBy + ttl.toNanos - System.nanoTime()) / 1000000L
      Thread.sleep(math.max(0L, idleMs) + 1000L)
      mem.addData(UserEvent(1L, "purchase", 5.0, 900L))
      assert(awaitProfiles(1L, 2).last == UserProfile(1L, 1L, 1L, 5.0, 900L),
        "the idle user's profile outlived its TTL")
    } finally q.stop()
  }

  test("tws funnel progress matches the sequential replay at two batch " +
    "shapes") {
    val steps = Seq("view", "click", "purchase")
    matchesReplay(events, "tws_funnel")(
      ds => TwsStatefulOps.funnelProgressTws(ds, steps))(_.user_id) {
      (uid: Long, rows: Seq[UserEvent], prior: Option[FunnelProgress]) =>
        val f = TwsStatefulOps.foldFunnel(uid, steps, rows.iterator, prior)
        (f, f)
    }
  }

  test("tws heavy hitters (MapState) keep the Misra-Gries guarantee at " +
    "two batch shapes") {
    val rnd = new scala.util.Random(29)
    // zipfish item draw so Misra–Gries actually evicts at k=4
    val pairs = (1 to 400).map { _ =>
      val g = s"g${rnd.nextInt(3)}"
      val item = s"i${math.min(rnd.nextInt(12), rnd.nextInt(12))}"
      (g, item)
    }
    val k = 4
    for (chunk <- Seq(pairs.size, 37)) {
      val tag = s"tws_hh_c$chunk"
      // the memory sink keeps batch order: a group's last row is its
      // snapshot after the whole feed
      val finals = runOp(pairs, chunk, tag, "update")(
          ds => TwsStatefulOps.heavyHittersStreamTws(ds, k))
        .groupBy(_.group).map { case (g, snaps) => g -> snaps.last }
      assert(finals.keySet == pairs.map(_._1).toSet, tag)
      pairs.groupBy(_._1).foreach { case (g, rows) =>
        val truth = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val slack = rows.size.toDouble / (k + 1)
        val est = finals(g).items.zip(finals(g).ests).toMap
        assert(est.size <= k, s"$tag $g: ${est.size} counters")
        est.foreach { case (i, e) =>
          assert(e <= truth(i) && e >= truth(i) - slack,
            s"$tag $g: $i est $e vs true ${truth(i)}")
        }
        truth.filter(_._2 > slack).keys.foreach { i =>
          assert(est.contains(i), s"$tag $g: heavy item $i missing")
        }
      }
    }
    // the fixture must make the sketch evict: no group fits in k counters
    assert(pairs.groupBy(_._1).values.forall(_.map(_._2).distinct.size > k))
  }

  test("tws kll quantiles match the sequential replay at two batch shapes") {
    val rnd = new scala.util.Random(31)
    val vals = (1 to 500).map { _ =>
      (s"g${rnd.nextInt(3)}", rnd.nextGaussian() * 10 + 50)
    }
    val qs = Seq(0.5, 0.9)
    matchesReplay(vals, "tws_kll")(
      ds => TwsStatefulOps.kllQuantilesStreamTws(ds, k = 50, qs = qs))(_._1) {
      (g: String, rows: Seq[(String, Double)], prior: Option[Array[Byte]]) =>
        // the operator carries the sketch serialized, so the replay does
        val st = prior.map(Kll.deserialize).getOrElse(new Kll.KllState(50))
        rows.foreach { case (_, v) => Kll.insert(st, v) }
        (Kll.serialize(st), GroupQuantiles(g, st.count, qs.map(Kll.quantile(st, _))))
    }
  }

  test("tws sessionize closed-session set matches the batch operator " +
    "after the watermark flush") {
    val rnd = new scala.util.Random(37)
    val gapUs = 30L * 60 * 1000000L
    val feed = (1L to 300L).map { id =>
      val uid = 1L + rnd.nextInt(12)
      // bursts with occasional > gap jumps so sessions genuinely close
      val sec = id * 120 + rnd.nextInt(60)
      SessionEvent(uid, new Timestamp((Base + sec) * 1000),
        (Base + sec) * 1000000L, rnd.nextInt(10).toDouble, id)
    }
    // one far-future event pushes the watermark past every end + gap
    val flush = SessionEvent(999L,
      new Timestamp((Base + 300 * 120 + 7200) * 1000),
      (Base + 300 * 120 + 7200) * 1000000L, 0.0, 9999L)
    val got = runOp(feed :+ flush, 41, "tws_sess", "append")(
        ds => TwsStatefulOps.sessionizeStreamTws(ds, gapUs, "1 hour"))
      .filterNot(_.user_id == 999L).toSet
    val want = Sessionize.sessions(feed.toDF(), col("user_id"), col("ts"),
        col("event_id"), gapUs, Seq(sum("value").as("sum_value")))
      .select(col("key"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"), col("sum_value"))
      .collect()
      .map(r => ClosedSession(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
      .toSet
    // fixture-exercise: users hold several sessions, so gaps split them
    assert(want.size > 12, s"fixture closed only ${want.size} sessions")
    assert(got == want,
      s"closed-session sets differ: ${got.size} vs ${want.size}")
  }
}
