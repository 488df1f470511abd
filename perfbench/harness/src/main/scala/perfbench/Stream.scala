package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.DocStreams.QuotaDecision
import graft.streaming.TwsGates
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One offered document; `ts` is its creation stamp. */
case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp,
               source: String, seq: Long)

/** One open-loop feed: what was offered and when, and what came out. */
final case class Feed(offered: Array[Doc], addedMs: Array[Long],
                      decisions: Seq[(Long, QuotaDecision)],
                      progress: Array[StreamingQueryProgress],
                      firstOfferMs: Long, lastCommitMs: Long)

/** Open-loop feed through `TwsGates.curatedNeardupQuotaTws`: the feeder
  * offers documents at a fixed rate from the main thread while the query
  * runs micro-batches in its own. A decision's latency is the commit time
  * of the batch that emits it minus the document's creation stamp.
  */
final class Stream(conf: Conf, workDir: String) extends Workload {
  private var feed: Array[Doc] = Array.empty
  private var warm: Array[Doc] = Array.empty
  private val rate = conf.dbl("rate")
  private val budget = conf.long("budget")

  private def load(path: String): Array[Doc] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    scala.util.Using.resource(scala.io.Source.fromFile(path, "UTF-8")) {
      _.getLines().map { line =>
        val n = mapper.readTree(line)
        Doc(n.get("doc_id").asLong, n.get("text").asText, null,
          n.get("source").asText, n.get("seq").asLong)
      }.toArray
    }
  }

  def firstTouch(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // three stateful operators chained in one query
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    feed = load(conf.str("feed"))
    warm = load(conf.str("warm_feed"))
  }

  /** The query the timed feed goes through, with its source and output. */
  private var live: Option[(MemoryStream[Doc], StreamingQuery,
    ConcurrentLinkedQueue[(Long, QuotaDecision)])] = None

  /** Starts the query the timed feed will use and runs one batch of warm
    * documents through it, so the feed does not start on a cold query
    * (whose first batch sets up every state store). Warm documents carry
    * their own sources, so they use none of the feed's token budget.
    */
  def warmup(spark: SparkSession): Unit = {
    val sink = new ConcurrentLinkedQueue[(Long, QuotaDecision)]()
    val (mem, q) = start(spark, sink)
    val now = System.currentTimeMillis()
    mem.addData(warm.toSeq.map(d =>
      d.copy(ts = new java.sql.Timestamp(now + d.seq), source = s"warm-${d.source}")))
    q.processAllAvailable()
    live = Some((mem, q, sink))
  }

  private var nQuery = 0

  /** A fresh query; `sink` receives (batch id, decision). */
  private def start(spark: SparkSession, sink: ConcurrentLinkedQueue[(Long, QuotaDecision)])
  : (MemoryStream[Doc], StreamingQuery) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    nQuery += 1
    val mem = MemoryStream[Doc]
    val collect: (Dataset[QuotaDecision], Long) => Unit =
      (ds, id) => ds.collect().foreach(d => sink.add((id, d)))
    val q = TwsGates.curatedNeardupQuotaTws(mem.toDF(), budget)
      .writeStream.foreachBatch(collect)
      .option("checkpointLocation",
        s"$workDir/ckpt-${java.util.UUID.randomUUID()}-$nQuery")
      .outputMode("append").start()
    (mem, q)
  }

  /** Offer each chunk as one batch and wait for it; the decisions. */
  private def runQuery(spark: SparkSession, chunks: Seq[Seq[Doc]])
  : Seq[(Long, QuotaDecision)] = {
    val sink = new ConcurrentLinkedQueue[(Long, QuotaDecision)]()
    val (mem, q) = start(spark, sink)
    try chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    finally q.stop()
    sink.asScala.toSeq
  }

  /** Offer `n` documents open-loop at `rate` to the warmed-up query, then
    * drain it.
    */
  private def openLoop(n: Int): Feed = {
    val (mem, q, sink) = live.get
    val warmBatches = q.recentProgress.length
    sink.clear()
    val t0 = System.currentTimeMillis() + 50
    val sched = Array.tabulate(n)(i => t0 + (i * 1000.0 / rate).toLong)
    val offered = Array.tabulate(n)(i => feed(i).copy(ts = new java.sql.Timestamp(sched(i))))
    val addedMs = new Array[Long](n)
    var next = 0
    try {
      while (next < n) {
        val now = System.currentTimeMillis()
        var due = next
        while (due < n && sched(due) <= now) due += 1
        if (due > next) {
          mem.addData(offered.slice(next, due).toSeq)
          val at = System.currentTimeMillis()
          (next until due).foreach(i => addedMs(i) = at)
          next = due
        }
        if (next < n) {
          val wait = sched(next) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(math.min(wait, 10))
        }
      }
      q.processAllAvailable()
    } finally q.stop()
    val progress = q.recentProgress.drop(warmBatches)
    val lastCommit = progress.map(commitMs).foldLeft(t0)(math.max)
    Feed(offered, addedMs, sink.asScala.toSeq, progress, t0, lastCommit)
  }

  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  private def decisionsJava(ds: Seq[(Long, QuotaDecision)])
  : java.util.List[java.util.List[Any]] =
    ds.map { case (b, d) =>
      java.util.Arrays.asList[Any](d.doc_id, d.source, d.n_tokens, d.kept,
        d.cum_tokens, b)
    }.asJava

  private def report(ctx: Ctx, f: Feed): Unit = {
    val commit = f.progress.map(p => p.batchId -> commitMs(p)).toMap
    val tsOf = f.offered.map(d => d.doc_id -> d.ts.getTime).toMap
    ctx.out.put("decisions", decisionsJava(f.decisions))
    ctx.out.put("latencies", f.decisions.map { case (b, d) =>
      (commit.getOrElse(b, f.lastCommitMs) - tsOf(d.doc_id)) / 1e3 }.asJava)
    ctx.out.put("offered", f.offered.map(_.doc_id).toSeq.asJava)
    ctx.out.put("wall_s", (f.lastCommitMs - f.firstOfferMs) / 1e3)
    ctx.out.put("batches", f.progress.length)
    val late = f.offered.indices.map(i => f.addedMs(i) - f.offered(i).ts.getTime)
    ctx.layers.put("bench.generator_late_s",
      if (late.isEmpty) 0.0 else late.sum / 1e3 / late.size)
  }

  def run(ctx: Ctx): Unit = {
    val n = math.min(feed.length, (rate * ctx.seconds).toInt)
    val f =
      if (!ctx.trace) openLoop(n)
      else {
        val t = ctx.tracer()
        val baseNs = System.nanoTime()
        val baseMs = System.currentTimeMillis()
        def ns(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L
        val traced = t.span("run", "bench") {
          val f = openLoop(n)
          val root = t.spans.head
          f.progress.foreach { p =>
            def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
            val s0 = math.max(root.start, ns(java.time.Instant.parse(p.timestamp).toEpochMilli))
            val s1 = math.min(System.nanoTime(), s0 + d("triggerExecution") * 1000000L)
            val b = t.record(s"batch:${p.batchId}", "streaming", s0, s1)
            val plan = math.min(s1, s0 + d("queryPlanning") * 1000000L)
            t.record("plan", "plans", s0, plan, Some(b))
            t.record("addBatch", "exec", plan, math.min(s1, plan + d("addBatch") * 1000000L), Some(b))
          }
          f
        }
        ctx.putTraceLayers(t, t.spans.head)
        streamingLayers(ctx, traced)
        traced
      }
    report(ctx, f)
    // the same documents as one batch: decisions must not depend on where
    // the batch boundaries fell (traced runs only, for the time it takes)
    if (ctx.trace)
      ctx.out.put("single_batch", decisionsJava(runQuery(ctx.spark, Seq(f.offered.toSeq))))
  }

  private def streamingLayers(ctx: Ctx, f: Feed): Unit = {
    val ps = f.progress
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    def dur(k: String): Seq[Double] =
      ps.toSeq.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) / 1e3)
    ctx.layers.put("streaming.batches", ps.length.toDouble)
    ctx.layers.put("streaming.batch_s", med(dur("triggerExecution")))
    ctx.layers.put("streaming.add_batch_s", med(dur("addBatch")))
    ctx.layers.put("streaming.commit_s",
      med(dur("walCommit").zip(dur("commitOffsets")).map { case (a, b) => a + b }))
    ctx.layers.put("streaming.planning_s", med(dur("queryPlanning")))
    val last = ps.lastOption
    ctx.layers.put("streaming.state_rows",
      last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
    ctx.layers.put("streaming.state_bytes",
      last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0))
    ctx.layers.put("streaming.rows_dropped_late",
      ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
    // rows offered but not yet read when each batch started
    var read = 0L
    val backlog = ps.toSeq.map { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val offered = f.addedMs.count(a => a > 0 && a <= startMs)
      val b = (offered - read).toDouble
      read += p.numInputRows
      math.max(0.0, b)
    }
    ctx.layers.put("streaming.backlog_rows", med(backlog))
  }
}
