package graft

import graft.streaming.{AsOfStream, DocStreams, EventStreams, TwsGates,
  TwsStatefulOps}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming throughput readout (r6 judge item 7): every streaming op fed
  * the sf events/documents through a MemoryStream in fixed micro-batches,
  * timed end-to-end (trigger scheduling + state store + sink), reported as
  * rows/sec. This is the regression canary for state-size mistakes — an
  * accidentally unbounded state store shows up as micro-batch times
  * growing batch over batch, which collapses the rows/sec number.
  *
  * Every stateful op runs on the session's RocksDB state store.
  *
  * Usage: runMain graft.BenchStream [nBatches]; reads
  * SPARK_GRAFT_SF_DIR (default sf0.01) and SPARK_GRAFT_CPUS (default 4,
  * as every main). One JSON line per op on stdout;
  * committed numbers live in STREAMBENCH.md.
  *
  * Checkpoints go to tmpfs (`/dev/shm`) with checksum files off: every
  * micro-batch commit fsyncs each state-store delta plus the offset/commit
  * logs, and this host's disk takes ~50 ms per fsync — on `/tmp` a 10k-row
  * op measured 74 s/batch of pure checkpoint I/O, drowning the engine
  * entirely (measured: 500 small fsyncs = 27 s on disk, 0.01 s on tmpfs).
  * A production deployment pays this on a DFS with batched commits; the
  * readout's job is to time the ENGINE (trigger scheduling + state store +
  * sink), so the checkpoint medium must not be the bottleneck. State
  * partitions are capped at 8: state-store instances scale with shuffle
  * partitions, and 32 partitions of a 10k-row feed times per-partition
  * commit overhead is all overhead, no signal.
  */
object BenchStream {

  case class Ev(ts: java.sql.Timestamp, user_id: Long, event_type: String,
                value: Double, event_id: Long)
  case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)
  case class CurDoc(doc_id: Long, text: String, ts: java.sql.Timestamp,
                    source: String, seq: Long)
  case class Emb(vec_id: Long, embedding: Array[Float], ts: java.sql.Timestamp)

  def main(args: Array[String]): Unit = {
    val batches = if (args.nonEmpty) args(0).toInt else 8
    // optional 2nd arg: comma-separated op-name subset (dev re-measure)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSessions.localFromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    val ckptRoot = s"/dev/shm/graft-benchstream-${System.nanoTime()}"
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext

    // optional 3rd arg: feed MULTIPLIER — each event replicated ×N with
    // fresh event_ids at the SAME user_ids and timestamps (per-element,
    // so event-time arrival order is preserved). N× rows in the same
    // horizon = N× buffered state per key: the decade probe for the
    // as-of family's "linear until the fold registers" claim.
    val mult = if (args.length > 2) args(2).toInt else 1
    // Every feed below is LAZY and `run` takes it by name: a subset
    // invocation (`only`, e.g. the restart probes) collects into the
    // driver only the feeds its ops actually use, so driver heap
    // readouts measure the subject, not the harness.
    // events.ts is Parquet TIMESTAMP(NANOS) — always through Readers.events
    lazy val events0 = graft.etl.Readers.events(spark, sfDir)
      .select(col("ts"), col("user_id"),
        col("event_type"), col("value"), col("event_id"))
      .orderBy("ts") // arrival in event-time order, like a live feed
      .as[Ev].collect().toSeq
    lazy val events =
      if (mult <= 1) events0
      else {
        // replica stride derives from the actual max id (+1), never a fixed
        // constant — a fixed 1e8 stride collides replica ids with other
        // events' replicas once base ids reach it at larger scale factors,
        // perturbing as-of tie-breaks and dedup in the stream bench
        val stride = if (events0.isEmpty) 1L
          else events0.map(_.event_id).max + 1L
        events0.flatMap(e => (0 until mult).map(i =>
          e.copy(event_id = e.event_id + i.toLong * stride)))
      }
    lazy val docs = graft.etl.Readers.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .as[Doc].collect().toSeq
    lazy val userEvents = events.map(e =>
      TwsStatefulOps.UserEvent(e.user_id, e.event_type, e.value,
        e.ts.getTime * 1000L, e.event_id))
    lazy val pairs = events.map(e => (e.event_type, e.user_id.toString))

    /** Feed `data` in `batches` chunks, processAllAvailable per chunk.
      * `sinkTo` swaps the noop sink for a foreachBatch writer (used to
      * time real sinks like [[graft.streaming.IdempotentMergeSink]]).
      */
    def run[T: Encoder](name: String, data: => Seq[T], mode: String,
                        sinkTo: Option[(Dataset[org.apache.spark.sql.Row],
                          Long) => Unit] = None)
                       (build: Dataset[T] => DataFrame): Unit = {
      // the gate runs BEFORE the by-name feed is touched: with `only` set,
      // a skipped op's feed is never collected into the driver — which is
      // what lets the restart probes publish an un-confounded heap readout
      if (!only.forall(_.contains(name))) return
      val rows = data
      val mem = MemoryStream[T]
      val w = build(mem.toDS()).writeStream
        .outputMode(mode)
        .option("checkpointLocation", s"$ckptRoot/$name")
      val q = sinkTo.fold(w.format("noop"))(f => w.foreachBatch(f)).start()
      val chunk = math.max(1, (rows.size + batches - 1) / batches)
      // per-chunk wall time is the actual canary: unbounded state growth
      // shows as batch_last pulling away from batch_median long before the
      // total collapses. Most of each chunk is the FIXED micro-batch cost
      // (incremental re-plan + state-store commit + the watermark-advance
      // no-data batch), so rows/sec here is a floor that rises with feed
      // size, not a capacity ceiling.
      val batchSec = scala.collection.mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      try {
        rows.grouped(chunk).foreach { c =>
          val b0 = System.nanoTime()
          mem.addData(c: _*); q.processAllAvailable()
          batchSec += (System.nanoTime() - b0) / 1e9
        }
      } finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val med = batchSec.sorted.apply(batchSec.size / 2)
      println(f"""{"op":"$name","rows":${rows.size},"batches":${batchSec.size},"sec":$sec%.3f,"rows_per_sec":${rows.size / sec}%.0f,"batch_first":${batchSec.head}%.3f,"batch_median":$med%.3f,"batch_last":${batchSec.last}%.3f}""")
    }

    run("tumbling_counts", events, "update")(
      ds => EventStreams.tumblingCounts(ds.toDF()))
    run("sliding_counts", events, "update")(
      ds => EventStreams.slidingCounts(ds.toDF()))
    // session windows can merge on late data, so Spark only supports
    // emit-on-watermark-close (append) for them — update mode is rejected
    run("session_aggregates", events, "append")(
      ds => EventStreams.sessionAggregates(ds.toDF()))
    run("dedup_events", events, "append")(
      ds => EventStreams.dedupEvents(ds.toDF()))
    run("click_purchase_join", events, "append")(ds =>
      EventStreams.clickPurchaseJoin(
        ds.toDF().filter(col("event_type") === "click"),
        ds.toDF().filter(col("event_type") === "purchase")))
    run("click_purchase_join_outer", events, "append")(ds =>
      EventStreams.clickPurchaseJoinOuter(
        ds.toDF().filter(col("event_type") === "click"),
        ds.toDF().filter(col("event_type") === "purchase")))
    lazy val sessionEvents = events.map(e =>
      TwsStatefulOps.SessionEvent(e.user_id, e.ts, e.ts.getTime * 1000L,
        e.value, e.event_id))
    lazy val grpValues = events.map(e => (e.event_type, e.value))
    run("user_profiles_tws", userEvents, "update")(
      ds => TwsStatefulOps.userProfilesTws(ds).toDF())
    run("funnel_progress_tws", userEvents, "update")(
      ds => TwsStatefulOps.funnelProgressTws(ds,
        Seq("view", "click", "purchase")).toDF())
    run("heavy_hitters_tws", pairs, "update")(
      ds => TwsStatefulOps.heavyHittersStreamTws(ds, k = 8).toDF())
    run("sessionize_tws", sessionEvents, "append")(
      ds => TwsStatefulOps.sessionizeStreamTws(ds,
        gapMicros = 30L * 60 * 1000000, watermarkDelay = "1 hour").toDF())
    run("kll_quantiles_tws", grpValues, "update")(
      ds => TwsStatefulOps.kllQuantilesStreamTws(ds,
        k = 200, qs = Seq(0.5, 0.9, 0.99)).toDF())
    // TWS-native histogram drift monitor: per-batch cost is the local
    // bucket fold + O(touched buckets) MapState point-writes + one KL
    // over ≤ |buckets| entries — state bounded by bucket count forever
    run("hist_drift_stream", grpValues, "update")(
      ds => graft.streaming.DriftStream.histDriftStream(ds,
        edges = Seq(10.0, 25.0, 50.0, 75.0),
        refProbs = Seq(0.2, 0.2, 0.2, 0.2, 0.2)).toDF())
    // watermark-buffered forward/nearest as-of: per-batch cost is the
    // keyed state fold (buffer append + due-left resolution); state is
    // O(rate × horizon) per key, so batch times must stay flat
    lazy val asofEvents = events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .map(e => AsOfStream.AsOfEvent(e.user_id, e.event_type == "click",
        e.ts, e.ts.getTime * 1000L, e.event_id, e.value))
    run("asof_backward_stream", asofEvents, "append")(
      ds => AsOfStream.backwardWithinTws(ds,
        horizonMicros = 30L * 60 * 1000000L, "1 hour").toDF())
    run("asof_forward_stream", asofEvents, "append")(
      ds => AsOfStream.forwardWithinTws(ds,
        horizonMicros = 30L * 60 * 1000000L, "1 hour").toDF())
    run("asof_nearest_tws", asofEvents, "append")(
      ds => AsOfStream.nearestWithinTws(ds,
        horizonMicros = 30L * 60 * 1000000L, "1 hour").toDF())
    // per-source token quota gate: state is ONE long per source, so the
    // per-batch cost is the fold + commit floor at any feed size
    lazy val quotaDocs = events.zipWithIndex.map { case (e, i) =>
      DocStreams.QuotaDoc(e.event_type, e.event_id,
        10L + (math.abs(e.value) % 90).toLong, i.toLong)
    }
    run("quota_stream_tws", quotaDocs, "append")(
      ds => TwsGates.tokenQuotaStreamTws(ds, budget = 1000000L).toDF())
    // SCD-2 point-in-time enrichment: stream-static join, no state store
    // — per-batch cost is the dimension re-plan + the key equi-join with
    // the interval residual (the dimension broadcasts at this size)
    val scd2Dim = graft.ops.Behavior.scd2(
        graft.etl.Readers.events(spark, sfDir)
          .filter(col("event_type") =!= "purchase"),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumnRenamed("k", "user_id")
      .localCheckpoint()
    run("pit_enrich", events, "append")(
      ds => EventStreams.enrichPointInTime(ds.toDF(), scd2Dim))
    run("doc_quality_filtered", docs, "append")(
      ds => DocStreams.qualityFiltered(ds.toDF()))
    run("doc_curated", docs, "append")(
      ds => DocStreams.curated(ds.toDF()))
    // the COMPOSED curation prefix in one query (quality → dedup →
    // quota: two stateful operators) — per-batch cost = the dedup
    // state-store commit + the one-long-per-source quota fold; budget
    // ~half a source's tokens so both gate branches run live
    lazy val curDocs = graft.etl.Readers.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy("doc_id")
      .as[(Long, String, String)].collect().zipWithIndex
      .map { case ((id, t, s), i) =>
        CurDoc(id, t, new java.sql.Timestamp(1704067200000L + i * 1000L),
          s, i.toLong)
      }.toSeq
    // doc-feed multiplier twin of the events one: replica m suffixes
    // EVERY word with m, so replicas share no shingles/fingerprints with
    // each other or the base — content state (fingerprint store, band
    // claims) genuinely grows ×mult, which is what a store-growth decade
    // probe needs (a verbatim copy would dedup away instead)
    lazy val curDocsM =
      if (mult <= 1) curDocs
      else {
        val docStride = curDocs.map(_.doc_id).max + 1L
        curDocs.flatMap(d => (0 until mult).map { m =>
          d.copy(
            doc_id = d.doc_id + m.toLong * docStride,
            text = if (m == 0 || d.text == null) d.text
              else d.text.split(" ", -1).map(w => s"$w$m").mkString(" "),
            seq = d.seq * mult + m)
        })
      }
    run("curated_quota_stream", curDocsM, "append")(
      ds => DocStreams.curatedQuota(ds.toDF(), budget = 7000L).toDF())
    // the FULL prefix: quality → exact dedup → near-dup gate → quota,
    // THREE stateful operators in one query (the checker's global-
    // watermark warning is acknowledged — no watermark-consuming op
    // sits downstream of the TWS stages; see curatedNeardupQuotaTws)
    val prevCheck = spark.conf.getOption(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
      "false")
    run("curated_neardup_quota_tws", curDocsM, "append")(
      ds => TwsGates.curatedNeardupQuotaTws(ds.toDF(), budget = 7000L).toDF())
    prevCheck match {
      case Some(v) => spark.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    }
    // streaming near-dup LSH gate: row-local minhash (no aggregate per
    // doc), ONE band-claim state store fed 4 band rows per doc, then the
    // stateless per-doc fold — the near-dup twin of doc_curated's
    // exact-fingerprint dedup. Same state-bound class (rate × horizon)
    // with a ×bands constant.
    run("neardup_stream_tws", curDocsM, "append")(
      ds => TwsGates.neardupStreamTws(ds.toDF()).toDF())
    // TWS checkpoint-restart at state scale: prime the RocksDB band-claim
    // store with the whole feed (AvailableNow drain against a persistent
    // checkpoint), then measure a SECOND query restoring that state and
    // processing a small tail. restore_batch_sec is the production
    // recovery cost (RocksDB snapshot reload per state partition + one
    // micro-batch); heap_used_mb after the restore is the on-heap
    // residue — RocksDB holds the store off heap, so this must stay flat
    // as the feed multiplier grows state x10 (the "state spills off
    // heap" claim, measured). Run with mult=1 and mult=10 for the
    // STREAMBENCH pair.
    //
    // The feed comes from PARQUET FILES on tmpfs, not a MemoryStream, and
    // is BUILT by a pure-Spark pipeline (no driver collect) — the r14
    // heap readout was an upper bound polluted by the in-driver feed seq
    // (at x10 that is the whole x10 corpus held by the harness). With the
    // lazy feeds above, an `only`-scoped restart run holds no feed in the
    // driver at all, so heap_used_mb now measures the store residue.
    // The Spark pipeline reproduces curDocsM exactly: seq = docs ordered
    // by doc_id, ts = epoch + origSeq seconds (shared by replicas),
    // replica m suffixes every word with m and strides doc_id/seq.
    def curDocFeedFrame(): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val base = graft.etl.Readers.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        // single-task global seq: harness feed prep, not a timed path
        .withColumn("oseq",
          row_number().over(Window.orderBy("doc_id")).cast("long") - 1L)
        .withColumn("ts",
          timestamp_millis(lit(1704067200000L) + col("oseq") * 1000L))
      if (mult <= 1)
        base.select(col("doc_id"), col("text"), col("ts"), col("source"),
          col("oseq").as("seq"))
      else {
        val docStride = base.agg(max("doc_id")).head().getLong(0) + 1L
        base
          .select(col("doc_id"), col("text"), col("ts"), col("source"),
            col("oseq"), explode(sequence(lit(0), lit(mult - 1))).as("m"))
          .select(
            (col("doc_id") + col("m").cast("long") * docStride).as("doc_id"),
            when(col("m") === 0 || col("text").isNull, col("text"))
              .otherwise(concat_ws(" ",
                transform(split(col("text"), " ", -1),
                  w => concat(w, col("m").cast("string"))))).as("text"),
            col("ts"), col("source"),
            (col("oseq") * mult + col("m")).as("seq"))
      }
    }
    def twsRestart(opName: String): Unit =
      if (only.forall(_.contains(opName))) {
        val ckpt = s"$ckptRoot/$opName"
        val feedDir = s"$ckptRoot/$opName-feed"
        // stage the feed to parquet FIRST and re-read it: a cached or
        // localCheckpoint'ed frame would pin the whole feed in on-heap
        // block-manager storage and re-confound the heap readout (the
        // first file-fed cut measured 1.6 GB at x64 from exactly this)
        val staging = s"$ckptRoot/$opName-staging"
        curDocFeedFrame().write.parquet(staging)
        val feed = spark.read.parquet(staging)
        val total = feed.count()
        val cut = math.max(1L, total - 50L)
        // ONE source directory across both drains (changing a file
        // source's path between restarts is unsupported): the prime files
        // exist for drain 1; the tail file is APPENDED afterwards, so
        // the restored query's seen-files log routes it to exactly the
        // new file. The prime is split into PrimeFiles range-partitioned
        // files driven one per trigger — state accretes over that many
        // commits, as in production, which is what makes the
        // snapshot-vs-changelog cadence mechanics (snapshot every
        // minDeltasForSnapshot commits; restore replays the changelogs
        // since the last one) actually fire instead of measuring a
        // single-commit store.
        val PrimeFiles = 16
        feed.filter(col("seq") < cut)
          .repartitionByRange(PrimeFiles, col("seq"))
          .sortWithinPartitions("seq")
          .write.parquet(feedDir)
        val schema = org.apache.spark.sql.Encoders.product[CurDoc].schema
        def drain(maxFilesPerTrigger: Option[Int]): Double = {
          val t0 = System.nanoTime()
          val src = spark.readStream.schema(schema)
          maxFilesPerTrigger.foreach(n =>
            src.option("maxFilesPerTrigger", n.toString))
          val q = TwsGates.neardupStreamTws(
              src.parquet(feedDir))
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("noop").start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val primeSec = drain(Some(1))
        def du(p: String): Long = {
          val root = java.nio.file.Paths.get(p)
          if (!java.nio.file.Files.exists(root)) 0L
          else {
            val s = java.nio.file.Files.walk(root)
            try s.filter(java.nio.file.Files.isRegularFile(_))
              .mapToLong(java.nio.file.Files.size(_)).sum()
            finally s.close()
          }
        }
        val stateBytes = du(s"$ckpt/state")
        feed.filter(col("seq") >= cut).orderBy("seq")
          .coalesce(1).write.mode("append").parquet(feedDir)
        System.gc()
        val restoreSec = drain(None)
        // settle the heap readout: one advisory gc right after a 300k-row
        // drain reads mostly collectable garbage, not live residue — gc
        // until used stops dropping (≤16 MB delta) so the published MB is
        // the steady-state floor, not a snapshot of the young gen
        def usedMb(): Long = (Runtime.getRuntime.totalMemory() -
          Runtime.getRuntime.freeMemory()) / (1024 * 1024)
        var heapMb = usedMb()
        var settled = false
        var gcRounds = 0
        while (!settled && gcRounds < 8) {
          System.gc(); Thread.sleep(300)
          val cur = usedMb()
          settled = cur >= heapMb - 16
          heapMb = math.min(heapMb, cur)
          gcRounds += 1
        }
        println(f"""{"op":"$opName","prime_rows":$cut,"tail_rows":${total - cut},"prime_sec":$primeSec%.3f,"state_ckpt_bytes":$stateBytes,"restore_batch_sec":$restoreSec%.3f,"heap_used_mb":$heapMb}""")
      }
    twsRestart("tws_restart_neardup")
    // the same prime/restart cycle with RocksDB CHANGELOG checkpointing:
    // per-batch commits upload a changelog instead of a full snapshot
    // (the production knob for commit latency on a DFS); restore replays
    // the changelog on top of the last snapshot — this row measures both
    // sides of that trade on identical work
    locally {
      val ClKey =
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prevCl = spark.conf.getOption(ClKey)
      spark.conf.set(ClKey, "true")
      twsRestart("tws_restart_changelog")
      prevCl match {
        case Some(v) => spark.conf.set(ClKey, v)
        case None => spark.conf.unset(ClKey)
      }
    }
    // stateless benchmark-decontamination gate: the benchmark span
    // fingerprints are collected once at query build and baked into the
    // native SpanHitCount expression (one shared hash set per executor,
    // one word-array walk per row inside codegen) — no state store, no
    // per-batch re-broadcast; per-batch cost is the scan, flat by
    // construction
    lazy val benchSet = graft.etl.Readers.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 97 === 0).select("doc_id", "text")
      .localCheckpoint()
    run("decontaminated_stream", curDocs, "append")(
      ds => DocStreams.decontaminatedStream(ds.toDF(), benchSet))
    // live curation monitoring: the TWS drift monitor riding the
    // quality-filtered document stream — per-source token-count
    // distribution vs a frozen reference, the ops-dashboard feed that
    // flags a crawl source going bad while the curation prefix is
    // admitting it. Stateless filter → map → bounded MapState histogram.
    run("curation_drift_monitor", curDocs, "update")(ds =>
      graft.streaming.DriftStream.histDriftStream(
        DocStreams.qualityFiltered(ds.toDF())
          .select(col("source"),
            size(split(col("text"), " ")).cast("double").as("n_tok"))
          .as[(String, Double)],
        edges = Seq(25.0, 45.0, 65.0, 85.0),
        refProbs = Seq(0.2, 0.2, 0.2, 0.2, 0.2)).toDF())
    // embedding LSH dedup: signature computation (8 native-dot
    // hyperplane projections per row) + the per-bucket dedup state store
    // — the vector twin of doc_curated's fingerprint dedup. Watermark
    // wide open so every arrival hits live state (worst case for the
    // store; eviction only shrinks it)
    lazy val embs = graft.etl.Readers.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
      .map { case (id, e) =>
        Emb(id, e, new java.sql.Timestamp(1704067200000L + id * 1000L))
      }.toSeq
    run("embedding_dedup_stream", embs, "append")(
      ds => graft.streaming.EmbeddingStreams.dedupBySignature(
        ds.toDF(), watermark = "24 hours"))
    // streaming IVF maintenance: per micro-batch the cost is the k-row
    // broadcast centroid assignment + one partitioned parquet write
    // (dynamic overwrite of the batch's own delta partitions). Delta on
    // tmpfs — time the assignment+append, not this host's fsync
    lazy val ivfCentroids = graft.etl.Readers.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    run("ivf_append_sink", embs, "append",
        sinkTo = Some((df, id) => graft.streaming.IvfAppendSink
          .appendBatch(s"$ckptRoot/ivf-index", ivfCentroids)(df, id)))(
      ds => ds.toDF())
    // streaming ANN serving from the persisted index: per batch, a
    // broadcast centroid assignment, a LITERAL-probe partition-pruned
    // index scan, and exact top-k within the probed cells (foreachBatch
    // — the online-retrieval shape; parity spec: AnnEnrichStreamSpec).
    // Cell count is k ≈ √n — the production IVF shape (≈70 at sf0.1, not
    // the 8-cell demo the sink row uses), so the probed/total readout
    // below demonstrates the p/k scan fraction the pruning exists for,
    // not just the filter's presence in the plan.
    val ivfTag = sfDir.replaceAll("[^A-Za-z0-9]+", "_")
    lazy val servK = math.max(8, math.ceil(math.sqrt(embs.size.toDouble)).toInt)
    lazy val servCentroids = graft.etl.Readers.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < servK)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
      .localCheckpoint()
    lazy val ivfQueryIndex = {
      val emb = graft.etl.Readers.table(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val path = graft.ops.IvfIndex.ensure(spark,
        s"${graft.ops.Bucketing.scratchRoot()}/ivf/${ivfTag}_k$servK",
        graft.ops.Vectors.assignToCentroids(emb, "vec_id", servCentroids)
          .withColumn("_n", graft.ops.Vectors.norm(col("embedding"))))
      spark.read.parquet(path)
    }
    // cell sizes (k rows, collected once) turn per-batch probed-cell ids
    // into a rows-read fraction without touching the timed path
    lazy val cellRows: Map[Long, Long] = ivfQueryIndex
      .groupBy("centroid_id").count()
      .collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue() -> r.getLong(1))
      .toMap
    lazy val indexRows = cellRows.values.sum
    val probeBatches = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    def annSink(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit =
      graft.streaming.EmbeddingStreams
        .annEnrichBatch(df.select(col("vec_id"), col("embedding")),
          ivfQueryIndex, servCentroids, topK = 5,
          probeReport = ids => probeBatches.synchronized {
            probeBatches += ((ids.size,
              ids.map(i => cellRows.getOrElse(
                i.asInstanceOf[Number].longValue(), 0L)).sum))
          })
        .write.format("noop").mode("overwrite").save()
    def probeLine(op: String): Unit =
      if (only.forall(_.contains(op)) && probeBatches.nonEmpty) {
        val b = probeBatches.size
        val avgProbed = probeBatches.map(_._1).sum.toDouble / b
        val avgRowsFrac = probeBatches
          .map(_._2.toDouble / math.max(1L, indexRows)).sum / b
        println(f"""{"op":"${op}_probe","cells_total":$servK,"index_rows":$indexRows,"batches":$b,"probed_cells_avg":$avgProbed%.1f,"probed_cells_frac":${avgProbed / servK}%.4f,"rows_read_frac":$avgRowsFrac%.4f}""")
        probeBatches.clear()
      }
    run("ann_enrich_stream", embs, "append",
        sinkTo = Some((df, _) => annSink(df)))(ds => ds.toDF())
    probeLine("ann_enrich_stream")
    // the ONLINE-SERVING shape: queries trickle in a few per trigger, so
    // each micro-batch probes only the handful of cells its queries land
    // in — this is the row where the probed/total and rows-read fractions
    // demonstrate the p/k pruning the partitioned index exists for (the
    // full-feed row above saturates every cell by construction). 2
    // queries x 32 batches mirrors the runtime-metrics spec's shape.
    if (only.forall(_.contains("ann_serve_stream"))) {
      val servQueries = embs.take(math.min(embs.size, 64))
      val prevBatches = 32
      val chunk = math.max(1, servQueries.size / prevBatches)
      val mem2 = MemoryStream[Emb]
      val q2 = mem2.toDS().toDF().writeStream.outputMode("append")
        .option("checkpointLocation", s"$ckptRoot/ann_serve_stream")
        .foreachBatch((df: Dataset[org.apache.spark.sql.Row], _: Long) =>
          annSink(df)).start()
      val t0 = System.nanoTime()
      try servQueries.grouped(chunk).foreach { c =>
        mem2.addData(c: _*); q2.processAllAvailable()
      } finally q2.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"ann_serve_stream","rows":${servQueries.size},"batches":${(servQueries.size + chunk - 1) / chunk},"sec":$sec%.3f,"rows_per_sec":${servQueries.size / sec}%.0f}""")
      probeLine("ann_serve_stream")
    }
    // media quarantine decode: the batch decoder unchanged over a stream
    // (MediaStreamSpec's op) — PNG-encoded doc texts with 10% corrupted,
    // so every micro-batch exercises both the decode and the quarantine
    // routing (corrupt rows MUST become ok=false rows, never a dead query)
    lazy val media = docs.map { d =>
      val png = graft.ops.Multimodal.encodePng(
        Option(d.text).getOrElse("").getBytes("UTF-8"))
      if (d.doc_id % 10 == 0) png(0) = 0
      (d.doc_id, png)
    }
    run("media_decode_stream", media, "append")(
      ds => graft.ops.Multimodal.extractFeaturesSafe(
        ds.toDF("media_id", "media")))
    // exactly-once CDC merge sink: full keep-latest MERGE + snapshot
    // rewrite + commit-log marker per micro-batch, target on tmpfs (same
    // rationale as the checkpoints — time the merge, not this host's
    // fsync). Keyed by user_id, versioned by event_id: ~1.6k live keys
    // under 10k changes, every batch rewrites the whole merged table —
    // the worst case for the snapshot strategy, which is the honest
    // number for the plain-filesystem fallback (a transactional format
    // replaces the rewrite, not the merge or the log).
    lazy val cdcChanges = events.map(e => (e.user_id, e.event_id, e.value))
    val cdcSink = new graft.streaming.IdempotentMergeSink(
      s"$ckptRoot/cdc-target", "k", "v", Seq("payload"))
    run("cdc_merge_sink", cdcChanges, "append",
        sinkTo = Some(cdcSink))(
      ds => ds.toDF("k", "v", "payload"))

    // tmpfs is RAM — release the checkpoint bytes before exiting
    scala.reflect.io.Directory(new java.io.File(ckptRoot)).deleteRecursively()
    spark.stop()
  }
}
