package graft.streaming

import graft.ops.TextDedup
import graft.streaming.DocStreams.{CurBandRow, CurBandVerdict, QuotaDecision,
  QuotaDoc}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The stateful curation gates — per-source token quota, the streaming
  * near-dup LSH gate, and the full curation prefix that chains them —
  * on Spark 4's arbitrary-stateful API, `transformWithState`
  * (SPARK-46815). It needs the RocksDB state store provider (state
  * spills off heap instead of living in executor memory, which is what a
  * month of band-claim buckets at crawl rate needs), which the engine's
  * sessions set; it brings typed named state, named timers and in-place
  * schema evolution.
  *
  * Near-dup eviction is keyed to the WATERMARK with event-time timers —
  * see the ClaimProcessor note for why state TTL (the API's
  * processing-time eviction) is NOT usable here: it makes the query
  * unable to quiesce.
  *
  * CHANGELOG-CHECKPOINTING POLICY (derived from the measured ×1/×10/×64
  * restart cycles, STREAMBENCH.md r15): enable
  * `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled`
  * for any long-running TWS gate — it wins the COMMIT path at every
  * measured state size (−14–41% on a 16-commit prime: per-batch commits
  * ship a delta, not a full RocksDB snapshot, and on a real DFS the
  * snapshot upload is the fsync-heavy part). The cost lands at RESTART:
  * restore = snapshot load + replay of every changelog since the last
  * UPLOADED snapshot, and the bound on that tail is TWO knobs, not one —
  * snapshot uploads run in the ASYNC maintenance thread, so
  * `spark.sql.streaming.stateStore.minDeltasForSnapshot` (default 10)
  * only marks a snapshot due, while
  * `spark.sql.streaming.stateStore.maintenanceInterval` (default 60s)
  * decides when the upload actually happens. Measured at ×64 state:
  * default knobs replayed the whole 16-changelog prime (restore 7.4s vs
  * the snapshot variant's 1.5s; minDeltas=4 ALONE changed nothing
  * because a sub-minute prime never hits a maintenance tick);
  * minDeltas=4 + maintenanceInterval=2s bounded restore to 2.9s, paying
  * +40% prime time and ~3× retained checkpoint bytes. So: restarts
  * rare → keep the defaults and bank the commit-path win; restarts
  * frequent or recovery-SLA-bound → set minDeltas ≈ (acceptable extra
  * restore seconds) ÷ (per-changelog replay seconds) AND a maintenance
  * interval shorter than minDeltas × the batch period, and budget the
  * extra snapshot uploads.
  *
  * Measurement caveat (and deployment caveat in miniature): the
  * maintenance task is a JVM-wide singleton that captures its tick
  * period when the FIRST stateful query of the process starts — a
  * maintenanceInterval set after any stateful query ran is a silent
  * no-op for the life of the JVM. The r15 cadence row was therefore
  * measured as its process's first stateful query, in a fresh JVM; set
  * the interval in the session conf BEFORE the first `start()` in
  * production too.
  */
object TwsGates {

  /** Per-source running token total; emits the greedy-prefix verdict per
    * arrival. State: ONE long per source, no TTL (budgets don't expire).
    */
  private class QuotaProcessor(budget: Long)
      extends StatefulProcessor[String, QuotaDoc, QuotaDecision] {
    @transient private var cum: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(source: String, rows: Iterator[QuotaDoc],
                                 tv: TimerValues): Iterator[QuotaDecision] = {
      var c = if (cum.exists()) cum.get() else 0L
      val out = rows.toSeq.sortBy(_.seq).map { d =>
        c += d.n_tokens
        QuotaDecision(source, d.doc_id, d.n_tokens,
          kept = c <= budget, cum_tokens = c)
      }
      cum.update(c)
      out.iterator
    }
  }

  /** Streaming per-source token quota — the live-ingestion twin of the
    * batch `token_budget_select`: admit documents per source until the
    * source's token budget is exhausted, then drop. State is ONE long
    * per source (the running total) — bounded by the DOMAIN count, not
    * the stream: cluster metadata at any ingest rate, no watermark or
    * eviction needed, which is what makes this the gate you can leave
    * running for a month. Decisions are final at emit (the running
    * total never decreases), so the output composes with the
    * exactly-once sinks; within-batch ordering is pinned by the `seq`
    * sort (see [[DocStreams.QuotaDoc]]), and cross-batch ordering by the
    * state itself. QuotaStreamSpec certifies batch-boundary invariance,
    * within-batch shuffle invariance, and row parity with the batch
    * prefix rule.
    */
  def tokenQuotaStreamTws(docs: Dataset[QuotaDoc], budget: Long)
  : Dataset[QuotaDecision] = {
    implicit val decEnc = Encoders.product[QuotaDecision]
    docs.groupByKey(_.source)(Encoders.STRING)
      .transformWithState(new QuotaProcessor(budget), TimeMode.None(),
        OutputMode.Append())
  }

  /** One exploded band row: `bkey` packs the band index and that band's
    * signature slice; `n_bands` rides along so the verdict fold knows
    * when it has seen the document's full band set.
    */
  case class BandRow(bkey: String, doc_id: Long, seq: Long, n_bands: Int,
                     ts: java.sql.Timestamp)

  /** A document's signature at band grain: empty `bands` marks a document
    * too short to shingle (kept by definition).
    */
  case class SigRow(doc_id: Long, seq: Long, ts: java.sql.Timestamp,
                    bands: Seq[String])

  /** Per-band claim verdict emitted by the stateful operator. */
  case class BandVerdict(doc_id: Long, seq: Long, n_bands: Int,
                         claimed: Boolean)

  /** Final per-document decision: kept iff the document claimed every one
    * of its band buckets (`claimed_bands == n_bands`). `n_bands == 0`
    * marks a too-short-to-shingle document, kept by definition.
    */
  case class NeardupDecision(doc_id: Long, seq: Long, kept: Boolean,
                             n_bands: Int, claimed_bands: Int)

  /** Fixed eviction horizon in millis for a watermark delay string. Parsed
    * with Spark's own interval parser so every delay `withWatermark`
    * accepts (including compound strings like "1 hour 30 minutes" and
    * week units) yields the same duration here; calendar-unit months are
    * rejected because they have no fixed millisecond width (Spark's
    * watermark machinery rejects them for the same reason).
    */
  private[streaming] def horizonMillis(watermark: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    require(iv.months == 0,
      s"watermark delay must not use calendar months: '$watermark'")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** LSH bucket keys of a MinHash signature: one `band|slice` key per
    * band — the same keys as the batch `lshCandidatePairs`. A null
    * signature (too short to shingle) has no keys.
    */
  private def bandKeys(mh: Array[Long], k: Int): Seq[String] =
    if (mh == null) Seq.empty
    else (0 until k by TextDedup.BandSize).map { s =>
      ((s / TextDedup.BandSize).toLong +:
        (s until s + TextDedup.BandSize).map(mh)).mkString("|")
    }

  private def requireBandMultiple(k: Int): Unit =
    require(k > 0 && k % TextDedup.BandSize == 0,
      s"signature length k=$k must be a positive multiple of the band " +
        s"size ${TextDedup.BandSize}: the band slices below index " +
        "0 until k in full BandSize strides")

  /** Band-bucket claim with EVENT-TIME timers: state is the claimant's
    * seq plus its registered eviction timer; the timer is re-armed past
    * each batch's newest arrival and [[StatefulProcessor.handleExpiredTimer]]
    * clears the claim when the watermark passes it, so the store is
    * bounded by (distinct buckets within horizon).
    *
    * Why NOT state TTL (the API's other eviction device): TTL requires
    * `TimeMode.ProcessingTime`, and in that mode
    * `TransformWithStateExec.shouldRunAnotherBatch` is unconditionally
    * true — the engine schedules micro-batches FOREVER to service the
    * wall clock (measured: 692 offset-log entries from one 7-row
    * addData; `processAllAvailable` and even a `Trigger.AvailableNow`
    * drain never terminate). A gate that cannot quiesce cannot be
    * drained, checkpoint-verified, or run in a shared test harness;
    * event-time timers only fire when the watermark moves, so the query
    * settles like every other stateful op here.
    */
  private class ClaimProcessor[I, O](horizonMs: Long, seqOf: I => Long,
      docOf: I => Long, tsOf: I => java.sql.Timestamp,
      verdict: (I, Boolean) => O)
      extends StatefulProcessor[String, I, O] {
    @transient private var claim: ValueState[Long] = _
    @transient private var timer: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      claim = getHandle.getValueState[Long]("claim", Encoders.scalaLong,
        TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(bkey: String, batch: Iterator[I],
                                 tv: TimerValues): Iterator[O] = {
      // seq order decides the claim — batch-boundary and shuffle
      // invariant by construction
      val rows = batch.toSeq.sortBy(r => (seqOf(r), docOf(r)))
      val already = claim.exists()
      val out = rows.zipWithIndex.map { case (r, i) =>
        verdict(r, !already && i == 0)
      }
      if (!already && rows.nonEmpty) claim.update(seqOf(rows.head))
      if (rows.nonEmpty) {
        // re-arm the eviction horizon past the newest arrival (never at
        // or below the current watermark); skip the RocksDB delete+put
        // when the due time is unchanged
        val due = math.max(rows.map(tsOf(_).getTime).max,
          tv.getCurrentWatermarkInMs()) + horizonMs
        if (!timer.exists() || timer.get() != due) {
          if (timer.exists()) getHandle.deleteTimer(timer.get())
          getHandle.registerTimer(due)
          timer.update(due)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(bkey: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[O] = {
      claim.clear(); timer.clear()
      Iterator.empty
    }
  }

  /** Streaming NEAR-duplicate gate — the live twin of the batch MinHash+LSH
    * dedup family. [[DocStreams.dedupByFingerprint]] catches
    * byte-identical content; this catches the mutated-boilerplate case
    * (template pages, syndicated articles with swapped bylines) the same
    * way the batch `dedup_minhash_lsh` does: shingle → row-local MinHash
    * → LSH band keys, then a band-bucket claim check instead of a pair
    * join. Input needs (doc_id: long, text: string, seq: long,
    * ts: timestamp); emits one [[NeardupDecision]] per document in the
    * batch it arrived.
    *
    * Semantics — SEQUENTIAL-GREEDY keep-first: documents are processed in
    * `seq` order; a document is KEPT iff none of its band buckets was
    * claimed by ANY earlier document, and it claims all its buckets either
    * way (a dropped near-dup still extends its cluster's bucket frontier,
    * which is what makes a chain a → b → c collapse to {a} exactly like the
    * batch connected-components keep-first when the chain is discovered in
    * arrival order). Decisions are final at emit and INVARIANT to
    * micro-batch boundaries: claims depend only on seq order, which the
    * per-bucket fold sorts explicitly — NeardupStreamSpec pins parity with
    * a sequential replay of the same rule at several batch shapes.
    *
    * Plan shape (one streaming query):
    *   - signature: one tight JVM pass per document
    *     ([[TextDedup.minhashSignatureJvm]] via `mapPartitions`) — no
    *     aggregate, no interpreted higher-order functions (the Column
    *     formulation measured 10× slower: ArrayTransform lambdas run
    *     outside whole-stage codegen); docs too short to shingle bypass
    *     the gate as kept (the batch path never pairs them either);
    *   - claim check: ONE stateful operator keyed by band-bucket key
    *     ([[ClaimProcessor]]) — the same rate × horizon state bound as
    *     the exact-dedup store, times the band count;
    *   - verdict: every band row of a document is emitted in the SAME
    *     micro-batch it arrived, so the per-document all-bands fold is
    *     STATELESS — a hash repartition on doc_id and a per-partition
    *     count-up, no second state store, no added watermark latency.
    */
  def neardupStreamTws(docs: DataFrame, textCol: String = "text",
                       watermark: String = "2 hours",
                       k: Int = TextDedup.NumHashes,
                       shingleN: Int = 3): Dataset[NeardupDecision] = {
    requireBandMultiple(k)
    val nBands = k / TextDedup.BandSize
    val horizon = horizonMillis(watermark)
    implicit val decEnc = Encoders.product[NeardupDecision]

    // one tight JVM pass per document: split → shingle → salted-md5 →
    // lane mins → band keys (see TextDedup.minhashSignatureJvm — the
    // Column/HOF formulation runs interpreted and measured 10× slower)
    val sig = docs
      .select(col("doc_id").cast("long"), col("seq").cast("long"),
        col("ts"), col(textCol).cast("string").as("text"))
      .as(Encoders.product[(Long, Long, java.sql.Timestamp, String)])
      .mapPartitions { it =>
        it.map { case (docId, seq, ts, text) =>
          SigRow(docId, seq, ts,
            bandKeys(TextDedup.minhashSignatureJvm(text, k, shingleN), k))
        }
      }(Encoders.product[SigRow])

    // too short to shingle → kept unconditionally, never enters a bucket
    val short = sig.filter(_.bands.isEmpty)
      .map(r => NeardupDecision(r.doc_id, r.seq, kept = true,
        n_bands = 0, claimed_bands = 0))(decEnc)

    val verdicts = sig.filter(_.bands.nonEmpty)
      .flatMap(r => r.bands.map(b =>
        BandRow(b, r.doc_id, r.seq, nBands, r.ts)))(
        Encoders.product[BandRow])
      .withWatermark("ts", watermark)
      .as(Encoders.product[BandRow])
      .groupByKey(_.bkey)(Encoders.STRING)
      .transformWithState(
        new ClaimProcessor[BandRow, BandVerdict](horizon,
          _.seq, _.doc_id, _.ts,
          (r, c) => BandVerdict(r.doc_id, r.seq, r.n_bands, claimed = c)),
        TimeMode.EventTime(), OutputMode.Append())(
        Encoders.product[BandVerdict])

    // all n_bands verdicts of a doc emit in the SAME batch → the fold is
    // stateless: co-locate by doc_id, count claims per partition slice
    val decided = verdicts.repartition(col("doc_id"))
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap
          .empty[Long, (Long, Int, Int)] // doc -> (seq, n_bands, claimed)
        it.foreach { v =>
          val (s, n, c) = acc.getOrElse(v.doc_id, (v.seq, v.n_bands, 0))
          acc(v.doc_id) = (s, n, c + (if (v.claimed) 1 else 0))
        }
        acc.iterator.map { case (doc, (s, n, c)) =>
          NeardupDecision(doc, s, kept = c == n, n_bands = n,
            claimed_bands = c)
        }
      }(decEnc)

    decided.unionByName(short)
  }

  /** THE full streaming curation prefix: quality filter → exact content
    * dedup → NEAR-dup LSH gate → per-source token quota, as ONE
    * streaming query with THREE stateful operators
    * (dropDuplicatesWithinWatermark → band-claim [[ClaimProcessor]] →
    * [[QuotaProcessor]]). The batch analogue is `pretrain_pipeline`'s
    * quality/exact/near-dup/budget stages; [[DocStreams.curatedQuota]]
    * is this minus the near-dup stage. Input needs (doc_id, text, ts,
    * source, seq); output is the quota gate's decision stream over the
    * curated survivors.
    *
    * Spark's multi-stateful correctness checker REFUSES this chain by
    * default: an arbitrary stateful operator may emit rows "older than
    * the watermark", which a downstream watermark-CONSUMING operator
    * would silently drop as late. That hazard does not apply here — the
    * only watermark-consuming stage (the exact dedup) sits UPSTREAM of
    * both TWS operators, and neither the band-claim nor the quota stage
    * drops late rows (the claim uses the watermark solely for state
    * eviction; the quota gate never reads it). Callers must acknowledge
    * by setting
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    * before starting the query (CuratedNeardupQuotaSpec and perfbench's
    * `stream_curation` do; parity with the sequential batch rule is what
    * makes the acknowledgement safe rather than hopeful).
    */
  def curatedNeardupQuotaTws(docs: DataFrame, budget: Long,
                             textCol: String = "text",
                             watermark: String = "2 hours",
                             allowedLangs: Option[Seq[String]] = None)
  : Dataset[QuotaDecision] = {
    val k = TextDedup.NumHashes
    requireBandMultiple(k)
    val nBands = k / TextDedup.BandSize
    val horizon = horizonMillis(watermark)

    // ORDERING CONSTRAINT (found the hard way): a typed map drops the
    // event-time watermark tag from its output attributes, and a
    // watermark cannot be re-defined below a stateful operator under
    // allowMultiple. So every object-side column — the JVM fingerprint
    // AND the JVM minhash bands — is computed FIRST, the watermark is
    // defined ONCE on the result, and everything downstream (dedup,
    // band explode, both TWS stages) stays relational/grouped so the
    // tag survives to the claim stage's event-time timers.
    val prepped = DocStreams.qualityFiltered(docs, textCol, allowedLangs)
      .select(col("doc_id").cast("long"), col("seq").cast("long"),
        col("ts"), col("source").cast("string"),
        col(textCol).cast("string").as("__text"))
      .as(Encoders.product[(Long, Long, java.sql.Timestamp, String, String)])
      .mapPartitions { it =>
        it.map { case (docId, seq, t, source, text) =>
          // quality already rejected null text; split parity with
          // size(split(coalesce(text,''),' '))
          val nTokens = text.split(" ", -1).length.toLong
          val fp = graft.ops.TextStats.fingerprintJvm(text)
          (docId, seq, t, source, nTokens, fp,
            bandKeys(TextDedup.minhashSignatureJvm(text, k), k))
        }
      }(Encoders.product[(Long, Long, java.sql.Timestamp, String, Long,
        String, Seq[String])])
      .toDF("doc_id", "seq", "ts", "source", "n_tokens", "fp", "bands")
      .withWatermark("ts", watermark)

    val deduped = prepped.dropDuplicatesWithinWatermark("fp")

    val short = deduped.filter(size(col("bands")) === 0)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("seq"))
      .as(Encoders.product[QuotaDoc])

    val verdicts = deduped.filter(size(col("bands")) > 0)
      .select(explode(col("bands")).as("bkey"), col("doc_id"),
        col("seq"), lit(nBands).as("n_bands"), col("ts"),
        col("source"), col("n_tokens"))
      .as(Encoders.product[CurBandRow])
      .groupByKey(_.bkey)(Encoders.STRING)
      .transformWithState(
        new ClaimProcessor[CurBandRow, CurBandVerdict](horizon,
          _.seq, _.doc_id, _.ts,
          (r, c) => CurBandVerdict(r.doc_id, r.seq, r.n_bands,
            claimed = c, r.source, r.n_tokens)),
        TimeMode.EventTime(), OutputMode.Append())(
        Encoders.product[CurBandVerdict])

    // stateless per-doc fold (all of a doc's verdicts share its batch);
    // only near-dup SURVIVORS reach the quota gate
    val kept = verdicts.repartition(col("doc_id"))
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap
          .empty[Long, (Long, Int, Int, String, Long)]
        it.foreach { v =>
          val (s, n, c, src, t) = acc.getOrElse(v.doc_id,
            (v.seq, v.n_bands, 0, v.source, v.n_tokens))
          acc(v.doc_id) = (s, n, c + (if (v.claimed) 1 else 0), src, t)
        }
        acc.iterator.collect { case (doc, (s, n, c, src, t)) if c == n =>
          QuotaDoc(src, doc, t, s)
        }
      }(Encoders.product[QuotaDoc])

    tokenQuotaStreamTws(kept.unionByName(short), budget)
  }
}
