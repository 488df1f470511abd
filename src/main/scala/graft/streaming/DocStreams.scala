package graft.streaming

import graft.ops.{Curation, TextStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus curation — the crawl-stream → training-ready-stream
  * path: the batch [[graft.ops.Curation]] decisions applied to an
  * unbounded document source. Callers supply any streaming DataFrame with
  * (doc_id, text, ts: timestamp); `readStream` over parquet/kafka, or
  * MemoryStream in tests.
  *
  * The quality rules are row-local column expressions (no state at all);
  * dedup keys state by content fingerprint and EVICTS it at the watermark
  * horizon, so state is bounded by (ingest rate × watermark) — the
  * trade-off vs the batch corpus index is explicit: a duplicate arriving
  * after the horizon passes through, and the periodic batch
  * `dedup_incremental` against the persisted index is what catches it.
  * That stream-filters-fast / batch-reconciles-fully split is the
  * standard production arrangement.
  */
object DocStreams {

  /** Quality-filtered stream: drops docs failing the shared
    * [[Curation.rejectReasonFromWords]] rule set (same first-failing-rule
    * semantics as the batch `quality_filter`, including the NULL-text
    * reject). Map-only — fuses into the source scan, no state store; the
    * tokenization is bound to an attribute so the rule chain splits each
    * document once.
    */
  def qualityFiltered(docs: DataFrame, textCol: String = "text",
                      allowedLangs: Option[Seq[String]] = None): DataFrame =
    docs.withColumn("__w", split(col(textCol), " "))
      .filter(Curation.rejectReasonFromWords(col(textCol), col("__w"),
        allowedLangs).isNull)
      .drop("__w")

  /** Content-dedup'd stream: first doc with a given normalized fingerprint
    * ([[TextStats.fingerprint]]) wins; duplicates arriving within the
    * watermark horizon are dropped and seen-fingerprint state older than
    * the horizon is evicted. The id-keyed twin is
    * [[EventStreams.dedupEvents]]; keying on CONTENT is what makes this
    * dedup rather than replay protection.
    */
  def dedupByFingerprint(docs: DataFrame, textCol: String = "text",
                         watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("fp", TextStats.fingerprint(col(textCol)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** The composed curation stream: quality filter, then content dedup —
    * filter FIRST so rejected docs never enter the dedup state store.
    */
  def curated(docs: DataFrame, textCol: String = "text",
              watermark: String = "2 hours",
              allowedLangs: Option[Seq[String]] = None): DataFrame =
    dedupByFingerprint(qualityFiltered(docs, textCol, allowedLangs),
      textCol, watermark)

  /** The PRODUCTION ingest source: an unbounded JSONL landing directory
    * read incrementally by Spark's FileStreamSource — each trigger
    * processes only files not yet committed to the checkpoint's file log,
    * so a crawler dropping files and this stream tailing them gives
    * exactly-once file accounting without a broker. Same
    * schema-first + PERMISSIVE quarantine contract as the batch
    * [[graft.etl.Readers.jsonlQuarantine]]: schema inference is OFF (it
    * would re-list and re-read the directory per start, and types drift
    * between samples), and malformed lines become `_corrupt_record` ROWS
    * to route to a quarantine sink, never job failures.
    *
    * `maxFilesPerTrigger` bounds per-batch work — the knob that keeps
    * micro-batch latency flat when a backfill dumps 10⁴ files at once
    * (files beyond the cap simply wait, ordered by modification time).
    */
  def fromJsonlDir(spark: org.apache.spark.sql.SparkSession, dir: String,
                   schema: org.apache.spark.sql.types.StructType,
                   maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(dir)

  /** A document in the quota gate: `seq` is the caller's total arrival
    * order per source (a kafka offset, a landing-file sequence, an
    * event id) — the fold sorts each micro-batch's group slice by it,
    * so the decision stream is DETERMINISTIC even though the stateful
    * operator hands the group iterator in shuffle order.
    */
  case class QuotaDoc(source: String, doc_id: Long, n_tokens: Long,
                      seq: Long)

  /** The gate's verdict for one document: `cum_tokens` is the running
    * token total over EVERY arrival (kept or not), `kept` the prefix
    * rule `cum_tokens ≤ budget` — the same greedy-prefix contract as
    * the batch `token_budget_select`, just over arrival order instead
    * of a quality order (a stream cannot sort the future).
    */
  case class QuotaDecision(source: String, doc_id: Long, n_tokens: Long,
                           kept: Boolean, cum_tokens: Long)

  /** Streaming benchmark-decontamination gate — the live twin of the
    * batch `decontaminate_spans`: drop incoming documents whose n-token
    * window fingerprints overlap the STATIC benchmark set in more than
    * `maxHitFps` distinct windows (default 0: any verbatim benchmark
    * span rejects the document before it can enter a training shard).
    *
    * STATELESS by design: the benchmark fingerprint set is collected
    * once at query build and shipped inside a native codegen expression
    * ([[graft.functions.SpanHitCount]] — one shared hash set per
    * executor, one byte-walk per row), so there is no state store, no
    * watermark, no per-batch re-aggregation of the static side, and the
    * gate's answer never depends on batch boundaries. Benchmark sets
    * are small by definition (they are eval sets); a benchmark too
    * large to hold in memory belongs in the batch pipeline's
    * fingerprint join, not a live gate. Output keeps `hit_fps` for
    * audit.
    */
  def decontaminatedStream(docs: DataFrame, benchDocs: DataFrame,
                           textCol: String = "text",
                           n: Int = 8, maxHitFps: Long = 0L): DataFrame = {
    import graft.ops.TextDedup
    // the benchmark fingerprint set is collected ONCE at query build and
    // baked into a native expression as a shared hash set. The Column
    // spelling (collect_set → broadcast → per-row array_intersect) both
    // re-ran the benchmark aggregate every micro-batch and rebuilt a
    // hash set from the broadcast array on EVERY ROW (ArrayIntersect
    // keeps no state between rows) — measured ~0.6 s/batch over the
    // stateless-filter baseline; the frozen-at-start set is the
    // documented contract either way (benchmarks are static eval sets).
    val benchFps: Seq[String] = benchDocs
      .select(split(coalesce(col(textCol), lit("")), " ").as("__w"))
      .select(explode(TextDedup.shinglesFromWords(col("__w"), n)).as("s"))
      .select(md5(col("s")).as("fp")).distinct()
      .collect().map(_.getString(0)).toSeq
    docs
      .withColumn("__w", split(coalesce(col(textCol), lit("")), " "))
      .withColumn("hit_fps", graft.functions.SpanHitCountFunctions
        .spanHitCount(col("__w"), n, benchFps))
      .filter(col("hit_fps") <= maxHitFps)
      .drop("__w")
  }

  /** The full streaming curation PREFIX as one query — quality filter →
    * content dedup → per-source token quota, the live twin of the batch
    * `pretrain_pipeline`'s quality/dedup/budget stages. Input needs
    * (doc_id, text, ts, source, seq); output is the quota gate's
    * decision stream over the curated survivors.
    *
    * Composing is where state/ordering bugs hide (the r12 two-lateral
    * splice lesson), so the contracts compose explicitly:
    *   - the quality filter is stateless and runs FIRST, so rejected
    *     docs never enter the dedup state store;
    *   - the dedup state is bounded by (rate × watermark) and keyed on
    *     content fingerprint; the FIRST arrival of a fingerprint is the
    *     survivor, so downstream token totals see each content once;
    *   - the quota state is one long per source and orders survivors by
    *     `seq`, so decisions are final at emit and batch-boundary
    *     invariant (CuratedQuotaSpec pins row parity with the batch
    *     rule at two micro-batch sizes).
    *
    * Two stateful operators chain in ONE streaming query (Spark 3.4+
    * multi-stateful support): dropDuplicatesWithinWatermark feeds
    * [[TwsGates.tokenQuotaStreamTws]] in append mode.
    */
  def curatedQuota(docs: DataFrame, budget: Long,
                   textCol: String = "text",
                   watermark: String = "2 hours",
                   allowedLangs: Option[Seq[String]] = None)
  : org.apache.spark.sql.Dataset[QuotaDecision] = {
    val cur = curated(docs, textCol, watermark, allowedLangs)
    val qd = cur.select(
        col("source"), col("doc_id"),
        size(split(coalesce(col(textCol), lit("")), " "))
          .cast("long").as("n_tokens"),
        col("seq"))
      .as(org.apache.spark.sql.Encoders.product[QuotaDoc])
    TwsGates.tokenQuotaStreamTws(qd, budget)
  }

  /** Payload-carrying twins of the near-dup gate's row types: the
    * composed prefix needs `source` and `n_tokens` to survive to the
    * quota stage, and a stream cannot join them back later without
    * another stateful operator — so they ride the band rows (two small
    * fields × bands-per-doc, never the text itself).
    */
  case class CurBandRow(bkey: String, doc_id: Long, seq: Long,
                        n_bands: Int, ts: java.sql.Timestamp,
                        source: String, n_tokens: Long)
  case class CurBandVerdict(doc_id: Long, seq: Long, n_bands: Int,
                            claimed: Boolean, source: String,
                            n_tokens: Long)
}
