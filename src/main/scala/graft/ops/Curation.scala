package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the steps between a raw crawl and a
  * training set: quality filtering, deterministic train/val/test
  * splitting, token-budget shard packing, incremental (new-batch vs
  * corpus) dedup, and benchmark decontamination.
  *
  * Everything here composes the primitives from [[TextStats]] /
  * [[TextDedup]] / [[Sampling]] into the decision-making operators a real
  * pipeline runs, with the same two design rules: md5-deterministic
  * hashing (reproducible across runs, engines, cluster layouts) and plan
  * shapes that are map-only or hash-keyed — nothing quadratic in the
  * corpus, nothing collected to the driver.
  */
object Curation {

  /** Comparison thresholds are applied to values ROUNDED to 6 decimals so
    * the keep/reject booleans cannot flip on cross-engine ULP differences
    * at a rule boundary.
    */
  val MinTokens = 20
  val MinTypeTokenRatio = 0.30
  val MinStopwordRatio = 0.02

  /** Per-token quality signals from a BOUND word-array attribute (never an
    * inline `split` — codegen does not CSE inside `when` branches, so an
    * unbound split would re-tokenize the document once per rule; same
    * lesson as [[TextDedup.shinglesFromWords]]).
    */
  private def nTokensOf(words: Column): Column = size(words).cast("long")
  private def ttrOf(words: Column): Column =
    round(size(array_distinct(words)).cast("double") / size(words), 6)
  private def stopRatioOf(words: Column): Column =
    // native codegen set-count: the isin-filter HOF spelling is an
    // interpreted lambda per TOKEN at scan time (see TokenSetCount)
    round(graft.functions.TokenSetCountFunctions
      .tokenSetCount(words, TextStats.Stopwords)
      .cast("double") / size(words), 6)

  /** The first-failing-rule reject reason (null = keep) over a bound
    * word-array attribute — shared by the batch [[qualityFilter]] and the
    * streaming twin ([[graft.streaming.DocStreams]]) so the rule set
    * cannot drift between the two. A NULL document is rejected outright
    * (`empty`) — every downstream signal is undefined on it, and a
    * null-text record is exactly the junk the filter exists to stop.
    */
  def rejectReasonFromWords(text: Column, words: Column): Column =
    rejectReasonFromWords(text, words, None)

  /** [[rejectReasonFromWords]] with an OPTIONAL language gate: when
    * `allowedLangs` is set, documents whose
    * [[TextStats.langIdStruct]] prediction falls outside the set reject
    * as `wrong_language`. The gate sits after `too_short` (too few
    * tokens to classify reliably — the length rule already owns those)
    * and before the diversity/fluency rules, matching where real
    * curation stacks run language ID (C4 and friends filter language
    * before quality). `None` keeps the historical three-rule chain
    * bit-identical — every existing oracle and the streaming twin ride
    * the 2-arg form.
    */
  def rejectReasonFromWords(text: Column, words: Column,
                            allowedLangs: Option[Seq[String]]): Column = {
    val base = when(text.isNull, lit("empty"))
      .when(nTokensOf(words) < MinTokens, lit("too_short"))
    val gated = allowedLangs.fold(base) { langs =>
      base.when(!TextStats.langIdStruct(text, words)
        .getField("lang_pred").isin(langs: _*), lit("wrong_language"))
    }
    gated
      .when(ttrOf(words) < MinTypeTokenRatio, lit("low_diversity"))
      .when(stopRatioOf(words) < MinStopwordRatio, lit("no_stopwords"))
  }

  /** C4-style quality filter: per-document fluency/length/diversity
    * signals plus a keep decision with the FIRST failing rule as the
    * reject reason (rule order is part of the contract — downstream
    * reject-reason dashboards depend on it being stable).
    *
    * Signals: whitespace token count, type-token ratio (distinct/total
    * tokens — low = repetitive boilerplate), core-stopword ratio (zero ≈
    * non-fluent or wrong-language text for an English-centric filter).
    * All row-local column expressions: the filter is map-only and fuses
    * into the scan's codegen stage at any scale. The word split is bound
    * to an attribute once; the signals and the rule chain all read that
    * one tokenization.
    *
    * The rule-chain CASE is ALSO bound to an attribute (its own Project)
    * before fanning out to `keep`/`reject_reason` (r17, guide §1.2 "per-
    * task work"): the two output columns otherwise each inline the whole
    * chain, and codegen subexpression elimination does NOT merge the two
    * CaseWhen trees — with the language gate live that meant evaluating
    * the 4-profile token-set overlap + char profile twice per row
    * (measured 0.78 → 0.45 s at sf0.1). CollapseProject keeps the stage
    * split because a non-cheap expression referenced twice is never
    * inlined; everything still fuses into one WholeStageCodegen.
    */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String,
                    allowedLangs: Option[Seq[String]] = None)
  : DataFrame = {
    val bound = docs.select(col(idCol), col(textCol).as("__t"),
      split(col(textCol), " ").as("__w"))
    val reason = rejectReasonFromWords(col("__t"), col("__w"), allowedLangs)
    bound.select(col(idCol), col("__w"), reason.as("__r"))
      .select(col(idCol), nTokensOf(col("__w")).as("n_tokens"),
        ttrOf(col("__w")).as("ttr"),
        stopRatioOf(col("__w")).as("stopword_ratio"),
        col("__r").isNull.as("keep"), col("__r").as("reject_reason"))
  }

  /** Deterministic stratified-in-expectation train/val/test split:
    * `md5(key) mod 100` buckets → train <`pctTrain`, val <`pctTrain` +
    * `pctVal`, else test.
    *
    * Hash splitting is the shape that scales: it is map-only (no
    * per-stratum sort or quota state), gives every stratum the same
    * expected proportions, is stable under re-runs/appends (a doc never
    * migrates between splits when the corpus grows — the property that
    * keeps eval sets uncontaminated across pipeline versions), and keeps
    * same-key rows in the same split across tables. Exact per-stratum
    * quotas would need a rank over each stratum — a per-stratum sort that
    * buys nothing at corpus sizes where strata are millions of docs.
    */
  def stratifiedSplit(keyCol: Column,
                      pctTrain: Int = 80, pctVal: Int = 10): Column = {
    val b = Sampling.hashBucket(keyCol, 100)
    when(b < pctTrain, lit("train"))
      .when(b < pctTrain + pctVal, lit("val"))
      .otherwise(lit("test"))
  }

  /** Greedy token-budget shard packing: within each stratum, documents in
    * `orderCol` order accumulate into shards of ~`budget` tokens
    * (`shard = exclusive-prefix-sum div budget` — a doc lands in the shard
    * where it STARTS, so every shard except the last holds at least
    * `budget` tokens once its boundary doc arrives).
    *
    * This is the operator that writes ~equal-sized training shards. The
    * prefix sum is a running-total window per stratum: one shuffle on the
    * stratum key, one sort per stratum. The stratum is the parallelism
    * unit — at 100 TB you pack within finer strata (source × date, or
    * hash-bucketed sub-strata) so no single ordered sequence exceeds a
    * task; packing is inherently order-sequential WITHIN a shard sequence,
    * so the stratum choice IS the scale knob.
    */
  def packShards(df: DataFrame, strataCol: Column, orderCol: Column,
                 tokensCol: Column, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wdw = Window.partitionBy(strataCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(tokensCol).over(wdw).cast("long"))
      .withColumn("shard",
        ((col("cum_tokens") - tokensCol) / lit(budget)).cast("long"))
  }

  /** Incremental dedup — the every-crawl operation: drop incoming docs
    * that already exist in the corpus, exactly (normalized-content
    * fingerprint, [[TextStats.fingerprint]]) or nearly (identical
    * SimHash, [[TextDedup.simhash]] — use an INDEX-width signature, 48
    * bits, not the 16-bit banding width: equality against a whole corpus
    * saturates a small signature space and would false-drop everything).
    * Exact match wins the reason when both fire.
    *
    * `incoming`/`corpus` must carry (idCol, fp, simhash) — build both
    * sides from ONE pass over the union'd corpus when they live in the
    * same table ([[graft.queries.CurationQueries.dedupIncremental]] does)
    * so signatures are computed once.
    *
    * Plan shape: the corpus side collapses to its DISTINCT fingerprint /
    * signature sets (aggregates with map-side partials), then two hash
    * LEFT joins keyed on those values. Nothing is ever pairwise; at 100 TB
    * the corpus sets are the persisted dedup index a production pipeline
    * maintains between crawls, and AQE broadcasts them only if they
    * measure small.
    */
  def incrementalDedup(incoming: DataFrame, corpus: DataFrame,
                       idCol: String): DataFrame = {
    val corpFp = corpus.select(col("fp").as("c_fp")).distinct()
    val corpSh = corpus.select(col("simhash").as("c_sh")).distinct()
    incoming
      .join(corpFp, col("fp") === col("c_fp"), "left")
      .join(corpSh, col("simhash") === col("c_sh"), "left")
      .select(col(idCol),
        (col("c_fp").isNull && col("c_sh").isNull).as("keep"),
        when(col("c_fp").isNotNull, lit("exact_dup"))
          .when(col("c_sh").isNotNull, lit("near_dup")).as("drop_reason"))
  }

  /** Sliding-window token chunking — the context-window packing step that
    * turns documents into trainable sequences. Chunk i covers tokens
    * [i·stride, i·stride + size); the last chunk is the first one that
    * reaches the document's end (no fully-redundant trailing windows), and
    * a document at most `size` tokens long is exactly one chunk.
    *
    * Map-only: `posexplode(sequence(...))` fans each row out to its chunk
    * count with NO shuffle and no per-row array materialization beyond the
    * one `split` — the expansion happens inside whole-stage codegen. At
    * 100 TB this is the shape that matters: chunking is embarrassingly
    * parallel and must never cost an exchange.
    */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "need 0 < stride <= size")
    val toks = split(col(textCol), " ")
    val n = size_(toks).cast("long")
    // integer ceil((n-size)/stride); values are token counts, so the
    // double round-trip inside floor() is exact
    val lastStart = when(n <= size, lit(0L))
      .otherwise(floor((n - size + (stride - 1)) / stride).cast("long"))
    val chunkLen = least(lit(size.toLong), col("__n") - col("chunk_id") * stride)
    docs
      .select(col(idCol), toks.as("__toks"), n.as("__n"),
        explode(sequence(lit(0L), lastStart)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"), chunkLen.as("n_tokens"),
        array_join(
          slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"),
            chunkLen.cast("int")),
          " ").as("chunk_text"))
  }

  // size() the function, free of the ambient DataFrame.size
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** PII redaction patterns, applied in order (most-specific first so a
    * later, looser pattern never eats part of an earlier entity — an email
    * must be replaced before its digits could look like anything else).
    * The regex subset is deliberately conservative — character classes,
    * bounded repetition, `\b` — valid and IDENTICAL in Java regex (Spark)
    * and RE2 (DuckDB, and the engines a policy team would lint these
    * with); no lookarounds or backreferences, which RE2 rejects.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"))

  /** Text with every PII pattern replaced by its placeholder — a map-only
    * column expression (three codegen'd regexp_replace passes), so
    * redaction fuses into the scan stage at any scale.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-pattern match counts on the UNREDACTED text (audit trail: how
    * much PII each document carried), as `n_<name>` columns.
    */
  def piiCounts(text: Column): Seq[Column] =
    PiiPatterns.map { case (name, pat, _) =>
      regexp_count(text, lit(pat)).cast("long").as(s"n_$name")
    }

  /** Benchmark decontamination — per-candidate-document overlap of its
    * n-gram shingle set against a benchmark's shingle set: `n_hit / n_sh`,
    * flagged contaminated at `threshold`. This is the standard
    * "is my training set leaking the eval set" check (the n-gram-overlap
    * method used for LLM training corpora), run as data-engineering over
    * the corpus rather than a post-hoc audit.
    *
    * Plan shape: candidate shingles LEFT-SEMI join the (distinct, usually
    * tiny) benchmark shingle set on the shingle value — work is linear in
    * candidate shingles, partitioned by shingle hash; the hit and total
    * counts are two aggregates over the same exploded frame. Documents
    * too short to produce a shingle have no overlap defined and are
    * omitted (inner join on the totals), same convention as the Jaccard
    * verifier.
    */
  def contamination(candidates: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, shingleN: Int = 3,
                    threshold: Double = 0.5): DataFrame = {
    val candSh = TextDedup.distinctShingles(candidates, idCol, textCol, shingleN)
    val benchSh = TextDedup.distinctShingles(benchmark, idCol, textCol, shingleN)
      .select("s").distinct()
    val totals = candSh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val hits = candSh.join(benchSh, Seq("s"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_sh"), 6)
          .as("overlap"))
      .withColumn("contaminated", col("overlap") >= threshold)
  }
}
