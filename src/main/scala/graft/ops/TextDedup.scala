package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Near-duplicate detection for document corpora — the MinHash/LSH and
  * SimHash family. No driver-side loops: every step is a narrow map or a
  * keyed aggregate, so the pipeline scales to corpus sizes where O(n²)
  * comparison is impossible. The MinHash signature is one JVM fold per
  * document ([[minhashSignatureJvm]]), shared by batch and stream; every
  * other step is built from codegen'd built-ins (split / transform /
  * explode / md5 / aggregates).
  *
  * Hashing: `md5(salt || shingle)` with lexicographic `min` as the hash-family
  * member. md5 is deterministic and identical across engines (unlike
  * `hash()`/`xxhash64` which are Spark-specific), which keeps every stage
  * oracle-checkable in DuckDB.
  *
  * Scale shape (N docs, s shingles/doc):
  *   - signature: one map pass, one row per document — linear;
  *   - LSH banding: b band keys per doc, self-join on band key — output is
  *     only genuinely-colliding pairs, the whole point of LSH (b·r = k
  *     signature positions; P[collide] = 1-(1-j^r)^b for Jaccard j);
  *   - the band join shuffles on the band key; a degenerate hot bucket
  *     (all-identical docs) is a data-skew case for AQE skew handling.
  */
object TextDedup {

  /** MinHash signature length. 8 suits the demo corpus; production LSH
    * (e.g. 128 hashes, 16 bands of 8) sharpens the s-curve so borderline
    * Jaccard pairs stop leaking through — signature cost is linear in
    * this, candidate volume is set by the band split below. Both are
    * per-call knobs on the operators, not design constants.
    */
  val NumHashes = 8
  val BandSize = 2          // → 4 bands of 2 → s-curve threshold j ≈ 0.55

  /** Word n-gram shingles from a pre-split word array. Documents with
    * fewer than `n` words produce no shingles (and thus no signature),
    * matching the SQL `range` formulation.
    *
    * `words` should be a *bound attribute* (a projected `split(...)`
    * column), not an inline `split(text, " ")` expression: codegen does not
    * common-subexpression-eliminate inside `transform` lambdas, so an
    * inline split re-runs once per `element_at` call — O(words²) per
    * document. Binding it first measured 8× faster shingle generation at
    * sf0.1.
    */
  def shinglesFromWords(words: Column, n: Int = 3): Column =
    when(size(words) >= n,
      transform(sequence(lit(0), size(words) - n),
        i => concat_ws(" ", (0 until n).map(o => element_at(words, i + lit(o + 1))): _*)))
      .otherwise(array())

  /** Word n-gram shingles of raw `text` — convenience for single-expression
    * use (tests, ad-hoc). Hot paths should project `split(text, " ")` to an
    * attribute and call [[shinglesFromWords]] — see that method's scaladoc.
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromWords(split(text, " "), n)

  /** Exact repeated-span (substring) dedup profile — the sub-chunk-grain
    * member of the dedup family. Suffix-array approaches ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022) find
    * repeated spans with a global index; the distributed equivalent
    * buckets fixed-length n-token windows by content fingerprint — any
    * repeat of ≥ n tokens necessarily repeats one of its n-token
    * windows, so window-grain bucketing finds every such span with
    * explode → keyed aggregate → hash join and never an all-pairs or
    * global-suffix-sort step. Per document: total n-token windows
    * (`n_spans`), windows whose fingerprint occurs in at least one
    * OTHER document (`rep_spans`), and the distinct repeated
    * fingerprints (`rep_fps`) — what a span-removal pass prices before
    * editing text.
    *
    * Scale shape: one explode (N·s rows, linear in corpus tokens), a
    * two-level keyed aggregate — (doc, fp) then fp — both map-side
    * combinable so a boilerplate span that floods the corpus collapses
    * to partial counts before its exchange, and one fingerprint-keyed
    * hash join back at (doc, fp) grain (never re-exploding text). The
    * md5 fingerprint keys give a uniform shuffle even when one span
    * dominates.
    */
  def repeatedSpanProfile(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    val toks = graft.etl.Readers.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        split(coalesce(col(textCol), lit("")), " ").as("__w"))
    val spans = toks
      .select(col(idCol), explode(shinglesFromWords(col("__w"), n)).as("s"))
      .select(col(idCol), md5(col("s")).as("fp"))
    // pinned (r17): the per-(doc, fp) counts feed BOTH the fp-cardinality
    // aggregate and the join back — two consumers keyed differently, so
    // only the partial-agg exchange below them is AQE-reusable and the
    // window explode + md5 re-ran for the second consumer (same
    // shared-frame shape splitRebalance pins). The pinned frame is one
    // row per DISTINCT (doc, window) — bounded by corpus token count;
    // materializing it once vs hashing every window twice is the same
    // trade the fps pin in splitRebalance documents. Lazy (no driver
    // action), but under AQE building the frame runs the aggregate's
    // shuffle map stage.
    val perDocFp = spans.groupBy(col(idCol), col("fp"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val docsPerFp = perDocFp.groupBy("fp")
      .agg(count(lit(1)).as("ndocs"))
    val rep = perDocFp.join(docsPerFp, Seq("fp"))
      .filter(col("ndocs") >= 2)
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("rep_spans"), count(lit(1)).as("rep_fps"))
    val totals = toks.select(col(idCol),
      greatest(size(col("__w")) - lit(n - 1), lit(0))
        .cast("long").as("n_spans"))
    totals.join(rep, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("rep_spans"), lit(0L)).as("rep_spans"),
        coalesce(col("rep_fps"), lit(0L)).as("rep_fps"))
  }

  /** The ACTIONABLE twin of [[repeatedSpanProfile]]: remove every token
    * covered by a cross-document repeated n-token window and emit the
    * cleaned document — what the Lee et al. pipeline actually ships
    * (flagging prices the cut; this makes it). Greedy-total removal:
    * a token goes if ANY repeated window covers it, so overlapping
    * repeats resolve deterministically with no scan order.
    *
    * Scale shape: the profile's explode + keyed aggregates, one more
    * bounded explosion (≤ n positions per repeated window), a (doc,
    * pos)-keyed LEFT ANTI hash join, and ONE groupBy(doc) rebuild whose
    * per-group state is the document's own tokens — bounded by document
    * length, the same bound every per-doc transform here carries (a
    * corpus whose single docs exceed task memory needs chunk-grain
    * rebuild instead). Returns (id, n_tokens, n_removed, cleaned_md5) —
    * the md5 keeps the contract engine-checkable without shipping text.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    val toks = graft.etl.Readers.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        split(coalesce(col(textCol), lit("")), " ").as("__t"))
    // pinned (r17): the positioned window table feeds BOTH the
    // repeated-fp aggregate and the coverage probe join — keyed
    // differently ((id, fp) vs fp), so without the pin the posexplode +
    // md5 pass executed once per consumer (measured 7 parquet scans in
    // dedup_substring_clean's executed plan). One row per token window —
    // the same corpus-token-bounded materialization trade the
    // [[repeatedSpanProfile]] and splitRebalance pins document. Lazy.
    val win = toks
      .select(col(idCol),
        posexplode(shinglesFromWords(col("__t"), n)).as(Seq("pos", "s")))
      .select(col(idCol), col("pos"), md5(col("s")).as("fp"))
      .localCheckpoint(false)
    val repFps = win.groupBy(col(idCol), col("fp")).agg(count(lit(1)).as("c"))
      .groupBy("fp").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select("fp")
    val covered = win.join(repFps, "fp")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val tokRows = toks.select(col(idCol),
      posexplode(col("__t")).as(Seq("pos", "w")))
    val rebuilt = tokRows.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w")))).as("cleaned_md5"))
    val totals = toks.select(col(idCol),
      size(col("__t")).cast("long").as("n_tokens"))
    totals.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
  }

  /** MinHash signature: one row per input row, columns mh0..mh{k-1}
    * (LongType, each an unsigned 32-bit hash value). Documents with fewer
    * than `shingleN` words (null text included) get no row.
    *
    * Hash family: each salted md5 yields four independent 32-bit (8 hex
    * char) hash values — `k` hashes cost only ceil(k/4) md5 evaluations per
    * shingle instead of k.
    *
    * Plan shape: a map-only pass that runs [[minhashSignatureJvm]] once per
    * row — no explode, no aggregate, no exchange of its own, and the same
    * function the streaming near-dup gate runs. It is a typed `flatMap`,
    * not a udf plus a null filter: the optimizer copies such a filter below
    * the fan-out, which signs every document twice, once in the unsplit
    * scan. The text is decoded from UTF-8 to a Java `String` before
    * splitting and hashing, exactly as the stream does, so text that is not
    * valid UTF-8 hashes its replacement characters. Rows are not grouped by
    * `idCol`: callers pass unique ids (every query key passes `doc_id`).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = NumHashes, shingleN: Int = 3): DataFrame = {
    val in = graft.etl.Readers.fanOut(docs.select(col(idCol), col(textCol)))
    val out = StructType(in.schema.head +:
      (0 until k).map(i => StructField(s"mh$i", LongType, nullable = false)))
    in.flatMap { r =>
      Option(minhashSignatureJvm(r.getString(1), k, shingleN))
        .map(mh => Row.fromSeq(r.get(0) +: mh.toSeq))
    }(Encoders.row(out))
  }

  /** ROW-LOCAL MinHash signature columns — the Column-expression
    * reference for [[minhashSignatureJvm]]: the same per-position hash
    * (salted md5, four 32-bit lanes per salt) folded with `array_min` over
    * the document's own shingle array, built only from Spark built-ins so
    * it checks the JVM fold independently. NeardupStreamSpec pins the two,
    * and [[minhashSignatures]], equal.
    *
    * `shingles` must be a BOUND attribute holding the document's shingle
    * array ([[shinglesFromWords]] projected to a column first) — an
    * inline expression would be duplicated into every one of the k
    * min-folds. Documents with an empty shingle array (fewer than n
    * words) yield null columns ([[minhashSignatures]] gives them no row
    * at all) — callers must route them around any bucket keying, never
    * into it.
    */
  def rowMinhashCols(shingles: Column, k: Int = NumHashes): Seq[Column] =
    rowMinhashFromHashes(rowMinhashSaltArrays(shingles, k), k)

  /** The per-SALT md5 arrays feeding [[rowMinhashFromHashes]] — hot paths
    * must BIND these to attributes first (one `withColumn` each): each
    * salt's md5 pass is shared by four signature lanes, so binding cuts
    * the md5 work 4× vs inlining the composition (lambda bodies are not
    * common-subexpression-eliminated). Null when the shingle array is
    * empty, which [[rowMinhashFromHashes]] propagates per lane.
    */
  def rowMinhashSaltArrays(shingles: Column, k: Int = NumHashes): Seq[Column] =
    (0 until (k + 3) / 4).map { salt =>
      when(size(shingles) > 0,
        transform(shingles, s => md5(concat(lit(s"s$salt|"), s))))
        .as(s"__mhh$salt")
    }

  /** Signature lanes from bound salt arrays: lane i reads 8 hex chars of
    * salt array i/4 at offset (i%4)·8 — identical lane layout to
    * [[minhashSignatureJvm]].
    */
  def rowMinhashFromHashes(hashArrays: Seq[Column],
                           k: Int = NumHashes): Seq[Column] =
    (0 until k).map { i =>
      val off = (i % 4) * 8 + 1
      array_min(transform(hashArrays(i / 4), h =>
        conv(substring(h, off, 8), 16, 10).cast("long")))
        .as(s"mh$i")
    }

  /** Plain-JVM per-document MinHash — the one production signature:
    * [[minhashSignatures]] runs it per row in batch and
    * [[graft.streaming.TwsGates]] per streamed document. The Column
    * formulation above is correct but every per-shingle step runs inside
    * higher-order-function lambdas, which Spark evaluates INTERPRETED
    * (ArrayTransform is outside whole-stage codegen) — measured ~2.4 ms
    * per document. A document is a bounded row, so the fold runs as one
    * tight JVM loop per document instead: same split/shingle/salted-md5/
    * lane layout, byte-identical output. NeardupStreamSpec pins this fold
    * and the Column path equal, on its fixture and on adversarial texts.
    *
    * Returns null when the document has fewer than `shingleN` words (no
    * signature; [[minhashSignatures]] emits no row); callers route those
    * around bucket keying.
    */
  def minhashSignatureJvm(text: String, k: Int = NumHashes,
                          shingleN: Int = 3): Array[Long] = {
    val words = (if (text == null) "" else text).split(" ", -1)
    if (words.length < shingleN) return null
    val salts = (k + 3) / 4
    val md = java.security.MessageDigest.getInstance("MD5")
    val mh = Array.fill(k)(Long.MaxValue)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= words.length - shingleN) {
      sb.setLength(0)
      var o = 0
      while (o < shingleN) {
        if (o > 0) sb.append(' ')
        sb.append(words(i + o)); o += 1
      }
      val shingle = sb.toString
      var salt = 0
      while (salt < salts) {
        val bytes = md.digest(
          (s"s$salt|" + shingle).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var lane = 0
        while (lane < 4 && salt * 4 + lane < k) {
          // 8 hex chars at offset lane*8 = 4 bytes at offset lane*4,
          // read as an unsigned 32-bit value (== conv(hex, 16, 10))
          val b = lane * 4
          val v = ((bytes(b) & 0xffL) << 24) | ((bytes(b + 1) & 0xffL) << 16) |
            ((bytes(b + 2) & 0xffL) << 8) | (bytes(b + 3) & 0xffL)
          val idx = salt * 4 + lane
          if (v < mh(idx)) mh(idx) = v
          lane += 1
        }
        salt += 1
      }
      i += 1
    }
    mh
  }

  /** The distinct (id, s) shingle set — the input of Jaccard
    * verification ([[jaccardOnPairs]]) and of `Curation.contamination`.
    * The word split is bound to an attribute so it evaluates once per
    * document.
    */
  def distinctShingles(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3): DataFrame =
    graft.etl.Readers.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), split(col(textCol), " ").as("__w"))
      .select(col(idCol), explode(shinglesFromWords(col("__w"), shingleN)).as("s"))
      .distinct()

  /** LSH candidate pairs: docs sharing at least one band (all `BandSize`
    * signature positions equal within the band), with the MinHash-estimated
    * similarity (fraction of equal signature positions). `a < b` dedupes
    * the symmetric pairs, and a pair that collides in several bands is
    * kept only in the lowest of them, so no distinct aggregate is needed.
    *
    * Plan shape: each signature row explodes into one (band, bucket-key)
    * row per band, and candidates come from a *hash equi-join* on that key.
    * The naive formulation — join on OR-of-band-equalities — cannot
    * hash-partition and degenerates to a nested-loop over all N² signature
    * pairs; the explode+equi-join is the actual LSH algorithm (only
    * same-bucket pairs are ever materialized) and is what survives 100 TB.
    */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
                        k: Int = NumHashes): DataFrame = {
    val sigCols = (0 until k).map(i => col(s"mh$i"))
    val bandStructs = (0 until k by BandSize).map { s =>
      struct(lit(s).as("band"),
        concat_ws("|", (s until s + BandSize).map(i => col(s"mh$i")): _*)
          .as("bkey"))
    }
    val bands = sigs.select(
      (col(idCol).as("doc") +: explode(array(bandStructs: _*)).as("bb") +: sigCols): _*)
      .select((col("doc") +: col("bb.band").as("band") +: col("bb.bkey").as("bkey")
        +: sigCols): _*)
    // ALIASED self-join (not two re-projections): both sides are the same
    // canonical subtree, so the engine can reuse one shuffle materialization
    // of the signature pipeline for both probes (AQE stage reuse). The
    // shuffle_hash hint keeps the tiny-data case off the broadcast path —
    // a driver collect+rebroadcast of the whole signature table that a
    // real corpus could never take anyway.
    val firstEqualBand = coalesce((0 until k by BandSize).map { s =>
      when((s until s + BandSize).map(i => col(s"x.mh$i") === col(s"y.mh$i"))
        .reduce(_ && _), lit(s))
    }: _*)
    val j = bands.as("x").join(bands.as("y").hint("shuffle_hash"),
      col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
        && col("x.doc") < col("y.doc") && col("x.band") === firstEqualBand)
    val equalPositions = (0 until k)
      .map(i => when(col(s"x.mh$i") === col(s"y.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    j.select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        (equalPositions.cast("double") / k).as("est_sim"))
  }

  /** Exact n-gram Jaccard similarity for an explicit pair set — the
    * verification stage after LSH candidate generation. `pairs` must have
    * (doc_a, doc_b); a doc that produces no shingles drops its pairs
    * (inner join on the counts, same as the original two-probe form).
    *
    * Plan shape — PAIR-DRIVEN intersection over ONE materialization of the
    * shingle pipeline. The intersection probe starts from `pairs` and joins
    * each pair's own shingle sets ((doc_a → x.jid), then (doc_b → y.jid,
    * x.s = y.s)), so intermediate work is bounded by
    * Σ_pairs |shingles(doc_a)| — linear in the verification set. The
    * earlier shingle-value SELF-join computed co-occurrence counts for
    * every unordered doc pair sharing a shingle, O(block²) rows for a
    * shingle block of `block` docs, with most aggregated pairs discarded by
    * the later left join — a hot shingle inflated work far beyond |pairs|.
    *
    * The shingle subtree is semi-joined down to docs appearing in `pairs`
    * (at corpus scale this bounds the aggregate/probe input; no broadcast
    * hint — the member set can exceed driver limits at scale, AQE picks the
    * strategy from runtime size) and capped with ONE `repartition(jid)`:
    * the doc_a probe and the per-doc counts consume that exchange directly,
    * and the doc_b probe's (jid, s) reshuffle feeds off the same
    * materialization (ReusedExchange) — the explode+distinct runs once.
    *
    * The shuffle_hash hints keep the probes off the broadcast path — a
    * BroadcastExchange would wrap the shingle subtree and collect it to the
    * driver, impossible at corpus scale and fatal to reuse. A doc in very
    * many candidate pairs is a skew key for the probe joins; AQE skew-join
    * splitting handles it at scale.
    *
    * A degenerate self-pair (d, d) yields jaccard 1.0 (its shingle set
    * fully intersects itself). LSH candidate generation never emits
    * self-pairs; callers passing hand-built pair sets get the
    * mathematically consistent answer.
    */
  def jaccardOnPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                     textCol: String, shingleN: Int = 3): DataFrame = {
    // the intersection must count each pair's shingle matches exactly
    // once: a duplicated (doc_a, doc_b) row would k-fold-inflate n_inter
    // (and an inflated n_inter can zero the union denominator — an ANSI
    // divide-by-zero). The distinct pair set drives the probes; the
    // caller's original frame drives the output, so duplicate input pairs
    // still yield duplicate (correct) output rows, as before the
    // pair-driven rewrite.
    val uniq = pairs.select("doc_a", "doc_b").distinct()
    val members = uniq
      .select(explode(array(col("doc_a"), col("doc_b"))).as("jid")).distinct()
    val sh = distinctShingles(docs, idCol, textCol, shingleN)
      .withColumnRenamed(idCol, "jid")
      .join(members, Seq("jid"), "left_semi")
      .repartition(col("jid"))
    val counts = sh.groupBy("jid").agg(count(lit(1)).as("n_sh"))
    // pair-driven intersection: replicate each pair across doc_a's
    // shingles, then probe doc_b's set for matches — never a shingle-value
    // self-join, so a hot shingle cannot blow up the intermediate
    val inter = uniq
      .join(sh.as("x").hint("shuffle_hash"), col("doc_a") === col("x.jid"))
      .join(sh.as("y").hint("shuffle_hash"),
        col("doc_b") === col("y.jid") && col("x.s") === col("y.s"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
      .select(col("doc_a").as("ia"), col("doc_b").as("ib"), col("n_inter"))
    pairs
      .join(counts.as("ca").hint("shuffle_hash"), col("doc_a") === col("ca.jid"))
      .join(counts.as("cb").hint("shuffle_hash"), col("doc_b") === col("cb.jid"))
      .join(inter,
        col("doc_a") === col("ia") && col("doc_b") === col("ib"), "left")
      .select(col("doc_a"), col("doc_b"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double")
          / (col("ca.n_sh") + col("cb.n_sh") - coalesce(col("n_inter"), lit(0L))),
          6).as("jaccard"))
  }

  /** Duplicate CLUSTERS from verified near-dup pairs: connected components
    * by iterative min-label propagation, labels = the component's smallest
    * doc id (the canonical document to keep).
    *
    * This is the step that turns pairwise similarity into actual dedup
    * decisions — "keep one doc per duplicate group" needs the transitive
    * closure of the pair relation (A~B, B~C ⇒ one cluster {A,B,C}).
    *
    * Shape: a driver-side CONVERGENCE loop (bounded by `maxIters`) whose
    * body is pure DataFrame ops. Iterative fixpoints are the one place a
    * driver loop is the right Spark design (same as GraphX/Pregel). Each
    * pass does TWO steps:
    *
    *   1. neighbor-min propagation — pull the minimum label across one
    *      edge hop (one join + one aggregate);
    *   2. POINTER JUMPING — relabel through the label mapping itself,
    *      `label(x) ← min(label(x), label(label(x)))` (one self-join).
    *      A label is always a node id in the same component, so the
    *      composition stays in-component and is monotonically decreasing.
    *
    * Step 1 alone moves the minimum ONE hop per pass (iterations = label
    *-path length — a 1M-node chain component at 100 TB would mean 1M
    * full-data shuffles). With step 2 the reach roughly DOUBLES each pass
    * (r → 2r+1), so convergence is O(log diameter): ~20 passes cover any
    * component a real corpus can produce. An unconverged exit THROWS
    * rather than silently returning split clusters.
    *
    * Each iteration `localCheckpoint`s its result: the loop body references
    * the previous labels several times (neighbor join, jump self-join,
    * carry-through), so without lineage truncation the logical plan grows
    * geometrically — analysis OOM long before the data is ever large.
    * Checkpointing keeps the plan constant-size per pass; checkpoint blocks
    * are released by the context cleaner when unreferenced.
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    // seed with the FIRST propagation directly: min(self, direct
    // neighbors) is one aggregate over the edge list — a whole
    // join+checkpoint+probe round the loop no longer pays
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("doc"), col("label"))
      .localCheckpoint()
    // NOT broadcast-joined (r17): the Graph.broadcastIfSmall treatment
    // that pays off in pageRank/labelPropagation measured a consistent
    // LOSS here (split_rebalance 1.90 -> 2.30 s A/B at sf0.1, same
    // session) — this loop's edge side is the small one (LSH pairs /
    // star edges), so a per-iteration broadcast rebuild of the |V|-row
    // labels costs more than the edge shuffle it removes
    var iters = 0
    var changed = true
    while (changed && iters < maxIters) {
      // step 1: min label across one edge hop
      val neighborMin = edges
        .join(labels, edges("dst") === labels("doc"))
        .groupBy(col("src"))
        .agg(min("label").as("nmin"))
      val prop = labels
        .join(neighborMin, labels("doc") === neighborMin("src"), "left")
        .select(col("doc"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("_c1"))
      // step 2: pointer jump — follow the (possibly stale) label one more
      // level through the mapping itself. The left join is total: every
      // label IS a doc in `labels` (it is some node's id), but the left
      // form keeps a missing match from dropping the row.
      // the changed flag rides in the frame itself: one checkpointed pass
      // serves both the convergence probe (isEmpty short-circuits on the
      // first changed row) and the next iteration — no second join or count
      val next = prop.as("p")
        .join(prop.select(col("doc").as("qdoc"), col("label").as("qlabel")).as("q"),
          col("p.label") === col("qdoc"), "left")
        .select(col("p.doc").as("doc"),
          least(col("p.label"), coalesce(col("qlabel"), col("p.label")))
            .as("label"),
          (col("p._c1") ||
            coalesce(col("qlabel"), col("p.label")) < col("p.label"))
            .as("_changed"))
        .localCheckpoint()
      changed = !next.filter(col("_changed")).isEmpty
      labels = next.drop("_changed")
      iters += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIters iterations - " +
          "components have longer min-label paths; raise maxIters")
    labels.withColumnRenamed("label", "cluster")
  }

  /** SimHash width. 16 bits keeps the demo corpus's bucket map readable;
    * production SimHash (Charikar/Google near-dup) uses 64 bits split
    * into ~4 Hamming bands — wider hashes cut false bucket collisions
    * exponentially, at zero plan-shape change (the band join is the same
    * hash-equi-join at any width).
    */
  val SimhashBits = 16

  /** SimHash over the distinct word set: each word's md5 contributes ±1
    * per bit position; the signature bit is the sign of the sum. Near
    * duplicates differ in few bits (compare with hamming distance, or band
    * the bits for an LSH-style join).
    *
    * Width is the capacity dial: the default 16 bits suit banding /
    * hamming comparison, but EQUALITY matching against a large corpus
    * needs enough space that unrelated docs do not collide — a 16-bit
    * space (65k values) saturates at ~10⁵ docs (birthday math), so the
    * incremental-dedup index uses 48 bits (2.8·10¹⁴ — spurious-match
    * probability ~n/2⁴⁸ per doc, negligible below ~10¹¹ docs). Capped at
    * 56 so the positive bit sum always fits a signed 64-bit integer in
    * every engine.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = SimhashBits): DataFrame = {
    require(bits % 4 == 0 && bits > 0 && bits <= 56,
      s"simhash bits must be a positive multiple of 4, <= 56, got $bits")
    val words = graft.etl.Readers.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(array_distinct(split(col(textCol), " "))).as("word"))
      .withColumn("hex", md5(col("word")))
    val withDigits = (0 until bits / 4).foldLeft(words) { (df, p) =>
      df.withColumn(s"d$p",
        expr(s"instr('0123456789abcdef', substring(hex, ${p + 1}, 1)) - 1"))
    }
    val contribs = (0 until bits).map { j =>
      sum(expr(s"((d${j / 4} div ${1 << (j % 4)}) % 2) * 2 - 1")).as(s"c$j")
    }
    val sums = withDigits.groupBy(idCol).agg(contribs.head, contribs.tail: _*)
    val sig = (0 until bits)
      .map(j => when(col(s"c$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col(idCol), sig.as("simhash"))
  }
}
