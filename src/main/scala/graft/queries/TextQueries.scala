package graft.queries

import graft.etl.Readers
import graft.ops.{TextDedup, TextStats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-corpus operators over the `documents` table: exact + near-duplicate
  * detection (MinHash/LSH, SimHash, n-gram Jaccard) and per-document text
  * analysis. Every query has a DuckDB oracle — near-dup hashing is built on
  * md5, which both engines compute identically.
  */
object TextQueries {

  private val K = TextDedup.NumHashes

  /** Exact dedup by full text: hash aggregate, map-side combined. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("copies"))
      .select("canonical_id", "copies")
      .orderBy("canonical_id")

  val dedupExactSql: String =
    """SELECT min(doc_id) AS canonical_id, count(*) AS copies
      |FROM documents GROUP BY text ORDER BY canonical_id""".stripMargin

  /** MinHash signatures (trigram shingles, 8 salted md5 min-hashes). */
  def minhashSignaturesQ(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashSignatures(
        Readers.table(spark, dir, "documents"), "doc_id", "text", K)
      .orderBy("doc_id")

  private[queries] def shingleCte: String = shingleCteNamed("sh")

  /** The trigram-shingle CTE under a caller-chosen alias — composed
    * oracles (the pretraining funnel) need a second shingle frame in the
    * same statement without colliding with the `sh` a nested pipeline
    * body defines.
    */
  private[queries] def shingleCteNamed(alias: String): String =
    s"""$alias AS (
       |  SELECT doc_id,
       |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |            for i in range(1, greatest(len(w) - 1, 1))]) AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |)""".stripMargin

  private def sigCte: String = {
    // four 32-bit hashes per salted md5, mirroring TextDedup.minhashSignatures
    // (numeric: '0x'||hex → BIGINT, same ordering as the hex string)
    val mins = (0 until K)
      .map(i => s"min(('0x' || substr(md5('s${i / 4}|' || s), ${(i % 4) * 8 + 1}, 8))::BIGINT) AS mh$i")
      .mkString(",\n    ")
    s"""sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY doc_id
       |)""".stripMargin
  }

  /** DuckDB twin of the LSH band join over signature rows `a` and `b`:
    * the OR of per-band equalities (any band equal makes a candidate)
    * and the count of equal min-hash positions behind `est_sim`.
    */
  private def lshMatchSql: (String, String) = {
    val bands = (0 until K by TextDedup.BandSize).map { s =>
      "(" + (s until s + TextDedup.BandSize)
        .map(i => s"a.mh$i = b.mh$i").mkString(" AND ") + ")"
    }.mkString("\n     OR ")
    val eqPos = (0 until K)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    (bands, eqPos)
  }

  val minhashSignaturesSql: String =
    s"""WITH $shingleCte,
       |$sigCte
       |SELECT * FROM sig ORDER BY doc_id""".stripMargin

  /** Full near-dup pipeline: shingle → minhash → LSH band → bucket join →
    * candidate pairs with estimated similarity.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // both sides of the band self-join are one canonical subtree, so AQE
    // reuses the band exchange and the signatures are computed once; a
    // localCheckpoint here was MEASURED SLOWER at sf0.1 — don't add one
    // without re-measuring
    val sigs = TextDedup.minhashSignatures(
      Readers.table(spark, dir, "documents"), "doc_id", "text", K)
    TextDedup.lshCandidatePairs(sigs, "doc_id", K)
      .orderBy("doc_a", "doc_b")
  }

  val dedupMinhashLshSql: String = {
    val (bands, eqPos) = lshMatchSql
    s"""WITH $shingleCte,
       |$sigCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  (($eqPos)::DOUBLE / $K) AS est_sim
       |FROM sig a JOIN sig b
       |  ON a.doc_id < b.doc_id AND
       |    ($bands)
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Cross-source near-dup overlap matrix — the corpus-forensics view a
    * curation team reads before setting dedup policy: for every PAIR of
    * sources, how many near-duplicate document pairs straddle them (and
    * how similar they are on average). The diagonal (source_a = source_b)
    * is within-source duplication; off-diagonal cells expose mirror sites
    * / syndication between crawls. Candidates come from the same
    * fingerprint-bucketed LSH join as `dedup_minhash_lsh` — never
    * all-pairs — and the matrix aggregate is a tiny groupBy on top
    * (|sources|² cells at most), so the whole key inherits the LSH
    * pipeline's scale shape.
    *
    * The source pair is canonicalized with least/greatest so (A,B) and
    * (B,A) land in one cell regardless of which doc got the smaller id.
    * avg(est_sim) is exact cross-engine: est_sim is a multiple of 1/K
    * (K = [[TextDedup.NumHashes]], a power of two), so the sum is
    * binary-exact at any aggregation order.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Readers.table(spark, dir, "documents")
    val sigs = TextDedup.minhashSignatures(docs, "doc_id", "text", K)
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", K)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("pair_count"),
        round(avg(col("est_sim")), 6).as("avg_sim"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String = {
    val (bands, eqPos) = lshMatchSql
    s"""WITH $shingleCte,
       |$sigCte,
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    (($eqPos)::DOUBLE / $K) AS est_sim
       |  FROM sig a JOIN sig b
       |    ON a.doc_id < b.doc_id AND
       |      ($bands)
       |)
       |SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b,
       |  count(*) AS pair_count, round(avg(est_sim), 6) AS avg_sim
       |FROM pairs p
       |JOIN documents da ON da.doc_id = p.doc_a
       |JOIN documents db ON db.doc_id = p.doc_b
       |GROUP BY 1, 2
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** Exact trigram-Jaccard verification over a bounded candidate set
    * (neighbor window of 5 within the same language — O(n) pairs; in the
    * composed pipeline the candidates come from LSH instead).
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Readers.table(spark, dir, "documents")
    // neighbor-window candidates via explode + EQUI-join on (doc_b, lang):
    // the `doc_b BETWEEN doc_a+1 AND doc_a+5` predicate alone would hash
    // only on lang and stream every same-language pair through the filter
    val a = docs.select(col("doc_id").as("doc_a"), col("lang"))
      .withColumn("doc_b", explode(sequence(col("doc_a") + 1, col("doc_a") + 5)))
    val b = docs.select(col("doc_id").as("doc_b"), col("lang"))
    // pinned (r17): the Jaccard stage consumes the pair set three ways
    // (distinct driver, member list, output join — see dedupPipeline);
    // pinning the tiny (doc_a, doc_b) frame runs the window-candidate
    // generation once
    val pairs = a.join(b, Seq("doc_b", "lang")).select("doc_a", "doc_b")
      .localCheckpoint(false)
    TextDedup.jaccardOnPairs(docs, pairs, "doc_id", "text")
      .orderBy("doc_a", "doc_b")
  }

  val dedupNgramJaccardSql: String =
    s"""WITH $shingleCte,
       |dsh AS (SELECT DISTINCT doc_id, s FROM sh),
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM documents a JOIN documents b
       |    ON a.lang = b.lang AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
       |),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |  FROM pairs p
       |  JOIN dsh x ON x.doc_id = p.doc_a
       |  JOIN dsh y ON y.doc_id = p.doc_b AND y.s = x.s
       |  GROUP BY p.doc_a, p.doc_b
       |)
       |SELECT p.doc_a, p.doc_b,
       |  round(coalesce(i.n_inter, 0)::DOUBLE
       |        / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
       |FROM pairs p
       |JOIN counts ca ON ca.doc_id = p.doc_a
       |JOIN counts cb ON cb.doc_id = p.doc_b
       |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** Quality-aware duplicate resolution — the decision a dedup pipeline
    * actually ships: within each near-dup cluster keep the HIGHEST-quality
    * copy (type-token ratio here; any scored signal plugs in), not the
    * lowest id. One window over the cluster key on top of
    * [[dedupClusters]]'s labels; ties break on doc_id so the keeper is
    * engine-stable.
    *
    * COST NOTE: the embedded [[dedupClusters]] pipeline is ~95% of the
    * cold cost (the keep-best window itself is one shuffle). In
    * production the cluster assignment is a SHARED MATERIALIZED input —
    * run CC once and feed (doc_id, cluster) to keep-best, keep-first,
    * and any other per-cluster decision. This key implements that
    * contract via [[sharedClusters]]: the first construction in a
    * session pays the CC pass, later ones reuse the checkpointed frame
    * (the `dedup_clusters` key still builds its own pipeline, so its
    * benchmark number stays the honest cold cost).
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Readers.table(spark, dir, "documents")
    val w = split(col("text"), " ")
    val ttr = round(size(array_distinct(w)).cast("double") / size(w), 6)
    val quality = docs.select(col("doc_id"), ttr.as("ttr"))
    val keeperW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("ttr").desc, col("doc_id"))
    sharedClusters(spark, dir)
      .join(quality, Seq("doc_id"))
      .withColumn("keeper", row_number().over(keeperW) === 1)
      .select("doc_id", "cluster", "ttr", "keeper")
      .orderBy("doc_id")
  }

  // lazy: dedupClustersSql is defined later in the file (val init order)
  lazy val dedupKeepBestSql: String = {
    val clustersNoOrder = dedupClustersSql.stripSuffix("\nORDER BY doc_id")
    s"""WITH cl AS (
       |  SELECT doc_id, cluster FROM ($clustersNoOrder)
       |),
       |q AS (
       |  SELECT doc_id,
       |    round(len(list_distinct(string_split(text, ' ')))::DOUBLE
       |          / len(string_split(text, ' ')), 6) AS ttr
       |  FROM documents
       |)
       |SELECT doc_id, cluster, ttr,
       |  row_number() OVER (PARTITION BY cluster
       |    ORDER BY ttr DESC, doc_id) = 1 AS keeper
       |FROM cl JOIN q USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** 16-bit SimHash signatures over the distinct word set. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhash(Readers.table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** SimHash signature SQL without a final ORDER BY, reusable as a CTE;
    * `bits` mirrors [[TextDedup.simhash]]'s width parameter.
    */
  private[queries] def simhashSqlBody(bits: Int): String = {
    val digits = (0 until bits / 4)
      .map(p => s"strpos('0123456789abcdef', substr(md5(word), ${p + 1}, 1)) - 1 AS d$p")
      .mkString(",\n    ")
    val contribs = (0 until bits)
      .map(j => s"sum(((d${j / 4} // ${1 << (j % 4)}) % 2) * 2 - 1) AS c$j")
      .mkString(",\n    ")
    val sig = (0 until bits)
      .map(j => s"CASE WHEN c$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH words AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents
       |),
       |dg AS (
       |  SELECT doc_id,
       |    $digits
       |  FROM words
       |),
       |sums AS (
       |  SELECT doc_id,
       |    $contribs
       |  FROM dg GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($sig AS BIGINT) AS simhash
       |FROM sums""".stripMargin
  }

  private[queries] val dedupSimhashSqlBody: String =
    simhashSqlBody(TextDedup.SimhashBits)

  val dedupSimhashSql: String =
    s"$dedupSimhashSqlBody ORDER BY doc_id"

  /** The composed near-dup pipeline — the production shape at corpus
    * scale: shingle → MinHash signature → LSH bucket join (candidate
    * generation, linear-ish) → exact trigram-Jaccard verification on ONLY
    * those candidates → thresholded duplicate pairs. No stage is ever
    * quadratic in the corpus.
    */
  def dedupPipeline(spark: SparkSession, dir: String): DataFrame =
    verifiedPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** The pipeline's Jaccard-verified duplicate pairs (`doc_a`, `doc_b`,
    * `jaccard` ≥ 0.5), unordered.
    */
  private def verifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Readers.table(spark, dir, "documents")
    val sigs = TextDedup.minhashSignatures(docs, "doc_id", "text", K)
    // pinned (r17): the verification stage consumes the candidate set
    // THREE ways (distinct pair-driver, its member list, and the output
    // join that preserves caller-duplicate rows), each keyed differently —
    // AQE stage reuse only dedupes canonically identical exchanges, so
    // without the pin the whole shingle→signature→band-join subtree
    // re-executed per consumer (measured: 17 parquet scans of `documents`
    // in the executed plan; 9 after). The pair set is tiny next to the
    // corpus (LSH's whole point), so pinning it is the scale-correct
    // materialization (guide §2.4).
    val candidates = TextDedup.lshCandidatePairs(sigs, "doc_id", K)
      .select("doc_a", "doc_b")
      .localCheckpoint(false)
    TextDedup.jaccardOnPairs(docs, candidates, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
  }

  /** Pipeline SQL without the final ORDER BY — reusable as a derived CTE
    * (the clusters oracle builds on it).
    */
  private[queries] val dedupPipelineSqlBody: String = {
    val bands = (0 until K by TextDedup.BandSize).map { s =>
      "(" + (s until s + TextDedup.BandSize)
        .map(i => s"a.mh$i = b.mh$i").mkString(" AND ") + ")"
    }.mkString("\n       OR ")
    s"""WITH $shingleCte,
       |$sigCte,
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bands)
       |),
       |dsh AS (SELECT DISTINCT doc_id, s FROM sh),
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |  FROM cand p
       |  JOIN dsh x ON x.doc_id = p.doc_a
       |  JOIN dsh y ON y.doc_id = p.doc_b AND y.s = x.s
       |  GROUP BY p.doc_a, p.doc_b
       |)
       |SELECT p.doc_a, p.doc_b,
       |  round(coalesce(i.n_inter, 0)::DOUBLE
       |        / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
       |FROM cand p
       |JOIN counts ca ON ca.doc_id = p.doc_a
       |JOIN counts cb ON cb.doc_id = p.doc_b
       |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |WHERE round(coalesce(i.n_inter, 0)::DOUBLE
       |        / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0)), 6) >= 0.5::DOUBLE""".stripMargin
  }

  val dedupPipelineSql: String =
    s"$dedupPipelineSqlBody\nORDER BY p.doc_a, p.doc_b"

  /** SimHash duplicate-candidate buckets: groups of documents with
    * identical 16-bit signatures (hamming distance 0). Bucket summaries
    * rather than pairs — a hot signature with m docs yields one row, not
    * m², so the output stays linear at corpus scale; pair expansion is a
    * downstream join against the bucket of interest.
    */
  def simhashBuckets(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhash(Readers.table(spark, dir, "documents"), "doc_id", "text")
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("simhash")

  val simhashBucketsSql: String =
    s"""WITH base AS (${dedupSimhashSqlBody})
       |SELECT simhash, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM base GROUP BY simhash HAVING count(*) > 1
       |ORDER BY simhash""".stripMargin

  /** Duplicate clusters: the composed pipeline's verified pairs closed
    * into connected components ([[TextDedup.duplicateClusters]]) — each doc
    * labeled with its cluster's canonical (minimum) id and the cluster
    * size. This is the operator that turns pairwise similarity into
    * "keep one per group" dedup decisions.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(spark, dir).select("doc_a", "doc_b")
    val clusters = TextDedup.duplicateClusters(pairs)
    val sizes = clusters.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, Seq("cluster"))
      .select(col("doc").as("doc_id"), col("cluster"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** The production contract for per-cluster decisions: cluster
    * assignment is computed ONCE per (session, input) and shared by every
    * consumer (keep-best today; keep-first, stats, audits in a real
    * pipeline) — [[dedupClusters]]'s result is already
    * checkpoint-backed, so caching the frame pins only its tiny label
    * table, not the pipeline. Memoized per (session, dir) by a
    * [[graft.SessionMemo]], like [[graft.etl.Readers.table]].
    *
    * Known trade of `localCheckpoint` backing: if an executor holding
    * the label-table blocks dies, consumers fail with a lost-block error
    * and the cache does NOT rebuild itself — call
    * [[invalidateSharedClusters]] (or use reliable `checkpoint` to a
    * checkpoint dir) in long-lived sessions where executor loss is
    * expected. Benchmark accounting is honest either way:
    * `dedup_clusters` always reports the full pipeline cost;
    * `dedup_keep_best` reports the marginal cost GIVEN shared
    * assignment, which is the production contract being modeled.
    */
  private val clusterCache = new graft.SessionMemo[String, DataFrame]

  def sharedClusters(spark: SparkSession, dir: String): DataFrame =
    clusterCache(spark, dir)(dedupClusters(spark, dir))

  /** Drop the memoized cluster frame (all dirs) for `spark` — recovery
    * hook for lost `localCheckpoint` blocks after executor loss.
    */
  def invalidateSharedClusters(spark: SparkSession): Unit =
    clusterCache.invalidate(spark)

  val dedupClustersSql: String = {
    s"""WITH RECURSIVE vpairs AS (
       |  SELECT doc_a, doc_b FROM ($dedupPipelineSqlBody)
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM vpairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM vpairs
       |),
       |reach(a, b) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
       |),
       |lab AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a)
       |SELECT doc_id, cluster, s.n AS cluster_size
       |FROM lab JOIN (SELECT cluster, count(*) AS n FROM lab GROUP BY cluster) s
       |  USING (cluster)
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-document analysis: token counts, quality, language heuristic,
    * fingerprint — one map-only pass.
    */
  def textStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    // sort first, compute after: stats run once, post-shuffle (parallel),
    // instead of twice on the single-partition scan (range sampling)
    Readers.table(spark, dir, "documents")
      .select("doc_id", "lang", "text")
      .orderBy("doc_id")
      .select(col("doc_id"), col("lang"),
        TextStats.tokenCount(t).cast("long").as("n_tokens"),
        TextStats.bpeTokenEstimate(t).as("n_bpe_est"),
        round(TextStats.stopwordRatio(t), 6).as("stopword_ratio"),
        round(TextStats.punctRatio(t), 6).as("punct_ratio"),
        round(TextStats.avgTokenLength(t), 6).as("avg_token_len"),
        TextStats.qualityScore(t).as("quality"),
        TextStats.langPredict(t).as("lang_pred"),
        TextStats.fingerprint(t).as("fingerprint"))
  }

  val textStatsSql: String = {
    val stops = TextStats.Stopwords.map("'" + _ + "'").mkString(", ")
    s"""SELECT doc_id, lang,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(floor((length(text) + 3) / 4) AS BIGINT) AS n_bpe_est,
       |  round(len(list_filter(string_split(text, ' '),
       |          x -> list_contains([$stops], x)))::DOUBLE
       |        / len(string_split(text, ' ')), 6) AS stopword_ratio,
       |  round(CASE WHEN length(text) > 0 THEN
       |        (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE
       |        / length(text) END, 6) AS punct_ratio,
       |  round(length(replace(text, ' ', ''))::DOUBLE
       |        / len(string_split(text, ' ')), 6) AS avg_token_len,
       |  round(0.4::DOUBLE * least(
       |          (len(list_filter(string_split(text, ' '),
       |             x -> list_contains([$stops], x)))::DOUBLE
       |           / len(string_split(text, ' '))) * 10.0::DOUBLE, 1.0::DOUBLE)
       |      + 0.3::DOUBLE * least(len(string_split(text, ' '))::DOUBLE / 100.0::DOUBLE, 1.0::DOUBLE)
       |      + 0.3::DOUBLE * (1.0::DOUBLE -
       |          CASE WHEN length(text) > 0 THEN
       |            (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE
       |            / length(text) END), 6) AS quality,
       |  CASE WHEN (len(list_filter(string_split(text, ' '),
       |          x -> list_contains([$stops], x)))::DOUBLE
       |        / len(string_split(text, ' '))) >= 0.02::DOUBLE
       |       THEN 'en' ELSE 'other' END AS lang_pred,
       |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Rolling-hash document fingerprints: the native [[graft.functions.RollingHash]]
    * expression (polynomial over code points), alongside the md5 content
    * fingerprint — both map-only.
    */
  def fingerprintRolling(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "documents")
      // sort-first/compute-after: same rationale as textStatsQ
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"),
        graft.functions.RollingHashFunctions.rollingHash(col("text"))
          .as("fp_rolling"),
        graft.ops.TextStats.fingerprint(col("text")).as("fp_md5"))

  val fingerprintRollingSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(0::BIGINT,
       |      list_transform(regexp_extract_all(text, '(?s).'), c -> unicode(c)::BIGINT)),
       |    (acc, c) -> (acc * ${graft.functions.RollingHashImpl.Base} + c)
       |                % ${graft.functions.RollingHashImpl.Mod}) AS fp_rolling,
       |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Winnowing parameters: k-gram size 24, window 8 → any shared
    * substring of ≥ 31 characters is GUARANTEED to share a fingerprint
    * (Schleimer/Wilkerson/Aiken, SIGMOD'03), and the expected fingerprint
    * density is 2/(w+1) ≈ 0.22 of the gram count. k is deliberately large
    * for this corpus: template boilerplate makes shorter shared substrings
    * ubiquitous (at k=8 virtually every doc pair collides), exactly the
    * boilerplate problem production substring-dedup tunes k against.
    */
  val WinnowK = 24
  val WinnowW = 8
  val WinnowMinJaccard = 0.2

  private def winnowed(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.WinnowFunctions
          .winnowFingerprints(col("text"), WinnowK, WinnowW).as("fps"),
        greatest(length(col("text")) - lit(WinnowK - 1), lit(0))
          .cast("long").as("n_grams"))

  /** Per-document winnowed fingerprint summary — the map-only profile of
    * the [[graft.functions.WinnowFingerprints]] native expression (O(n)
    * Rabin–Karp roll + O(m) monotonic-deque sliding min, codegen'd; a HOF
    * formulation would be O(m·w) interpreted). The DuckDB oracle
    * recomputes every window min from per-gram polynomial folds, so a
    * single hash or window-boundary error anywhere fails the compare.
    */
  def winnowFingerprintsQ(spark: SparkSession, dir: String): DataFrame =
    winnowed(spark, dir).select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        when(size(col("fps")) > 0, element_at(col("fps"), 1)).as("fp_min"),
        when(size(col("fps")) > 0, element_at(col("fps"), -1)).as("fp_max"),
        round(when(col("n_grams") > 0,
          size(col("fps")).cast("double") / col("n_grams")), 6).as("density"))
      // pin before the deterministic-output sort (r17 sweep): the range
      // sampler re-ran the native winnow roll over every document; the
      // summary rows are 6 scalars. Lazy + map-only: job-free construction.
      .localCheckpoint(false)
      .orderBy("doc_id")

  /** The winnow CTE shared by both oracles: fingerprints = sorted distinct
    * window minimums over per-gram polynomial-fold hashes.
    */
  private val winnowOracleCte: String =
    s"""WITH g AS (
       |  SELECT doc_id, text, greatest(length(text) - $WinnowK + 1, 0) AS m
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, m,
       |    list_sort(list_distinct(
       |      list_transform(range(0,
       |          CASE WHEN m >= 1 THEN greatest(m - $WinnowW + 1, 1)
       |               ELSE 0 END), j ->
       |        list_min(list_transform(range(j, least(j + $WinnowW, m)), i ->
       |          list_reduce(list_prepend(0::BIGINT,
       |            list_transform(
       |              regexp_extract_all(
       |                substr(text, CAST(i AS INTEGER) + 1, $WinnowK),
       |                '(?s).'),
       |              c -> unicode(c)::BIGINT)),
       |            (a, c) -> (a * ${graft.functions.RollingHashImpl.Base}
       |                       + c) % ${graft.functions.RollingHashImpl.Mod}))))))
       |      AS fps
       |  FROM g
       |)""".stripMargin

  val winnowFingerprintsSql: String =
    s"""$winnowOracleCte
       |SELECT doc_id, CAST(m AS BIGINT) AS n_grams,
       |  CAST(len(fps) AS BIGINT) AS n_fps,
       |  fps[1] AS fp_min, fps[-1] AS fp_max,
       |  round(CASE WHEN m > 0 THEN len(fps)::DOUBLE / m END, 6) AS density
       |FROM f ORDER BY doc_id""".stripMargin

  /** Substring-level near-duplicate pairs via the winnowed fingerprint
    * posting list: explode fingerprints, hash-equi self-join on the
    * fingerprint value, count shared fingerprints per pair, keep pairs
    * whose fingerprint-set Jaccard clears [[WinnowMinJaccard]]. Work is
    * ∝ Σ_fp df² like every posting self-join ([[tfidfCosinePairs]]) —
    * never all-pairs; a production run on boilerplate-heavy corpora
    * additionally drops fingerprints above a document-frequency cap, the
    * same stopword move, which k=24 already makes unnecessary here. The
    * Jaccard filter runs on the UNROUNDED ratio on both engines, so the
    * kept set is bit-identical.
    */
  def dedupWinnowing(spark: SparkSession, dir: String): DataFrame = {
    val f = winnowed(spark, dir)
    val posting = f.select(col("doc_id"), explode(col("fps")).as("fp"))
    val sizes = f.select(col("doc_id"), size(col("fps")).cast("long").as("n"))
    val pairs = posting.as("a")
      .join(posting.as("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val jac = col("n_shared").cast("double") /
      (col("n_a") + col("n_b") - col("n_shared"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .filter(jac >= WinnowMinJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"), round(jac, 6).as("jaccard_fps"))
      .orderBy("doc_a", "doc_b")
  }

  val dedupWinnowingSql: String =
    s"""$winnowOracleCte,
       |p AS (SELECT doc_id, unnest(fps) AS fp FROM f),
       |sz AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n FROM f),
       |pr AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       |  round(n_shared::DOUBLE / (sa.n + sb.n - n_shared), 6) AS jaccard_fps
       |FROM pr
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE n_shared::DOUBLE / (sa.n + sb.n - n_shared)
       |      >= $WinnowMinJaccard::DOUBLE
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Content-defined chunking parameters: 16-char window, boundary when
    * the window hash ≡ 0 mod 2^5 → expected 32-char chunks (~9 per doc).
    */
  val CdcK = 16
  val CdcBits = 5

  /** Content-defined chunk dedup profile — the storage-dedup primitive
    * ([[graft.functions.CdcChunks]]: Rabin-style boundaries, so an edit
    * shifts offsets but re-aligns the chunk sequence within one chunk).
    * Per document: chunk count, size extremes, and how many of its
    * distinct chunks also appear in ANOTHER document — the number that
    * prices content-addressed storage for a 100 TB corpus. Map-only
    * chunking, one hash-aggregate for cross-doc frequencies keyed by the
    * chunk digest (never the chunk text), one per-doc rollup.
    */
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val ch = Readers.table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.CdcChunksFunctions
          .cdcChunks(col("text"), CdcK, CdcBits)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).cast("long").as("len"))
    val docChunks = ch.select("doc_id", "h").distinct()
    val freq = docChunks.groupBy("h").agg(count(lit(1)).as("ndocs"))
    ch.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        min(col("len")).as("min_len"), max(col("len")).as("max_len"))
      .join(
        docChunks.join(freq, Seq("h"))
          .groupBy("doc_id")
          .agg(sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared")),
        Seq("doc_id"))
      .orderBy("doc_id")
  }

  val cdcChunkDedupSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, text, length(text) AS n,
       |    list_filter(range($CdcK, length(text)), i ->
       |      (list_reduce(list_prepend(0::BIGINT, list_transform(
       |          regexp_extract_all(
       |            substr(text, CAST(i AS INTEGER) - $CdcK + 1, $CdcK),
       |            '(?s).'),
       |          c -> unicode(c)::BIGINT)),
       |        (a, c) -> (a * ${graft.functions.RollingHashImpl.Base}
       |                   + c) % ${graft.functions.RollingHashImpl.Mod})
       |       % ${1 << CdcBits}) = 0) AS bounds
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, text, n,
       |    list_append(list_prepend(0::BIGINT, bounds), n::BIGINT) AS edges
       |  FROM b
       |), c AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0, len(edges) - 1), j ->
       |      substr(text,
       |        CAST(edges[CAST(j AS INTEGER) + 1] AS INTEGER) + 1,
       |        CAST(edges[CAST(j AS INTEGER) + 2]
       |             - edges[CAST(j AS INTEGER) + 1] AS INTEGER)))) AS chunk
       |  FROM e WHERE n > 0
       |), ch AS (
       |  SELECT doc_id, md5(chunk) AS h, length(chunk) AS len FROM c
       |), dc AS (SELECT DISTINCT doc_id, h FROM ch),
       |fr AS (SELECT h, count(*) AS ndocs FROM dc GROUP BY h),
       |base AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(min(len) AS BIGINT) AS min_len,
       |    CAST(max(len) AS BIGINT) AS max_len
       |  FROM ch GROUP BY 1
       |),
       |sh AS (
       |  SELECT dc.doc_id,
       |    CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shared
       |  FROM dc JOIN fr USING (h) GROUP BY 1
       |)
       |SELECT base.doc_id, n_chunks, min_len, max_len, sh.n_shared
       |FROM base JOIN sh USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Multi-language/script ID — [[graft.ops.TextStats.langIdStruct]] over
    * the documents table, scored against the corpus's own `lang` label:
    * the pretraining curation stage that routes documents to per-language
    * pipelines (or drops scripts a tokenizer can't serve). Two
    * deterministic layers — Han-script charset fraction, then
    * frequency-weighted function-word overlap per language with
    * lexicographic tie-break — both row-local, so the classifier is
    * map-only and fuses into the scan at any scale. The synthetic corpus
    * draws all languages from one English-ish vocabulary, so `agree`
    * tracks the labeled `lang` only where the label is `en`; the planted
    * multilingual spec corpus (TextStatsSpec) exercises every branch.
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        split(coalesce(col("text"), lit("")), " ").as("__w"))
      .select(col("doc_id"),
        TextStats.langIdStruct(col("text"), col("__w")).as("__lid"),
        col("lang"))
      .select(col("doc_id"),
        col("__lid.lang_pred").as("lang_pred"),
        col("__lid.score").as("score"),
        col("lang").as("lang_label"),
        (col("__lid.lang_pred") === col("lang")).as("agree"))
      // pin before the deterministic-output sort (r17 sweep): the range
      // sampler re-executed the whole langIdStruct battery (4 token-set
      // profiles + char profile per row); the computed rows are tiny, so
      // one materialization beats classifying every document twice.
      // Lazy + map-only subtree: construction stays job-free.
      .localCheckpoint(false)
      .orderBy("doc_id")

  /** DuckDB twin of [[TextStats.langIdStruct]]'s function-word layer
    * over a token list `t`: `scoreExprs` defines one `s_<lang>` column
    * per profile (the matched-token fraction), `scoreCols` lists them,
    * `bestExpr` is their max and `predCase` the CASE arms naming the
    * first profile that reaches it (profile order breaks ties, as in
    * Spark). `cjkFraction` is the Han-script layer: the Han share `cjk`
    * of `text`'s non-space characters (the quality filter's oracle
    * spells it over `coalesce(text, '')` instead). The `lang_id`,
    * `lang_id_multi`, `cjk_unsegmented` and `quality_filter_lang`
    * oracles score through this one text.
    */
  private[queries] object LangScoreSql {
    private val langs = TextStats.LangProfiles.map(_._1)
    val scoreExprs: String = TextStats.LangProfiles.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(t, x -> list_contains([$lst], x)))::DOUBLE" +
        s" / len(t) AS s_$l"
      // joined WITHOUT margin pipes: stripMargin runs after interpolation
      // and must not eat anything inside generated fragments
    }.mkString(",\n    ")
    val scoreCols: String = langs.map("s_" + _).mkString(", ")
    val bestExpr: String = s"greatest($scoreCols)"
    val predCase: String = langs.map(l => s"WHEN s_$l = best THEN '$l'")
      .mkString(" ")
    val cjkFraction: String =
      """CASE WHEN length(regexp_replace(text, '\s', '', 'g')) > 0
        |      THEN length(regexp_replace(text,
        |             '[^\x{4e00}-\x{9fff}]', '', 'g'))::DOUBLE
        |           / length(regexp_replace(text, '\s', '', 'g'))
        |      ELSE 0.0::DOUBLE END AS cjk""".stripMargin
  }

  // Twin-simplification note (r16): langIdStruct now also routes
  // ja/ko/ar/hi/th from their script ranges; this oracle keeps the
  // Han-only CASE because its input provably contains NO characters
  // from the new ranges (raw driver docs are Latin-only; the synth
  // arms emit only Han), so the extra branches cannot fire. The full
  // six-script routing has its own exact twin in langIdScriptsSql.
  val langIdSql: String = {
    import LangScoreSql._
    val cjkMin = TextStats.CjkMinFraction
    s"""WITH tok AS (
       |  SELECT doc_id, lang, coalesce(text, '') AS text,
       |    string_split(coalesce(text, ''), ' ') AS t
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id, lang,
       |    $scoreExprs,
       |    $cjkFraction
       |  FROM tok
       |), dec AS (
       |  SELECT doc_id, lang, cjk, $bestExpr AS best,
       |    $scoreCols
       |  FROM sc
       |)
       |SELECT doc_id,
       |  CASE WHEN cjk >= $cjkMin::DOUBLE THEN 'zh'
       |       WHEN best <= 0.0::DOUBLE THEN 'und'
       |       ELSE CASE $predCase END END AS lang_pred,
       |  round(CASE WHEN cjk >= $cjkMin::DOUBLE THEN cjk
       |        WHEN best <= 0.0::DOUBLE THEN 0.0::DOUBLE
       |        ELSE best END, 6) AS score,
       |  lang AS lang_label,
       |  (CASE WHEN cjk >= $cjkMin::DOUBLE THEN 'zh'
       |        WHEN best <= 0.0::DOUBLE THEN 'und'
       |        ELSE CASE $predCase END END = lang) AS agree
       |FROM dec ORDER BY doc_id""".stripMargin
  }

  /** Remap vocabulary for the `zh` branch of [[langIdMulti]] — 15 Han
    * ideographs (all inside U+4E00–U+9FFF, the classifier's script
    * range), mirroring the 15-word function-word profiles.
    */
  private val HanVocab = Seq("一", "二", "三", "四", "五", "六", "七",
    "八", "九", "十", "百", "千", "万", "天", "地")

  /** [[langId]] with the NON-English branches actually exercised under
    * the oracle: the driver corpus is one English-ish vocabulary
    * whatever `lang` says, so this key first SYNTHESIZES a multilingual
    * corpus deterministically — each labeled document's tokens are
    * remapped into its language's own function-word profile
    * ([[TextStats.LangProfiles]]; `zh` → [[HanVocab]] ideographs so the
    * Han-script layer fires), keyed only by token length so the remap
    * is expressible identically in DuckDB (`ascii` is NOT portable:
    * Spark's returns the first BYTE, DuckDB's the first codepoint) —
    * then classifies the synthesized text and reports per-language
    * agreement (n_docs, n_agree, exact-ratio agree_rate, and the
    * distinct prediction set). All five corpus labels exercise distinct
    * classifier branches: de/es/fr the three non-English word profiles,
    * zh the charset layer, en the original-text path. `fr` can lose
    * ties to `es` by design (their profiles share 4 function words and
    * ties break in profile order) — the preds column makes that
    * visible rather than hiding it in a rate.
    *
    * The remap is an interpreted ArrayTransform lambda — acceptable HERE
    * and only here because the remap IS the test fixture (it synthesizes
    * the corpus the oracle needs; no production pipeline remaps tokens),
    * 0.44s at sf0.1; the classifier itself stays on the native
    * CharProfile/TokenSetCount codegen path like `lang_id`.
    */
  def langIdMulti(spark: SparkSession, dir: String): DataFrame = {
    val profiles = TextStats.LangProfiles.toMap
    def remap(words: Column, vocab: Seq[String]): Column =
      transform(words, x =>
        element_at(array(vocab.map(lit): _*), length(x) % vocab.size + 1))
    val synth = Readers.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        split(coalesce(col("text"), lit("")), " ").as("__w0"))
      .select(col("doc_id"), col("lang"),
        when(col("lang") === "de", remap(col("__w0"), profiles("de")))
          .when(col("lang") === "es", remap(col("__w0"), profiles("es")))
          .when(col("lang") === "fr", remap(col("__w0"), profiles("fr")))
          .when(col("lang") === "zh", remap(col("__w0"), HanVocab))
          .otherwise(col("__w0")).as("__w"))
    synth
      .select(col("lang"),
        TextStats.langIdStruct(array_join(col("__w"), " "), col("__w"))
          .getField("lang_pred").as("lang_pred"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L))
          .as("n_agree"),
        array_join(array_sort(collect_set(col("lang_pred"))), ",")
          .as("preds"))
      .select(col("lang").as("lang_label"), col("n_docs"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_docs"), 6)
          .as("agree_rate"),
        col("preds"))
      .orderBy("lang_label")
  }

  // Han-only CASE: see the twin-simplification note on langIdSql.
  val langIdMultiSql: String = {
    import LangScoreSql._
    val prof = TextStats.LangProfiles.toMap
    def vocabSql(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    def remapSql(ws: Seq[String]) =
      s"list_transform(w0, x -> list_extract(${vocabSql(ws)}, " +
        s"(length(x) % ${ws.size}) + 1))"
    val cjkMin = TextStats.CjkMinFraction
    s"""WITH tok0 AS (
       |  SELECT doc_id, lang, string_split(coalesce(text, ''), ' ') AS w0
       |  FROM documents
       |), synth AS (
       |  SELECT doc_id, lang,
       |    CASE lang
       |      WHEN 'de' THEN ${remapSql(prof("de"))}
       |      WHEN 'es' THEN ${remapSql(prof("es"))}
       |      WHEN 'fr' THEN ${remapSql(prof("fr"))}
       |      WHEN 'zh' THEN ${remapSql(HanVocab)}
       |      ELSE w0 END AS t
       |  FROM tok0
       |), s2 AS (
       |  SELECT doc_id, lang, t, array_to_string(t, ' ') AS text FROM synth
       |), sc AS (
       |  SELECT doc_id, lang,
       |    $scoreExprs,
       |    $cjkFraction
       |  FROM s2
       |), dec AS (
       |  SELECT doc_id, lang, cjk, $bestExpr AS best,
       |    $scoreCols
       |  FROM sc
       |), cl AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN cjk >= $cjkMin::DOUBLE THEN 'zh'
       |         WHEN best <= 0.0::DOUBLE THEN 'und'
       |         ELSE CASE $predCase END END AS lang_pred
       |  FROM dec
       |)
       |SELECT lang AS lang_label,
       |  count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)::BIGINT
       |    AS n_agree,
       |  round(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)::DOUBLE
       |        / count(*), 6) AS agree_rate,
       |  array_to_string(list_sort(list(DISTINCT lang_pred)), ',') AS preds
       |FROM cl GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Char-grain span length for unsegmented-script dedup — 16 Han
    * characters carry roughly the information of
    * [[SubstringSpanTokens]] space-split words (CJK averages 1.5–2
    * chars/word), and 16 keeps the sf corpora exercising both the
    * shared and unshared branches.
    */
  val CjkSpanChars = 16

  /** The unsegmented-CJK path proven end-to-end — real Chinese text has
    * NO spaces, so every word-split operator silently degrades: the
    * tokenizer yields one doc-sized token, word-grain span dedup
    * produces ZERO fingerprints (shown honestly in `word_spans`), and
    * profile-word language ID scores nothing. This key synthesizes
    * space-free Han documents (the [[langIdMulti]] length-keyed remap
    * minus the space join) and demonstrates the two layers that still
    * work: (a) [[TextStats.langIdStruct]]'s charset layer (the native
    * CharProfile codegen expression) routes every non-empty doc to `zh`
    * with no tokenizer at all, and (b) char-grain shingles
    * (`CjkSpanChars`-char windows → md5 → distinct per doc) restore
    * sub-document dedup grain — `char_fps` counts a doc's fingerprints,
    * `char_fps_shared` how many are cross-doc, exactly the signal the
    * exact-substring dedup family joins on. All stages are hash
    * aggregates/joins on (doc_id) or (fp); the shingle explode is the
    * same linear shape as `split_leakage`'s.
    */
  def cjkUnsegmented(spark: SparkSession, dir: String): DataFrame = {
    val wn = SubstringSpanTokens
    val cn = CjkSpanChars
    val han = array(HanVocab.map(lit): _*)
    val synth = Readers.table(spark, dir, "documents")
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("__w0"))
      .select(col("doc_id"),
        concat_ws("", transform(col("__w0"),
          x => element_at(han, length(x) % HanVocab.size + 1))).as("text"))
      // two consumers (classification row, char-shingle explode) — lazy
      // so construction stays job-free
      .localCheckpoint(false)
    val pred = synth.select(col("doc_id"),
      TextStats.langIdStruct(col("text"), split(col("text"), " "))
        .getField("lang_pred").as("lang_pred"),
      length(col("text")).cast("long").as("n_chars"),
      greatest(size(split(col("text"), " ")) - lit(wn - 1), lit(0))
        .cast("long").as("word_spans"))
    val chfp = synth
      .select(col("doc_id"),
        explode(when(length(col("text")) >= cn,
            transform(sequence(lit(1), length(col("text")) - cn + 1),
              i => col("text").substr(i, lit(cn))))
          .otherwise(array().cast("array<string>"))).as("span"))
      .select(col("doc_id"), md5(col("span")).as("fp"))
      .distinct()
      // two consumers: the per-doc count and the cross-doc frequency
      .localCheckpoint(false)
    val freq = chfp.groupBy("fp").agg(count(lit(1)).as("ndocs"))
    val agg = chfp.join(freq, Seq("fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("char_fps"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("char_fps_shared"))
    pred.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_pred"), col("n_chars"),
        col("word_spans"),
        coalesce(col("char_fps"), lit(0L)).as("char_fps"),
        coalesce(col("char_fps_shared"), lit(0L)).as("char_fps_shared"))
      .orderBy("doc_id")
  }

  // lazy: SubstringSpanTokens is defined later in the file (val init order)
  // Han-only CASE: see the twin-simplification note on langIdSql.
  lazy val cjkUnsegmentedSql: String = {
    val wn = SubstringSpanTokens
    val cn = CjkSpanChars
    import LangScoreSql._
    val vocab = HanVocab.map(w => s"'$w'").mkString("[", ", ", "]")
    val cjkMin = TextStats.CjkMinFraction
    s"""WITH tok0 AS (
       |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w0
       |  FROM documents
       |), synth AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(w0, x ->
       |      list_extract($vocab, (length(x) % ${HanVocab.size}) + 1)), '')
       |      AS text
       |  FROM tok0
       |), sc AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS t FROM synth
       |), sc2 AS (
       |  SELECT doc_id, text,
       |    $scoreExprs,
       |    $cjkFraction
       |  FROM sc
       |), pred AS (
       |  SELECT doc_id,
       |    CASE WHEN cjk >= $cjkMin::DOUBLE THEN 'zh'
       |         WHEN best <= 0.0::DOUBLE THEN 'und'
       |         ELSE CASE $predCase END END AS lang_pred,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(greatest(len(string_split(text, ' ')) - ${wn - 1}, 0)
       |      AS BIGINT) AS word_spans
       |  FROM (SELECT doc_id, text, cjk, $bestExpr AS best,
       |          $scoreCols
       |        FROM sc2)
       |), csh AS (
       |  SELECT DISTINCT doc_id,
       |    md5(substr(text, CAST(i AS INTEGER) + 1, $cn)) AS fp
       |  FROM synth, unnest(range(greatest(length(text) - ${cn - 1}, 0)))
       |    AS u(i)
       |), fr AS (
       |  SELECT fp, count(*) AS ndocs FROM csh GROUP BY fp
       |), agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS char_fps,
       |    CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS char_fps_shared
       |  FROM csh JOIN fr USING (fp) GROUP BY 1
       |)
       |SELECT p.doc_id, lang_pred, n_chars, word_spans,
       |  coalesce(char_fps, 0) AS char_fps,
       |  coalesce(char_fps_shared, 0) AS char_fps_shared
       |FROM pred p LEFT JOIN agg USING (doc_id)
       |ORDER BY p.doc_id""".stripMargin
  }

  /** Remap vocabularies for [[langIdScripts]] — 8 characters per script,
    * every char inside its script's counted range
    * ([[graft.functions.CharProfileImpl]]). `spaced` marks scripts whose
    * real orthography separates words (ko/ar/hi); ja and th join
    * space-FREE like [[cjkUnsegmented]]'s Han. The ja vocabulary mixes
    * Han into the kana on purpose (indices 7–8): a doc whose words all
    * land on the Han slots is pure-Han text and must route `zh` — the
    * preds column makes that visible, the same honesty device as
    * `lang_id_multi`'s fr/es ties.
    */
  private val ScriptVocabs: Seq[(String, Seq[String], Boolean)] = Seq(
    ("ja", Seq("あ", "い", "う", "え", "お", "か", "日", "本"), false),
    ("ko", Seq("가", "나", "다", "라", "마", "바", "사", "아"), true),
    ("ar", Seq("ا", "ب", "ت", "ث", "ج", "ح", "د", "ر"), true),
    ("hi", Seq("क", "ख", "ग", "घ", "च", "छ", "ज", "झ"), true),
    ("th", Seq("ก", "ข", "ค", "ง", "จ", "ฉ", "ช", "ซ"), false))

  /** The charset layer proven beyond Han — [[cjkUnsegmented]]'s recipe
    * generalized to the five script families a 100 TB crawl actually
    * carries (ja kana, ko Hangul, ar Arabic, hi Devanagari, th Thai):
    * synthesize each script from the documents table by the same
    * length-keyed char remap, classify with
    * [[TextStats.langIdStruct]]'s script layer (native CharProfile
    * codegen — no tokenizer), and report per-script agreement. Two of
    * the five are UNSEGMENTED (ja, th — joined space-free), and for
    * those the key carries the full honesty+repair story: `word_spans`
    * sums to ZERO (every word-grain operator silently degrades to
    * whole-doc granularity) while 16-char shingles restore sub-document
    * dedup grain (`char_dup_docs` counts docs sharing a cross-doc char
    * fingerprint; null for the segmented scripts, where word-grain
    * machinery works and the char pass isn't run). All stages are hash
    * aggregates/joins on (lang, doc_id) or (lang, fp); the synth is one
    * scan exploded five ways, map-only.
    *
    * Bench budget (ARCHITECTURE.md policy): ~2.2–2.4 s at sf0.1 — above
    * the 1.5 s new-key target, priced as a COMPOSED FUNNEL: a 5-way
    * synthesis explode, the map-only native classify, and two
    * char-shingle hash-aggregate passes for the unsegmented pair, each
    * stage individually audited. A cheaper shape (route-only for the
    * three spaced scripts) would drop exactly the dedup-grain repair
    * story the key exists to certify; the plan is hash-everything with
    * one lazy checkpoint for the two consumers.
    */
  def langIdScripts(spark: SparkSession, dir: String): DataFrame = {
    val wn = SubstringSpanTokens
    val cn = CjkSpanChars
    val base = Readers.table(spark, dir, "documents")
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("__w0"))
    // interpreted lambda remap: acceptable here for the same reason as
    // lang_id_multi — the remap IS the fixture that synthesizes the
    // corpus; the classifier stays on the native codegen path
    def remap(vocab: Seq[String]): Column =
      transform(col("__w0"), x =>
        element_at(array(vocab.map(lit): _*), length(x) % vocab.size + 1))
    val variants = ScriptVocabs.map { case (l, v, spaced) =>
      struct(lit(l).as("lang"), lit(!spaced).as("unseg"),
        concat_ws(if (spaced) " " else "", remap(v)).as("text"))
    }
    val synth = base
      .select(col("doc_id"), explode(array(variants: _*)).as("s"))
      .select(col("doc_id"), col("s.lang").as("lang"),
        col("s.unseg").as("unseg"), col("s.text").as("text"))
      // two consumers (classification row, char-shingle explode) — lazy
      // so construction stays job-free
      .localCheckpoint(false)
    val pred = synth.select(col("lang"),
      TextStats.langIdStruct(col("text"), split(col("text"), " "))
        .getField("lang_pred").as("lang_pred"),
      greatest(size(split(col("text"), " ")) - lit(wn - 1), lit(0))
        .cast("long").as("word_spans"))
    val chfp = synth.filter(col("unseg"))
      .select(col("lang"), col("doc_id"),
        explode(when(length(col("text")) >= cn,
            transform(sequence(lit(1), length(col("text")) - cn + 1),
              i => col("text").substr(i, lit(cn))))
          .otherwise(array().cast("array<string>"))).as("span"))
      .select(col("lang"), col("doc_id"), md5(col("span")).as("fp"))
      .distinct()
    val freq = chfp.groupBy("lang", "fp").agg(count(lit(1)).as("ndocs"))
    val dup = chfp.join(freq, Seq("lang", "fp"))
      .groupBy("lang", "doc_id")
      .agg(sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("shared"))
      .groupBy("lang")
      .agg(sum(when(col("shared") > 0, 1L).otherwise(0L))
        .as("char_dup_docs"))
    val agg = pred.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L))
          .as("n_agree"),
        array_join(array_sort(collect_set(col("lang_pred"))), ",")
          .as("preds"),
        sum(col("word_spans")).as("word_spans"))
    agg.join(dup, Seq("lang"), "left")
      .select(col("lang").as("lang_label"), col("n_docs"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_docs"), 6)
          .as("agree_rate"),
        col("preds"), col("word_spans"), col("char_dup_docs"))
      .orderBy("lang_label")
  }

  /** DuckDB twin of [[langIdScripts]]: same synth, and the script route
    * mirrored with the SAME exact integer arithmetic the native
    * expression uses (`cnt * 10 >= 3 * nonspace`, kana presence
    * `kana * 20 >= nonspace`) — no floating-point edge to disagree on.
    * The word-overlap fallback is provably `und` on this corpus (every
    * synthesized char is non-Latin, so the Latin function-word profiles
    * all score zero), which is why the CASE ends at ELSE 'und'.
    */
  // lazy: SubstringSpanTokens is defined later in the file (val init order)
  lazy val langIdScriptsSql: String = {
    val wn = SubstringSpanTokens
    val cn = CjkSpanChars
    def vocabSql(ws: Seq[String]) =
      ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val synthArms = ScriptVocabs.map { case (l, v, spaced) =>
      val sep = if (spaced) " " else ""
      s"""  SELECT doc_id, '$l' AS lang, ${!spaced} AS unseg,
         |    array_to_string(list_transform(w0, x ->
         |      list_extract(${vocabSql(v)}, (length(x) % ${v.size}) + 1)),
         |      '$sep') AS text
         |  FROM tok0""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH tok0 AS (
       |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w0
       |  FROM documents
       |), synth AS (
       |$synthArms
       |), cnt AS (
       |  SELECT doc_id, lang, unseg, text,
       |    length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
       |    length(regexp_replace(text,
       |      '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS han,
       |    length(regexp_replace(text,
       |      '[^\\x{3040}-\\x{30ff}]', '', 'g')) AS kana,
       |    length(regexp_replace(text,
       |      '[^\\x{ac00}-\\x{d7af}]', '', 'g')) AS hangul,
       |    length(regexp_replace(text,
       |      '[^\\x{0600}-\\x{06ff}]', '', 'g')) AS arabic,
       |    length(regexp_replace(text,
       |      '[^\\x{0900}-\\x{097f}]', '', 'g')) AS deva,
       |    length(regexp_replace(text,
       |      '[^\\x{0e00}-\\x{0e7f}]', '', 'g')) AS thai
       |  FROM synth
       |), pred AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN nonspace > 0 AND kana * 20 >= nonspace
       |           AND (kana + han) * 10 >= 3 * nonspace THEN 'ja'
       |         WHEN nonspace > 0 AND han * 10 >= 3 * nonspace THEN 'zh'
       |         WHEN nonspace > 0 AND hangul * 10 >= 3 * nonspace
       |           THEN 'ko'
       |         WHEN nonspace > 0 AND arabic * 10 >= 3 * nonspace
       |           THEN 'ar'
       |         WHEN nonspace > 0 AND deva * 10 >= 3 * nonspace THEN 'hi'
       |         WHEN nonspace > 0 AND thai * 10 >= 3 * nonspace THEN 'th'
       |         ELSE 'und' END AS lang_pred,
       |    CAST(greatest(len(string_split(text, ' ')) - ${wn - 1}, 0)
       |      AS BIGINT) AS word_spans
       |  FROM cnt
       |), chfp AS (
       |  SELECT DISTINCT lang, doc_id,
       |    md5(substr(text, CAST(i AS INTEGER) + 1, $cn)) AS fp
       |  FROM synth, unnest(range(greatest(length(text) - ${cn - 1}, 0)))
       |    AS u(i)
       |  WHERE unseg
       |), fr AS (
       |  SELECT lang, fp, count(*) AS ndocs FROM chfp GROUP BY 1, 2
       |), dsh AS (
       |  SELECT lang, doc_id,
       |    sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS shared
       |  FROM chfp JOIN fr USING (lang, fp) GROUP BY 1, 2
       |), dup AS (
       |  SELECT lang,
       |    CAST(sum(CASE WHEN shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS char_dup_docs
       |  FROM dsh GROUP BY 1
       |), agg AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_agree,
       |    array_to_string(list_sort(list(DISTINCT lang_pred)), ',')
       |      AS preds,
       |    CAST(sum(word_spans) AS BIGINT) AS word_spans
       |  FROM pred GROUP BY 1
       |)
       |SELECT a.lang AS lang_label, n_docs, n_agree,
       |  round(n_agree::DOUBLE / n_docs, 6) AS agree_rate, preds,
       |  word_spans, d.char_dup_docs
       |FROM agg a LEFT JOIN dup d USING (lang)
       |ORDER BY lang_label""".stripMargin
  }

  /** Window length (tokens) for exact substring dedup — long enough that
    * a shared span means real duplication, short enough that the sf
    * corpora exercise BOTH branches (probed: ~1.1k of ~23k fingerprints
    * are cross-doc at every driver scale). Lee et al. use 50 tokens at
    * web scale; the operator takes it as a parameter.
    */
  val SubstringSpanTokens = 8

  /** Exact substring (repeated n-token span) dedup — the sub-chunk-grain
    * dedup family member: [[graft.ops.TextDedup.repeatedSpanProfile]]
    * over the documents table. MinHash/SimHash/CDC/winnowing flag
    * near-duplicate DOCUMENTS and chunks; this flags verbatim SPANS
    * repeated across different documents (licence boilerplate, quoted
    * passages) that a span-removal pass would cut. Explode → two
    * map-side-combinable aggregates → fingerprint hash join; never
    * all-pairs, no global suffix sort.
    */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    TextDedup.repeatedSpanProfile(
        Readers.table(spark, dir, "documents"), "doc_id", "text",
        SubstringSpanTokens)
      .orderBy("doc_id")

  val dedupSubstringSql: String = {
    val n = SubstringSpanTokens
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, md5(array_to_string(t[i+1:i+$n], ' ')) AS fp
       |  FROM tok, unnest(range(greatest(len(t) - ${n - 1}, 0))) AS u(i)
       |), w AS (
       |  SELECT doc_id, fp, CAST(count(*) AS BIGINT) AS c
       |  FROM sh GROUP BY 1, 2
       |), f AS (SELECT fp, count(*) AS ndocs FROM w GROUP BY 1),
       |rep AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS rep_spans,
       |    CAST(count(*) AS BIGINT) AS rep_fps
       |  FROM w JOIN f USING (fp) WHERE ndocs >= 2 GROUP BY 1
       |), tot AS (
       |  SELECT doc_id, CAST(greatest(len(t) - ${n - 1}, 0) AS BIGINT)
       |    AS n_spans
       |  FROM tok
       |)
       |SELECT doc_id, n_spans,
       |  coalesce(rep_spans, 0::BIGINT) AS rep_spans,
       |  coalesce(rep_fps, 0::BIGINT) AS rep_fps
       |FROM tot LEFT JOIN rep USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Span REMOVAL — [[graft.ops.TextDedup.removeRepeatedSpans]] over the
    * documents table with the same window length as [[dedupSubstring]]:
    * every token covered by a cross-doc repeated window is cut and the
    * cleaned text's md5 certifies the edit cross-engine.
    */
  def dedupSubstringClean(spark: SparkSession, dir: String): DataFrame =
    TextDedup.removeRepeatedSpans(
        Readers.table(spark, dir, "documents"), "doc_id", "text",
        SubstringSpanTokens)
      .orderBy("doc_id")

  val dedupSubstringCleanSql: String = {
    val n = SubstringSpanTokens
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(t[i+1:i+$n], ' ')) AS fp
       |  FROM tok, unnest(range(greatest(len(t) - ${n - 1}, 0))) AS u(i)
       |), w AS (SELECT doc_id, fp FROM sh GROUP BY 1, 2),
       |f AS (SELECT fp FROM w GROUP BY fp HAVING count(*) >= 2),
       |cov AS (
       |  SELECT DISTINCT sh.doc_id, pos + j AS pos2
       |  FROM sh JOIN f USING (fp), unnest(range($n)) AS v(j)
       |), tr AS (
       |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos2, t[i] AS w
       |  FROM tok, unnest(range(1, len(t) + 1)) AS u(i)
       |), kept AS (
       |  SELECT tr.doc_id, tr.pos2, tr.w
       |  FROM tr ANTI JOIN cov USING (doc_id, pos2)
       |), reb AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    md5(string_agg(w, ' ' ORDER BY pos2)) AS cleaned_md5
       |  FROM kept GROUP BY doc_id
       |), tot AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tok
       |)
       |SELECT tot.doc_id, n_tokens,
       |  n_tokens - coalesce(n_kept, 0::BIGINT) AS n_removed,
       |  coalesce(cleaned_md5, md5('')) AS cleaned_md5
       |FROM tot LEFT JOIN reb USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Vocabulary build: corpus word counts with frequency-ranked ids — the
    * tokenizer-prep step of a training pipeline. One explode + one
    * aggregate + one ranked id assignment.
    *
    * The id is a GLOBAL `row_number` over `(n DESC, word)` — which, as a
    * plain window, funnels the entire vocabulary through one task. A
    * web-scale corpus has hundreds of millions of distinct tokens, so
    * this is computed distributed via [[graft.ops.Ranking]] instead: the
    * range-split proxy `-n + prefixFraction(word)` keeps the descending
    * count order (distinct counts differ by ≥ 1, so the sub-1 fraction
    * never reorders them) while the word-prefix fraction spreads the
    * Zipf tail — the huge tied block of count-1 words that would
    * otherwise all land in a single range — across ranges.
    */
  def vocabBuild(spark: SparkSession, dir: String): DataFrame = {
    val counts = Readers
      .fanOut(Readers.table(spark, dir, "documents").select("text"))
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      // pinned (r17): the distributed rank reads its input several times
      // (range-bounds percentile, per-range totals, the data pass) — AQE
      // reuses the count's shuffle but re-ran the post-shuffle aggregate
      // and the bounds pass per consumer (measured 5 parquet scans /
      // 21 exchanges executed; 0 scans / 8 after). Vocabulary-sized —
      // the table whose single-task sort this key exists to avoid. Lazy.
      .localCheckpoint(false)
    val proxy = -col("n").cast("double") +
      graft.ops.Ranking.stringPrefixFraction(col("word"))
    graft.ops.Ranking
      .withGlobalRowNumber(counts, Seq(col("n").desc, col("word")),
        "__rank0", proxy)
      .withColumn("word_id", (col("__rank0") + lit(1L)).cast("long"))
      .drop("__rank0")
      .orderBy("word_id")
  }

  val vocabBuildSql: String =
    """SELECT word, count(*) AS n,
      |  CAST(row_number() OVER (ORDER BY count(*) DESC, word) AS BIGINT)
      |    AS word_id
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word ORDER BY word_id""".stripMargin

  /** The TF-IDF inputs: per-(doc, word) term counts `tf`, per-word
    * document counts `df`, and the corpus size `__n_docs` as a 1-row
    * frame.
    */
  private def termFrequencies(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Readers.table(spark, dir, "documents")
    // corpus size rides in the plan as a broadcast 1-row frame — a
    // driver-side docs.count() here would fire a full scan at query
    // CONSTRUCTION (an extra pass per invocation at 100 TB) and break the
    // lazy-DataFrame contract the rest of the repo keeps
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    val terms = Readers.fanOut(docs.select("doc_id", "text"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    // pinned (r17): `tf` feeds both the document-frequency aggregate and
    // the scoring join, keyed differently — AQE reuses the (doc, word)
    // shuffle but re-ran the post-shuffle aggregate per consumer. One row
    // per distinct (doc, word) — the sparse feature table itself. Lazy.
    val tf = terms.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    // df derives from tf (one row per (doc, word) already) — deriving it
    // from `terms` would re-run the corpus explode AND pay a distinct
    // shuffle of every token occurrence
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    (tf, df_, nDocs)
  }

  /** TF-IDF scores: term frequency × ln(N / document frequency), the
    * classic sparse text-feature weighting. Per-doc term counts and
    * corpus document frequencies are two aggregates joined on the word;
    * every stage is linear in total tokens.
    */
  def tfIdf(spark: SparkSession, dir: String): DataFrame = {
    val (tf, df_, nDocs) = termFrequencies(spark, dir)
    tf.join(df_, Seq("word"))
      .filter(col("doc_id") < 20)
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("word"), col("tf"),
        round(col("tf") * log(col("__n_docs") / col("df")), 6)
          .as("tfidf"))
      .orderBy("doc_id", "word")
  }

  val tfIdfSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      |),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM terms
      |       GROUP BY doc_id, word),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word)
      |SELECT doc_id, tf.word AS word, tf,
      |  round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 6)
      |    AS tfidf
      |FROM tf JOIN df ON tf.word = df.word
      |WHERE doc_id < 20
      |ORDER BY doc_id, word""".stripMargin

  /** Per-source vocabulary drift: KL(P_source ‖ P_corpus) over word
    * distributions — the corpus-mix monitor that flags a crawl source
    * whose language shifted. Two hash aggregates (per-source and corpus
    * word counts — the corpus counts derive from the per-source table,
    * never a second scan), a join on the word, and a per-source reduce;
    * no smoothing needed because the corpus support contains every
    * source word (q > 0 wherever p > 0 by construction).
    */
  def driftKl(spark: SparkSession, dir: String): DataFrame = {
    val docs = Readers.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val src = Readers.fanOut(docs)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      // no checkpoint: source totals, corpus counts, and the KL join reuse
      // the aggregate's exchange (ReuseExchange)
    val srcTot = src.groupBy("source").agg(sum("c").as("t"))
    val corpus = src.groupBy("w").agg(sum("c").as("cw"))
    val corpusTot = src.agg(sum("c").cast("double").as("tot"))
    val p = col("c").cast("double") / col("t")
    val q = col("cw").cast("double") / col("tot")
    src.join(srcTot, Seq("source"))
      .join(corpus, Seq("w"))
      .crossJoin(broadcast(corpusTot))
      .groupBy("source")
      .agg(round(sum(p * log(p / q)), 6).as("kl"),
        max(col("t")).as("n_tokens"))
      .join(nDocs, Seq("source"))
      .select("source", "n_docs", "n_tokens", "kl")
      .orderBy("source")
  }

  val driftKlSql: String =
    """WITH src AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY source, w
      |),
      |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS t
      |       FROM src GROUP BY source),
      |corpus AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM src GROUP BY w),
      |ct AS (SELECT sum(c)::DOUBLE AS tot FROM src),
      |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |       FROM documents GROUP BY source),
      |kl AS (
      |  SELECT source,
      |    round(sum((c::DOUBLE / t) *
      |      ln((c::DOUBLE / t) / (cw::DOUBLE / tot))), 6) AS kl,
      |    max(t) AS n_tokens
      |  FROM src JOIN st USING (source) JOIN corpus USING (w) CROSS JOIN ct
      |  GROUP BY source
      |)
      |SELECT source, n_docs, n_tokens, kl
      |FROM kl JOIN nd USING (source)
      |ORDER BY source""".stripMargin

  /** Bucket edges for [[driftPsi]]'s token-count feature — straddling
    * the corpus quartiles (32/54/76 at sf0.1) so every bucket carries
    * real mass and per-source deviations register.
    */
  val PsiEdges = Seq(25, 45, 65, 85)

  /** Per-source population stability index — the industry-standard
    * drift metric complementing [[driftKl]]: where the KL key tracks
    * VOCABULARY drift (per-word distributions), PSI tracks a bucketized
    * numeric feature (token count per document) against the corpus
    * reference, which is the form monitoring dashboards actually gate
    * on (PSI < 0.1 stable, > 0.25 investigate). Laplace-smoothed
    * (+0.5 per bucket) so empty buckets are defined without dropping
    * terms — deterministic in both engines, no eps tuning. The bucket
    * count is a CONSTANT, so the histogram PIVOTS into k conditional
    * sums: ONE hash aggregate per source (map-side combined, zero-count
    * buckets materialize as zero columns — no source×bucket cross join
    * to backfill them), a 1-row corpus aggregate derived FROM it (no
    * second scan), one provably-bounded broadcast cross, and PSI as a
    * fixed-order k-term expression — the summation order is the SAME in
    * both engines by construction, not by hash-agg accident. Lints
    * clean (the earlier distinct × bucket-range cross-join formulation
    * fired the nested-loop rule four times).
    */
  def driftPsi(spark: SparkSession, dir: String): DataFrame = {
    val nb = PsiEdges.size + 1
    var bucket: Column = lit(nb - 1)
    for ((e, i) <- PsiEdges.zipWithIndex.reverse)
      bucket = when(col("n_tok") < e, lit(i)).otherwise(bucket)
    val cCols = (0 until nb).map(b =>
      sum(when(col("bucket") === b, 1L).otherwise(0L)).as(s"c$b"))
    val perSrc = Readers.table(spark, dir, "documents")
      .select(col("source"),
        size(split(coalesce(col("text"), lit("")), " ")).as("n_tok"))
      .select(col("source"), bucket.as("bucket"))
      .groupBy("source")
      .agg(cCols.head, cCols.tail: _*)
    val corpus = perSrc.agg(
      sum(col("c0")).as("g0"),
      (1 until nb).map(b => sum(col(s"c$b")).as(s"g$b")): _*)
    val n = (0 until nb).map(b => col(s"c$b")).reduce(_ + _)
    val tot = (0 until nb).map(b => col(s"g$b")).reduce(_ + _)
    val half = lit(0.5)
    val pad = lit(nb * 0.5)
    val psi = (0 until nb).map { b =>
      val p = (col(s"c$b") + half) / (col("n_docs") + pad)
      val q = (col(s"g$b") + half) / (tot + pad)
      (p - q) * log(p / q)
    }.reduce(_ + _)
    perSrc.withColumn("n_docs", n)
      .crossJoin(broadcast(corpus))
      .select(col("source"), col("n_docs"), round(psi, 6).as("psi"))
      .orderBy("source")
  }

  val driftPsiSql: String = {
    val nb = PsiEdges.size + 1
    val caseExpr = PsiEdges.zipWithIndex
      .map { case (e, i) => s"WHEN n_tok < $e THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${nb - 1} END")
    val pad = nb * 0.5
    val cSums = (0 until nb).map(b =>
      s"CAST(sum(CASE WHEN bucket = $b THEN 1 ELSE 0 END) AS BIGINT) AS c$b")
      .mkString(",\n    ")
    val gSums = (0 until nb).map(b =>
      s"CAST(sum(c$b) AS BIGINT) AS g$b").mkString(", ")
    val nExpr = (0 until nb).map(b => s"c$b").mkString(" + ")
    val totExpr = (0 until nb).map(b => s"g$b").mkString(" + ")
    val terms = (0 until nb).map { b =>
      val p = s"((c$b::DOUBLE + 0.5::DOUBLE) / (n_docs::DOUBLE + $pad::DOUBLE))"
      val q = s"((g$b::DOUBLE + 0.5::DOUBLE) / (tot::DOUBLE + $pad::DOUBLE))"
      s"($p - $q) * ln($p / $q)"
    }.mkString("\n    + ")
    s"""WITH d AS (
       |  SELECT source,
       |    $caseExpr AS bucket
       |  FROM (SELECT source,
       |          len(string_split(coalesce(text, ''), ' ')) AS n_tok
       |        FROM documents)
       |), ps AS (
       |  SELECT source,
       |    $cSums
       |  FROM d GROUP BY source
       |), g AS (SELECT $gSums FROM ps),
       |pn AS (SELECT *, $nExpr AS n_docs FROM ps),
       |gt AS (SELECT *, $totExpr AS tot FROM g)
       |SELECT source, n_docs,
       |  round($terms, 6) AS psi
       |FROM pn CROSS JOIN gt
       |ORDER BY source""".stripMargin
  }

  val CosSlice = 100
  val CosThreshold = 0.75

  /** Exact sparse tf-idf cosine similarity between document pairs,
    * computed the inverted-index way: pair dot products come from a
    * posting-list self-join on the shared token (work ∝ Σ_token df² —
    * only co-occurring pairs ever materialize), norms from one per-doc
    * aggregate, broadcast back. This is the exact-baseline complement to
    * the MinHash/SimHash/embedding near-dup family: at 100 TB a
    * production run first prunes near-zero-idf stopword tokens (their df²
    * dominates the join and they contribute ~nothing to the cosine) or
    * falls back to the LSH path; here the deterministic doc slice keeps
    * the oracle honest. The ≥-threshold filter is applied to the ROUNDED
    * cosine so both engines cut at the identical boundary.
    */
  def tfidfCosinePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Readers.table(spark, dir, "documents")
      .filter(col("doc_id") < CosSlice).select("doc_id", "text")
    // slice size as a broadcast 1-row frame, not a driver count() —
    // construction stays job-free (same pattern as `norms` below)
    val n = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    val terms = Readers.fanOut(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = tf.join(dfq, Seq("token"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        (col("tf") * log(col("__n_docs") / col("df"))).as("w"))
      .localCheckpoint(false)
    // pinned (r17): norms and BOTH pair-join sides consume the weight
    // table. The two self-join sides do share one shuffle via AQE stage
    // reuse (canonicalized exchanges match), but the norms aggregate keys
    // its exchange by doc_id, so the tf→idf subtree re-executed for it —
    // measured 14 parquet scans / 38 exchanges in the executed plan
    // (8 reused), vs 0 scans / 10 exchanges above the pin. The weight
    // table is the doc slice's (doc, token, w) rows — bounded by the
    // CosSlice design, tiny next to the corpus. Lazy (no driver action),
    // but under AQE building the frame runs the tf and df aggregates'
    // shuffle map stages.
    val norms = w.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val dots = w.as("a")
      .join(w.as("b").hint("shuffle_hash"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("norm").as("norm_a")),
        Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("norm").as("norm_b")),
        Seq("doc_b"))
      .filter(col("norm_a") > 0.0 && col("norm_b") > 0.0)
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (col("norm_a") * col("norm_b")), 6).as("cosine"))
      .filter(col("cosine") >= CosThreshold)
      .orderBy("doc_a", "doc_b")
  }

  val tfidfCosinePairsSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < $CosSlice
       |),
       |terms AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM docs
       |),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |w AS (SELECT doc_id, tf.token AS token,
       |        tf * ln((SELECT count(*) FROM docs)::DOUBLE / df) AS w
       |      FROM tf JOIN df ON tf.token = df.token),
       |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY 1),
       |dots AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
       |  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |  round(dot / (na.norm * nb.norm), 6) AS cosine
       |FROM dots
       |JOIN norms na ON na.doc_id = doc_a
       |JOIN norms nb ON nb.doc_id = doc_b
       |WHERE na.norm > 0 AND nb.norm > 0
       |  AND round(dot / (na.norm * nb.norm), 6) >= $CosThreshold::DOUBLE
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Unicode NFC normalization over a corpus slice with decomposed
    * sequences injected deterministically in-query (the synthetic corpus
    * is ASCII, so the injection exercises real composition AND the
    * identity path — same pattern as `pii_redact`). Emits char lengths
    * before/after, an md5 of the normalized form, and the changed flag —
    * the audit columns a normalization pass reports.
    */
  def unicodeNfc(spark: SparkSession, dir: String): DataFrame = {
    // DECOMPOSED sequences (e + U+0301, A + U+030A): NFC must compose them
    val dec = when(col("doc_id") % 3 === 0, lit(" café"))
      .when(col("doc_id") % 3 === 1, lit(" Å"))
      .otherwise(lit(""))
    Readers.table(spark, dir, "documents")
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 20), dec).as("raw"))
      .withColumn("nfc",
        graft.functions.StringExpressions.unicodeNfc(col("raw")))
      .select(col("doc_id"), length(col("raw")).as("len_raw"),
        length(col("nfc")).as("len_nfc"), md5(col("nfc")).as("nfc_md5"),
        (col("nfc") =!= col("raw")).as("changed"))
      .orderBy("doc_id")
  }

  val unicodeNfcSql: String =
    """WITH r AS (
      |  SELECT doc_id, substr(text, 1, 20) ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
      |         WHEN doc_id % 3 = 1 THEN ' A' || chr(778)
      |         ELSE '' END AS raw
      |  FROM documents
      |)
      |SELECT doc_id, CAST(length(raw) AS INTEGER) AS len_raw,
      |  CAST(length(nfc_normalize(raw)) AS INTEGER) AS len_nfc,
      |  md5(nfc_normalize(raw)) AS nfc_md5,
      |  nfc_normalize(raw) <> raw AS changed
      |FROM r ORDER BY doc_id""".stripMargin

  val KeywordsK = 3

  /** Per-document keyword extraction: the top-k TF-IDF terms of every
    * document. Same two linear aggregates as [[tfIdf]], then a per-doc
    * window top-k (per-doc term counts are bounded by the doc itself, so
    * the window sort is cheap; for UNBOUNDED groups the
    * `graft_top_k` heap aggregate in `topk_per_group` is the shape).
    * Ties break by word so the boundary row is engine-stable.
    */
  def keywordsTopk(spark: SparkSession, dir: String): DataFrame = {
    val (tf, df_, nDocs) = termFrequencies(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("word"))
    tf.join(df_, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("word"),
        round(col("tf") * log(col("__n_docs") / col("df")), 6)
          .as("tfidf"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= KeywordsK)
      .select("doc_id", "rank", "word", "tfidf")
      .orderBy("doc_id", "rank")
  }

  val keywordsTopkSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM terms
       |       GROUP BY doc_id, word),
       |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       |scored AS (
       |  SELECT doc_id, tf.word AS word,
       |    round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 6)
       |      AS tfidf
       |  FROM tf JOIN df ON tf.word = df.word
       |)
       |SELECT doc_id, CAST(rank AS INTEGER) AS rank, word, tfidf FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY tfidf DESC, word) AS rank
       |  FROM scored)
       |WHERE rank <= $KeywordsK
       |ORDER BY doc_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "keywords_topk" -> keywordsTopk,
    "unicode_nfc" -> unicodeNfc,
    "vocab_build" -> vocabBuild,
    "tf_idf" -> tfIdf,
    "tfidf_cosine_pairs" -> tfidfCosinePairs,
    "drift_kl" -> driftKl,
    "drift_psi" -> driftPsi,
    "dedup_exact" -> dedupExact,
    "minhash_signatures" -> minhashSignaturesQ,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "source_overlap" -> sourceOverlap,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_pipeline" -> dedupPipeline,
    "dedup_clusters" -> dedupClusters,
    "dedup_keep_best" -> dedupKeepBest,
    "dedup_simhash" -> dedupSimhash,
    "simhash_buckets" -> simhashBuckets,
    "text_stats" -> textStatsQ,
    "fingerprint_rolling" -> fingerprintRolling,
    "winnow_fingerprints" -> winnowFingerprintsQ,
    "dedup_winnowing" -> dedupWinnowing,
    "cdc_chunk_dedup" -> cdcChunkDedup,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_clean" -> dedupSubstringClean,
    "lang_id" -> langId,
    "lang_id_multi" -> langIdMulti,
    "cjk_unsegmented" -> cjkUnsegmented,
    "lang_id_scripts" -> langIdScripts
  )

  val oracle: Map[String, String] = Map(
    "keywords_topk" -> keywordsTopkSql,
    "unicode_nfc" -> unicodeNfcSql,
    "vocab_build" -> vocabBuildSql,
    "tf_idf" -> tfIdfSql,
    "tfidf_cosine_pairs" -> tfidfCosinePairsSql,
    "drift_kl" -> driftKlSql,
    "drift_psi" -> driftPsiSql,
    "dedup_exact" -> dedupExactSql,
    "minhash_signatures" -> minhashSignaturesSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "source_overlap" -> sourceOverlapSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_pipeline" -> dedupPipelineSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "dedup_simhash" -> dedupSimhashSql,
    "simhash_buckets" -> simhashBucketsSql,
    "text_stats" -> textStatsSql,
    "fingerprint_rolling" -> fingerprintRollingSql,
    "winnow_fingerprints" -> winnowFingerprintsSql,
    "dedup_winnowing" -> dedupWinnowingSql,
    "cdc_chunk_dedup" -> cdcChunkDedupSql,
    "dedup_substring" -> dedupSubstringSql,
    "dedup_substring_clean" -> dedupSubstringCleanSql,
    "lang_id" -> langIdSql,
    "lang_id_multi" -> langIdMultiSql,
    "cjk_unsegmented" -> cjkUnsegmentedSql,
    "lang_id_scripts" -> langIdScriptsSql
  )
}
