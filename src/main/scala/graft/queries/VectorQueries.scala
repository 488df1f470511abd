package graft.queries

import graft.etl.Readers
import graft.ops.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table: brute-force cosine top-k
  * (the correctness baseline), an IVF-style partitioned search (the scale
  * path), and per-vector nearest-neighbor near-dup detection.
  */
object VectorQueries {

  // Query-batch and centroid-seed frames are filters on the UNIQUE
  // vec_id key, so `filter(vec_id < N)` yields at most N rows; the
  // `.limit(N)` that follows each such filter is a no-op by that
  // invariant, present to make the bound STRUCTURAL — PlanLint's
  // cardinality prover then certifies the broadcast sides of the ANN
  // cross joins as constant-bounded instead of taking it on allowlist.
  private val NumQueries = 5      // query set: vec_id < 5
  private val TopK = 10

  /** Default IVF / SemDeDup cluster count for the certified demo keys
    * (centroid seeds: vec_id < k). k is THE scale knob, not part of the
    * design: within-cluster pair work is ~Σ|cluster|² ≈ n²/k, so k must
    * grow with the corpus (SemDeDup, Abbas et al. 2023, uses k in the
    * tens of thousands at n ~ 10⁹; rule of thumb k ≈ n / ⟨target cluster
    * size⟩). Every operator below takes k as an argument —
    * [[semanticDedupK]] / [[annIvfK]] — and a second configuration is
    * certified end-to-end as `semantic_dedup_k64` (k=64 over the same
    * corpus), with `SemanticDedupScalingSpec` asserting the candidate
    * pair count actually drops as k grows. 8 is only the sf-demo default.
    */
  val NumCentroids = 8
  private val IvfK = 5

  /** DuckDB cosine between two embedding lists, in double. */
  private def cosSql(a: String, b: String): String =
    s"""list_dot_product($a.embedding::DOUBLE[], $b.embedding::DOUBLE[]) /
       |      (sqrt(list_dot_product($a.embedding::DOUBLE[], $a.embedding::DOUBLE[])) *
       |       sqrt(list_dot_product($b.embedding::DOUBLE[], $b.embedding::DOUBLE[])))""".stripMargin

  /** DuckDB twin of the IVF cell assignment: each embedding with its
    * nearest of the first `k` vectors (rounded cosine, ties by id).
    */
  private def assignedCte(k: Int): String =
    s"""assigned AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT v.vec_id, v.embedding, c.vec_id AS centroid_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${cosSql("v", "c")}, 6) DESC, c.vec_id) AS rn
       |    FROM embeddings v, embeddings c
       |    WHERE c.vec_id < $k)
       |  WHERE rn = 1
       |)""".stripMargin

  /** The first `k` vectors of `emb` as centroid seeds (`centroid_id`,
    * `c_emb`); `vec_id` is unique, so the limit only makes the bound
    * structural.
    */
  private def seeds(emb: DataFrame, k: Int): DataFrame =
    emb.filter(col("vec_id") < k).limit(k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))

  /** The IVF cells every IVF and SemDeDup key starts from: the
    * `(vec_id, embedding)` corpus, its first-`k` [[seeds]], and each
    * vector assigned to its nearest seed with its norm `_n`, pinned.
    * The pin exists because the queries and the candidates both embed
    * the assignment subtree (embeddings × centroids argmax); unpinned,
    * Spark computes it twice. localCheckpoint(false), NOT cache():
    * CacheManager matches by canonicalized plan, so a cache() here is
    * silently re-served to every later construction in the session and
    * the bench's min becomes a warm-cache figure (r16 ADVICE); the lazy
    * checkpoint is scoped to THIS instance — every fresh run recomputes,
    * within-query reuse only.
    */
  private def ivfCells(spark: SparkSession, dir: String, k: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = Readers.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val centroids = seeds(emb, k)
    val assigned = Vectors.assignToCentroids(emb, "vec_id", centroids)
      .withColumn("_n", Vectors.norm(col("embedding")))
      .localCheckpoint(false)
    (emb, centroids, assigned)
  }

  def annBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Readers.table(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < NumQueries).limit(NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    Vectors.bruteForceTopK(queries, emb.select("vec_id", "embedding"), TopK)
      .orderBy("query_id", "rank")
  }

  val annBruteforceSql: String =
    s"""SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |    round(${cosSql("q", "c")}, 6) AS cos,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${cosSql("q", "c")}, 6) DESC, c.vec_id) AS rank
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** IVF search: assign all vectors to their nearest of k centroids, then
    * answer each query inside its own centroid bucket only. k is the
    * probe-fraction dial (each query scans ~1/k of the corpus) — see the
    * [[NumCentroids]] scaling note.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfK(spark, dir, NumCentroids)

  def annIvfK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val (_, _, assigned) = ivfCells(spark, dir, k)
    val queries = assigned.filter(col("vec_id") < NumQueries).limit(NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"), col("_n").as("_qn"))
    val hits = queries.join(assigned.select(
        col("vec_id"), col("embedding"), col("centroid_id"), col("_n")),
      Seq("centroid_id"))
    Vectors.rankCandidates(hits, IvfK)
      .select("query_id", "centroid_id", "rank", "vec_id", "cos")
      .orderBy("query_id", "rank")
  }

  val annIvfSql: String = annIvfSqlK(NumCentroids)

  def annIvfSqlK(k: Int): String =
    s"""WITH ${assignedCte(k)}
       |SELECT query_id, centroid_id, rank, vec_id, cos FROM (
       |  SELECT q.vec_id AS query_id, q.centroid_id, x.vec_id AS vec_id,
       |    round(${cosSql("q", "x")}, 6) AS cos,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${cosSql("q", "x")}, 6) DESC, x.vec_id) AS rank
       |  FROM assigned q JOIN assigned x ON q.centroid_id = x.centroid_id
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rank <= $IvfK
       |ORDER BY query_id, rank""".stripMargin

  /** IVF with nprobe=2: each query probes its TWO nearest centroid buckets
    * instead of one — the standard recall/latency lever (recall loss of
    * single-probe IVF comes from neighbors landing just across a centroid
    * boundary; probing p buckets scans p/k of the corpus instead of 1/k).
    */
  def annIvfProbe2(spark: SparkSession, dir: String): DataFrame = {
    val (emb, centroids, assigned) = ivfCells(spark, dir, NumCentroids)
    // query-side: the 2 nearest centroids per query (shared probe operator)
    val qProbes = Vectors.centroidProbes(
        emb.filter(col("vec_id") < NumQueries).limit(NumQueries), "vec_id", centroids, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        Vectors.norm(col("embedding")).as("_qn"), col("centroid_id"))
    val hits = qProbes.join(
      assigned.select(col("vec_id"), col("embedding"), col("centroid_id"),
        col("_n")), Seq("centroid_id"))
    Vectors.rankCandidates(hits, IvfK)
      .select("query_id", "rank", "vec_id", "cos")
      .orderBy("query_id", "rank")
  }

  val annIvfProbe2Sql: String =
    s"""WITH ${assignedCte(NumCentroids)},
       |probes AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT v.vec_id, v.embedding, c.vec_id AS centroid_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${cosSql("v", "c")}, 6) DESC, c.vec_id) AS rn
       |    FROM embeddings v, embeddings c
       |    WHERE c.vec_id < $NumCentroids AND v.vec_id < $NumQueries)
       |  WHERE rn <= 2
       |)
       |SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT q.vec_id AS query_id, x.vec_id AS vec_id,
       |    round(${cosSql("q", "x")}, 6) AS cos,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${cosSql("q", "x")}, 6) DESC, x.vec_id) AS rank
       |  FROM probes q JOIN assigned x ON q.centroid_id = x.centroid_id)
       |WHERE rank <= $IvfK
       |ORDER BY query_id, rank""".stripMargin

  /** IVF search against the PERSISTED index ([[graft.ops.IvfIndex]]):
    * same answer as [[annIvf]] (same k, same nprobe=1, same oracle), but
    * the candidate side reads a parquet table physically partitioned by
    * `centroid_id` — and the probe JOIN on that partition column, with the
    * query side selectively filtered, plans a `dynamicpruning` subquery on
    * the index scan: ONLY the probed cells' directories are read. This is
    * the 100 TB ANN layout as an executed artifact, not prose: index once
    * (the write is the one full shuffle), then every probe is
    * query-side-tiny join + a scan of nprobe cells out of k.
    *
    * The index rows carry the precomputed norm (`_n`) so probes never
    * touch the raw corpus. The query vectors are read back from the index
    * itself (they're corpus members; the vec_id row-group filter handles
    * the lookup) — a production query set arrives as its own tiny frame.
    *
    * Plan pin: PlanShapeSpec asserts `dynamicpruning` inside the index
    * scan's `PartitionFilters`; IvfIndexSpec asserts probe == [[annIvf]]
    * row-for-row and that a static cell filter prunes too.
    *
    * EAGER BY NATURE: the first construction in a session writes the
    * index (memoized after — the shared-artifact accounting contract of
    * `sharedClusters`; `warm_cache_keys` flags the key in bench detail).
    */
  def annIvfPruned(spark: SparkSession, dir: String): DataFrame = {
    val emb = Readers.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val centroids = seeds(emb, NumCentroids)
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val path = graft.ops.IvfIndex.ensure(spark,
      s"${graft.SparkSessions.scratchDir()}/ivf/${tag}_k$NumCentroids",
      Vectors.assignToCentroids(emb, "vec_id", centroids)
        .withColumn("_n", Vectors.norm(col("embedding"))))
    // partition-column type inference reads centroid_id back as INT; the
    // join stays on the raw partition column (a cast on the join key
    // would hide it from partition pruning) and the cast to the oracle's
    // BIGINT happens in the final projection only
    val index = spark.read.parquet(path)
    // deliberately NO structural limit here (unlike the other query-batch
    // sites): this frame is the DPP probe side, and the PartitionPruning
    // rule refuses to plan the pruning subquery through a Limit — the
    // annotation would silently cost the scan its cell pruning
    // (IvfIndexSpec's runtime partition metrics would catch it). The
    // probe join is equi-keyed on centroid_id, so no nested-loop proof
    // is needed on this path.
    val queries = index.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("_n").as("_qn"), col("centroid_id"))
    val hits = index.select(col("vec_id"), col("embedding"), col("_n"),
        col("centroid_id"))
      .join(queries, Seq("centroid_id"))
    Vectors.rankCandidates(hits, IvfK)
      .select(col("query_id"), col("centroid_id").cast("long").as("centroid_id"),
        col("rank"), col("vec_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  // same answer as ann_ivf — the layout must not change results
  val annIvfPrunedSql: String = annIvfSqlK(NumCentroids)

  /** Near-dup by embedding cosine: each vector's nearest other vector.
    * Brute force here (N² scored pairs) — the IVF/LSH bucketing above is
    * the 100 TB path; this is the exact baseline it approximates.
    */
  def embeddingNeardup(spark: SparkSession, dir: String): DataFrame = {
    // O(N²·d) dot products are the irreducible brute-force cost (IVF/LSH
    // bucketing is the 100 TB path); the plan shape — encoded-long max
    // aggregation, not a window sort — is what keeps the shuffle O(N). See
    // [[Vectors.nearestNeighborExact]].
    val emb = Readers.table(spark, dir, "embeddings").select("vec_id", "embedding")
    Vectors.nearestNeighborExact(emb, "vec_id")
      .orderBy("vec_id")
  }

  val embeddingNeardupSql: String =
    s"""SELECT vec_id, nn_id, cos AS nn_cos FROM (
       |  SELECT a.vec_id, b.vec_id AS nn_id,
       |    round(${cosSql("a", "b")}, 6) AS cos,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY round(${cosSql("a", "b")}, 6) DESC, b.vec_id) AS rn
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
       |WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  /** Hyperplane count for the sign-LSH signature — the recall/latency
    * dial: buckets hold ~2^-planes of the corpus, and two vectors at
    * cosine angle θ collide with probability (1 − θ/π)^planes. 8 planes
    * ≈ 256 buckets suits this 2k-vector demo corpus (~8 vectors/bucket);
    * at production scale pick planes ≈ log2(n / target-bucket-size) —
    * like [[NumCentroids]], a knob that grows with n, not a design
    * constant.
    */
  private val LshPlanes = 8

  /** Embedding dimensionality of the testdata corpus (schema-fixed). */
  private val Dim = 64

  /** DuckDB ±1 hyperplane-j component list, mirroring
    * [[Vectors.hyperplaneSigns]] (md5("j|d") parity).
    */
  private def hpSql(j: Int): String =
    s"""list_transform(range(0, $Dim), d ->
       |      CASE WHEN ('0x' || substr(md5('$j|' || d::VARCHAR), 1, 8))::BIGINT % 2 = 0
       |           THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)""".stripMargin

  private def lshSigCte: String = {
    val bits = (0 until LshPlanes)
      .map(j => s"""CASE WHEN list_dot_product(embedding::DOUBLE[],
                   |    ${hpSql(j)}) > 0.0::DOUBLE THEN ${1L << j} ELSE 0 END""".stripMargin)
      .mkString("\n    + ")
    s"""lsig AS (
       |  SELECT vec_id, embedding, CAST($bits AS BIGINT) AS sig
       |  FROM embeddings
       |)""".stripMargin
  }

  /** LSH bucket map: signature → bucket population (only multi-member
    * buckets — the near-dup candidate groups). Linear output like
    * `simhash_buckets`; pair expansion happens per-bucket downstream.
    */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val emb = Readers.table(spark, dir, "embeddings").select("vec_id", "embedding")
    Readers.fanOut(emb)
      .withColumn("sig", Vectors.lshSignature(col("embedding"), LshPlanes, Dim))
      .groupBy("sig")
      .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("first_vec"))
      .filter(col("n_vecs") > 1)
      .orderBy("sig")
  }

  val annLshBucketsSql: String =
    s"""WITH ${lshSigCte}
       |SELECT sig, count(*) AS n_vecs, min(vec_id) AS first_vec
       |FROM lsig GROUP BY sig HAVING count(*) > 1
       |ORDER BY sig""".stripMargin

  /** LSH-bucketed ANN probe: each query scans ONLY its signature bucket
    * (hash equi-join on the signature), then exact cosine ranks the
    * candidates. The bucket-scan fraction is ~2^-planes of the corpus —
    * the recall/latency dial is the number of planes (fewer planes =
    * bigger buckets = higher recall).
    */
  def annLshProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Readers.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val sigs = Readers.fanOut(emb)
      .withColumn("sig", Vectors.lshSignature(col("embedding"), LshPlanes, Dim))
      .withColumn("_n", Vectors.norm(col("embedding")))
    val qs = sigs.filter(col("vec_id") < NumQueries).limit(NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("_n").as("_qn"), col("sig"))
    Vectors.rankCandidates(
        qs.join(sigs, Seq("sig")).filter(col("vec_id") =!= col("query_id")),
        IvfK)
      .select("query_id", "rank", "vec_id", "cos")
      .orderBy("query_id", "rank")
  }

  val annLshProbeSql: String =
    s"""WITH ${lshSigCte}
       |SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT q.vec_id AS query_id, x.vec_id AS vec_id,
       |    round(${cosSql("q", "x")}, 6) AS cos,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${cosSql("q", "x")}, 6) DESC, x.vec_id) AS rank
       |  FROM lsig q JOIN lsig x ON q.sig = x.sig AND x.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rank <= $IvfK
       |ORDER BY query_id, rank""".stripMargin

  /** Near-duplicate cosine threshold τ. 0.45 is tuned to THIS synthetic
    * corpus (random embeddings with planted near-identical twins — the
    * twins score ≫ 0.45, unrelated pairs ≪ 0.45, so the demo keys
    * separate cleanly). Real text-embedding dedup (SemDeDup) runs τ in
    * the 0.95–0.999 range on normalized model embeddings; τ shifts the
    * precision/recall trade only — every plan shape here is
    * τ-independent.
    */
  val NeardupCos = 0.45

  /** Embedding near-duplicate pairs at scale
    * ([[Vectors.lshNeardupPairs]]): same-signature candidate pairs with
    * exact cosine, flagged at the near-dup threshold. This is the
    * embedding-dedup DECISION operator — `embedding_neardup` is its exact
    * O(N²) recall baseline, this is the linear-ish shape that ships.
    */
  def embeddingNeardupLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Readers.fanOut(
      Readers.table(spark, dir, "embeddings").select("vec_id", "embedding"))
    Vectors.lshNeardupPairs(emb, "vec_id", LshPlanes, Dim)
      .withColumn("near_dup", col("cos") >= lit(NeardupCos))
      .orderBy("vec_a", "vec_b")
  }

  val embeddingNeardupLshSql: String =
    s"""WITH ${lshSigCte}
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(${cosSql("a", "b")}, 6) AS cos,
       |  round(${cosSql("a", "b")}, 6) >= $NeardupCos::DOUBLE AS near_dup
       |FROM lsig a JOIN lsig b ON a.sig = b.sig AND a.vec_id < b.vec_id
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Recall@k of every ANN index against the brute-force ground truth —
    * THE number a user tunes nprobe / plane count by. One row per query:
    * hit counts and recall for IVF (nprobe=1), IVF (nprobe=2), and the
    * LSH-bucket probe.
    *
    * Convention: each method is judged against ground truth under its own
    * candidate rules. IVF searches include the query vector itself (it is
    * assigned like any corpus vector), so their truth is the brute-force
    * top-k as-is; the LSH probe excludes self matches, so its truth is the
    * top-k among OTHER vectors (self need not be rank 1 when an identical
    * twin with a lower id exists — hence the re-rank, not `rank-1`).
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bf = annBruteforce(spark, dir)
    val truthIncl = bf.filter(col("rank") <= IvfK).select("query_id", "vec_id")
    val truthExcl = bf.filter(col("vec_id") =!= col("query_id"))
      .withColumn("_r", row_number().over(
        Window.partitionBy("query_id").orderBy("rank")))
      .filter(col("_r") <= IvfK)
      .select("query_id", "vec_id")
    def hitCount(method: DataFrame, truth: DataFrame, as: String): DataFrame =
      method.select("query_id", "vec_id")
        .join(truth, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as(as))
    val qs = bf.select("query_id").distinct()
    qs.join(hitCount(annIvf(spark, dir), truthIncl, "ivf_hits"),
        Seq("query_id"), "left")
      .join(hitCount(annIvfProbe2(spark, dir), truthIncl, "ivf2_hits"),
        Seq("query_id"), "left")
      .join(hitCount(annLshProbe(spark, dir), truthExcl, "lsh_hits"),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("ivf_hits"), lit(0L)).as("ivf_hits"),
        coalesce(col("ivf2_hits"), lit(0L)).as("ivf2_hits"),
        coalesce(col("lsh_hits"), lit(0L)).as("lsh_hits"))
      .withColumn("ivf_recall", round(col("ivf_hits") / lit(IvfK.toDouble), 6))
      .withColumn("ivf2_recall", round(col("ivf2_hits") / lit(IvfK.toDouble), 6))
      .withColumn("lsh_recall", round(col("lsh_hits") / lit(IvfK.toDouble), 6))
      .orderBy("query_id")
  }

  val annRecallSql: String =
    s"""WITH bf AS ($annBruteforceSql),
       |ivf AS ($annIvfSql),
       |ivf2 AS ($annIvfProbe2Sql),
       |lsh AS ($annLshProbeSql),
       |truth_incl AS (SELECT query_id, vec_id FROM bf WHERE rank <= $IvfK),
       |truth_excl AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY rank) AS r
       |    FROM bf WHERE vec_id <> query_id)
       |  WHERE r <= $IvfK
       |),
       |h1 AS (SELECT query_id, count(*) AS h FROM ivf
       |       JOIN truth_incl USING (query_id, vec_id) GROUP BY query_id),
       |h2 AS (SELECT query_id, count(*) AS h FROM ivf2
       |       JOIN truth_incl USING (query_id, vec_id) GROUP BY query_id),
       |h3 AS (SELECT query_id, count(*) AS h FROM lsh
       |       JOIN truth_excl USING (query_id, vec_id) GROUP BY query_id)
       |SELECT q.query_id,
       |  CAST(coalesce(h1.h, 0) AS BIGINT) AS ivf_hits,
       |  CAST(coalesce(h2.h, 0) AS BIGINT) AS ivf2_hits,
       |  CAST(coalesce(h3.h, 0) AS BIGINT) AS lsh_hits,
       |  round(coalesce(h1.h, 0) / ${IvfK.toDouble}::DOUBLE, 6) AS ivf_recall,
       |  round(coalesce(h2.h, 0) / ${IvfK.toDouble}::DOUBLE, 6) AS ivf2_recall,
       |  round(coalesce(h3.h, 0) / ${IvfK.toDouble}::DOUBLE, 6) AS lsh_recall
       |FROM (SELECT DISTINCT query_id FROM bf) q
       |LEFT JOIN h1 USING (query_id)
       |LEFT JOIN h2 USING (query_id)
       |LEFT JOIN h3 USING (query_id)
       |ORDER BY query_id""".stripMargin

  val PqSubspaces = 4
  val PqCodebook = 4

  /** Product-quantization codes + per-subspace squared residual
    * ([[Vectors.pqAssign]]): 64 floats → 4 codebook ids per vector, the
    * memory-compression layer an IVF-PQ index stores instead of raw
    * vectors.
    */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    Vectors.pqAssign(
        Readers.fanOut(Readers.table(spark, dir, "embeddings")
          .select("vec_id", "embedding")),
        "vec_id", PqSubspaces, PqCodebook, Dim)
      .orderBy("vec_id", "sub")

  /** DuckDB twin of the PQ split: the subspace ids `subs`, every vector's
    * sub-slices `parts` (`sv`) and the first-[[PqCodebook]] vectors'
    * codewords `cents` (`cv`).
    */
  private def pqPartsCtes: String = {
    val subDim = Dim / PqSubspaces
    s"""subs AS (SELECT unnest(range($PqSubspaces)) AS sub),
       |parts AS (
       |  SELECT vec_id, sub,
       |    list_slice(embedding, sub * $subDim + 1,
       |      sub * $subDim + $subDim)::DOUBLE[] AS sv
       |  FROM embeddings, subs
       |),
       |cents AS (
       |  SELECT vec_id AS code, sub,
       |    list_slice(embedding, sub * $subDim + 1,
       |      sub * $subDim + $subDim)::DOUBLE[] AS cv
       |  FROM embeddings, subs WHERE vec_id < $PqCodebook
       |)""".stripMargin
  }

  val pqCodesSql: String = {
    def dotSql(a: String, b: String) = s"list_dot_product($a, $b)"
    s"""WITH ${pqPartsCtes},
       |scored AS (
       |  SELECT p.vec_id, p.sub, c.code,
       |    round(${dotSql("p.sv", "p.sv")} - 2.0::DOUBLE * ${dotSql("p.sv", "c.cv")}
       |      + ${dotSql("c.cv", "c.cv")}, 6) AS err2,
       |    row_number() OVER (PARTITION BY p.vec_id, p.sub
       |      ORDER BY round(${dotSql("p.sv", "p.sv")}
       |        - 2.0::DOUBLE * ${dotSql("p.sv", "c.cv")}
       |        + ${dotSql("c.cv", "c.cv")}, 6), c.code) AS rn
       |  FROM parts p JOIN cents c USING (sub)
       |)
       |SELECT vec_id, sub, code, err2 FROM scored WHERE rn = 1
       |ORDER BY vec_id, sub""".stripMargin
  }

  val PqRerank = 10

  /** IVF-PQ — the production ANN index composition, end-to-end: IVF
    * restricts each query to its centroid cell, PQ codes stand in for
    * the raw vectors during candidate scoring (asymmetric distance:
    * query full-precision, candidates reconstructed from their m
    * codebook entries), and only the top-[[PqRerank]] shortlist touches
    * raw embeddings for the exact cosine re-rank. This is the memory
    * story that makes billion-vector search fit RAM: the scan-resident
    * index is (centroid_id, m codes, norm) per vector — here
    * 4 codes + 1 norm ≈ 12 bytes vs 256 bytes of floats — and the raw
    * corpus is only random-accessed for k·queries rows.
    *
    * Plan shape: assignment + codes reuse the certified `ann_ivf` /
    * `pq_codes` subtrees; the codeword table (m·k rows) broadcasts BY
    * DEFINITION of PQ; reconstruction is one hash-aggregate per
    * candidate (collect m sub-slices, sub-ordered — deterministic);
    * the ADC score is ONE sequential-fold dot against the
    * reconstruction (bit-identical in both engines, no
    * order-of-summation hazard); shortlist and re-rank are per-query
    * windows the optimizer prunes with WindowGroupLimit.
    *
    * Ranking contract matches the family: scores rounded to 6, ties by
    * vec_id; approx cosine normalizes by the TRUE stored norm (an
    * IVF-PQ index stores it for exactly this).
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (emb, _, assigned) = ivfCells(spark, dir, NumCentroids)
    val subDim = Dim / PqSubspaces
    val codes = Vectors.pqAssign(Readers.fanOut(emb), "vec_id",
        PqSubspaces, PqCodebook, Dim)
      .select("vec_id", "sub", "code")
    val codewords = emb.filter(col("vec_id") < PqCodebook)
      .select(col("vec_id").as("code"),
        posexplode(array((0 until PqSubspaces).map(s =>
          slice(col("embedding"), s * subDim + 1, subDim)): _*))
          .as(Seq("sub", "cv")))
    // decode: concat the m codewords in sub order — the PQ reconstruction
    val recon = codes.join(broadcast(codewords), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("cv")))),
        x => x.getField("cv"))).as("recon"))
    val queries = assigned.filter(col("vec_id") < NumQueries).limit(NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("_n").as("_qn"), col("centroid_id"))
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("approx_cos").desc, col("vec_id"))
    val shortlist = queries
      .join(assigned.select(col("vec_id"), col("centroid_id"), col("_n")),
        Seq("centroid_id"))
      .join(recon, Seq("vec_id"))
      .withColumn("approx_cos", round(Vectors.safeDiv(
        Vectors.dot(col("q_emb"), col("recon")),
        col("_qn") * col("_n")), 6))
      .withColumn("_arn", row_number().over(wApprox))
      .filter(col("_arn") <= PqRerank)
    // exact re-rank touches raw embeddings for the shortlist ONLY
    val hits = shortlist
      .select("query_id", "q_emb", "_qn", "vec_id", "approx_cos")
      .join(emb.withColumn("_n", Vectors.norm(col("embedding"))), Seq("vec_id"))
    Vectors.rankCandidates(hits, IvfK)
      .select("query_id", "rank", "vec_id", "cos", "approx_cos")
      .orderBy("query_id", "rank")
  }

  val annIvfPqSql: String =
    s"""WITH ${assignedCte(NumCentroids)},
       |${pqPartsCtes},
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT p.vec_id, p.sub, c.code,
       |      row_number() OVER (PARTITION BY p.vec_id, p.sub
       |        ORDER BY round(list_dot_product(p.sv, p.sv)
       |          - 2.0::DOUBLE * list_dot_product(p.sv, c.cv)
       |          + list_dot_product(c.cv, c.cv), 6), c.code) AS rn
       |    FROM parts p JOIN cents c USING (sub))
       |  WHERE rn = 1
       |),
       |recon AS (
       |  SELECT codes.vec_id, flatten(list(cv ORDER BY codes.sub)) AS recon
       |  FROM codes JOIN cents ON cents.sub = codes.sub
       |    AND cents.code = codes.code
       |  GROUP BY codes.vec_id
       |),
       |shortlist AS (
       |  SELECT query_id, vec_id, q_emb, qn, approx_cos FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS vec_id,
       |      q.embedding AS q_emb,
       |      sqrt(list_dot_product(q.embedding::DOUBLE[],
       |        q.embedding::DOUBLE[])) AS qn,
       |      round(list_dot_product(q.embedding::DOUBLE[], r.recon) /
       |        (sqrt(list_dot_product(q.embedding::DOUBLE[],
       |           q.embedding::DOUBLE[])) *
       |         sqrt(list_dot_product(x.embedding::DOUBLE[],
       |           x.embedding::DOUBLE[]))), 6) AS approx_cos,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.embedding::DOUBLE[], r.recon) /
       |          (sqrt(list_dot_product(q.embedding::DOUBLE[],
       |             q.embedding::DOUBLE[])) *
       |           sqrt(list_dot_product(x.embedding::DOUBLE[],
       |             x.embedding::DOUBLE[]))), 6) DESC, x.vec_id) AS arn
       |    FROM assigned q
       |    JOIN assigned x ON q.centroid_id = x.centroid_id
       |    JOIN recon r ON r.vec_id = x.vec_id
       |    WHERE q.vec_id < $NumQueries)
       |  WHERE arn <= $PqRerank
       |)
       |SELECT query_id, rank, vec_id, cos, approx_cos FROM (
       |  SELECT s.query_id, s.vec_id, s.approx_cos,
       |    round(list_dot_product(s.q_emb::DOUBLE[], e.embedding::DOUBLE[]) /
       |      (s.qn * sqrt(list_dot_product(e.embedding::DOUBLE[],
       |         e.embedding::DOUBLE[]))), 6) AS cos,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY round(list_dot_product(s.q_emb::DOUBLE[], e.embedding::DOUBLE[]) /
       |        (s.qn * sqrt(list_dot_product(e.embedding::DOUBLE[],
       |           e.embedding::DOUBLE[]))), 6) DESC, s.vec_id) AS rank
       |  FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id)
       |WHERE rank <= $IvfK
       |ORDER BY query_id, rank""".stripMargin

  /** Per-label centroid (element-wise mean, components rounded to 6 so
    * downstream dot products run on identical inputs in both engines) and
    * the pairwise cosine similarity between centroids — the
    * cluster-quality readout after any labeling/IVF pass. The centroid is
    * kept as a COMPONENT table (label, dim, v): the pairwise cosine is
    * then one equi-join on the dim key + an aggregate — no array rebuild,
    * and the same shape scales to centroid counts where the pairwise
    * matrix itself must be distributed.
    */
  def centroidSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val comp = Readers.table(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), (col("pos") + 1).as("i"))
      .agg(round(avg(col("col").cast("double")), 6).as("v"))
    val a = comp.as("a"); val b = comp.as("b")
    a.join(b, col("a.i") === col("b.i") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(col("a.v") * col("b.v")).as("dot"),
        sqrt(sum(col("a.v") * col("a.v"))).as("na"),
        sqrt(sum(col("b.v") * col("b.v"))).as("nb"))
      .select(col("label_a"), col("label_b"),
        round(col("dot") / (col("na") * col("nb")), 6).as("cos"))
      .orderBy("label_a", "label_b")
  }

  val centroidSimilaritySql: String =
    """WITH comp AS (
      |  SELECT label, i, round(avg(embedding[i]::DOUBLE), 6) AS v
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
      |  GROUP BY label, i
      |),
      |p AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |    sum(a.v * b.v) AS dot,
      |    sqrt(sum(a.v * a.v)) AS na, sqrt(sum(b.v * b.v)) AS nb
      |  FROM comp a JOIN comp b ON a.i = b.i AND a.label < b.label
      |  GROUP BY 1, 2
      |)
      |SELECT label_a, label_b, round(dot / (na * nb), 6) AS cos
      |FROM p ORDER BY label_a, label_b""".stripMargin

  /** Int8 scalar quantization of every embedding: per-vector code sum
    * (the checksum-style compact output) and reconstruction SSE.
    */
  def sqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Vectors.scalarQuantize(
        Readers.fanOut(Readers.table(spark, dir, "embeddings")
          .select("vec_id", "embedding")),
        "vec_id")
      .orderBy("vec_id")

  val sqCodesSql: String =
    """WITH comp AS (
      |  SELECT vec_id, i, embedding[i]::DOUBLE AS v
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
      |),
      |stats AS (SELECT i, min(v) AS lo, max(v) AS hi FROM comp GROUP BY i),
      |c AS (
      |  SELECT vec_id, v, lo, hi,
      |    CASE WHEN hi - lo > 0
      |      THEN round((v - lo) / (hi - lo) * 255.0)
      |      ELSE 0.0 END AS code
      |  FROM comp JOIN stats USING (i)
      |)
      |SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
      |  round(sum((v - (lo + code / 255.0 * (hi - lo))) *
      |            (v - (lo + code / 255.0 * (hi - lo)))), 10) AS sse
      |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Lloyd refinement rounds for [[kmeansRefine]] (fixed plan-time
    * constant — construction stays job-free; see
    * [[graft.ops.Vectors.kmeansLloyd]]).
    */
  val KmeansIters = 2

  /** K-means over the embedding corpus: deterministic init (the first
    * [[NumCentroids]] vectors — the same seed IVF uses), [[KmeansIters]]
    * Lloyd rounds of rounded-cosine assignment + per-dimension mean
    * (means rounded at 1e-9 so the engine-order-dependent double sums
    * agree), then per-cluster membership stats against the refined
    * centroids. The DuckDB oracle replays every round — assignments,
    * means, and the final stats must ALL agree for the hashes to match.
    */
  def kmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Readers.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val init = emb.filter(col("vec_id") < NumCentroids).limit(NumCentroids)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").cast("array<double>").as("c_emb"))
    val cents = Vectors.kmeansLloyd(emb, "vec_id", init, KmeansIters,
      maxCentroids = NumCentroids)
    Vectors.nearestCentroid(emb, "vec_id", cents)
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("_cos")), 6).as("mean_cos"),
        round(min(col("_cos")), 6).as("min_cos"))
      .orderBy("centroid_id")
  }

  val kmeansRefineSql: String = {
    // cosine of data vector v against refined centroid list c.c_emb
    def cosVC: String =
      """list_dot_product(v.embedding::DOUBLE[], c.c_emb) /
        |      (sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(c.c_emb, c.c_emb)))""".stripMargin
    val rounds = (1 to KmeansIters).map { i =>
      s""",
         |a$i AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT v.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY round($cosVC, 6) DESC, c.centroid_id) AS rn
         |    FROM embeddings v, c${i - 1} c)
         |  WHERE rn = 1
         |),
         |m$i AS (
         |  SELECT centroid_id, pos, round(avg(val), 9) AS m FROM (
         |    SELECT a.centroid_id, unnest(v.embedding::DOUBLE[]) AS val,
         |      unnest(range(1, len(v.embedding) + 1)) AS pos
         |    FROM a$i a JOIN embeddings v USING (vec_id))
         |  GROUP BY 1, 2
         |),
         |c$i AS (
         |  SELECT c.centroid_id, coalesce(l.c_emb, c.c_emb) AS c_emb
         |  FROM c${i - 1} c LEFT JOIN (
         |    SELECT centroid_id, list(m ORDER BY pos) AS c_emb
         |    FROM m$i GROUP BY 1) l USING (centroid_id)
         |)""".stripMargin
    }.mkString
    s"""WITH c0 AS (
       |  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS c_emb
       |  FROM embeddings WHERE vec_id < $NumCentroids
       |)$rounds,
       |fin AS (
       |  SELECT vec_id, centroid_id, cos FROM (
       |    SELECT v.vec_id, c.centroid_id, round($cosVC, 6) AS cos,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round($cosVC, 6) DESC, c.centroid_id) AS rn
       |    FROM embeddings v, c$KmeansIters c)
       |  WHERE rn = 1
       |)
       |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members,
       |  round(avg(cos), 6) AS mean_cos, round(min(cos), 6) AS min_cos
       |FROM fin GROUP BY 1 ORDER BY centroid_id""".stripMargin
  }


  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * corpus (the IVF centroid assignment, reused), then find near-dup
    * pairs ONLY within clusters — at k clusters the pair work drops to
    * ~1/k of all-pairs while catching the same semantic duplicates,
    * because near-identical embeddings land in the same cell. Each
    * emitted row is a dedup decision: `drop_id` is removed because it is
    * ≥ τ cosine-similar to the lower-id `keep_id` in its cluster. The
    * cross-cluster recall loss at boundaries is the documented trade
    * (same knob as `ann_ivf` vs `ann_ivf_nprobe2`).
    *
    * k (cluster count) is an argument, certified at TWO settings —
    * `semantic_dedup` (k=8) and `semantic_dedup_k64` (k=64) — because the
    * within-cluster pair stage is ~n²/k at fixed k: k must scale with the
    * corpus for the linear-ish framing to hold (see [[NumCentroids]]).
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupK(spark, dir, NumCentroids)

  def semanticDedupK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val (_, _, assigned) = ivfCells(spark, dir, k)
    val a = assigned.select(col("centroid_id"), col("vec_id").as("keep_id"),
      col("embedding").as("e_a"), col("_n").as("n_a"))
    val b = assigned.select(col("centroid_id"), col("vec_id").as("drop_id"),
      col("embedding").as("e_b"), col("_n").as("n_b"))
    a.join(b, Seq("centroid_id"))
      .where(col("keep_id") < col("drop_id"))
      .withColumn("cos", round(Vectors.safeDiv(
        Vectors.dot(col("e_a"), col("e_b")), col("n_a") * col("n_b")), 6))
      .where(col("cos") >= NeardupCos)
      .select("centroid_id", "keep_id", "drop_id", "cos")
      .orderBy("centroid_id", "keep_id", "drop_id")
  }

  val semanticDedupSql: String = semanticDedupSqlK(NumCentroids)

  def semanticDedupSqlK(k: Int): String =
    s"""WITH ${assignedCte(k)}
       |SELECT q.centroid_id, q.vec_id AS keep_id, x.vec_id AS drop_id,
       |  round(${cosSql("q", "x")}, 6) AS cos
       |FROM assigned q JOIN assigned x
       |  ON q.centroid_id = x.centroid_id AND q.vec_id < x.vec_id
       |WHERE round(${cosSql("q", "x")}, 6) >= $NeardupCos
       |ORDER BY q.centroid_id, keep_id, drop_id""".stripMargin

  /** The second certified k for the SemDeDup family — same corpus, 8×
    * more clusters, so the within-cluster candidate-pair stage shrinks
    * ~8× (SemanticDedupScalingSpec asserts the drop). Green at both k's
    * proves the knob, not just the shape, works.
    */
  val ScaledCentroids = 64

  /** Hard cap on the per-cluster sample size — scale insurance, not a
    * tuning knob. The sqrt quota is data-dependent, so the window filter
    * `rn <= ceil(sqrt(c_cnt))` alone cannot be planned as a group limit;
    * filtering `rn <= SampleCap` FIRST (a literal, directly above the
    * window) lets `InferWindowGroupLimit` put a partial WindowGroupLimit
    * below the exchange — a pathological hot cluster ships at most
    * SampleCap rows per map partition instead of its full membership,
    * the same structural guard keep-first dedup pins (DedupSkewPlanSpec).
    */
  val SampleCap = 64

  /** Cluster-balanced diversity sample — the data-curation move that keeps
    * a pretraining corpus from being dominated by its densest semantic
    * region (web boilerplate, near-identical templates). Standard recipe
    * (DoReMi/D4-adjacent): cluster the embedding space, then sample each
    * cluster with a SUBLINEAR quota — here ceil(sqrt(|cluster|)) — so rare
    * clusters keep proportionally more of their mass ("temperature
    * flattening" on the semantic axis, the twin of `domain_temperature`
    * on the metadata axis).
    *
    * Determinism: the within-cluster sample ranks by md5(vec_id) — a
    * reproducible uniform order any engine can replay (same device as
    * `global_shuffle`), not rand(). Plan shape: one broadcast-assign pass
    * (shared with the IVF family), ONE hash exchange on centroid_id for
    * the ranking window (the quota aggregate rides the same exchange
    * grain), and the literal [[SampleCap]] pre-filter keeps hot clusters
    * bounded below the shuffle.
    */
  def sampleClusterBalanced(spark: SparkSession, dir: String): DataFrame = {
    val emb = Readers.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val centroids = seeds(emb, NumCentroids)
    // pinned (instance-scoped, not cache() — see ivfCells' note): the
    // ranking window and the quota aggregate both embed this assignment
    // subtree (embeddings × centroids argmax)
    val assigned = Vectors.assignToCentroids(emb, "vec_id", centroids)
      .select("vec_id", "centroid_id")
      .localCheckpoint(false)
    val w = Window.partitionBy("centroid_id")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val ranked = assigned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SampleCap) // literal first → partial group limit
    val quota = assigned.groupBy("centroid_id")
      .agg(count(lit(1)).as("c_cnt"))
    ranked.join(broadcast(quota), Seq("centroid_id"))
      .filter(col("rn") <= ceil(sqrt(col("c_cnt"))))
      .select("centroid_id", "rn", "vec_id", "c_cnt")
      .orderBy("centroid_id", "rn")
  }

  val sampleClusterBalancedSql: String =
    s"""WITH assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT v.vec_id, c.vec_id AS centroid_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${cosSql("v", "c")}, 6) DESC, c.vec_id) AS rn
       |    FROM embeddings v, embeddings c
       |    WHERE c.vec_id < $NumCentroids)
       |  WHERE rn = 1
       |),
       |quota AS (SELECT centroid_id, count(*) AS c_cnt FROM assigned GROUP BY 1),
       |ranked AS (
       |  SELECT centroid_id, vec_id,
       |    row_number() OVER (PARTITION BY centroid_id
       |      ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
       |  FROM assigned)
       |SELECT r.centroid_id, r.rn, r.vec_id, q.c_cnt
       |FROM ranked r JOIN quota q USING (centroid_id)
       |WHERE r.rn <= $SampleCap AND r.rn <= ceil(sqrt(q.c_cnt))
       |ORDER BY centroid_id, rn""".stripMargin

  /** Embedding-quality outlier report — the corrupt-vector detector a
    * pipeline runs before trusting an embedding table (failed inference,
    * zero padding, wrong-model rows land far from every centroid): per
    * cluster, the `OutlierK` members FARTHEST from their own centroid,
    * with the within-cluster z-score of their cosine. Rank-based rather
    * than thresholded (bottom-k by rounded cosine, vec_id tie-break), so
    * there is no engine-boundary flip on a z cutoff; the z column prices
    * each candidate for the human reading the report. Scale shape: one
    * broadcast assignment, a k-row stats aggregate broadcast back, ONE
    * hash exchange on centroid_id for the ranking window.
    */
  val OutlierK = 3

  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Readers.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val centroids = seeds(emb, NumCentroids)
    // pinned (r17): the per-cluster stats aggregate and the ranking
    // window both consume this frame — without the pin the corpus ×
    // centroids argmax cross join ran twice. (centroid, vec, cos) is
    // per-vector metadata. Lazy.
    val withCos = Vectors.assignToCentroids(emb, "vec_id", centroids)
      .join(broadcast(centroids), Seq("centroid_id"))
      .withColumn("cos", round(Vectors.safeDiv(
        Vectors.dot(col("embedding"), col("c_emb")),
        Vectors.norm(col("embedding")) * Vectors.norm(col("c_emb"))), 6))
      .select("centroid_id", "vec_id", "cos")
      .localCheckpoint(false)
    // m/sd are rounded BEFORE the division: float sums inside avg/stddev
    // are order-dependent at ulp level across engines, so the z quotient
    // must divide identical rounded operands (same exactness argument as
    // source_overlap's est_sim) or round(z, 6) can flip its last digit
    val stats = withCos.groupBy("centroid_id")
      .agg(round(avg("cos"), 6).as("m"),
        round(stddev_samp(col("cos")), 6).as("sd"))
    val w = Window.partitionBy("centroid_id").orderBy(col("cos"), col("vec_id"))
    withCos.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= OutlierK)
      .join(broadcast(stats), Seq("centroid_id"))
      .withColumn("z",
        when(col("sd") > 0, round((col("cos") - col("m")) / col("sd"), 6)))
      .select("centroid_id", "rn", "vec_id", "cos", "z")
      .orderBy("centroid_id", "rn")
  }

  val embeddingOutliersSql: String =
    s"""WITH ${assignedCte(NumCentroids)},
       |wc AS (
       |  SELECT a.centroid_id, a.vec_id, round(${cosSql("a", "c")}, 6) AS cos
       |  FROM assigned a JOIN embeddings c ON c.vec_id = a.centroid_id
       |),
       |st AS (SELECT centroid_id, round(avg(cos), 6) AS m,
       |              round(stddev_samp(cos), 6) AS sd
       |       FROM wc GROUP BY 1),
       |rk AS (
       |  SELECT centroid_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY centroid_id
       |      ORDER BY cos, vec_id) AS rn
       |  FROM wc)
       |SELECT r.centroid_id, r.rn, r.vec_id, r.cos,
       |  CASE WHEN s.sd > 0 THEN round((r.cos - s.m) / s.sd, 6) END AS z
       |FROM rk r JOIN st s USING (centroid_id)
       |WHERE r.rn <= $OutlierK
       |ORDER BY centroid_id, rn""".stripMargin

  /** Cosine bar for [[decontaminateSemantic]]: the paraphrase band. The
    * driver corpus's honest cross-source cosines top out near 0.5 (no
    * real semantic twins of src0 exist in synthetic data), so the key
    * PLANTS contamination deterministically inside the query — the same
    * device as `pii_redact`'s injected spans: corpus docs with
    * `vec_id % 11 == 3` get their embedding replaced by a paraphrase of
    * a benchmark vector (`bench + 0.05·own`, elementwise double), so the
    * oracle genuinely checks the detection path, not a no-op pass. The
    * planted cosines land ≥ 0.99; honest pairs stay below 0.5 — no
    * engine-boundary flip risk at the 0.9 bar.
    */
  val SemanticContamCos = 0.9

  /** Embedding-grain benchmark decontamination — the paraphrase-level
    * complement of the span-grain `decontaminate` /
    * `decontaminate_spans` family ([[CurationQueries]]): exact n-gram
    * overlap catches verbatim benchmark leakage, but a PARAPHRASED eval
    * item shares no 8-token span — only its embedding stays close. The
    * recipe composes the existing IVF cell machinery with the src0
    * "benchmark" set (same convention as `decontaminate`): assign
    * benchmark and corpus vectors to cells
    * ([[Vectors.nearestCentroid]], rounded-cosine argmax, broadcast
    * centroids), hash-join ONLY within cells (bench side broadcast —
    * benchmark suites are small by nature), flag corpus docs whose
    * rounded cosine to any benchmark item clears
    * [[SemanticContamCos]], and report PER-SOURCE contamination counts
    * (the ops view: which crawl source is leaking eval data). Never
    * all-pairs: candidates are bounded by cell co-membership, the same
    * recall-at-boundary trade `semantic_dedup` documents; k scales with
    * the corpus (see [[NumCentroids]]).
    */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    val emb = Readers.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val docs = Readers.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    // pinned (instance-scoped, not cache() — see ivfCells' note; the
    // never-unpersisted cache() here was the r16 ADVICE warm-cache
    // finding): bench, the plant, and the per-source totals all embed
    // this two-table equi-join subtree
    val joined = emb.join(docs, col("vec_id") === col("doc_id"))
      .select("vec_id", "source", "emb")
      .localCheckpoint(false)
    val bench = joined.filter(col("source") === "src0")
      .select(col("vec_id").as("bench_id"), col("emb").as("b_emb"))
    val corp0 = joined.filter(col("source") =!= "src0")
    // deterministic plant (see SemanticContamCos): target bench id =
    // vec_id rounded down to a multiple of 20 — a LEFT join, so if no
    // benchmark doc carries that id the doc simply stays unplanted (the
    // rule never assumes the source layout). The zip_with lambda is the
    // fixture, not the operator (same dispensation as lang_id_multi's
    // remap); the detection path below stays on the fold that matches
    // DuckDB term order.
    val planted = corp0.join(broadcast(bench),
        (col("vec_id") % 11 === 3) &&
          (col("bench_id") === col("vec_id") - (col("vec_id") % 20)), "left")
      .select(col("vec_id"), col("source"),
        when(col("b_emb").isNotNull,
          zip_with(col("b_emb"), col("emb"), (b, o) => b + lit(0.05) * o))
          .otherwise(col("emb")).as("embedding"))
    val cents = emb.filter(col("vec_id") < NumCentroids).limit(NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("emb").as("c_emb"))
    val corpA = Vectors.nearestCentroid(planted, "vec_id", cents)
      .withColumn("_nc",
        sqrt(Vectors.dotHof(col("embedding"), col("embedding"))))
      .select(col("vec_id"), col("source"), col("centroid_id"),
        col("embedding"), col("_nc"))
    val benchA = Vectors.nearestCentroid(
        bench.select(col("bench_id"), col("b_emb").as("embedding")),
        "bench_id", cents)
      .withColumn("_nb",
        sqrt(Vectors.dotHof(col("embedding"), col("embedding"))))
      .select(col("bench_id"), col("centroid_id"),
        col("embedding").as("e_b"), col("_nb"))
    val hits = corpA.join(broadcast(benchA), Seq("centroid_id"))
      .withColumn("cos", round(Vectors.safeDiv(
        Vectors.dotHof(col("embedding"), col("e_b")),
        col("_nc") * col("_nb")), 6))
      .filter(col("cos") >= SemanticContamCos)
    val hitAgg = hits.groupBy("source")
      .agg(countDistinct(col("vec_id")).as("n_contaminated"),
        count(lit(1)).as("n_hits"),
        max(col("cos")).as("max_cos"))
    corp0.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(hitAgg, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("max_cos"))
      .orderBy("source")
  }

  /** DuckDB cosine between two DOUBLE[] expressions (the planted frame's
    * columns are not raw table embeddings, so [[cosSql]]'s
    * `x.embedding` convention does not fit).
    */
  private def cosDSql(a: String, b: String): String =
    s"""list_dot_product($a, $b) /
       |      (sqrt(list_dot_product($a, $a)) *
       |       sqrt(list_dot_product($b, $b)))""".stripMargin

  val decontaminateSemanticSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
       |), j AS (
       |  SELECT e.vec_id, d.source, e.emb
       |  FROM e JOIN documents d ON e.vec_id = d.doc_id
       |), bench AS (
       |  SELECT vec_id AS bench_id, emb AS b_emb FROM j
       |  WHERE source = 'src0'
       |), corp0 AS (
       |  SELECT vec_id, source, emb FROM j WHERE source <> 'src0'
       |), planted AS (
       |  SELECT c.vec_id, c.source,
       |    CASE WHEN b.bench_id IS NOT NULL THEN
       |      list_transform(range(1, len(c.emb) + 1),
       |        i -> b.b_emb[i] + 0.05::DOUBLE * c.emb[i])
       |    ELSE c.emb END AS emb
       |  FROM corp0 c LEFT JOIN bench b
       |    ON c.vec_id % 11 = 3 AND b.bench_id = c.vec_id - (c.vec_id % 20)
       |), cents AS (
       |  SELECT vec_id AS centroid_id, emb AS c_emb FROM e
       |  WHERE vec_id < $NumCentroids
       |), corpa AS (
       |  SELECT vec_id, source, emb, centroid_id FROM (
       |    SELECT v.vec_id, v.source, v.emb, c.centroid_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${cosDSql("v.emb", "c.c_emb")}, 6) DESC,
       |          c.centroid_id) AS rn
       |    FROM planted v, cents c)
       |  WHERE rn = 1
       |), bencha AS (
       |  SELECT bench_id, b_emb, centroid_id FROM (
       |    SELECT b.bench_id, b.b_emb, c.centroid_id,
       |      row_number() OVER (PARTITION BY b.bench_id
       |        ORDER BY round(${cosDSql("b.b_emb", "c.c_emb")}, 6) DESC,
       |          c.centroid_id) AS rn
       |    FROM bench b, cents c)
       |  WHERE rn = 1
       |), hits AS (
       |  SELECT q.vec_id, q.source,
       |    round(${cosDSql("q.emb", "b.b_emb")}, 6) AS cos
       |  FROM corpa q JOIN bencha b USING (centroid_id)
       |  WHERE round(${cosDSql("q.emb", "b.b_emb")}, 6)
       |    >= $SemanticContamCos::DOUBLE
       |), agg AS (
       |  SELECT source,
       |    CAST(count(DISTINCT vec_id) AS BIGINT) AS n_contaminated,
       |    CAST(count(*) AS BIGINT) AS n_hits,
       |    max(cos) AS max_cos
       |  FROM hits GROUP BY 1
       |), tot AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM corp0 GROUP BY 1
       |)
       |SELECT t.source, t.n_docs,
       |  coalesce(a.n_contaminated, 0) AS n_contaminated,
       |  coalesce(a.n_hits, 0) AS n_hits, a.max_cos
       |FROM tot t LEFT JOIN agg a USING (source)
       |ORDER BY t.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "decontaminate_semantic" -> decontaminateSemantic,
    "embedding_outliers" -> embeddingOutliers,
    "sample_cluster_balanced" -> sampleClusterBalanced,
    "semantic_dedup" -> semanticDedup,
    "semantic_dedup_k64" -> ((s, d) => semanticDedupK(s, d, ScaledCentroids)),
    "ann_ivf_k64" -> ((s, d) => annIvfK(s, d, ScaledCentroids)),
    "sq_codes" -> sqCodes,
    "centroid_similarity" -> centroidSimilarity,
    "ann_bruteforce" -> annBruteforce,
    "ann_ivf" -> annIvf,
    "ann_ivf_nprobe2" -> annIvfProbe2,
    "ann_ivf_pruned" -> annIvfPruned,
    "ann_ivfpq" -> annIvfPq,
    "ann_lsh_buckets" -> annLshBuckets,
    "ann_lsh_probe" -> annLshProbe,
    "embedding_neardup_lsh" -> embeddingNeardupLsh,
    "ann_recall" -> annRecall,
    "pq_codes" -> pqCodes,
    "embedding_neardup" -> embeddingNeardup,
    "kmeans_refine" -> kmeansRefine
  )

  val oracle: Map[String, String] = Map(
    "decontaminate_semantic" -> decontaminateSemanticSql,
    "embedding_outliers" -> embeddingOutliersSql,
    "sample_cluster_balanced" -> sampleClusterBalancedSql,
    "semantic_dedup" -> semanticDedupSql,
    "semantic_dedup_k64" -> semanticDedupSqlK(ScaledCentroids),
    "ann_ivf_k64" -> annIvfSqlK(ScaledCentroids),
    "sq_codes" -> sqCodesSql,
    "centroid_similarity" -> centroidSimilaritySql,
    "ann_bruteforce" -> annBruteforceSql,
    "ann_ivf" -> annIvfSql,
    "ann_ivf_nprobe2" -> annIvfProbe2Sql,
    "ann_ivf_pruned" -> annIvfPrunedSql,
    "ann_ivfpq" -> annIvfPqSql,
    "ann_lsh_buckets" -> annLshBucketsSql,
    "ann_lsh_probe" -> annLshProbeSql,
    "embedding_neardup_lsh" -> embeddingNeardupLshSql,
    "ann_recall" -> annRecallSql,
    "pq_codes" -> pqCodesSql,
    "embedding_neardup" -> embeddingNeardupSql,
    "kmeans_refine" -> kmeansRefineSql
  )
}
