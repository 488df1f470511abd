package graft.queries

import graft.{SparkEntry, TestSpark}
import org.apache.spark.JobCounter
import org.scalatest.funsuite.AnyFunSuite

/** Repo-wide lazy-construction contract: calling a `SparkEntry.queries`
  * function BUILDS a plan — it must not run a Spark job. An eager action at
  * construction (a driver `count()`, an eager `localCheckpoint`) is an
  * extra full pass per invocation at 100 TB, fired before the caller even
  * decides what to do with the frame. Round 7 flagged three such counts in
  * the tf-idf family; this spec pins the fix and protects every other
  * query from regressing the same way.
  *
  * Exceptions are enumerated, not discovered: ops whose CONSTRUCTION is an
  * iterative driver loop with a convergence probe (pointer-jumping
  * connected components short-circuits on `isEmpty`), and the pinning or
  * writing ops listed below. The list is two-sided: every key on it must
  * still fire a job in the measured pass, so a key whose construction
  * became lazy (or whose one-off work is memoized by the warm pass) leaves
  * the list instead of hiding a later regression. The spec prints each
  * listed or job-firing key's count.
  */
class LazyConstructionSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Construction runs jobs for exactly these keys (reasons above and inline). */
  private val eagerByDesign = Set(
    "dedup_clusters", // convergence-probed pointer jumping
    "dedup_pipeline", // composes the cluster pass
    "pretrain_pipeline", // stage survivor sets checkpointed + CC stage
    "entity_resolve", // clustering stage is dedup_clusters
    "bucketed_join", // writes the bucketed tables it demonstrates
    "ann_ivf_pruned", // writes the centroid-partitioned IVF index (memoized)
    "jsonl_roundtrip", // writes the JSONL files it quarantine-reads
    "orc_roundtrip", // writes the ORC files it reads back
    "cbo_join_reorder", // ANALYZE scans + the CBO-scoped bounded collect
    // Multi-pass intermediates pinned with localCheckpoint(eager=false):
    // no DRIVER action fires, but AQE materializes the checkpoint's
    // exchange stages when the RDD is resolved at construction. The
    // alternative (no checkpoint) was measured slower for these shapes —
    // iterative loops need lineage truncation, and the checkpointed
    // frames feed 3+ consumers at different keys.
    "pagerank", "lpa_communities", "graph_triangles", "graph_khop",
    "funnel_latency", "rfm_segments",
    "outlier_mad", // r8: med/bounds scalar frames checkpointed (3.1s→1.85s)
    "split_leakage", // r14: the (doc, split, fingerprint) frame feeds three
                     // consumers; un-checkpointed the shingle explode ran
                     // SIX times (no ReuseExchange across the aggregate
                     // shapes)
    "split_rebalance", // r15: embeds the convergence-probed pointer-jumping
                       // CC pass (same reason as dedup_clusters)
    "cjk_unsegmented", // r15: the synthesized-corpus and char-shingle
                      // frames each feed two consumers and are pinned
                      // with localCheckpoint(eager=false) — no driver
                      // action, but AQE resolves the checkpoint's
                      // exchange at construction (same as split_leakage)
    // r17 optimization round: shared multi-consumer frames pinned with
    // localCheckpoint(eager=false) — same contract as the block above
    // (no driver action; AQE materializes the pinned subtree's exchange
    // stages at construction). Each pin removed a measured per-consumer
    // re-execution of the subtree (scan counts in OPTIMIZATION_r17.md §3);
    // the six former cache() sites in VectorQueries are additionally a
    // measurement-honesty fix — CacheManager re-served them across bench
    // passes (r16 ADVICE).
    "ann_ivf", "ann_ivf_k64", "ann_ivf_nprobe2", "ann_ivfpq", "ann_recall",
    "decontaminate_semantic", "dedup_incremental", "dedup_ngram_jaccard",
    "dedup_substring", "dedup_substring_clean", "embedding_outliers",
    "keywords_topk", "kmeans_refine", "sample_cluster_balanced",
    "semantic_dedup", "semantic_dedup_k64", "tf_idf", "tfidf_cosine_pairs",
    "vocab_build"
  )

  test("query construction runs zero Spark jobs (outside the eager allowlist)") {
    val spark = TestSpark.spark
    val jobsOf = new JobCounter(spark.sparkContext)
    try {
      // warm pass: first touch of each parquet path legitimately runs the
      // listing/footer job Spark fires inside `spark.read.parquet`; the
      // memoized Readers.table makes every LATER construction job-free,
      // which is what the measured pass asserts
      SparkEntry.queries.values.foreach { fn =>
        try fn(spark, sfDir) catch { case _: Throwable => () }
      }
      val jobs = SparkEntry.queries.toSeq.sortBy(_._1).map {
        case (name, fn) => name -> jobsOf(fn(spark, sfDir)) // construction only — no action
      }
      jobs.filter { case (name, n) => n > 0 || eagerByDesign(name) }
        .foreach { case (name, n) => info(s"$name: $n construction job(s)") }
      val violations = jobs.collect {
        case (name, n) if n > 0 && !eagerByDesign(name) => s"$name fired $n job(s)"
        case (name, 0) if eagerByDesign(name) => s"$name is allowlisted but fired none"
      }
      assert(violations.isEmpty,
        s"construction jobs off the allowlist:\n  ${violations.mkString("\n  ")}")
    } finally jobsOf.close()
  }
}
