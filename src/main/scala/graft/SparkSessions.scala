package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's local-session contract, used by every shipped
  * main (Bench/Verify/Smoke/Dev), the perfbench harness and the test
  * session: shuffle partitions sized to cores, UTC, the nanos-as-long flag
  * the events table requires, the graft extensions (operator lowering + SQL
  * functions), and the RocksDB state store the streaming ops need. Config
  * drift between sessions — e.g. one missing `nanosAsLong` and failing on
  * the events parquet — is exactly the bug this prevents.
  */
object SparkSessions {

  /** Scratch root for shuffle/spill files and the engine's own scratch
    * tables (bucketed copies, IVF indexes): `SPARK_GRAFT_LOCAL_DIR`, else
    * tmpfs when writable, else the JVM temp dir. On a VM whose virtual
    * disk sustained ~8 MB/s synced writes (measured round 7), scratch on
    * that disk made the shuffle-heaviest queries time the disk, not the
    * engine — dedup_ngram_jaccard degraded 12x while scan-shaped queries
    * moved 2x. A cluster provisions NVMe scratch for the same reason;
    * tmpfs is a single node's equivalent, and sf0.1 shuffle volumes are
    * ≤ a few GB.
    */
  def scratchDir(): String =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      if (new java.io.File("/dev/shm").canWrite) "/dev/shm/graft-scratch"
      else System.getProperty("java.io.tmpdir"))

  /** The configured builder behind [[local]], for callers that add their
    * own settings (the test session adds its warehouse dir) on top of the
    * same contract.
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The generated-class cache defaults to 100 entries. A session running
      // a wide query surface (the 70-query bench suite emits several hundred
      // whole-stage-codegen units per pass) churns it completely, so every
      // pass re-pays Janino compilation + classloading for every stage —
      // measured as the r2 join_left/join_salted "regression" (plans were
      // byte-identical to r1; the 36-query r1 suite mostly fit the cache).
      // A long-lived analytics session should size this to its working set.
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.local.dir", scratchDir())
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // every custom stateful streaming op runs on transformWithState,
      // which refuses the default HDFS-backed state store
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  def local(cpus: String): SparkSession = builder(cpus).getOrCreate()

  /** cpus from SPARK_GRAFT_CPUS, defaulting as the driver harness does. */
  def localFromEnv(): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
}
