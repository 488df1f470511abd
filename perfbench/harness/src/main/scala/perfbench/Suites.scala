package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `SparkEntry.queries` workloads. A request is one key: construct its
  * DataFrame, then noop-write it. An Observation on the write counts the
  * rows and sums a hash of each row in the same pass, so the output check
  * costs no extra scan.
  *
  * `freeze` runs every key twice, in opposite orders, and reports the
  * construction-time job count, the output digest and the latency of each;
  * `run.py --freeze` turns that into the frozen key lists and golden
  * digests.
  */
final class Suites(conf: Conf) extends Workload {
  private val suite = conf.sub("suite")
  private val dataDir = conf.str("data_dir")
  private val queries = graft.SparkEntry.queries
  private val workload = conf.str("workload")

  // the two frozen lists must partition the live key set exactly, so a key
  // added or removed later is never silently unmeasured
  if (workload != "freeze") {
    val it = suite.strs("iterative").toSet
    val si = suite.strs("single").toSet
    val both = it intersect si
    val missing = queries.keySet -- it -- si
    val stale = (it ++ si) -- queries.keySet
    require(both.isEmpty && missing.isEmpty && stale.isEmpty,
      s"frozen key lists do not partition SparkEntry.queries: " +
        s"in both=${both.toSeq.sorted} unlisted=${missing.toSeq.sorted} " +
        s"stale=${stale.toSeq.sorted}")
  }

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def firstTouch(spark: SparkSession): Unit =
    tables.foreach(t => graft.etl.Readers.table(spark, dataDir, t))

  def warmup(spark: SparkSession): Unit =
    suite.strs("warm_keys").foreach(k => runKey(spark, k, Tracer.off))

  private var nObs = 0

  /** Doubles narrowed to float, so that last-bit differences from summation
    * order do not change the hash.
    */
  private def narrow(dt: DataType): DataType = dt match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(narrow(e), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = narrow(f.dataType))))
    case other => other
  }

  /** Noop-write `df` with an Observation of (rows, order-insensitive hash). */
  private def write(df: DataFrame): (Long, Long) = {
    nObs += 1
    val obs = Observation(s"perfbench_$nObs")
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => col(f.name).cast(narrow(f.dataType)))
    val h = xxhash64(cols.toSeq: _*)
    named.observe(obs, count(lit(1)).as("rows"),
        coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("hash"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
  }

  /** One request; the tracer's spans split it into construct and write. */
  private def runKey(spark: SparkSession, key: String, t: Tracer)
  : java.util.Map[String, Any] = {
    val r = new java.util.LinkedHashMap[String, Any]()
    r.put("key", key)
    val t0 = System.nanoTime()
    try {
      t.span(s"key:$key", "bench") {
        val df = t.span("construct", "queries")(queries(key)(spark, dataDir))
        val t1 = System.nanoTime()
        val (rows, hash) = t.span("write", "exec")(write(df))
        val t2 = System.nanoTime()
        r.put("construct_s", (t1 - t0) / 1e9)
        r.put("write_s", (t2 - t1) / 1e9)
        r.put("seconds", (t2 - t0) / 1e9)
        r.put("rows", rows)
        r.put("hash", hash)
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $key failed: $e")
        r.put("error", e.toString)
    }
    r
  }

  private def runKeys(ctx: Ctx, keys: Seq[String], t: Tracer, round: Int,
                      into: java.util.List[java.util.Map[String, Any]]): Double = {
    val t0 = System.nanoTime()
    keys.foreach { k =>
      val r = runKey(ctx.spark, k, t)
      r.put("round", round)
      into.add(r)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def run(ctx: Ctx): Unit = {
    val results = new java.util.ArrayList[java.util.Map[String, Any]]()
    val keys = suite.strs("keys")
    if (workload == "freeze") freeze(ctx, results)
    else if (!ctx.trace)
      ctx.out.put("wall_s", runKeys(ctx, keys, Tracer.off, 0, results))
    else {
      val t = ctx.tracer()
      ctx.out.put("wall_s", t.span("run", "bench")(runKeys(ctx, keys, t, 0, results)))
      val root = t.spans.head
      ctx.putTraceLayers(t, root)
      val constructs = t.spans.filter(_.name == "construct")
      def sumOf(k: String) = constructs.map(_.delta.getOrElse(k, 0L)).sum.toDouble
      ctx.layers.put("queries.construct_s", constructs.map(_.seconds).sum)
      ctx.layers.put("queries.construct_jobs", sumOf("jobs"))
      ctx.layers.put("queries.construct_stages", sumOf("stages"))
      // per key: jobs fired while the query was being built
      val perKey = new java.util.LinkedHashMap[String, Any]()
      t.spans.filter(_.name.startsWith("key:")).foreach { k =>
        val c = t.children(k).find(_.name == "construct")
        perKey.put(k.name.stripPrefix("key:"),
          c.map(_.delta.getOrElse("jobs", 0L)).getOrElse(-1L))
      }
      ctx.out.put("construct_jobs", perKey)
    }
    ctx.out.put("keys", results)
  }

  private def freeze(ctx: Ctx, results: java.util.List[java.util.Map[String, Any]]): Unit = {
    val keys = queries.keys.toSeq.sorted
    for (pass <- 0 until 2) {
      val t = ctx.tracer()
      (if (pass == 0) keys else keys.reverse).foreach { k =>
        val from = t.spans.size
        val r = runKey(ctx.spark, k, t)
        r.put("round", pass)
        t.spans.drop(from).find(_.name == "construct").foreach { c =>
          r.put("construct_jobs", c.delta.getOrElse("jobs", 0L))
        }
        results.add(r)
      }
    }
  }
}
