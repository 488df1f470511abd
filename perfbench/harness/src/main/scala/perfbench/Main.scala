package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Read-only view of the JSON run configuration written by `run.py`. */
final class Conf(val m: java.util.Map[String, Any]) {
  def str(k: String): String = m.get(k).toString
  def int(k: String): Int = m.get(k).asInstanceOf[Number].intValue
  def long(k: String): Long = m.get(k).asInstanceOf[Number].longValue
  def dbl(k: String): Double = m.get(k).asInstanceOf[Number].doubleValue
  def bool(k: String): Boolean = m.get(k) match {
    case b: java.lang.Boolean => b
    case n: Number => n.intValue != 0
    case other => other.toString.toBoolean
  }
  def sub(k: String): Conf = new Conf(m.get(k).asInstanceOf[java.util.Map[String, Any]])
  def strs(k: String): Seq[String] =
    m.get(k).asInstanceOf[java.util.List[Any]].asScala.map(_.toString).toSeq
  def list(k: String): Seq[Any] =
    m.get(k).asInstanceOf[java.util.List[Any]].asScala.toSeq
}

/** What one workload does in the harness: touch its inputs, warm up, then
  * run the timed part and write what it measured into `out`.
  */
trait Workload {
  def firstTouch(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def run(ctx: Ctx): Unit
}

/** State of one run, shared by the workloads. */
final class Ctx(val conf: Conf, val spark: SparkSession, val counters: Counters) {
  val out = new java.util.LinkedHashMap[String, Any]()
  val layers = new java.util.LinkedHashMap[String, Any]()
  val seconds: Double = conf.dbl("seconds")
  val trace: Boolean = conf.bool("trace")
  val cores: Int = conf.int("cpus")
  def tracer(): Tracer = new Tracer(true, spark, counters)

  /** Layer self times, exec counts, the traced wall and the tracer's own
    * cost of a traced run.
    */
  def putTraceLayers(t: Tracer, root: Span): Unit = {
    Tracer.execMetrics(root.delta, root.seconds, cores)
      .foreach { case (k, v) => layers.put(k, v) }
    t.selfSeconds(root).foreach { case (k, v) => layers.put(s"self.${k}_s", v) }
    layers.put("trace.wall_s", root.seconds)
    layers.put("bench.trace_overhead_s", t.overheadNs / 1e9)
    out.put("spans", t.toJava)
  }
}

/** Benchmark harness entry point: `perfbench.Main <config.json>`.
  *
  * Sets the workload up once, from JVM start until its warm-up is done, and
  * runs the timed part on that session. The result JSON goes to the
  * config's `out` path; `run.py` turns it into metrics and checks it.
  */
object Main {
  private val mapper = new ObjectMapper()

  // The process halts rather than exits: the result is on disk by then, and
  // the session's shutdown (stopping streaming queries, unloading state
  // stores, deleting scratch) is not measured and must not hold the run
  // up. A failed run halts at once, even with a streaming query running.
  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private def run(args: Array[String]): Unit = {
    val conf = new Conf(mapper.readValue(new File(args(0)),
      classOf[java.util.Map[String, Any]]))
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmStartNs = System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
    val workload: Workload = conf.str("workload") match {
      case "etl_orders" => new Etl(conf.sub("etl"))
      case "suite_iterative" | "suite_single" | "freeze" => new Suites(conf)
      case "stream_curation" => new Stream(conf.sub("stream"), conf.str("work_dir"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = graft.SparkSessions.local(conf.str("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    workload.firstTouch(spark)
    val t2 = System.nanoTime()
    workload.warmup(spark)
    val t3 = System.nanoTime()
    val setup = new java.util.LinkedHashMap[String, Any]()
    setup.put("session_s", (t1 - jvmStartNs) / 1e9)
    setup.put("first_touch_s", (t2 - t1) / 1e9)
    setup.put("warmup_s", (t3 - t2) / 1e9)
    setup.put("total_s", (t3 - jvmStartNs) / 1e9)
    System.err.println(f"[perfbench] setup ${(t3 - jvmStartNs) / 1e9}%.2fs")

    val ctx = new Ctx(conf, spark, Counters.attach(spark))
    ctx.out.put("setup", setup)
    workload.run(ctx)
    ctx.out.put("layers", ctx.layers)
    mapper.writeValue(new File(conf.str("out")), ctx.out)
  }
}
