package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters, fed by a SparkListener (jobs, stages, task
  * metrics) and a QueryExecutionListener (Catalyst phase times), plus the
  * process-wide codegen counters. Spans read differences of snapshots.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = Counters.Keys.map(_ -> new AtomicLong).toMap

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
    }
  }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      phase match {
        case "analysis" => add("analysis_ms", p.durationMs)
        case "optimization" => add("optimization_ms", p.durationMs)
        case "planning" => add("planning_ms", p.durationMs)
        case _ =>
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = phases(qe)

  def snapshot(): Map[String, Long] =
    c.map { case (k, v) => k -> v.get } ++ Map(
      "codegen_ns" -> CodeGenerator.compileTime,
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

object Counters {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "run_ms", "cpu_ns",
    "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "analysis_ms", "optimization_ms", "planning_ms")

  def attach(spark: SparkSession): Counters = {
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    counters
  }
}

/** One timed region: a name, the layer it belongs to, its parent, and the
  * counter deltas accrued while it was open.
  */
final class Span(val id: Int, val name: String, val layer: String,
                 val parent: Int, val start: Long) {
  var end: Long = start
  var delta: Map[String, Long] = Map.empty
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest (run, then key / ETL step /
  * micro-batch, then construct / write); each span drains the listener bus
  * on entry and exit so the counts it carries are its own. A disabled
  * tracer runs bodies bare.
  */
final class Tracer(val on: Boolean, spark: SparkSession, counters: Counters) {
  val runId: String = java.util.UUID.randomUUID().toString
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Wall time spent draining and reading counters: the tracer's cost. */
  var overheadNs = 0L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      drain()
      val before = counters.snapshot()
      val s = open(name, layer, System.nanoTime())
      overheadNs += s.start - t0
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        s.delta = Tracer.diff(counters.snapshot(), before)
        close(s, System.nanoTime())
        overheadNs += s.end - t1
      }
    }

  /** A span whose times were measured elsewhere (a micro-batch, from its
    * progress report); it becomes a child of `parent`, or else of the
    * innermost open span. It carries no counter deltas.
    */
  def record(name: String, layer: String, start: Long, end: Long,
             parent: Option[Span] = None): Span = {
    val s = new Span(spans.size, name, layer,
      parent.orElse(stack.headOption).map(_.id).getOrElse(-1), start)
    s.end = end
    spans += s
    s
  }

  private def open(name: String, layer: String, start: Long): Span = {
    val s = new Span(spans.size, name, layer,
      stack.headOption.map(_.id).getOrElse(-1), start)
    spans += s
    stack = s :: stack
    s
  }

  private def close(s: Span, end: Long): Unit = {
    s.end = end
    stack = stack.tail
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Self time per layer under `root`: each span's duration minus its
    * children's, with the Catalyst phase and codegen time it accrued itself
    * moved to the `plans` layer. The values sum to the root's duration.
    */
  def selfSeconds(root: Span): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    def walk(s: Span): Unit = {
      val kids = children(s)
      val selfNs = math.max(0L, (s.end - s.start) - kids.map(k => k.end - k.start).sum)
      def own(k: String): Long = s.delta.getOrElse(k, 0L) -
        kids.map(_.delta.getOrElse(k, 0L)).sum
      val carved =
        if (s.layer == "bench") 0L
        else math.min(selfNs, math.max(0L,
          (own("analysis_ms") + own("optimization_ms") + own("planning_ms")) *
            1000000L + own("codegen_ns")))
      acc(s.layer) += (selfNs - carved) / 1e9
      acc("plans") += carved / 1e9
      kids.foreach(walk)
    }
    walk(root)
    acc.toMap
  }

  def toJava: java.util.List[java.util.Map[String, Any]] = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("run", runId)
      m.put("id", s.id)
      m.put("name", s.name)
      m.put("layer", s.layer)
      m.put("parent", s.parent)
      m.put("start_s", (s.start - t0) / 1e9)
      m.put("end_s", (s.end - t0) / 1e9)
      val d = new java.util.LinkedHashMap[String, Any]()
      s.delta.toSeq.sortBy(_._1).foreach { case (k, v) => if (v != 0) d.put(k, v) }
      m.put("counts", d)
      out.add(m)
    }
    out
  }
}

object Tracer {
  /** A tracer that records nothing. */
  def off: Tracer = new Tracer(false, null, null)

  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  /** The exec, plans and codegen metrics of a counter delta. */
  def execMetrics(d: Map[String, Long], wallS: Double, cores: Int)
  : Map[String, Double] = {
    def g(k: String): Double = d.getOrElse(k, 0L).toDouble
    val cpuS = g("cpu_ns") / 1e9
    Map(
      "exec.jobs" -> g("jobs"),
      "exec.stages" -> g("stages"),
      "exec.tasks" -> g("tasks"),
      "exec.tasks_per_stage" -> (if (g("stages") > 0) g("tasks") / g("stages") else 0.0),
      "exec.run_s" -> g("run_ms") / 1e3,
      "exec.cpu_s" -> cpuS,
      "exec.cpu_util" -> (if (wallS > 0) cpuS / (wallS * cores) else 0.0),
      "exec.shuffle_write_bytes" -> g("shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> g("shuffle_read_bytes"),
      "exec.spill_bytes" -> g("spill_bytes"),
      "exec.input_bytes" -> g("input_bytes"),
      "exec.gc_s" -> g("gc_ms") / 1e3,
      "plans.analysis_s" -> g("analysis_ms") / 1e3,
      "plans.optimization_s" -> g("optimization_ms") / 1e3,
      "plans.planning_s" -> g("planning_ms") / 1e3,
      "codegen.compile_s" -> g("codegen_ns") / 1e9,
      "codegen.classes" -> g("codegen_classes"))
  }
}
