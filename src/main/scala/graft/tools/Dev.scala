package graft.tools

import java.nio.file.{Files, Path, Paths}

import graft.{Bench, SparkEntry, SparkSessions}
import graft.plans.PlanLint
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode,
  RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}

/** Dev entry point: plan inspection and per-key timing next to the
  * Bench/Verify/Smoke mains. Every subcommand takes the session it runs
  * on; only [[main]] builds one (`SPARK_GRAFT_CPUS`), and the sf dir
  * comes from `SPARK_GRAFT_SF_DIR` (default sf0.01). Arguments are
  * validated before the session exists, so a misspelt key or subcommand
  * fails with usage instead of sweeping nothing.
  */
object Dev extends AdaptiveSparkPlanHelper {

  private val Usage: String =
    """Usage: runMain graft.tools.Dev <subcommand> [args]
      |  plan <k1,k2,...>                    final and initial AQE plan counts after collect()
      |  survey [k1,k2,...]                  initial-plan census (default: every key)
      |  explain <outDir> <suffix> <k1,...>  formatted explain to <outDir>/<key>_<suffix>.txt
      |  lint [k1,k2,...]                    PlanLint findings (default: every key)
      |  one <k1,...> [reps]                 noop-sink timings between Bench calibrations
      |Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS""".stripMargin

  /** Operator counts of one physical plan. `scans` is per table;
    * `shuffles` and `broadcasts` count exchanges that run (not reused).
    * `dup*` describe the LARGEST canonically-duplicated subtree (node
    * count × occurrences): the shape AQE stage reuse cannot dedupe when
    * the consumers key their exchanges differently.
    */
  final case class Census(scans: Map[String, Int], shuffles: Int,
                          broadcasts: Int, reused: Int, rddScans: Int,
                          generates: Int, windows: Int, sortAggs: Int,
                          joins: Map[String, Int], dupSize: Int,
                          dupCount: Int, dupHead: String)

  /** Walks `plan` through AQE query stages, so an initial plan and a
    * final (post-`collect()`) plan are counted alike.
    */
  def census(plan: SparkPlan): Census = {
    var shuffles, broadcasts, reused, rddScans, gen, win, sortAgg = 0
    val scans = scala.collection.mutable.Map[String, Int]()
    val joins = scala.collection.mutable.Map[String, Int]()
    foreach(plan) {
      case s: FileSourceScanExec =>
        val t = s.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
        scans(t) = scans.getOrElse(t, 0) + 1
      case _: RDDScanExec => rddScans += 1
      case _: ReusedExchangeExec => reused += 1
      case _: ShuffleExchangeLike => shuffles += 1
      case _: BroadcastExchangeLike => broadcasts += 1
      case g if g.nodeName.contains("Generate") => gen += 1
      case w if w.nodeName == "Window" || w.nodeName == "WindowGroupLimit" =>
        win += 1
      case a if a.nodeName.startsWith("SortAggregate") => sortAgg += 1
      case j if j.nodeName.endsWith("Join") || j.nodeName == "CartesianProduct" =>
        joins(j.nodeName) = joins.getOrElse(j.nodeName, 0) + 1
      case _ =>
    }
    // every subtree of ≥4 nodes by canonical form, with its occurrences
    val counts = scala.collection.mutable.Map[SparkPlan, (Int, Int)]()
    def walk(p: SparkPlan): Int = {
      val size = 1 + allChildren(p).map(walk).sum
      if (size >= 4) {
        val c = p.canonicalized
        val (n, _) = counts.getOrElse(c, (0, size))
        counts(c) = (n + 1, size)
      }
      size
    }
    walk(plan)
    val dups = counts.filter(_._2._1 > 1)
    val (dupHead, (dupCount, dupSize)) =
      if (dups.isEmpty) ("", (0, 0))
      else {
        val (p, nSize) = dups.maxBy { case (_, (_, size)) => size }
        (p.nodeName, nSize)
      }
    Census(scans.toMap, shuffles, broadcasts, reused, rddScans, gen, win,
      sortAgg, joins.toMap, dupSize, dupCount, dupHead)
  }

  /** The comma-separated key argument, each key checked against
    * `SparkEntry.queries`.
    */
  def keys(arg: String): Seq[String] = {
    val ks = arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = ks.filterNot(SparkEntry.queries.contains)
    require(ks.nonEmpty, s"empty key list '$arg'")
    require(unknown.isEmpty, s"unknown query key(s): ${unknown.mkString(", ")}")
    ks
  }

  /** Validates `args` into a command that runs on a session and sf dir. */
  def parse(args: Seq[String]): (SparkSession, String) => Unit = {
    def arg(i: Int, name: String): String = {
      require(args.length > i, s"${args.head}: missing <$name>")
      args(i)
    }
    def keysOrAll(i: Int): Seq[String] =
      if (args.length > i) keys(args(i))
      else SparkEntry.queries.keys.toSeq.sorted
    args.headOption.getOrElse("") match {
      case "plan" =>
        val ks = keys(arg(1, "keys"))
        (s, sf) => plan(s, sf, ks)
      case "survey" =>
        val ks = keysOrAll(1)
        (s, sf) => survey(s, sf, ks)
      case "explain" =>
        val (out, suffix, ks) =
          (arg(1, "outDir"), arg(2, "suffix"), keys(arg(3, "keys")))
        (s, sf) => explain(s, sf, Paths.get(out), suffix, ks)
      case "lint" =>
        val ks = keysOrAll(1)
        (s, sf) => lint(s, sf, ks)
      case "one" =>
        val (ks, reps) = (keys(arg(1, "keys")), args.lift(2).fold(3)(_.toInt))
        (s, sf) => one(s, sf, ks, reps)
      case other =>
        throw new IllegalArgumentException(s"unknown subcommand '$other'")
    }
  }

  private def counted(m: Map[String, Int]): String =
    m.toSeq.sortBy(-_._2).map { case (t, n) => s"$t=$n" }.mkString(",")

  /** Census of each key's INITIAL physical plan; construction only. */
  def survey(spark: SparkSession, sfDir: String, keys: Seq[String])
  : Map[String, Census] =
    keys.flatMap { name =>
      try {
        val c = census(PlanLint.initialPlan(
          SparkEntry.queries(name)(spark, sfDir)))
        println(s"SURVEY $name scans[${counted(c.scans)}] " +
          s"ex=${c.shuffles + c.broadcasts} reuse=${c.reused} " +
          s"gen=${c.generates} win=${c.windows} sortagg=${c.sortAggs} " +
          s"joins[${counted(c.joins)}] " +
          s"dup=${c.dupCount}x${c.dupSize}n(${c.dupHead})")
        Some(name -> c)
      } catch {
        case e: Throwable =>
          println(s"SURVEY $name ERROR ${e.toString.take(120)}")
          None
      }
    }.toMap

  /** Census of each key's AQE FINAL plan. The line also carries the
    * counts of AQE's initial plan, which `executedPlan.toString` prints
    * under the final one.
    */
  def plan(spark: SparkSession, sfDir: String, keys: Seq[String])
  : Map[String, Census] =
    keys.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // execute the df's OWN QueryExecution (a noop write would plan a
      // fresh one) so the plan below is the final one, with runtime stage
      // reuse visible
      df.collect()
      val p = df.queryExecution.executedPlan
      if (keys.size == 1) println(p)
      def counts(c: Census): String =
        s"exchanges=${c.shuffles} reused=${c.reused} " +
          s"scans=${c.scans.values.sum} rddscans=${c.rddScans}"
      val c = census(p)
      val initial = p match {
        case a: AdaptiveSparkPlanExec =>
          s" initial[${counts(census(a.initialPlan))}]"
        case _ => ""
      }
      println(s"[probe] $name: ${counts(c)}$initial")
      name -> c
    }.toMap

  /** Formatted explain of each key's initial plan, one file per key. */
  def explain(spark: SparkSession, sfDir: String, outDir: Path,
              suffix: String, keys: Seq[String]): Seq[Path] = {
    Files.createDirectories(outDir)
    keys.map { name =>
      val txt = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      val out = outDir.resolve(s"${name}_$suffix.txt")
      Files.write(out, txt.getBytes("UTF-8"))
      println(s"[explain] wrote $out (${txt.length} chars)")
      out
    }
  }

  /** [[PlanLint]] findings per flagged key; construction only. */
  def lint(spark: SparkSession, sfDir: String, keys: Seq[String])
  : Map[String, Seq[PlanLint.Finding]] = {
    val flagged = keys.flatMap { name =>
      val findings =
        try PlanLint.lint(SparkEntry.queries(name)(spark, sfDir))
        catch {
          case e: Throwable =>
            Seq(PlanLint.Finding("probe-error", "-", e.toString.take(120)))
        }
      findings.foreach(f => println(s"LINT $name $f"))
      if (findings.isEmpty) None else Some(name -> findings)
    }
    println(s"LINT-SUMMARY flagged=${flagged.size} of ${keys.size}")
    flagged.toMap
  }

  /** `reps` timed runs of each key, between Bench's calibrations: numbers
    * compare across runs only when the calibrations do.
    */
  def one(spark: SparkSession, sfDir: String, keys: Seq[String],
          reps: Int): Unit = {
    def cal(tag: String): Unit =
      println(f"[benchone] cal($tag): ${Bench.calibrate(spark)}%.3f s")
    cal("jit-warmup") // the first run compiles the yardstick itself
    cal("before")
    for (key <- keys; i <- 0 until reps) {
      val t0 = System.nanoTime()
      Bench.runKey(spark, key, sfDir)
      println(f"[benchone] $key rep$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    cal("after")
  }

  def main(args: Array[String]): Unit = {
    val command =
      try parse(args.toSeq)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"[dev] ${e.getMessage}\n$Usage")
          sys.exit(2)
      }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSessions.localFromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    try command(spark, sfDir)
    finally spark.stop()
  }
}
