package graft.ops

import graft.TestSpark
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** The ANN family's central 100 TB claim, as a certified artifact: the
  * persisted IVF index is PHYSICALLY partitioned by centroid, and the
  * probe's join against it triggers dynamic partition pruning — the scan
  * reads only the probed cells' directories, counted at RUNTIME from the
  * scan's own metrics (not inferred from the plan text).
  */
class IvfIndexSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Every file scan in the EXECUTED tree, descending through AQE query
    * stages (after execution the stages replace the scans as leaves of
    * the adaptive plan, so a plain collect sees none of them).
    */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
    val more = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => Nil
    }
    self ++ (p.children ++ more).flatMap(scans)
  }

  test("probe over the persisted index answers exactly what ann_ivf answers") {
    // layout must not change results: same k, same nprobe, same ranking
    val pruned = graft.queries.VectorQueries.annIvfPruned(spark, dir)
      .collect().map(_.toSeq).toSeq
    val live = graft.queries.VectorQueries.annIvf(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(pruned.nonEmpty && pruned == live,
      s"index probe diverged from the live IVF query (${pruned.length} vs ${live.length} rows)")
  }

  test("the probe reads ONLY the probed cells (runtime partition metrics)") {
    val df = graft.queries.VectorQueries.annIvfPruned(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the number of cells a correct pruner reads = distinct probed centroids
    val probedCells = rows.map(_.getAs[Long]("centroid_id")).distinct.length
    val totalCells = graft.queries.VectorQueries.NumCentroids

    val all = scans(df.queryExecution.executedPlan)
    assert(all.nonEmpty, "no file scans found in the executed plan")
    val dppScans = all.filter(
      _.partitionFilters.exists(_.toString.contains("dynamicpruning")))
    assert(dppScans.nonEmpty,
      "index scan lost its dynamic-pruning partition filter:\n" +
        df.queryExecution.executedPlan.toString)
    val read = dppScans.map(_.metrics("numPartitions").value)
    // runtime certification: the pruned scan touched exactly the probed
    // cells, strictly fewer than the index holds — the difference between
    // "scan the corpus" and "scan nprobe cells" at any scale
    assert(read.forall(_ == probedCells.toLong),
      s"DPP scan read $read partitions, probe set has $probedCells cells")
    assert(probedCells < totalCells,
      s"degenerate fixture: probes cover all $totalCells cells, pruning unobservable")
  }

  test("a static cell filter prunes without the join (literal IN path)") {
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val path = s"${graft.SparkSessions.scratchDir()}/ivf/${tag}_k${graft.queries.VectorQueries.NumCentroids}"
    // the index exists (either memo-built by a prior test or rebuilt here)
    graft.queries.VectorQueries.annIvfPruned(spark, dir).collect()
    import org.apache.spark.sql.functions.col
    val probed = spark.read.parquet(path).filter(col("centroid_id").isin(1, 3))
    val n = probed.collect().length
    assert(n > 0)
    val ss = scans(probed.queryExecution.executedPlan)
    assert(ss.exists(_.metrics("numPartitions").value == 2L),
      s"static IN filter did not prune to 2 cells: " +
        ss.map(_.metrics("numPartitions").value).mkString(","))
  }
}
