package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KllSketchSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  private def rankError(est: Double, q: Double, data: Array[Double]): Double = {
    val n = data.length.toDouble
    val lt = data.count(_ < est)
    val le = data.count(_ <= est)
    // distance from the target rank to the [lt, le] rank interval
    val target = q * n
    if (target < lt) (lt - target) / n
    else if (target > le) (target - le) / n
    else 0.0
  }

  test("single-stream estimates land within ~1/k rank error") {
    val data = Array.tabulate(20000)(i => ((i * 7919) % 20000).toDouble)
    val st = new Kll.KllState(200)
    data.foreach(Kll.insert(st, _))
    assert(st.count == 20000)
    assert(st.totalWeight == 20000L) // weight conservation
    for (q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val e = rankError(Kll.quantile(st, q), q, data)
      assert(e <= 0.02, s"q=$q rank error $e")
    }
  }

  test("state stays O(k log n): far smaller than the input") {
    val st = new Kll.KllState(200)
    (1 to 200000).foreach(i => Kll.insert(st, (i * 31 % 100000).toDouble))
    val items = st.levels.map(_.length).sum
    assert(items < 2000, s"sketch holds $items items for 200k inputs")
    assert(st.totalWeight == 200000L)
  }

  test("merge preserves weight and the rank bound") {
    val data = Array.tabulate(30000)(i => math.sin(i.toDouble) * 1000)
    val parts = data.grouped(1000).map { chunk =>
      val s = new Kll.KllState(200)
      chunk.foreach(Kll.insert(s, _))
      s
    }.toSeq
    val merged = parts.reduce(Kll.merge)
    assert(merged.count == 30000 && merged.totalWeight == 30000L)
    for (q <- Seq(0.25, 0.5, 0.75)) {
      val e = rankError(Kll.quantile(merged, q), q, data)
      assert(e <= 0.03, s"q=$q rank error after merge $e")
    }
  }

  test("serialization round-trips the ladder exactly") {
    val st = new Kll.KllState(64)
    (1 to 5000).foreach(i => Kll.insert(st, (i % 977).toDouble))
    val back = Kll.deserialize(Kll.serialize(st))
    assert(back.k == st.k && back.count == st.count)
    assert(back.levels.map(_.toSeq) == st.levels.map(_.toSeq))
  }

  test("aggregate over a partitioned DataFrame obeys the rank envelope") {
    val df = spark.range(0, 50000).repartition(16)
      .select((col("id") * 2654435761L % 50000).cast("double").as("x"))
    val data = df.collect().map(_.getDouble(0))
    val qs = Seq(0.25, 0.5, 0.9)
    val est = df.agg(KllFunctions.kllQuantiles(col("x"), 200, qs))
      .collect()(0).getSeq[Double](0)
    qs.zip(est).foreach { case (q, e) =>
      val err = rankError(e, q, data)
      assert(err <= 0.02, s"q=$q err=$err")
    }
  }

  test("SQL surface: graft_kll_quantiles with literal ranks") {
    spark.range(1, 10001).select(col("id").cast("double").as("v"))
      .createOrReplaceTempView("kll_in")
    val est = spark.sql(
      "SELECT graft_kll_quantiles(v, 200, 0.5D, 0.9D) FROM kll_in")
      .collect()(0).getSeq[Double](0)
    assert(math.abs(est(0) - 5000.0) < 200.0)
    assert(math.abs(est(1) - 9000.0) < 200.0)
  }
}
