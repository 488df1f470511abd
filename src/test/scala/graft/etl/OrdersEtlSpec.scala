package graft.etl

import graft.TestSpark
import graft.ops.CatalogStats
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions.spark_partition_id
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}

/** The OrdersEtl facade end-to-end: the exact call sequence of the
  * reference's `run.py` (process → write → find_similar_products with its
  * real target/candidates, reference `etl/run.py:3-16`), then the lookup
  * contract and the job shape of every entry point on small CSVs written
  * to a temp dir.
  */
class OrdersEtlSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val ordersCsv = "/root/reference/input_data/orders_s.csv"
  private val productsCsv = "/root/reference/input_data/products_s.csv"

  test("run.py call sequence: process, write, findSimilarProducts") {
    assume(Files.exists(Paths.get(ordersCsv)))
    val root = Files.createTempDirectory("graft-etl").toString
    val etl = new OrdersEtl(spark, ordersCsv, productsCsv,
      root, "orders.orders_denormalized")

    assert(etl.process().count() == 1499)

    etl.write()
    val written = spark.read.parquet(s"$root/orders/orders_denormalized")
    assert(written.count() == 1499 && written.columns.length == 13)

    // run.py's actual invocation: target 516423 with 8 candidates
    val scores = etl.findSimilarProducts(516423L,
      Seq(536469L, 296597L, 385613L, 516423L, 516425L, 427227L, 439541L, 528462L))
    assert(scores(516423L) == 1.0)
    assert(scores(536469L) == 0.08772)
    assert(scores.size == 8)

    intercept[IllegalArgumentException] {
      etl.findSimilarProducts(-1L, Seq(516423L))
    }
  }

  // SimilaritySpec's eight golden products, then a second 516425 row whose
  // price keep-first must discard, a product without a price, and a product
  // whose empty id casts to null.
  private val productsRows = Seq(
    "product_id,price,goods_group,manufacturer",
    "536469,749.0,Для активного відпочинку,Bugs",
    "296597,199.0,Дитячі машинки,CARS",
    "385613,199.0,Ігрові фігурки,CARS",
    "516423,219.0,Дитячі машинки,CARS",
    "516425,299.0,Дитячі машинки,CARS",
    "427227,329.0,Дитячі машинки,LENA",
    "439541,810.0,Дитячі машинки,LENA",
    "528462,219.0,Дитячі машинки,LENA",
    "516425,999.0,Дитячі машинки,CARS",
    "700001,,Дитячі машинки,CARS",
    ",219.0,Дитячі машинки,CARS")

  private val ordersRows = Seq(
    ",order_source_id,order_created_datetime,customer_id,status,sum,quantity," +
      "name,surname,patronymic,product_id",
    "0,1001,2023-01-01 10:00:00,1,Paid,\"1300,65\",1,Іван,Петренко,Іванович,516423",
    "1,1002,2023-01-02 11:00:00,2,Paid,199.0,2,Anna,Smith,,296597c",
    "2,1003,2023-01-03 12:00:00,3,Waiting,50.5,1,Олена,Коваль,Петрівна,123")

  private val golden = Map(
    536469L -> 0.08772, 296597L -> 0.9726, 385613L -> 0.4726,
    516423L -> 1.0, 516425L -> 0.91973, 427227L -> 0.6997,
    439541L -> 0.58111, 528462L -> 0.8)

  private def write(dir: Path, name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    p.toString
  }

  private def newEtl(products: Seq[String] = productsRows): OrdersEtl = {
    val dir = Files.createTempDirectory("graft-etl-facade")
    new OrdersEtl(spark, write(dir, "orders.csv", ordersRows),
      write(dir, "products.csv", products),
      dir.resolve("warehouse").toString, "orders.orders_denormalized")
  }

  test("lookup: golden scores, keep-first price, target as candidate, unknown ids") {
    val etl = newEtl()
    // 516425's first row (299.0) is scored, not its later 999.0 duplicate
    assert(etl.findSimilarProducts(516423L, golden.keys.toSeq) == golden)
    // the target among the candidates scores 1.0; unknown ids are dropped
    assert(etl.findSimilarProducts(516423L, Seq(516423L, 1L, 2L)) == Map(516423L -> 1.0))
    assert(etl.findSimilarProducts(516423L, Seq.empty).isEmpty)
  }

  // (target, candidates) pairs over the golden ids, unknown ids among them
  private val lookups = Seq(
    516423L -> golden.keys.toSeq,
    536469L -> (golden.keys.toSeq ++ Seq(1L, 2L, 3L, 4L, 5L)),
    427227L -> Seq(439541L, 528462L, 9L),
    516425L -> Seq(516425L, 296597L))

  private def assertMatchesFindSimilar(etl: OrdersEtl): Unit =
    lookups.foreach { case (target, cands) =>
      val expected = Similarity.findSimilar(etl.processedProducts, target, cands)
        .as[(Long, Double)].collect().toMap
      assert(etl.findSimilarProducts(target, cands) == expected, s"target $target")
    }

  test("lookup matches Similarity.findSimilar over processedProducts") {
    assertMatchesFindSimilar(newEtl())
  }

  test("concurrent lookups on one instance return the serial maps") {
    val serial = {
      val etl = newEtl()
      lookups.map { case (target, cands) => etl.findSimilarProducts(target, cands) }
    }
    val etl = newEtl()
    val pool = Executors.newFixedThreadPool(4)
    try {
      val runs = (1 to 4).map(_ => pool.submit(new Callable[Seq[Map[Long, Double]]] {
        def call(): Seq[Map[Long, Double]] =
          lookups.map { case (target, cands) => etl.findSimilarProducts(target, cands) }
      }))
      runs.foreach(r => assert(r.get() == serial))
    } finally pool.shutdown()
  }

  test("a null product_id is never a lookup's target or candidate") {
    val etl = newEtl()
    assert(etl.processedProducts.filter($"product_id".isNull).count() == 1)
    val e = intercept[IllegalArgumentException](etl.findSimilarProducts(0L, Seq(516423L)))
    assert(e.getMessage == "requirement failed: target product 0 not found")
    assert(etl.findSimilarProducts(516423L, Seq(0L, 296597L)) == Map(296597L -> 0.9726))
  }

  test("an absent target throws, on the first lookup and once the pin exists") {
    val etl = newEtl()
    val first = intercept[IllegalArgumentException](etl.findSimilarProducts(-1L, Seq(516423L)))
    assert(first.getMessage == "requirement failed: target product -1 not found")
    assert(etl.findSimilarProducts(516423L, Seq(296597L)) == Map(296597L -> 0.9726))
    intercept[IllegalArgumentException](etl.findSimilarProducts(42L, golden.keys.toSeq))
  }

  test("a header-only products file: every lookup reports the target not found") {
    val etl = newEtl(productsRows.take(1))
    assert(etl.processedProducts.isEmpty)
    val first = intercept[IllegalArgumentException](etl.findSimilarProducts(516423L, Seq(1L)))
    assert(first.getMessage == "requirement failed: target product 516423 not found")
    intercept[IllegalArgumentException](etl.findSimilarProducts(1L, Seq.empty))
  }

  test("a pin over several partitions finds a target and candidates in different ones") {
    val etl = newEtl()
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(parts >= 2)
    CatalogStats.withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val partOf = etl.processedProducts.filter($"product_id".isNotNull)
        .select($"product_id", spark_partition_id()).as[(Long, Int)].collect().toMap
      // the golden lookup's target and candidates span several partitions
      assert(golden.keys.map(partOf).toSet.size >= 2)
      // the first lookup takes the pin under the same conf
      assertMatchesFindSimilar(etl)
    }
    // the pin kept every partition: a later lookup runs one task per partition
    val jobsOf = new JobCounter(spark.sparkContext)
    try assert(jobsOf.tasks(etl.findSimilarProducts(516423L, golden.keys.toSeq)) == parts)
    finally jobsOf.close()
  }

  test("a null price on the candidate or the target scores NaN") {
    val etl = newEtl()
    val cand = etl.findSimilarProducts(516423L, Seq(700001L, 296597L))
    assert(cand(700001L).isNaN && cand(296597L) == 0.9726)
    val target = etl.findSimilarProducts(700001L, Seq(516423L, 700001L))
    assert(target.size == 2 && target.values.forall(_.isNaN))
  }

  test("job shape: construction is lazy, lookups leave write() alone, one job per lookup") {
    val cands = golden.keys.toSeq ++ Seq(1L, 2L, 3L)
    val jobsOf = new JobCounter(spark.sparkContext)
    try {
      lazy val plain = newEtl()
      assert(jobsOf(plain.process()) == 0)
      val writeAlone = jobsOf(plain.write())
      assert(writeAlone > 0)

      val looked = newEtl()
      assert(jobsOf(looked.findSimilarProducts(516423L, cands)) > 0)
      assert(jobsOf(looked.write()) == writeAlone)
      // later lookups: one plain job each, no SQL query planned
      (1 to 3).foreach { i =>
        assert(jobsOf.counts(looked.findSimilarProducts(516423L, cands.drop(i))) == (1, 0))
      }
      assert(jobsOf.counts(intercept[IllegalArgumentException](
        looked.findSimilarProducts(-1L, cands))) == (1, 0))
    } finally jobsOf.close()
  }
}
