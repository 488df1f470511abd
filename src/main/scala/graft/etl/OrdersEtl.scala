package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Drop-in equivalent of the reference's `OrdersEtl` class
  * (reference `etl/orders_etl.py:10-198`): same constructor shape, same
  * three entry points (`process`, `write`, `findSimilarProducts`), Spark
  * semantics underneath.
  *
  * Differences by design:
  *   - `process()` builds one lazy DAG instead of materializing each stage;
  *   - the sink targets the warehouse abstraction of [[Sink]] (Parquet
  *     overwrite ≡ BigQuery `if_exists="replace"`; swap in the
  *     spark-bigquery-connector on a connected cluster);
  *   - `findSimilarProducts` reads the target and candidate rows from a
  *     pin of the processed products taken on the first lookup (one Spark
  *     job per lookup after that) and scores them on the driver with
  *     [[Similarity.scoreExpr]].
  */
class OrdersEtl(spark: SparkSession, ordersCsv: String, productsCsv: String,
                warehouseRoot: String, tableName: String) {

  /** Typed, deduped, cleaned, denormalized output (reference `process()`,
    * stages 1–8). Lazy — nothing runs until an action.
    */
  lazy val processedOrders: DataFrame = Pipeline.processedOrders(spark, ordersCsv)
  lazy val processedProducts: DataFrame = Pipeline.processedProducts(spark, productsCsv)
  lazy val output: DataFrame = Pipeline.joinFrames(processedOrders, processedProducts)

  /** Reference `process()` — returns the denormalized table. */
  def process(): DataFrame = output

  /** Reference `write_to_bq(if_exists="replace")`. */
  def write(): Unit = Sink.overwriteTable(output, warehouseRoot, tableName)

  /** `processedProducts` (columns of [[Schemas.products]], `product_id`
    * first) materialized once for the lookups: an eager `localCheckpoint()`,
    * which runs the products pipeline (scan, casts, keep-first dedup) on the
    * first lookup.
    */
  private lazy val productsPin: DataFrame = processedProducts.localCheckpoint()

  /** Reference `find_similar_products`: `Map(candidate_id -> score)`.
    * Throws `IllegalArgumentException` if the target id is absent, matching
    * the reference's `IndexError` contract (reference
    * `etl/orders_etl.py:105`). Unknown candidates are dropped; a candidate
    * or target without a price scores `NaN`, as pandas NaN propagates
    * through the reference's arithmetic.
    *
    * Each lookup is one Spark job: collect the rows of the target and the
    * candidates from the pin (an `isin` over more than ten ids plans as
    * `InSet`, whose set is a reference object, so the scan's generated
    * code is reused and nothing recompiles per lookup), then score them
    * over a local relation, which the optimizer folds on the driver.
    *
    * The pin is taken on the first lookup and lives as long as this
    * instance: Spark's context cleaner drops its blocks once the instance
    * is garbage-collected. So the products pipeline runs twice per
    * instance, once in `write()` and once on the first lookup. Pinning at
    * construction would be slower: taking the RDD of an adaptive plan runs
    * its shuffle stage, so the products dedup would run alone ahead of the
    * write instead of alongside the orders branch. `persist()` would put
    * the frame in the session-wide cache, where other plans over the same
    * files (another instance included, even after the files change) would
    * be served from it. The pin lives on the executors and fails loudly
    * (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`) if an executor holding a block
    * is lost; it never serves a partial answer.
    */
  def findSimilarProducts(targetId: Long,
                          candidateIds: Seq[Long]): Map[Long, Double] = {
    val rows = productsPin.filter(col("product_id").isin(targetId +: candidateIds: _*))
      .collect()
    val target = rows.find(_.getLong(0) == targetId)
    require(target.isDefined, s"target product $targetId not found")
    val wanted = candidateIds.toSet
    val pairs = rows.filter(r => wanted(r.getLong(0)))
      .map(r => Row.fromSeq(r.toSeq ++ target.get.toSeq.tail))
    val s = productsPin.schema
    val schema = new StructType(s.fields ++ s.fields.tail.map(f => f.copy(name = s"t_${f.name}")))
    spark.createDataFrame(pairs.toSeq.asJava, schema)
      .select(col("product_id"), Similarity.scoreExpr(
        col("price"), col("goods_group"), col("manufacturer"),
        col("t_price"), col("t_goods_group"), col("t_manufacturer")))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      .toMap
  }
}
