package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's end-to-end `process()` pipeline
  * (reference `etl/orders_etl.py:70-88`), as one lazy Spark DAG that
  * [[OrdersEtl]] composes:
  *
  *   scan+project → normalize+cast → keep-first dedup → clean name columns
  *   → cast products → dedup products → LEFT join → (sink).
  *
  * Where the eager pandas version materializes every stage, here Catalyst
  * sees the whole plan: column pruning reaches both scans, the name-cleaning
  * expressions fuse into one codegen stage with the casts, and the join
  * auto-broadcasts the (small) products side.
  */
object Pipeline {

  /** Typed, deduped, cleaned orders (stages 1,3,4,5). File-order keep-first
    * matches pandas `keep="first"` on an unordered CSV.
    */
  def processedOrders(spark: SparkSession, ordersCsvPath: String): DataFrame = {
    val raw    = Readers.ordersCsv(spark, ordersCsvPath)
    val typed  = Normalize.castOrders(raw)
    val deduped = Dedup.keepFirstFileOrder(typed, Seq("order_source_id", "product_id"))
    deduped
      .withColumn("name", CleanNames.clean(col("name")))
      .withColumn("surname", CleanNames.clean(col("surname")))
      .withColumn("patronymic", CleanNames.clean(col("patronymic")))
  }

  /** Typed, deduped products (stages 2,6,7). */
  def processedProducts(spark: SparkSession, productsCsvPath: String): DataFrame = {
    val raw   = Readers.productsCsv(spark, productsCsvPath)
    val typed = Normalize.castProducts(raw)
    Dedup.keepFirstFileOrder(typed, Seq("product_id"))
  }

  /** LEFT equi-join products onto orders (reference `etl/orders_etl.py:194-198`).
    * `Seq("product_id")` emits a single join column like pandas
    * `left_on = right_on`; unmatched orders keep null product attributes.
    */
  def joinFrames(orders: DataFrame, products: DataFrame): DataFrame =
    orders.join(products, Seq("product_id"), "left")
}
