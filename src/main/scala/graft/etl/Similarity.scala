package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The product-similarity scorer (reference `etl/orders_etl.py:94-147`).
  *
  * Scoring semantics — including the reference's cross-wired weight
  * constants, which its golden tests lock in as *the* spec
  * (reference `tests/test_orders_etl.py:185-194`):
  *   - +0.5 when `goods_group` matches (GROUP_WEIGHT),
  *   - +0.2 when `manufacturer` matches (the code adds PRICE_WEIGHT here),
  *   - +(1 − |pₜ − p꜀| / max(pₜ, p꜀)) × 0.3 price term (scaled by
  *     MANUFACTURER_WEIGHT),
  *   - round half-even to 5 decimals (Python `round` → Spark `bround`).
  *
  * Execution shape: the target is one row — broadcast it and evaluate the
  * score as a pure column expression over the filtered candidates. One
  * narrow stage, no shuffle, fully codegen'd; at 100 TB of candidates this
  * is a map-only scan.
  */
object Similarity {

  /** Score as a column expression given candidate and target attribute
    * columns. Null semantics match pandas: NaN == anything is false (the
    * `when` falls through to 0), null price propagates null.
    */
  def scoreExpr(price: Column, group: Column, mfr: Column,
                tPrice: Column, tGroup: Column, tMfr: Column): Column =
    bround(
      when(group === tGroup, 0.5).otherwise(0.0)
        + when(mfr === tMfr, 0.2).otherwise(0.0)
        + (lit(1.0) - abs(tPrice - price) / greatest(tPrice, price)) * 0.3,
      5)

  /** `find_similar_products`: score `candidateIds` against `targetId` over a
    * products table with columns (product_id, price, goods_group,
    * manufacturer). Returns (product_id, score).
    */
  def findSimilar(products: DataFrame, targetId: Long,
                  candidateIds: Seq[Long]): DataFrame = {
    val target = products
      .filter(col("product_id") === targetId)
      .select(col("price").as("t_price"), col("goods_group").as("t_group"),
        col("manufacturer").as("t_mfr"))
    val candidates = products
      .filter(col("product_id").isin(candidateIds: _*))
      .select("product_id", "price", "goods_group", "manufacturer")
    candidates
      .crossJoin(broadcast(target))
      .select(col("product_id"),
        scoreExpr(col("price"), col("goods_group"), col("manufacturer"),
          col("t_price"), col("t_group"), col("t_mfr")).as("score"))
  }
}
