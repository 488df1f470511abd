package graft.etl

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, JoinedRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import scala.collection.Searching.Found

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
  *   - `findSimilarProducts` looks the target and candidate rows up in
  *     an index of the processed products by `product_id`, pinned on the
  *     first lookup (one plain Spark job per lookup after that, no SQL
  *     query, a binary search per id instead of a scan), and scores them
  *     on the driver with [[Similarity.scoreExpr]], bound once per
  *     instance.
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
    * first) indexed by `product_id` for the lookups: per partition, one
    * pinned array of its rows with a non-null id, copied (the iterator
    * reuses its rows) and sorted by id. The keep-first dedup leaves at most
    * one row per non-null id, so one binary-search hit is the whole answer
    * for that id. Built in one pass and `localCheckpoint`ed: taking the RDD
    * of the adaptive plan runs the products dedup's shuffle stage on the
    * first lookup, and that lookup's job computes and pins the arrays.
    */
  private lazy val productsPin: RDD[Array[InternalRow]] =
    processedProducts.queryExecution.toRdd.mapPartitions { it =>
      // a null id reads as 0 from getLong
      Iterator.single(it.filter(!_.isNullAt(0)).map(_.copy()).toArray.sortBy(_.getLong(0)))
    }.localCheckpoint()

  /** [[Similarity.scoreExpr]] bound to a candidate row joined with its
    * target row: the pin's columns, then the same columns again as `t_*`.
    * Resolved once through the analyzer, so type coercion is that of a
    * DataFrame over these columns. Interpreted `eval` keeps no per-call
    * state, so concurrent lookups share it; a generated projection would
    * reuse one output row across them.
    */
  private lazy val score: Expression = {
    val s = processedProducts.schema
    val pair = new StructType(s.fields ++ s.fields.map(f => f.copy(name = s"t_${f.name}")))
    spark.createDataFrame(java.util.Collections.emptyList[Row](), pair)
      .select(Similarity.scoreExpr(
        col("price"), col("goods_group"), col("manufacturer"),
        col("t_price"), col("t_goods_group"), col("t_manufacturer")))
      .queryExecution.analyzed match {
        case Project(Seq(Alias(e, _)), input) => BindReferences.bindReference(e, input.output)
      }
  }

  /** Reference `find_similar_products`: `Map(candidate_id -> score)`.
    * Throws `IllegalArgumentException` if the target id is absent, matching
    * the reference's `IndexError` contract (reference
    * `etl/orders_etl.py:105`). Unknown candidates are dropped; a candidate
    * or target without a price scores `NaN`, as pandas NaN propagates
    * through the reference's arithmetic.
    *
    * Each lookup is one Spark job and no SQL query: `runJob` over the
    * index pin binary-searches the target and every candidate in each
    * partition's sorted array, so a task does O(|ids| · log n) work over
    * its n rows rather than scanning them, and returns the hits. The
    * driver scores each candidate against the target with the bound
    * [[Similarity.scoreExpr]]. Nothing is analyzed, planned or compiled
    * per lookup.
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
    val wanted = candidateIds.toSet
    val ids = wanted + targetId
    val rows = spark.sparkContext.runJob(productsPin, (it: Iterator[Array[InternalRow]]) =>
      it.flatMap(sorted => ids.iterator.flatMap(OrdersEtl.probe(sorted, _))).toArray).flatten
    val target = rows.find(_.getLong(0) == targetId)
    require(target.isDefined, s"target product $targetId not found")
    rows.filter(r => wanted(r.getLong(0))).map { r =>
      r.getLong(0) -> (score.eval(new JoinedRow(r, target.get)) match {
        case d: Double => d
        case null => Double.NaN
      })
    }.toMap
  }
}

object OrdersEtl {

  /** The row of `sorted` (ascending by a non-null `product_id`) whose id
    * is `id`, found by binary search.
    */
  private def probe(sorted: Array[InternalRow], id: Long): Option[InternalRow] =
    sorted.view.map(_.getLong(0)).search(id) match {
      case Found(i) => Some(sorted(i))
      case _ => None
    }
}
