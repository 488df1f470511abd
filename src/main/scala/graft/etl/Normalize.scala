package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** String→typed normalization expressions. All pure built-in column
  * expressions — fully codegen'd, no UDFs, so they stay inside whole-stage
  * codegen and are visible to Catalyst (constant folding, pushdown).
  *
  * Failure semantics: the reference's pandas `astype` throws on unparseable
  * input; we guarantee casts succeed by construction (regex pre-clean), which
  * is exactly what the reference does (reference `etl/orders_etl.py:149-171`).
  */
object Normalize {

  /** European decimal comma → dot, e.g. `"1300,65"` → `1300.65`
    * (reference `etl/orders_etl.py:156`).
    */
  def decimalCommaToDouble(c: Column): Column =
    regexp_replace(c, ",", ".").cast(DoubleType)

  /** Strip every non-digit then cast, e.g. `"529629c"` → `529629L`
    * (reference `etl/orders_etl.py:157-159`). Python's `\D` and pandas'
    * int parse are Unicode-aware, so a decimal digit of any script counts:
    * `(?U)\D` strips, then each Nd code point becomes its ASCII value
    * (`"12٣"` → 123). Java's plain `\D` is ASCII-only.
    */
  def digitsToLong(c: Column): Column =
    translate(regexp_replace(c, "(?U)\\D", ""), unicodeDigits, asciiDigits)
      .cast(LongType)

  /** Every `Character.DECIMAL_DIGIT_NUMBER` code point, and its value. */
  private val (unicodeDigits, asciiDigits) = {
    val nd = (0 to Character.MAX_CODE_POINT)
      .filter(Character.getType(_) == Character.DECIMAL_DIGIT_NUMBER)
    (nd.map(cp => Character.toString(cp)).mkString,
      nd.map(Character.digit(_, 10)).mkString)
  }

  /** Apply the full orders TYPES_SCHEMA (reference `etl/orders_etl.py:34-42`,
    * `:149-161`): comma-decimal `sum`, dirty `product_id`, ISO-8601
    * timestamp, long ids. `status` stays a plain string (pandas `category`
    * is dictionary-encoding, which Parquet/Tungsten already do).
    */
  def castOrders(df: DataFrame): DataFrame =
    df.select(
      col("order_source_id").cast(LongType).as("order_source_id"),
      col("order_created_datetime").cast(TimestampType).as("order_created_datetime"),
      col("customer_id").cast(LongType).as("customer_id"),
      col("status"),
      decimalCommaToDouble(col("sum")).as("sum"),
      col("quantity").cast(LongType).as("quantity"),
      col("name"), col("surname"), col("patronymic"),
      digitsToLong(col("product_id")).as("product_id")
    )

  /** Apply the products TYPES_SCHEMA (reference `etl/orders_etl.py:163-171`). */
  def castProducts(df: DataFrame): DataFrame =
    df.select(
      col("product_id").cast(LongType).as("product_id"),
      col("price").cast(DoubleType).as("price"),
      col("goods_group"),
      col("manufacturer")
    )
}
