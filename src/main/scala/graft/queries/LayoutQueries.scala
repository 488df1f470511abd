package graft.queries

import graft.etl.Readers
import graft.ops.{Bucketing, Layout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout queries: Z-order clustering quality over `orders`.
  *
  * The query computes the Morton key a writer would
  * `repartitionByRange(z).sortWithinPartitions(z)` by, then groups rows
  * into contiguous z-blocks (a stand-in for output files) and reports
  * each block's min/max span in BOTH interleaved dimensions — exactly the
  * per-file statistics min/max data skipping reads. Tight spans in both
  * columns are the evidence the layout prunes scans filtered on either
  * dimension; a single-column sort would show full-range spans in the
  * other column.
  */
object LayoutQueries {

  val ZBits = 8           // 256 buckets per dimension, 16-bit z key
  val PriceBucketWidth = 2500.0
  val ZBlockShift = 8     // 256 z-values per block → up to 256 blocks

  /** Per-z-block clustering ledger: row count plus min/max of both
    * bucketized dims ([[Layout.morton2]]). `cust_b` = o_custkey mod 256
    * (id-ish dim), `price_b` = o_totalprice bucketized at 2500/bucket and
    * clamped to 8 bits (value-ish dim).
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val custB = (col("o_custkey") % 256).as("cust_b")
    val priceB = least(floor(col("o_totalprice") / PriceBucketWidth),
      lit(255L)).as("price_b")
    Readers.table(spark, dir, "orders")
      .select(col("o_orderkey"), custB, priceB)
      .select(col("o_orderkey"), col("cust_b"), col("price_b"),
        Layout.morton2(col("cust_b"), col("price_b"), ZBits).as("z"))
      .groupBy(shiftright(col("z"), ZBlockShift).as("z_block"))
      .agg(count(lit(1)).as("n_rows"),
        min("cust_b").as("cust_lo"), max("cust_b").as("cust_hi"),
        min("price_b").as("price_lo"), max("price_b").as("price_hi"))
      .orderBy("z_block")
  }

  val zorderLayoutSql: String = {
    // the same interleave, spelled in integer div/mod arithmetic
    val z = (0 until ZBits).map { i =>
      s"((cust_b // ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((price_b // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT o_orderkey, o_custkey % 256 AS cust_b,
       |    least(floor(o_totalprice / $PriceBucketWidth), 255)::BIGINT
       |      AS price_b
       |  FROM orders
       |),
       |zb AS (SELECT o_orderkey, cust_b, price_b, ($z) AS z FROM b)
       |SELECT z // ${1L << ZBlockShift} AS z_block,
       |  count(*) AS n_rows,
       |  min(cust_b) AS cust_lo, max(cust_b) AS cust_hi,
       |  min(price_b) AS price_lo, max(price_b) AS price_hi
       |FROM zb GROUP BY 1 ORDER BY z_block""".stripMargin
  }

  val BucketCount = 8 // thousands on a real cluster; 8 keeps sf0.001 buckets multi-row

  /** Revenue rollup over BUCKETED copies of orders/lineitem
    * ([[Bucketing.writeBucketed]], both on the order key, same bucket
    * count): the per-order aggregation and the orders⋈lineitem join both
    * run with ZERO exchanges — the load-time bucket shuffle replaces every
    * later per-query shuffle on the key, which at 100 TB is the difference
    * between shuffling the fact table once and shuffling it on every
    * query. Only the final 5-row priority rollup exchanges.
    *
    * EAGER BY NATURE: the bucketed copies are (re)written when the query
    * is constructed — this is a storage-layout operator, the write IS the
    * operator (same contract as [[graft.etl.Sink]]). Results are
    * layout-invariant, so the DuckDB oracle runs the same SQL on the raw
    * parquet; the zero-exchange plan shape is pinned by BucketingSpec.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val root = s"${graft.SparkSessions.scratchDir()}/bucketed/$tag"
    Bucketing.writeBucketed(spark,
      Readers.table(spark, dir, "orders").select("o_orderkey", "o_orderpriority"),
      s"graft_b_orders_$tag", s"$root/orders", "o_orderkey", BucketCount)
    Bucketing.writeBucketed(spark,
      Readers.table(spark, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount"),
      s"graft_b_lineitem_$tag", s"$root/lineitem", "l_orderkey", BucketCount)
    val perOrder = spark.table(s"graft_b_lineitem_$tag")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    spark.table(s"graft_b_orders_$tag")
      // merge hint: keep the demo on the bucket-aligned SMJ path even at
      // spec scale, where the tiny aggregated side would otherwise be
      // broadcast and hide the layout's effect
      .join(perOrder.hint("merge"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum("n_items").as("n_items"),
        round(sum("rev"), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  val bucketedJoinSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey, count(*) AS n_items,
      |    sum(l_extendedprice * (1.0::DOUBLE - l_discount)) AS rev
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  sum(n_items)::BIGINT AS n_items,
      |  round(sum(rev), 2) AS revenue
      |FROM orders JOIN per_order ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** ORC as a second columnar source/sink: write a lineitem projection as
    * ORC, read it back, and aggregate under a filter. The value is the
    * format breadth AND the plan contract: Spark's ORC reader converts
    * the `l_quantity >= 30` predicate into an ORC search argument
    * (`PushedFilters` on the scan, row-group skipping at scale) exactly
    * as the parquet path does — pinned by SourceFormatsSpec. Columns are
    * BIGINT/DOUBLE/VARCHAR only; the oracle aggregates the SAME rows from
    * the original parquet, so the roundtrip certifies ORC write+read
    * preserves values bit-exactly (quantity sums are integral doubles —
    * order-proof).
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_rt_" +
      Integer.toHexString(dir.hashCode)
    graft.etl.Sink.overwriteOrc(
      Readers.table(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag"), out)
    val schema = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))
    Readers.orc(spark, out, schema)
      .filter(col("l_quantity") >= 30)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum("l_quantity").cast("long").as("qty_total"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")
  }

  val orcRoundtripSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(l_quantity) AS BIGINT) AS qty_total,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      |FROM lineitem WHERE l_quantity >= 30
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zorder_layout" -> zorderLayout,
    "bucketed_join" -> bucketedJoin,
    "orc_roundtrip" -> orcRoundtrip)

  val oracle: Map[String, String] = Map(
    "zorder_layout" -> zorderLayoutSql,
    "bucketed_join" -> bucketedJoinSql,
    "orc_roundtrip" -> orcRoundtripSql)
}
