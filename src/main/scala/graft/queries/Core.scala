package graft.queries

import graft.etl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.annotation.unused

/** Reference-parity queries over the synthetic testdata (SURVEY.md §2 →
  * §7.3 key mapping). Every query is deterministic (explicit total ORDER BY)
  * and every computed column is aliased identically in the Spark plan and
  * the DuckDB oracle SQL.
  */
object Core {

  /** §2.1 scan with scan-time projection: Catalyst pushes the 4-column
    * ReadSchema into the Parquet scan — at 100 TB this reads 4 columns'
    * pages, not 11.
    */
  def scanProjected(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  val scanProjectedSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** §2.5 normalization casts: decimal-comma repair, digit-strip id repair,
    * ISO-8601 timestamp round-trip. Dirty strings are synthesized from
    * integer keys (never from double rendering, which differs across
    * engines).
    */
  def castNormalize(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "lineitem")
      // sort the narrow scan FIRST, project the expensive expressions after:
      // the range-partitioner's sampling job then reads 3 plain columns
      // instead of re-evaluating the regex/timestamp work, and the shuffle
      // carries the narrow rows. Catalyst keeps the Project above the Sort
      // (verified via explain), so the expressions run exactly once.
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Normalize.decimalCommaToDouble(
          concat(col("l_orderkey").cast(StringType), lit(","),
            col("l_linenumber").cast(StringType))).as("sum_clean"),
        Normalize.digitsToLong(
          concat(lit("id-"), col("l_orderkey").cast(StringType), lit("x9")))
          .as("id_clean"),
        to_timestamp(date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss"))
          .as("ts_parsed"))

  val castNormalizeSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(replace(l_orderkey::VARCHAR || ',' || l_linenumber::VARCHAR, ',', '.') AS DOUBLE) AS sum_clean,
      |  CAST(regexp_replace('id-' || l_orderkey::VARCHAR || 'x9', '[^0-9]', '', 'g') AS BIGINT) AS id_clean,
      |  CAST(strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S') AS TIMESTAMP) AS ts_parsed
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** §2.6 the name-cleaning pipeline over customer names. */
  def cleanText(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "customer")
      // sort first, clean after: the regex pipeline runs once, post-shuffle
      // (32-way), instead of twice single-core (range-sampling re-evaluates
      // the projection, and a single-row-group scan has one partition)
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
      .select(col("c_custkey"), col("c_name"),
        CleanNames.clean(col("c_name")).as("c_name_clean"))

  val cleanTextSql: String = {
    val v = CleanNames.Vowels
    s"""SELECT c_custkey, c_name,
       |  CASE
       |    WHEN regexp_matches(s1, '^\\s') THEN regexp_replace(s1, '\\s', '', 'g')
       |    WHEN regexp_matches(s1, '^([$v]*|[^$v]*)$$') THEN ''
       |    ELSE regexp_replace(s1, '\\s', '', 'g')
       |  END AS c_name_clean
       |FROM (SELECT c_custkey, c_name,
       |        regexp_replace(lower(c_name), '[0-9]', '', 'g') AS s1
       |      FROM customer)
       |ORDER BY c_custkey""".stripMargin
  }

  /** §2.4 keep-first dedup with a real ordering column (deterministic at any
    * partitioning — SURVEY §7.4 risk 3).
    */
  def dedupKeepFirst(spark: SparkSession, dir: String): DataFrame =
    Dedup.keepFirst(Readers.events(spark, dir),
        Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
      .select("user_id", "event_type", "event_id", "ts", "value")
      .orderBy("user_id", "event_type")

  val dedupKeepFirstSql: String =
    """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY user_id, event_type
      |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** §2.3 LEFT equi-join. Customer is the smaller side: Catalyst broadcasts
    * it under the autoBroadcastJoinThreshold; at a scale where customer no
    * longer fits, AQE falls back to shuffled hash/sort-merge on the key.
    */
  def joinLeft(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "orders")
      .join(Readers.table(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "left")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "c_name", "c_mktsegment", "c_acctbal")
      .orderBy("o_orderkey")

  val joinLeftSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |       c_name, c_mktsegment, c_acctbal
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** §2.2 IN-list predicate (the reference's `isin` semi-filter). The
    * literal IN list is pushed to the Parquet scan as an `In` filter.
    */
  val inBrands: Seq[String] = Seq("Brand#1", "Brand#2", "Brand#3")

  def filterIn(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "part")
      .filter(col("p_brand").isin(inBrands: _*))
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_retailprice")
      .orderBy("p_partkey")

  val filterInSql: String =
    s"""SELECT p_partkey, p_name, p_brand, p_type, p_retailprice
       |FROM part WHERE p_brand IN (${inBrands.map("'" + _ + "'").mkString(", ")})
       |ORDER BY p_partkey""".stripMargin

  /** §2.8 the similarity scorer over part (product_id=p_partkey,
    * price=p_retailprice, goods_group=p_type, manufacturer=p_brand),
    * cross-wired weights and all.
    */
  val simTargetId: Long = 100L
  val simCandidates: Seq[Long] = Seq(100L, 101L, 102L, 200L, 300L, 400L, 500L, 999L)

  def similarityScores(spark: SparkSession, dir: String): DataFrame = {
    val products = Readers.table(spark, dir, "part").select(
      col("p_partkey").as("product_id"), col("p_retailprice").as("price"),
      col("p_type").as("goods_group"), col("p_brand").as("manufacturer"))
    Similarity.findSimilar(products, simTargetId, simCandidates)
      .orderBy("product_id")
  }

  val similarityScoresSql: String =
    s"""SELECT c.p_partkey AS product_id,
       |  round((CASE WHEN c.p_type = t.p_type THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END
       |   + CASE WHEN c.p_brand = t.p_brand THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END
       |   + (1.0::DOUBLE - abs(t.p_retailprice - c.p_retailprice)
       |            / greatest(t.p_retailprice, c.p_retailprice)) * 0.3::DOUBLE), 5) AS score
       |FROM part c, (SELECT * FROM part WHERE p_partkey = $simTargetId) t
       |WHERE c.p_partkey IN (${simCandidates.mkString(", ")})
       |ORDER BY product_id""".stripMargin

  /** §3 the composed flagship: dedup events keep-first, LEFT-join the
    * customer dimension, extract the JSON metric, normalize columns. One
    * lazy DAG — dedup shuffle on (user_id, event_type), then a broadcast
    * join, then map-only expression work.
    */
  def denormalizedFlagship(spark: SparkSession, dir: String): DataFrame = {
    val firstEvents = Dedup.keepFirst(Readers.events(spark, dir),
      Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
    firstEvents
      .join(Readers.table(spark, dir, "customer"),
        col("user_id") === col("c_custkey"), "left")
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        col("value"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"),
        col("c_name"), col("c_mktsegment"),
        bround(col("value") * 0.3, 5).as("value_scaled"))
      .orderBy("user_id", "event_type")
  }

  val denormalizedFlagshipSql: String =
    """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |  CAST(props->>'k' AS BIGINT) AS k, c_name, c_mktsegment,
      |  round(value * 0.3::DOUBLE, 5) AS value_scaled
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY user_id, event_type
      |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |      FROM events) e
      |LEFT JOIN customer ON user_id = c_custkey
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** End-to-end certification of the SQL FUNCTION SURFACE: every
    * engine-registered function (GraftExtensions) invoked from pure SQL
    * text — scalars inline, aggregates over VALUES — with the computed
    * value pinned against a literal oracle. A registration regression
    * (renamed function, changed arity, broken builder) or a semantic
    * drift in any native expression fails this one key. unicode_nfc is
    * certified by its own key (`unicode_nfc`) — non-ASCII literals don't
    * survive source-encoding round-trips reliably.
    */
  def sqlFunctionSurface(spark: SparkSession, @unused dir: String): DataFrame =
    spark.sql(
      """SELECT 'cdc_chunks' AS fn,
        |  CAST(size(cdc_chunks('the quick brown fox jumps over the lazy dog',
        |                       8, 4)) AS STRING) AS val
        |UNION ALL SELECT 'float_array_dot',
        |  CAST(float_array_dot(array(1.5F, 2.0F, -3.0F),
        |                       array(4.0F, 0.5F, 2.0F)) AS STRING)
        |UNION ALL SELECT 'graft_bloom_contains',
        |  CAST((SELECT graft_bloom_contains(
        |          graft_bloom_agg(xxhash64(v), 1024, 3), xxhash64('b'))
        |        FROM (VALUES ('a'), ('b'), ('c')) t(v)) AS STRING)
        |UNION ALL SELECT 'graft_heavy_hitters',
        |  (SELECT CAST(graft_heavy_hitters(v, 2)[0].item AS STRING)
        |   FROM (VALUES ('x'), ('x'), ('x'), ('y')) t(v))
        |UNION ALL SELECT 'graft_kll_quantiles',
        |  (SELECT CAST(graft_kll_quantiles(v, 16, 0.5D)[0] AS STRING)
        |   FROM (VALUES (1.0D), (2.0D), (3.0D), (4.0D), (5.0D)) t(v))
        |UNION ALL SELECT 'graft_top_k',
        |  (SELECT CAST(graft_top_k(s, id, 1)[0].id AS STRING)
        |   FROM (VALUES (1.0D, 10L), (9.0D, 99L)) t(s, id))
        |UNION ALL SELECT 'hashing_features',
        |  CAST(CAST(aggregate(zip_with(hashing_features('alpha beta', 16),
        |    sequence(1L, 16L), (x, i) -> x * i), 0.0D, (a, x) -> a + x)
        |    AS BIGINT) AS STRING)
        |UNION ALL SELECT 'html_unescape', html_unescape('a &amp; b &lt;c&gt;')
        |UNION ALL SELECT 'jaro_winkler',
        |  CAST(round(jaro_winkler('martha', 'marhta'), 6) AS STRING)
        |UNION ALL SELECT 'rolling_hash',
        |  CAST(rolling_hash('abcdefghij') AS STRING)
        |UNION ALL SELECT 'winnow_fingerprints',
        |  CAST(size(winnow_fingerprints('the quick brown fox', 4, 3))
        |    AS STRING)
        |ORDER BY fn""".stripMargin)

  val sqlFunctionSurfaceSql: String = Seq(
    ("cdc_chunks", "3"),
    ("float_array_dot", "1.0"),
    ("graft_bloom_contains", "true"),
    ("graft_heavy_hitters", "x"),
    ("graft_kll_quantiles", "3.0"),
    ("graft_top_k", "99"),
    ("hashing_features", "-5"),
    ("html_unescape", "a & b <c>"),
    ("jaro_winkler", "0.961111"),
    ("rolling_hash", "140777271"),
    ("winnow_fingerprints", "9"))
    .map { case (f, v) => s"SELECT '$f' AS fn, '$v' AS val" }
    .mkString("", "\nUNION ALL\n", "\nORDER BY fn")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_function_surface" -> sqlFunctionSurface,
    "scan_projected" -> scanProjected,
    "cast_normalize" -> castNormalize,
    "clean_text" -> cleanText,
    "dedup_keep_first" -> dedupKeepFirst,
    "join_left" -> joinLeft,
    "filter_in" -> filterIn,
    "similarity_scores" -> similarityScores,
    "denormalized_flagship" -> denormalizedFlagship
  )

  val oracle: Map[String, String] = Map(
    "sql_function_surface" -> sqlFunctionSurfaceSql,
    "scan_projected" -> scanProjectedSql,
    "cast_normalize" -> castNormalizeSql,
    "clean_text" -> cleanTextSql,
    "dedup_keep_first" -> dedupKeepFirstSql,
    "join_left" -> joinLeftSql,
    "filter_in" -> filterInSql,
    "similarity_scores" -> similarityScoresSql,
    "denormalized_flagship" -> denormalizedFlagshipSql
  )
}
