package graft.plans

import graft.functions.{BloomFilterBuildAgg, BloomMightContain, CdcChunks, FloatArrayDot, HashingTrick, HeavyHittersSketch, HtmlUnescape, JaroWinkler, KllQuantilesAgg, RollingHash, TopKStructs, UnicodeNfc, WinnowFingerprints}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Engine extension entry point: install with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `SparkSession.builder.withExtensions`). Registers:
  *
  *   - the [[RewriteLateralAsOf]] and [[DistributeGlobalRank]] optimizer
  *     rules,
  *   - the engine's native expressions as SQL functions (`float_array_dot`,
  *     `html_unescape`, `jaro_winkler`, `graft_top_k`, ... — the
  *     `sql_function_surface` query key calls each one from SQL text).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // as-of BEFORE the rank rule (injection order = in-batch run order):
    // the lateral idiom's decorrelated form contains a top-k-filtered
    // PARTITIONED window, which the rank rule already leaves alone, but
    // running the as-of match first makes the intent structural rather
    // than dependent on the rank rule's filter guard
    ext.injectOptimizerRule(_ => RewriteLateralAsOf)
    // late optimizer, NOT analyzer: incremental DataFrame analysis would
    // present rank windows without their top-k filters and the rewrite
    // would fire on shapes it must leave alone (see the rule's scaladoc)
    ext.injectOptimizerRule(_ => DistributeGlobalRank)

    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
               what: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

    ext.injectFunction((
      FunctionIdentifier("float_array_dot"),
      new ExpressionInfo(classOf[FloatArrayDot].getName, "float_array_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "float_array_dot expects 2 arguments")
        FloatArrayDot(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "rolling_hash expects 1 argument")
        RollingHash(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "jaro_winkler expects 2 arguments")
        JaroWinkler(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_top_k"),
      new ExpressionInfo(classOf[TopKStructs].getName, "graft_top_k"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3,
          "graft_top_k expects (score, id, k literal)")
        TopKStructs(children(0), children(1),
          intLit(children(2), "graft_top_k: k"))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHittersSketch].getName,
        "graft_heavy_hitters"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "graft_heavy_hitters expects (item, k literal)")
        HeavyHittersSketch(children(0),
          intLit(children(1), "graft_heavy_hitters: k"))
      }))

    ext.injectFunction((
      FunctionIdentifier("unicode_nfc"),
      new ExpressionInfo(classOf[UnicodeNfc].getName, "unicode_nfc"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "unicode_nfc expects 1 argument")
        UnicodeNfc(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName,
        "winnow_fingerprints"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3,
          "winnow_fingerprints expects (text, k literal, w literal)")
        WinnowFingerprints(children.head,
          intLit(children(1), "winnow_fingerprints: k"),
          intLit(children(2), "winnow_fingerprints: w"))
      }))

    ext.injectFunction((
      FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3,
          "cdc_chunks expects (text, k literal, bits literal)")
        CdcChunks(children.head,
          intLit(children(1), "cdc_chunks: k"),
          intLit(children(2), "cdc_chunks: bits"))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterBuildAgg].getName,
        "graft_bloom_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3,
          "graft_bloom_agg expects (value, numBits literal, numHashes literal)")
        val bits = children(1) match {
          case Literal(v: Int, IntegerType) => v.toLong
          case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
          case other => throw new IllegalArgumentException(
            s"graft_bloom_agg: numBits must be an integer literal, got $other")
        }
        BloomFilterBuildAgg(children.head, bits,
          intLit(children(2), "graft_bloom_agg: numHashes"))
      }))

    ext.injectFunction((
      FunctionIdentifier("hashing_features"),
      new ExpressionInfo(classOf[HashingTrick].getName, "hashing_features"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "hashing_features expects (text, dim literal)")
        HashingTrick(children.head, intLit(children(1), "hashing_features: dim"))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_kll_quantiles"),
      new ExpressionInfo(classOf[KllQuantilesAgg].getName,
        "graft_kll_quantiles"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length >= 3,
          "graft_kll_quantiles expects (value, k literal, q literals...)")
        val qs = children.drop(2).map {
          case Literal(d: Double, org.apache.spark.sql.types.DoubleType) => d
          case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
          case other => throw new IllegalArgumentException(
            s"graft_kll_quantiles: q must be a numeric literal, got $other")
        }
        KllQuantilesAgg(children.head,
          intLit(children(1), "graft_kll_quantiles: k"), qs)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "graft_bloom_contains expects (bloom, value)")
        BloomMightContain(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("html_unescape"),
      new ExpressionInfo(classOf[HtmlUnescape].getName, "html_unescape"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "html_unescape expects 1 argument")
        HtmlUnescape(children.head)
      }))
  }
}
