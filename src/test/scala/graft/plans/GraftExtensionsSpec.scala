package graft.plans

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-surface functions registered by GraftExtensions. */
class GraftExtensionsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("float_array_dot is callable from SQL") {
    val r = spark.sql(
      """SELECT float_array_dot(
        |  array(cast(1.0 as float), cast(2.0 as float)),
        |  array(cast(3.0 as float), cast(4.0 as float))) AS d""".stripMargin)
      .as[Double].collect()(0)
    assert(r == 11.0)
  }

  test("rolling_hash from SQL matches the polynomial definition") {
    // ((0*31+97)*31+98)*31+99 mod 1e9+7 = 96354; empty string hashes to 0;
    // code-point iteration: Cyrillic 'к' is one code point (1082)
    val r = spark.sql(
      "SELECT rolling_hash('abc') AS a, rolling_hash('') AS e, rolling_hash('к') AS c")
      .as[(Long, Long, Long)].collect()(0)
    assert(r == ((96354L, 0L, 1082L)))
  }

  test("html_unescape is callable from SQL and handles named+numeric entities") {
    val r = spark.sql(
      "SELECT html_unescape('в&#039;ячеславівна &amp; &lt;tag&gt; &euro;') AS s")
      .as[String].collect()(0)
    assert(r == "в'ячеславівна & <tag> €")
  }

  test("unicode_nfc composes decomposed sequences, SQL-callable") {
    // 'e' + combining acute (U+0301) composes to U+00E9
    val r = spark.sql("SELECT unicode_nfc('café ok') AS s, " +
        "length(unicode_nfc('café')) AS n")
      .as[(String, Int)].collect()(0)
    assert(r._1 == "café ok")
    assert(r._2 == 4)
  }

  test("winnow_fingerprints and cdc_chunks are callable from SQL") {
    val r = spark.sql(
      "SELECT winnow_fingerprints('abcdab', 3, 2) AS fps, " +
        "cdc_chunks('abc', 8, 4) AS ch")
      .as[(Seq[Long], Seq[String])].collect()(0)
    // same values the functions' unit specs pin
    assert(r._1 == graft.functions.WinnowImpl.compute("abcdab", 3, 2)
      .toLongArray().toSeq)
    assert(r._2 == Seq("abc"))
    // non-literal k rejected loudly
    val e = intercept[Exception](
      spark.sql("SELECT winnow_fingerprints('x', length('abc'), 2)").collect())
    assert(e.getMessage.contains("literal"))
  }
}
