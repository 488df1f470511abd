package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Golden semantics of the name-cleaning pipeline, ported 1:1 from the
  * reference's `tests/test_orders_etl.py:76-104` plus single-pass `re.sub`
  * edge cases derived from `etl/orders_etl.py:185-190`.
  */
class CleanNamesSpec extends AnyFunSuite {

  import TestSpark.spark.implicits._

  private def cleanAll(values: Seq[String]): Seq[String] =
    values.toDF("v")
      .select(CleanNames.clean(col("v")).as("c"))
      .as[String].collect().toSeq

  test("reference golden cases") {
    val inputs = Seq(
      "Olena", "-", "в&#039;ячеславівна", "я", "мар&#039;яна",
      "кіт", "ddd", "m", "с", "іванова-шипак")
    val expected = Seq(
      "olena", "", "в'ячеславівна", "", "мар'яна",
      "кіт", "", "", "", "іванова-шипак")
    assert(cleanAll(inputs) == expected)
  }

  test("single Cyrillic consonant blanks (Java vs Python regex divergence guard)") {
    assert(cleanAll(Seq("с", "т", "b")) == Seq("", "", ""))
  }

  test("all-vowel and all-consonant values blank, mixed survive") {
    assert(cleanAll(Seq("ааа", "ooo", "юю", "прт", "кіт")) ==
      // "юю" has no vowels from the declared set → all-"consonant" → blank
      Seq("", "", "", "", "кіт"))
  }

  test("single-pass re.sub semantics: leading whitespace defeats anchored blanking") {
    // " bc": the \s branch consumes position 0 first, so ^...$ never fires;
    // "bc " matches ^[^vowels]*$ wholly (space is a non-vowel) and blanks.
    assert(cleanAll(Seq(" bc", "bc ", "b c", "к і т")) ==
      Seq("bc", "", "", "кіт"))
  }

  test("digits removed before blanking decision") {
    // "a1b2" → digits out → "ab" → mixed → survives
    assert(cleanAll(Seq("a1b2", "123", "о1т")) == Seq("ab", "", "от"))
  }

  test("html entities unescaped first") {
    assert(cleanAll(Seq("д&#039;артаньян", "о&amp;т")) ==
      Seq("д'артаньян", "о&т"))
  }

  test("arbitrary numeric entities decode before digit-strip (html.unescape parity)") {
    // without full decoding, the digits of &#8217; would be destroyed
    assert(cleanAll(Seq("жан&#8217;на")) == Seq("жан’на"))
  }

  test("entities decode in one pass, like Python html.unescape") {
    // expectations from python3 html.unescape + the reference regex:
    // a decoded `&` never starts a second entity, `;` is optional after a
    // numeric entity, and `&apos;` is decoded
    assert(cleanAll(Seq("о&amp;#039;т", "o&#39neil", "д&apos;артаньян", "&amp;lt;")) ==
      Seq("о&#;т", "o'neil", "д'артаньян", ""))
  }

  test("Unicode whitespace and digits are stripped like Python's \\s and \\d") {
    // NBSP ( ) is \s in Python but not in default Java regex
    assert(cleanAll(Seq("оль га", "кіт١")) == Seq("ольга", "кіт"))
    // U+001C–U+001F are \s in Python (str.isspace) but not in Java's (?U)\s;
    // expectations from the reference pipeline run in python3
    assert(cleanAll(Seq("ab\u001Fcd", "\u001Cbc", "\u001Fb")) ==
      Seq("abcd", "bc", "b"))
  }

  test("null passes through") {
    val r = Seq[Option[String]](None, Some("кіт")).toDF("v")
      .select(CleanNames.clean(col("v")).as("c"))
      .as[Option[String]].collect().toSeq
    assert(r == Seq(None, Some("кіт")))
  }

  private val alphabet: IndexedSeq[Char] =
    ('a' to 'z') ++ ('а' to 'я') ++ Seq('і', 'ї', 'є', ' ', '-', '\'', '1', '7') ++
      ('\u001C' to '\u001F')

  private def randomNames(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  test("property: clean is idempotent for non-leading-whitespace input") {
    // (a leading-whitespace all-consonant value like " bc" survives pass 1
    // but blanks on pass 2 — the reference's single-pass quirk, covered
    // above; excluded here. Char.isWhitespace covers ' ' and U+001C–U+001F
    // of the alphabet.) Interior whitespace carries the same quirk: "a a"
    // is mixed, so pass 1 keeps it as "aa", which is all vowels and blanks
    // on pass 2. That is the only change a second pass may make.
    val in = randomNames(400, seed = 42L).filterNot(_.headOption.exists(_.isWhitespace))
    val once = cleanAll(in)
    val twice = cleanAll(once)
    def uniform(v: String): Boolean =
      v.forall(CleanNames.Vowels.contains(_)) || !v.exists(CleanNames.Vowels.contains(_))
    in.lazyZip(once).lazyZip(twice).foreach { (i, o, t) =>
      if (t != o) assert(t == "" && uniform(o) && i.exists(_.isWhitespace), (i, o, t))
    }
  }

  test("property: output never contains digits or whitespace") {
    cleanAll(randomNames(400, seed = 7L)).foreach { v =>
      assert(!v.exists(c => c.isDigit || c.isWhitespace))
    }
  }
}
