package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The person-name cleaning pipeline (reference `etl/orders_etl.py:173-192`),
  * re-expressed as pure built-in column expressions (codegen'd, no UDF).
  *
  * Reference semantics, in order:
  *   1. HTML-entity unescape (`html.unescape` per value, `:187`),
  *   2. Unicode lowercase (`:188`),
  *   3. delete every digit (`:189`),
  *   4. one `re.sub` pass of the mega-pattern
  *      `\d|\s|^(-)$|(^\w{1}$)|(^[VOWELS]{0,}$)|(^[^VOWELS]{0,}$)` (`:185,190`).
  *
  * Step 4 is a *single left-to-right scan*, which matters:
  *   - the anchored branches can only fire at position 0 spanning the whole
  *     string, so a value is blanked iff the entire (digit-stripped, still
  *     space-bearing) value is all-vowels or all-non-vowels;
  *   - the `^(-)$` and `^\w{1}$` branches are subsumed: every 1-char string
  *     is entirely-vowels or entirely-non-vowels;
  *   - BUT if the value *starts* with whitespace, the `\s` branch wins at
  *     position 0 first, after which `^` can never match again — so a
  *     leading-whitespace value is never blanked, only space-stripped;
  *   - values that survive blanking get their whitespace deleted.
  *
  * The vowel set mixes Latin + Ukrainian/Russian Cyrillic exactly as declared
  * (`ю ё э ы` deliberately absent — they count as "consonants").
  */
object CleanNames {

  val Vowels = "aoueiyаяєоуиіїе"

  /** Python's `\s` (`str.isspace`): Java's `(?U)\s` plus U+001C–U+001F,
    * the file, group, record and unit separators, which Java leaves out.
    */
  private val Space = "[\\s\\x{1C}-\\x{1F}]"

  /** Blank test, anchored at position 0: the value does not start with
    * whitespace (else the reference's `\s` branch wins position 0 first)
    * and is entirely vowels or entirely non-vowels (each class includes
    * the empty string, so `""` and `"-"` both blank).
    */
  private val blankPattern = s"(?U)^(?!$Space)([$Vowels]*|[^$Vowels]*)$$"

  /** Full pipeline over one column. Null in → null out (pandas would throw
    * on NaN; our data has none, and null-passthrough is the safer engine
    * default).
    *
    * Entity decoding is the native [[graft.functions.HtmlUnescape]]
    * expression: one pass, like Python's `html.unescape`, so a decoded `&`
    * never starts a second entity, and a numeric entity like `&#8217;` is
    * decoded before the digit-strip step could destroy its digits.
    * Regexes carry `(?U)` so `\d`/`\s` are Unicode-aware like Python's,
    * not ASCII-only like Java's default; whitespace is [[Space]].
    */
  def clean(c: Column): Column = {
    val unescaped = graft.functions.StringExpressions.htmlUnescape(c)
    val noDigits  = regexp_replace(lower(unescaped), "(?U)\\d", "")
    when(noDigits.rlike(blankPattern), lit(""))
      .otherwise(regexp_replace(noDigits, s"(?U)$Space", ""))
  }
}
