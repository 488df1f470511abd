package graft.functions

import java.io.Writer
import java.util.regex.Pattern

import org.apache.commons.text.translate.{AggregateTranslator, CharSequenceTranslator, EntityArrays, LookupTranslator}
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML-entity unescape as a native codegen'd expression, the engine's one
  * decoder for the reference's per-value Python `html.unescape`
  * (`etl/orders_etl.py:187`). One commons-text translator (shipped in
  * Spark's own classpath) walks the value once, left to right, so decoded
  * output is never re-read: `&amp;#039;` gives `&#039;`, as in Python.
  *
  * Covered: the HTML4 named entities plus `&apos;`, and decimal and hex
  * numeric entities with the `;` optional (`&#39neil` → `'neil`).
  *
  * Known differences from Python:
  *   - C1 numerics `&#128;`–`&#159;` decode to nothing here; Python maps
  *     them through cp1252 (`&#150;` → `–`);
  *   - HTML5-only entity names (`&Tab;`, `&bigstar;`) stay undecoded;
  *   - named entities without a `;` (`&amp`, `&copy`) stay undecoded.
  */
case class HtmlUnescape(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_unescape requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    HtmlUnescapeImpl.unescape(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlUnescapeImpl.unescape($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlUnescape =
    copy(child = newChild)

  override def prettyName: String = "html_unescape"
}

object HtmlUnescapeImpl {

  /** Python's numeric charref: `&#` + ASCII digits or `&#x` + hex digits,
    * then an optional `;`. Code point 0, surrogates and values past
    * U+10FFFF give U+FFFD; Python's invalid code points (controls other
    * than tab, LF, FF and CR, then C1 and the non-characters) give nothing.
    */
  private object NumericEntity extends CharSequenceTranslator {
    private val Ref = Pattern.compile("&#(?:([0-9]+)|[xX]([0-9a-fA-F]+));?")

    override def translate(in: CharSequence, index: Int, out: Writer): Int = {
      if (in.charAt(index) != '&') return 0
      val m = Ref.matcher(in).region(index, in.length)
      if (!m.lookingAt()) return 0
      val cp = if (m.group(1) != null) BigInt(m.group(1)) else BigInt(m.group(2), 16)
      out.write(
        if (cp == 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) "\uFFFD"
        else if ((cp >= 0x1 && cp <= 0x8) || cp == 0xB || (cp >= 0xE && cp <= 0x1F) ||
          (cp >= 0x7F && cp <= 0x9F) || (cp >= 0xFDD0 && cp <= 0xFDEF) ||
          (cp.toInt & 0xFFFE) == 0xFFFE) ""
        else new String(Character.toChars(cp.toInt)))
      m.end - index
    }
  }

  private val Decoder = new AggregateTranslator(
    new LookupTranslator(EntityArrays.BASIC_UNESCAPE),
    new LookupTranslator(EntityArrays.APOS_UNESCAPE),
    new LookupTranslator(EntityArrays.ISO8859_1_UNESCAPE),
    new LookupTranslator(EntityArrays.HTML40_EXTENDED_UNESCAPE),
    NumericEntity)

  private val Amp = UTF8String.fromString("&")

  def unescape(s: UTF8String): UTF8String =
    if (!s.contains(Amp)) s // nothing to decode: no copy
    else UTF8String.fromString(Decoder.translate(s.toString))
}

/** Unicode canonical composition (NFC) as a native codegen'd expression —
  * the first normalization every multilingual corpus pass applies, so the
  * same visible string has ONE byte encoding before hashing/dedup/equality
  * (é as U+00E9 vs e+U+0301 would otherwise defeat every exact-dedup
  * operator in the engine). Backed by `java.text.Normalizer` (the JDK's
  * ICU-derived tables); DuckDB's `nfc_normalize` implements the same
  * Unicode standard, which is what makes the operator oracle-checkable.
  */
case class UnicodeNfc(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unicode_nfc requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "UTF8String.fromString(java.text.Normalizer.normalize(" +
        s"$c.toString(), java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNfc =
    copy(child = newChild)

  override def prettyName: String = "unicode_nfc"
}

object StringExpressions {
  def htmlUnescape(c: Column): Column =
    GraftColumnBridge.column(HtmlUnescape(GraftColumnBridge.expression(c)))

  def unicodeNfc(c: Column): Column =
    GraftColumnBridge.column(UnicodeNfc(GraftColumnBridge.expression(c)))
}
