package graft.extract

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic HTML -> text extraction.
  *
  * The north rule requires byte-identical extracted text per url, so the
  * transform is a pure function of the html bytes, implemented ONCE as a
  * linear byte routine (`extractUtf8`) and exposed in two forms that
  * therefore cannot disagree:
  *
  *  - [[extractTextCol]]: Catalyst Column over the native [[HtmlToText]]
  *    expression (one compiled loop per row, no String round trips);
  *  - [[extractText]]: plain Scala (golden tests).
  *
  * Semantics — exactly those of the regex chain
  * `(?is).*<body[^>]*>(.*?)</body>.*` -> `$1`, then
  * `(?is)<script[^>]*>.*?</script>` -> " ", `(?is)<style[^>]*>.*?</style>`
  * -> " ", `(?s)<[^>]*>` -> " ", the 6 entities `&lt; &gt; &quot; &#39;
  * &apos; &amp;` decoded left to right without rescan (`&amp;lt;` ->
  * `&lt;`), `\s+` -> " ", and a trim of 0x20 only (Spark's `trim`):
  *
  *  - body: the LAST `<body` whose first following `>` still has a
  *    `</body>` after it; its content runs to the first `</body>`. With
  *    no such pair the whole document is kept;
  *  - blocks/tags: a `<script`/`<style`/`<` opens at its first following
  *    `>`; an opener with no close leaves the rest of the input as text.
  *
  * Every pattern is ASCII and ASCII bytes never occur inside a UTF-8
  * multibyte sequence, so the routine runs on the UTF-8 bytes directly.
  * Malformed UTF-8 is first decoded the way `new String(bytes, UTF_8)`
  * does (U+FFFD per malformed sequence), so one bad page yields a text
  * that the pipeline's row-level `text_ok` check rejects instead of an
  * exception that aborts the job.
  */
object TextExtract {

  /** Column form — used by the pipeline. */
  def extractTextCol(html: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      HtmlToText(org.apache.spark.sql.GraftExpressionBridge.expression(html)))

  /** Scala form — the same byte routine, decoded to a String. */
  def extractText(html: Array[Byte]): String = extractUtf8(html).toString

  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)

  private val BodyOpen = ascii("<body")
  private val BodyClose = ascii("</body>")
  private val ScriptOpen = ascii("<script")
  private val ScriptClose = ascii("</script>")
  private val StyleOpen = ascii("<style")
  private val StyleClose = ascii("</style>")
  // (entity, replacement byte) in the order the regex chain applied them;
  // no two entities can overlap, so order only matters for `&amp;` (last)
  private val Entities: Array[(Array[Byte], Byte)] = Array(
    ascii("&lt;") -> '<'.toByte, ascii("&gt;") -> '>'.toByte,
    ascii("&quot;") -> '"'.toByte, ascii("&#39;") -> '\''.toByte,
    ascii("&apos;") -> '\''.toByte, ascii("&amp;") -> '&'.toByte)

  /** html -> text as UTF-8. Linear in the input: every search resumes
    * where the previous one stopped.
    */
  private[extract] def extractUtf8(html: Array[Byte]): UTF8String = {
    val in = if (UTF8String.fromBytes(html).isValid) html
      else new String(html, StandardCharsets.UTF_8).getBytes(StandardCharsets.UTF_8)
    var from = 0
    var to = in.length
    val lastClose = lastIndexOfCI(in, BodyClose, in.length)
    if (lastClose >= 0) {
      // the valid `<body` occurrences form a prefix (their `>` only moves
      // right), so walk them forward and keep the last valid one
      var bodyStart = -1
      var gt = -1
      var p = indexOfCI(in, BodyOpen, 0, lastClose)
      while (p >= 0) {
        if (gt < p + BodyOpen.length) gt = indexOf(in, '>', p + BodyOpen.length, in.length)
        if (gt < 0 || gt + 1 > lastClose) p = -1
        else {
          bodyStart = gt + 1
          p = indexOfCI(in, BodyOpen, p + 1, lastClose)
        }
      }
      if (bodyStart >= 0) {
        from = bodyStart
        to = indexOfCI(in, BodyClose, bodyStart, in.length)
      }
    }
    // each step only shrinks its input, so two body-sized buffers suffice
    val a = new Array[Byte](to - from)
    val b = new Array[Byte](to - from)
    val noScript = dropBlocks(in, from, to, ScriptOpen, ScriptClose, a)
    val noStyle = dropBlocks(a, 0, noScript, StyleOpen, StyleClose, b)
    UTF8String.fromBytes(a, 0, render(b, noStyle, a))
  }

  /** `(?is)<open[^>]*>.*?</close>` -> " " over src[from, to) into dst;
    * returns the length written. Once an opener fails to close, every
    * later opener fails too (its `>` and close can only lie further
    * right), so the scan stops there.
    */
  private def dropBlocks(src: Array[Byte], from: Int, to: Int,
      open: Array[Byte], close: Array[Byte], dst: Array[Byte]): Int = {
    var w = 0
    var i = from
    var more = true
    while (more) {
      val p = indexOfCI(src, open, i, to)
      val gt = if (p < 0) -1 else indexOf(src, '>', p + open.length, to)
      val e = if (gt < 0) -1 else indexOfCI(src, close, gt + 1, to)
      if (e < 0) more = false
      else {
        System.arraycopy(src, i, dst, w, p - i)
        w += p - i
        dst(w) = ' '
        w += 1
        i = e + close.length
      }
    }
    System.arraycopy(src, i, dst, w, to - i)
    w + to - i
  }

  /** Tags -> " ", entity decoding, `\s+` -> " " and the 0x20 trim, fused
    * into one scan of src[0, len) into dst; returns the length written.
    */
  private def render(src: Array[Byte], len: Int, dst: Array[Byte]): Int = {
    var w = 0
    var space = false // a whitespace run (or removed tag) is pending
    var tags = true // false once a `<` has no `>` after it
    var i = 0
    while (i < len) {
      val c = src(i)
      var emit = -1 // the byte to write, as 0..255
      if (c == '<' && tags) {
        val gt = indexOf(src, '>', i + 1, len)
        if (gt < 0) { tags = false; emit = c; i += 1 }
        else { space = true; i = gt + 1 }
      } else if (c == '&') {
        var k = 0
        while (k < Entities.length && !startsWith(src, i, len, Entities(k)._1)) k += 1
        if (k < Entities.length) { emit = Entities(k)._2; i += Entities(k)._1.length }
        else { emit = c; i += 1 }
      } else if (c == ' ' || (c >= '\t' && c <= '\r')) {
        space = true
        i += 1
      } else {
        emit = c & 0xff
        i += 1
      }
      if (emit != -1) {
        if (space && w > 0) { dst(w) = ' '; w += 1 }
        space = false
        dst(w) = emit.toByte
        w += 1
      }
    }
    w
  }

  private def indexOf(a: Array[Byte], b: Char, from: Int, to: Int): Int = {
    var i = from
    while (i < to && a(i) != b) i += 1
    if (i < to) i else -1
  }

  /** ASCII case-insensitive match of the lowercase pattern `pat` at a(i),
    * as Java's `(?i)` without UNICODE_CASE: letters fold, nothing else.
    */
  private def matchesCI(a: Array[Byte], i: Int, pat: Array[Byte]): Boolean = {
    var j = 0
    while (j < pat.length && {
      val c = a(i + j)
      val p = pat(j)
      c == p || (p >= 'a' && p <= 'z' && (c | 0x20) == p)
    }) j += 1
    j == pat.length
  }

  /** First case-insensitive occurrence of `pat` lying inside [from, to). */
  private def indexOfCI(a: Array[Byte], pat: Array[Byte], from: Int, to: Int): Int = {
    val last = to - pat.length
    var i = from
    while (i <= last && !(a(i) == pat(0) && matchesCI(a, i, pat))) i += 1
    if (i <= last) i else -1
  }

  /** Last case-insensitive occurrence of `pat` lying inside [0, to). */
  private def lastIndexOfCI(a: Array[Byte], pat: Array[Byte], to: Int): Int = {
    var i = to - pat.length
    while (i >= 0 && !(a(i) == pat(0) && matchesCI(a, i, pat))) i -= 1
    i
  }

  private def startsWith(a: Array[Byte], i: Int, len: Int, pat: Array[Byte]): Boolean =
    i + pat.length <= len && {
      var j = 0
      while (j < pat.length && a(i + j) == pat(j)) j += 1
      j == pat.length
    }
}

/** Native Catalyst form of [[TextExtract]]: binary html -> string text,
  * NULL for NULL html.
  */
case class HtmlToText(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "html_to_text"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"html_to_text expects binary, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TextExtract.extractUtf8(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): HtmlToText =
    copy(child = newChild)
}
