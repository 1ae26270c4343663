package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Bytes-native page parse (H1/H2) — the DRAM-bandwidth upgrade of the
  * parse-UDF route (`CrawlEngine.parseUdf`). [[ParseFunctions.htmlParse]]
  * calls [[ParseExpressions.parseHtml]] through Catalyst's `StaticInvoke`,
  * from generated code or, in an interpreted plan, by reflection.
  *
  * The UDF route pays, per page: UTF8String → java.lang.String (UTF-16
  * decode, 2× the bytes written), `indexOf`/`substring`/unescape over the
  * UTF-16 buffer (another ~4× html bytes of traffic), then encoder
  * conversions back to UTF8String for `text` and every link. Event-log
  * attribution (tools/evlog_analyze.py) shows the fetch-join+classify
  * stage that hosts this work is memory-bandwidth-bound: its core-seconds
  * inflate up to 4.6× from 4 → 16 cores on one socket, the single biggest
  * anti-scaling term. Parsing the UTF-8 bytes directly touches ~3× html
  * bytes instead of ~10× and allocates no intermediate Strings, Options or
  * Seqs — the per-core bandwidth demand drops, so more cores keep helping.
  *
  * Byte-for-byte equivalent to `DefaultParser.parse` (HtmlCodec.extractText
  * + extractLinks filtered by keepLink): all markers (`<article>`,
  * `</article>`, `href="`, the `&amp;`-family escapes) are pure ASCII, and
  * in valid UTF-8 an ASCII byte can never appear inside a multi-byte
  * sequence (continuation bytes are ≥ 0x80), so byte-level search/copy
  * finds exactly the occurrences the char-level code finds. Byte-level
  * needle containment (keepLink's `href.contains(host)`) is also exact:
  * UTF-8 is self-synchronizing, so a byte match of a valid-UTF-8 needle
  * always lands on a character boundary. Equality with DefaultParser is
  * property-tested in HtmlParseExprSpec.
  *
  * Reference semantics: HabrParser.scala:16-33 (Jsoup select on title/
  * article/links; ParsingException ⇒ null text).
  */
object ParseExpressions {
  private val ArticleOpen = "<article>".getBytes("US-ASCII")
  private val ArticleClose = "</article>".getBytes("US-ASCII")
  private val Href = "href=\"".getBytes("US-ASCII")
  private val EmptyLinks = new GenericArrayData(Array.empty[Any])

  /** First occurrence of `needle` in `hay` at or after `from`; -1 if none.
    * Empty needle matches at `from` (mirrors String.indexOf/contains). */
  private def indexOf(hay: Array[Byte], from: Int, needle: Array[Byte]): Int = {
    if (needle.length == 0) return if (from <= hay.length) math.max(from, 0) else -1
    val n0 = needle(0)
    val max = hay.length - needle.length
    var i = math.max(from, 0)
    while (i <= max) {
      if (hay(i) == n0) {
        var j = 1
        while (j < needle.length && hay(i + j) == needle(j)) j += 1
        if (j == needle.length) return i
      }
      i += 1
    }
    -1
  }

  private def indexOfByte(hay: Array[Byte], from: Int, b: Byte): Int = {
    var i = from
    while (i < hay.length) {
      if (hay(i) == b) return i
      i += 1
    }
    -1
  }

  /** HtmlCodec.unescape over a byte slice: the four entities collapse,
    * any other '&' copies through verbatim (same fallback as the char
    * version). Fast path: no '&' in the slice ⇒ single copyOfRange. */
  private def unescapeBytes(src: Array[Byte], start: Int, end: Int): Array[Byte] = {
    var i = start
    while (i < end && src(i) != '&') i += 1
    if (i == end) return java.util.Arrays.copyOfRange(src, start, end)
    val out = new Array[Byte](end - start) // unescape never grows
    var n = i - start
    System.arraycopy(src, start, out, 0, n)
    while (i < end) {
      val c = src(i)
      if (c == '&') {
        if (startsWith(src, i, end, "&amp;")) { out(n) = '&'; n += 1; i += 5 }
        else if (startsWith(src, i, end, "&lt;")) { out(n) = '<'; n += 1; i += 4 }
        else if (startsWith(src, i, end, "&gt;")) { out(n) = '>'; n += 1; i += 4 }
        else if (startsWith(src, i, end, "&quot;")) { out(n) = '"'; n += 1; i += 6 }
        else { out(n) = c; n += 1; i += 1 }
      } else { out(n) = c; n += 1; i += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  private def startsWith(src: Array[Byte], at: Int, end: Int, lit: String): Boolean = {
    if (at + lit.length > end) return false
    var j = 0
    while (j < lit.length) {
      if (src(at + j) != lit.charAt(j).toByte) return false
      j += 1
    }
    true
  }

  /** keepLink on bytes: site-relative or mentions the base host. A null
    * host keeps only "/"-relative links (the UDF path never passes null);
    * an EMPTY host keeps everything (String.contains("") is true). */
  private def keepLink(href: Array[Byte], host: Array[Byte]): Boolean =
    (href.length > 0 && href(0) == '/') ||
      (host != null && indexOf(href, 0, host) >= 0)

  /** The static entry point `StaticInvoke` calls. Never returns
    * null: a missing/malformed page is (null text, empty links), exactly
    * `Parsed(None, Nil)` on the UDF path. */
  def parseHtml(html: UTF8String, host: UTF8String): InternalRow = {
    if (html == null) return new GenericInternalRow(Array[Any](null, EmptyLinks))
    val bytes = html.getBytes
    val open = indexOf(bytes, 0, ArticleOpen)
    if (open < 0) return new GenericInternalRow(Array[Any](null, EmptyLinks))
    val textStart = open + ArticleOpen.length
    val close = indexOf(bytes, textStart, ArticleClose)
    if (close < 0) return new GenericInternalRow(Array[Any](null, EmptyLinks))
    val text = UTF8String.fromBytes(unescapeBytes(bytes, textStart, close))
    val hostB = if (host == null) null else host.getBytes
    var links: scala.collection.mutable.ArrayBuffer[Any] = null
    var i = 0
    var searching = true
    while (searching) {
      i = indexOf(bytes, i, Href)
      if (i < 0) searching = false
      else {
        val s = i + Href.length
        val e = indexOfByte(bytes, s, '"')
        if (e < 0) searching = false // unterminated attr: char version stops too
        else {
          val href = unescapeBytes(bytes, s, e)
          if (keepLink(href, hostB)) {
            if (links == null) links = new scala.collection.mutable.ArrayBuffer[Any](8)
            links += UTF8String.fromBytes(href)
          }
          i = e + 1
        }
      }
    }
    val arr = if (links == null) EmptyLinks else new GenericArrayData(links.toArray)
    new GenericInternalRow(Array[Any](text, arr))
  }
}

/** Column builder for the native parse (what CrawlEngine's hot path calls):
  * `graft_html_parse(html, host)` → struct<text: string, links: array<string>>.
  * Null-tolerant on both sides: a null reaches [[ParseExpressions.parseHtml]],
  * so the row itself is never null — same shape the parse UDF produced. */
object ParseFunctions {
  import org.apache.spark.sql.{Column, GraftBridge}

  val ParsedType: StructType = StructType(Seq(
    StructField("text", StringType, nullable = true),
    StructField("links", ArrayType(StringType, containsNull = true), nullable = true)))

  private[expressions] def invoke(args: Seq[Expression]): Expression =
    StaticInvoke(ParseExpressions.getClass, ParsedType, "parseHtml", args,
      inputTypes = Seq(StringType, StringType), propagateNull = false, returnNullable = false)

  def htmlParse(html: Column, host: Column): Column =
    GraftBridge.column(invoke(Seq(html, host).map(GraftBridge.expression)))
}
