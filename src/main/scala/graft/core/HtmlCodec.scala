package graft.core

import java.nio.charset.StandardCharsets

/** Deterministic, invertible HTML synthesis and extraction.
  *
  * The reference extracts text/links with Jsoup CSS selectors
  * (`simple-worker/.../HabrParser.scala:16-28`). Jsoup is not available
  * offline, and `BASELINE.json:input_hint` makes the corpus `text` column the
  * oracle: extraction must be byte-identical per url. So the corpus generator
  * renders html FROM text with this codec, and `extractText` is its exact
  * inverse — `extractText(synth(title, text, links)) == text` for ALL strings
  * (property-tested; charset pinned to UTF-8, cf. the reference charset bug at
  * `LocalFileSystemSaveRawProvider.scala:33`).
  */
object HtmlCodec {

  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case c   => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        if (s.startsWith("&amp;", i)) { sb.append('&'); i += 5 }
        else if (s.startsWith("&lt;", i)) { sb.append('<'); i += 4 }
        else if (s.startsWith("&gt;", i)) { sb.append('>'); i += 4 }
        else if (s.startsWith("&quot;", i)) { sb.append('"'); i += 6 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Render a page. Layout mirrors the shape HabrParser selects on
    * (title element, article body, nav links) without copying it. */
  def synth(title: String, text: String, links: Seq[String]): String = {
    val sb = new StringBuilder(text.length + 256)
    sb.append("<html><head><title>").append(escape(title)).append("</title></head><body>")
    sb.append("<article>").append(escape(text)).append("</article>")
    sb.append("<nav>")
    links.foreach { l =>
      sb.append("<a href=\"").append(escape(l)).append("\">l</a>")
    }
    sb.append("</nav></body></html>")
    sb.toString
  }

  def synthBytes(title: String, text: String, links: Seq[String]): Array[Byte] =
    synth(title, text, links).getBytes(StandardCharsets.UTF_8)

  /** Extract the article text; None ⇒ malformed html (ParsingException path,
    * `HabrParser.scala:31-33`). Byte-identical inverse of [[synth]]. */
  def extractText(html: String): Option[String] = {
    val open = html.indexOf("<article>")
    if (open < 0) None
    else {
      val start = open + "<article>".length
      val close = html.indexOf("</article>", start)
      if (close < 0) None
      else Some(unescape(html.substring(start, close)))
    }
  }

  def extractTextBytes(html: Array[Byte]): Option[String] =
    extractText(new String(html, StandardCharsets.UTF_8))

  /** Extract the title (HabrParser `h1.post__title` analog). */
  def extractTitle(html: String): Option[String] = {
    val open = html.indexOf("<title>")
    if (open < 0) None
    else {
      val start = open + "<title>".length
      val close = html.indexOf("</title>", start)
      if (close < 0) None else Some(unescape(html.substring(start, close)))
    }
  }

  /** All href values in document order (HabrParser.scala:22-26 analog:
    * `doc.select("a").map(_.attr("href"))`). Order-preserving. */
  def extractLinks(html: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val marker = "href=\""
    while ({ i = html.indexOf(marker, i); i >= 0 }) {
      val start = i + marker.length
      val end = html.indexOf('"', start)
      if (end < 0) i = html.length
      else {
        out += unescape(html.substring(start, end))
        i = end + 1
      }
    }
    out.toSeq
  }

  /** The reference's link filter (`HabrParser.scala:22-26`): keep hrefs that
    * are site-relative or mention the base domain. */
  def keepLink(href: String, baseDomain: String): Boolean =
    href.startsWith("/") || href.contains(baseDomain)
}
