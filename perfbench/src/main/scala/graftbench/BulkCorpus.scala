package graftbench

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.HtmlCodec

/** Seeded page generator for the large-frontier workloads.
  *
  * Every page is a pure function of (spec, id), so the output check can
  * recompute any page's text from its url without reading the corpus, and
  * Spark builds the table in executors from `spark.range`.
  *
  * Page `id` lives at `https://host<h>.example/p<id>`; about a tenth of the
  * pages pile onto host 0 (a heavy host for the salted per-host rank), the
  * rest stripe over the hosts. Links: one same-host `/p` link (usually a
  * page the frontier already holds, so the seen probe answers "maybe" and
  * the exact anti-join confirms it) and one `/n` link that no page serves
  * (a new frontier row, NotFound when fetched). Every 37th page has
  * unclosed html (ParsingFailed). No page fails in a way that retries, so
  * each id is fetched at most once.
  */
object BulkCorpus {

  final case class Spec(nPages: Long, nHosts: Int, words: Int, seed: Long)

  final case class Page(id: Long, url: String, warcTsMicros: Long, html: String,
                        text: String, lang: String)

  val BaseTsMicros: Long = 1767225600000000L // 2026-01-01T00:00:00Z

  private val Vocab = Vector("web", "crawl", "frontier", "spark", "parquet", "shard",
    "queue", "lease", "politeness", "robots", "anchor", "index", "page", "data",
    "graph", "link", "host", "fetch", "parse", "text", "round", "commit", "snapshot",
    "bloom", "seen", "rank", "salt", "budget", "delta", "merge", "scan", "join")

  /** splitmix64 finalizer over (a, b): a cheap, well-mixed pure hash. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pmod(x: Long, m: Long): Long = { val r = x % m; if (r < 0) r + m else r }

  def hostOf(spec: Spec, id: Long): Int =
    if (pmod(mix(id, spec.seed ^ 0x51L), 10) == 0) 0 else pmod(id, spec.nHosts).toInt

  def text(spec: Spec, id: Long): String = {
    val n = spec.words + pmod(mix(id, spec.seed ^ 0x7EL), spec.words + 1).toInt
    val sb = new StringBuilder(n * 7)
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(if (k % 9 == 0) ". " else " ")
      sb.append(Vocab(pmod(mix(id * 131 + k, spec.seed), Vocab.size).toInt))
      k += 1
    }
    sb.append('.').toString
  }

  def url(spec: Spec, id: Long): String = s"https://host${hostOf(spec, id)}.example/p$id"

  def page(spec: Spec, id: Long): Page = {
    val t = text(spec, id)
    val links = Seq(s"/p${pmod(id + spec.nHosts, spec.nPages)}", s"/n$id")
    val html =
      if (id % 37 == 25) "<html><body><article>never closed " + t
      else HtmlCodec.synth(s"p$id", t, links)
    // millisecond-aligned, so a parquet timestamp round trip is exact
    val ts = BaseTsMicros + pmod(mix(id, spec.seed ^ 0x75L), 86400000L) * 1000L
    Page(id, url(spec, id), ts, html, t, Vector("en", "ru", "de")(pmod(id, 3).toInt))
  }

  /** Page id from a corpus url (`.../p<id>`). */
  def idOf(url: String): Long = url.substring(url.lastIndexOf("/p") + 2).toLong

  /** Order-insensitive fingerprint of the first `n` pages. */
  def fingerprint(spec: Spec, n: Long): Long = {
    var acc = 0L
    var id = 0L
    while (id < n) {
      val p = page(spec, id)
      acc ^= mix(p.url.hashCode.toLong ^ p.html.hashCode.toLong, p.warcTsMicros) + id
      id += 1
    }
    acc
  }

  /** The page table (url, warc_ts, html, text, lang), generated in executors. */
  def create(spark: SparkSession, spec: Spec, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, spec.nPages, 1L, parts).as[Long]
      .map { id =>
        val p = page(spec, id)
        (p.url, new java.sql.Timestamp(p.warcTsMicros / 1000),
          p.html.getBytes(StandardCharsets.UTF_8), p.text, p.lang)
      }
      .toDF("url", "warc_ts", "html", "text", "lang")
  }
}
