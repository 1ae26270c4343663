package graftbench

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.CorpusGen

/** The benchmark's pure helpers: round splitting, statistics, and seeded
  * corpus generation. */
class HelpersSpec extends AnyFunSuite {

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // expected values printed by Python 3 for the same inputs
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 3.0)) == ((1.0, 3.0, 5.0)))
    assert(Stats.quartiles(Seq(2.0, 4.0)) == ((1.5, 3.0, 4.5)))
    assert(Stats.quartiles(Seq(7.0, 1.0, 4.0, 9.0, 3.0, 8.0, 2.0)) == ((2.0, 4.0, 8.0)))
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("rounds split at consecutive manifest mtimes; the first starts at the segment start") {
    val ms = Seq(
      Rounds.Manifest(5, 3000L, 6, 10L),
      Rounds.Manifest(4, 1800L, 4, 7L),
      Rounds.Manifest(6, 3500L, 7, 3L))
    val ws = Rounds.split(1000L, ms)
    assert(ws.map(w => (w.version, w.startNs, w.endNs, w.first)) ==
      Vector((4, 1000L, 1800L, true), (5, 1800L, 3000L, false), (6, 3000L, 3500L, false)))
    assert(ws.map(_.selected) == Vector(7L, 10L, 3L))
    assert(Rounds.split(0L, Nil).isEmpty)
  }

  test("tick jumps count rounds that skip ahead") {
    val ms = Seq(0, 1, 3, 4, 9).zipWithIndex.map { case (r, i) => Rounds.Manifest(i + 1, i, r, 1L) }
    assert(Rounds.tickJumps(-1, ms) == 2)
    assert(Rounds.tickJumps(2, ms.drop(2)) == 1)
  }

  test("interval union for self and no-task time") {
    assert(Tracer.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Tracer.unionNs(Nil) == 0L)
  }

  test("bulk corpus: the same seed gives the same corpus, another seed another") {
    val a = BulkCorpus.Spec(nPages = 2000, nHosts = 16, words = 20, seed = 1)
    assert(BulkCorpus.fingerprint(a, 2000) == BulkCorpus.fingerprint(a.copy(), 2000))
    assert(BulkCorpus.fingerprint(a, 2000) != BulkCorpus.fingerprint(a.copy(seed = 2), 2000))
    val p = BulkCorpus.page(a, 123)
    assert(BulkCorpus.idOf(p.url) == 123)
    assert(graft.core.HtmlCodec.extractText(p.html).contains(p.text))
  }

  test("seeded-crawl corpus: the same seed gives the same rows, another seed other rows") {
    def fp(seed: Long): Int = CorpusGen.rows(SeededCrawl.spec(seed)).hashCode
    assert(fp(7) == fp(7))
    assert(fp(7) != fp(8))
  }
}
