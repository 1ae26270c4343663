package graftbench

/** Summary statistics. `quartiles` matches Python's
  * `statistics.quantiles(xs, n=4)` (the default "exclusive" method), which
  * the compare mode uses on the same records. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (q1, q2, q3); needs at least two samples. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    def cut(i: Int): Double = {
      // exclusive method: position j = i*(n+1)/4, interpolated
      val m = n + 1
      val j = math.max(1, math.min(n - 1, i * m / 4))
      val delta = i * m - 4 * j
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }
}

/** One committed round, bounded by consecutive manifest mtimes. */
final case class RoundWindow(version: Int, round: Int, startNs: Long, endNs: Long,
                             selected: Long, first: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Rounds {

  /** Manifest as seen on disk: version, mtime (epoch ns), round, selected. */
  final case class Manifest(version: Int, mtimeNs: Long, round: Int, selected: Long)

  /** Split a crawl segment into round windows. The segment starts at
    * `segStartNs` and commits `manifests` (any order); round K spans from
    * manifest K-1's mtime (or the segment start, for the segment's first
    * round) to manifest K's mtime. The first window also carries the
    * segment's start-up work, so callers report it apart. */
  def split(segStartNs: Long, manifests: Seq[Manifest]): Vector[RoundWindow] = {
    val sorted = manifests.sortBy(_.version).toVector
    sorted.zipWithIndex.map { case (m, i) =>
      val start = if (i == 0) segStartNs else sorted(i - 1).mtimeNs
      RoundWindow(m.version, m.round, start, m.mtimeNs, m.selected, first = i == 0)
    }
  }

  /** Politeness tick jumps: committed rounds whose round number skips
    * ahead of the previous committed round + 1. `prevRound` is the round
    * before the first manifest (-1 for a crawl that starts at round 0). */
  def tickJumps(prevRound: Int, manifests: Seq[Manifest]): Int =
    manifests.sortBy(_.version).foldLeft((prevRound, 0)) { case ((prev, n), m) =>
      (m.round, if (m.round != prev + 1) n + 1 else n)
    }._2
}
