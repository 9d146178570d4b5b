package ytbench

import java.io.File

/** The benchmark's arithmetic, kept pure so its own tests can pin it. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * rule) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Fewest samples for which percentile `p` has at least `beyond`
    * samples above it: the p95 of a run is reported only from 200 up. */
  def minSamplesFor(p: Double, beyond: Int = 10): Int =
    math.ceil(beyond / (1.0 - p) - 1e-9).toInt

  /** Highest whole percentile that still has `beyond` samples above it in
    * a sample of `n`, or None when even the median has fewer. */
  def highestPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n >= minSamplesFor(p / 100.0, beyond))

  /** Span self time: the span's duration minus the part of it that its
    * children's intervals cover (overlapping children count once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }

  /** Regular files under `roots`, path → size. */
  def snapshot(roots: Seq[File]): Map[String, Long] = {
    def walk(f: File): Iterator[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else if (f.isFile) Iterator(f.getPath -> f.length())
      else Iterator.empty
    roots.iterator.flatMap(walk).toMap
  }

  /** Bytes written between two snapshots: every file that is new, or whose
    * size changed, counts whole. Files deleted in between count nothing. */
  def writtenBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.collect {
      case (p, n) if !before.get(p).contains(n) => n
    }.sum

  /** Data files (not checksums or markers) that appeared between two
    * snapshots. */
  def newFiles(before: Map[String, Long], after: Map[String, Long]): Int =
    after.keysIterator.count(p => !before.contains(p) && isDataFile(p))

  def isDataFile(path: String): Boolean = {
    val name = new File(path).getName
    !name.startsWith(".") && !name.startsWith("_")
  }

  /** Write amplification: bytes written under the lake roots per byte of
    * batch input. */
  def writeAmp(written: Long, input: Long): Double = {
    require(input > 0, "write amplification needs a non-empty input")
    written.toDouble / input
  }
}
