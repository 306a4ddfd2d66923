package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Pure arithmetic shared by the harness: medians, the tail-percentile
  * rule, interval coverage for self time, and result digests. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A stretch of work's wall seconds, and the share of the CPU time the
    * machine had work for that the host took away meanwhile (steal).
    * `seconds` takes that share out: on a shared host, the time the work
    * would have taken had the host left the machine's CPUs alone. */
  final case class Timed(wall: Double, steal: Double) {
    def seconds: Double = wall * (1 - steal)
  }

  /** The samples taken while the host took the least CPU time from the
    * machine: those whose steal share is at most the median steal share
    * or at most `floor`, so at least half of them, and all of them when
    * the host took next to nothing. Each pair is (value, steal share). */
  def quiet(samples: Seq[(Double, Double)], floor: Double = 0.01): Seq[Double] = {
    val cut = math.max(median(samples.map(_._2)), floor)
    samples.collect { case (v, st) if st <= cut => v }
  }

  /** A tail latency: `value` is the sample at `percentile`, with `beyond`
    * of the `n` samples ranked above it. */
  final case class Tail(percentile: Double, value: Double, beyond: Int, n: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * ranked above it: the sample at sorted index n - minBeyond - 1. A tail
    * is never below the median, so with fewer than 2 * minBeyond samples
    * there is none. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val n = s.size
    val idx = n - minBeyond - 1
    if (idx >= 0 && (idx + 1) * 2 >= n) Some(Tail(100.0 * (idx + 1) / n, s(idx), n - idx - 1, n))
    else None
  }

  /** Length of the union of the closed-open intervals `iv`, each clipped
    * to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its length minus the part of it that the given
    * child intervals (here, Spark jobs) cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children, start, end)

  /** Order-independent digest of result rows rendered as strings. */
  def digest(rows: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.toSeq.sorted.foreach { r => md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
