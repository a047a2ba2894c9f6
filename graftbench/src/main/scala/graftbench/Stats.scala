package graftbench

/** Pure arithmetic behind every reported figure — kept free of Spark so
  * the rules can be unit-tested on their own. */
object Stats {

  /** Nearest-rank percentile of an ascending-sorted sample (p in 0..100). */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(math.min(sorted.length, math.max(1, rank(sorted.length, p))) - 1)
  }

  /** 1-based nearest rank; the epsilon keeps p/100 × n from rounding up
    * past an exact integer (99.9 / 100 × 10000 = 9990.000000000002). */
  private def rank(n: Int, p: Double): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  def median(xs: Seq[Double]): Double = percentile(xs.toArray.sorted, 50)

  /** Samples strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  private val TailLadder = Seq(99.9, 99, 95, 90, 75, 50)
  private val MinBeyond = 10

  /** The tail rule: the highest percentile of the ladder that still has at
    * least ten samples beyond it — a tail quoted from fewer samples would
    * be one unlucky point, not a percentile. None when even the median is
    * not supported. */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => beyond(n, p) >= MinBeyond)

  /** Latency over several keys, every key weighted alike: the geometric
    * mean of the per-key medians, and every sample rescaled by that mean
    * over its own key's median (so a key's spread counts, not its size).
    * Returns the mean and the rescaled samples, ascending. */
  def keyScaled(samples: Seq[(String, Double)]): (Double, Array[Double]) = {
    val medians = samples.groupBy(_._1).map { case (k, xs) => k -> median(xs.map(_._2)) }
    val g = math.exp(medians.values.map(math.log).sum / medians.size)
    (g, samples.map { case (k, ms) => ms * g / medians(k) }.toArray.sorted)
  }

  /** Open-loop schedule: frame `i` is due `i / rate` seconds after `t0Ns`. */
  def dueNs(t0Ns: Long, i: Long, ratePerS: Double): Long =
    t0Ns + math.round(i * 1e9 / ratePerS)

  /** How late the generator sent each frame (never negative: a frame is
    * never sent before it is due). */
  def lateness(sentNs: Array[Long], dueNs: Int => Long): Array[Long] =
    Array.tabulate(sentNs.length)(i => math.max(0L, sentNs(i) - dueNs(i)))

  /** Event → commit attribution without touching the timed path: each
    * commit is known only by the apply slot's acked watermark after it
    * (the highest LSN it made readable) and the time it returned. An
    * event becomes readable at the first commit whose watermark reaches
    * its LSN. `lsns` ascending; `commits` in commit order. Returns the
    * commit time per event, or -1 where no commit covered it. */
  def visibleAt(lsns: Array[Long], commits: Seq[(Long, Long)]): Array[Long] = {
    val out = Array.fill(lsns.length)(-1L)
    var i = 0
    var best = Long.MinValue
    commits.foreach { case (watermark, atNs) =>
      // a watermark is monotone; a commit that did not advance it made
      // nothing new readable
      if (watermark > best) {
        best = watermark
        while (i < lsns.length && lsns(i) <= watermark) { out(i) = atNs; i += 1 }
      }
    }
    out
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (children on other threads may overlap each other
    * or run past the parent; only the covered part inside counts once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })

  /** Williams design for an odd `n`: 2n orders of 0 until n in which every
    * item directly follows every other item equally often (twice), so a
    * query's latency is averaged over every predecessor, not over the ones
    * a random shuffle happened to give it. */
  def balancedOrders(n: Int): Seq[Seq[Int]] = {
    require(n % 2 == 1, s"a Williams design of 2n orders needs an odd n, got $n")
    val first = (0 until n).map(j => if (j == 0) 0 else if (j % 2 == 1) (j + 1) / 2 else n - j / 2)
    val rows = (0 until n).map(i => first.map(x => (x + i) % n))
    rows ++ rows.map(_.reverse)
  }

  /** Order-insensitive 64-bit hash of a multiset of rendered rows. */
  def multisetHash(rows: Iterator[String]): Long = {
    var h = 0L
    rows.foreach { r =>
      val hi = scala.util.hashing.MurmurHash3.stringHash(r, 0x5EED0001).toLong
      val lo = scala.util.hashing.MurmurHash3.stringHash(r, 0x5EED0002).toLong
      h += mix64((hi << 32) ^ (lo & 0xFFFFFFFFL))
    }
    h
  }

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
