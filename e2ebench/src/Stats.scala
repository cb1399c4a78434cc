package e2ebench

/** Statistics the benchmark reports. Kept free of Spark and I/O so the
  * self-tests can pin them.
  */
object Stats {

  /** Nearest-rank percentile `q` of `xs`, or None when fewer than
    * `minBeyond` samples lie above its rank: a tail percentile needs
    * that many samples beyond it to mean anything.
    */
  def percentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] = {
    require(q > 0 && q < 1, s"percentile $q is not in (0, 1)")
    val n = xs.size
    val rank = math.ceil(q * n).toInt - 1 // 0-based nearest rank
    if (n == 0 || n - 1 - rank < minBeyond) None
    else Some(xs.sorted.apply(rank))
  }

  /** The smallest sample count that supports percentile `q`. */
  def minSamples(q: Double, minBeyond: Int = 10): Int =
    Iterator.from(1).find(n => n - math.ceil(q * n).toInt >= minBeyond).get

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A span recorded at a layer boundary of one request. */
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long, request: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Length of the union of `intervals` clipped to [lo, hi). */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover. Overlapping children are counted once.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - coveredNs(cs, s.startNs, s.endNs))
    }.toMap
  }

  /** Mean of closed-loop latencies with every cell weighed alike: the
    * mean over cells of each cell's own mean. A cell is a query shape,
    * or a panel and a request's position among the refreshes of its
    * window, so a run weighs shapes, cache hits and misses in the
    * proportions the workload fixes, whatever request the clients were
    * on when time ran out. None when a cell has no sample.
    */
  def balancedMean(samples: Seq[(Int, Double)], cells: Int): Option[Double] = {
    val byCell = samples.groupBy(_._1)
    if ((0 until cells).exists(c => !byCell.contains(c))) None
    else Some((0 until cells).map { c =>
      val xs = byCell(c).map(_._2)
      xs.sum / xs.size
    }.sum / cells)
  }
}
