package whbench

/** The benchmark's own arithmetic, kept free of Spark so it is unit-tested
  * on its own (StatsSpec). */
object Stats {

  /** Samples that must lie above a reported tail percentile. */
  val TailMargin = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail latency the benchmark reports: p90 when at least
    * [[TailMargin]] samples lie above it, otherwise the highest percentile
    * that still has [[TailMargin]] samples above it. Returns the value and
    * the percentile used (a share in (0, 0.9]). A run with fewer than
    * `TailMargin + 1` samples has no such percentile. */
  def tail(xs: Seq[Double], p: Double = 0.9): (Double, Double) = {
    val n = xs.length
    require(n > TailMargin, s"a tail needs more than $TailMargin samples, got $n")
    val rank = math.min(math.ceil(p * n - 1e-9).toInt, n - TailMargin)
    (xs.sorted.apply(rank - 1), rank.toDouble / n)
  }

  /** A timed interval; `parent` names the span that caused it. */
  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        layer: String, iteration: Int, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
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

  /** Self time of every span: its duration minus the part of it that its
    * children cover (overlapping children are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(kids, s.startNs, s.endNs))
    }.toMap
  }
}
