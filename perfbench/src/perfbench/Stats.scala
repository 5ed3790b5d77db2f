package perfbench

/** The metric maths, kept apart so the tests can pin it. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean of the per-type medians, so each op type weighs
    * the same however many ops of it ran. */
  def geomeanOfMedians(byType: Map[String, Seq[Double]]): Double = {
    val ms = byType.values.filter(_.nonEmpty).map(median).toSeq
    require(ms.nonEmpty && ms.forall(_ > 0), s"geomean needs positive medians: $ms")
    math.exp(ms.map(math.log).sum / ms.size)
  }

  /** Total length of the union of [start, end) intervals: the wall
    * time covered by at least one running job. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
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

  /** The graft module a Spark job belongs to: the innermost frame of
    * its call site (first line of `StageInfo.details`) whose class is
    * in a `graft.<module>` sub-package. Frames in the root `graft`
    * package (SparkEntry, Tables) are entry wiring, not a module. */
  def moduleOf(callSite: String): Option[String] = {
    val Frame = """^\s*(?:at\s+)?graft\.([a-z_]+)\.[A-Za-z_$].*""".r
    callSite.linesIterator.collectFirst { case Frame(m) => m }
  }
}
