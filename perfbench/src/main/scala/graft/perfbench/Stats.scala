package graft.perfbench

/** The median the run's metrics report, and the metric-name grammar. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  val NameRe = "[A-Za-z0-9_.-]+"
  def validName(s: String): Boolean = s.matches(NameRe) && s.length <= 64
}
