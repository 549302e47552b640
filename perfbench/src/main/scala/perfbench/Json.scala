package perfbench

/** Minimal JSON writer for the harness's result file and span log. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, x) }
        .sortBy(_._1).map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = graft.tools.Json.quote(s)
}

/** Order statistics over latency samples. */
object Stats {
  /** Harrell-Davis estimate of the q-quantile (0 < q < 1) of `xs`: a
    * Beta-weighted mean of all order statistics. With the few dozen
    * samples a run takes, it moves smoothly where the plain order statistic
    * jumps between the latency clusters of different keys. NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(Double.NaN)
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
      var acc, prev = 0.0
      for (i <- 1 to n) {
        val c = beta.cumulativeProbability(i.toDouble / n)
        acc += (c - prev) * s(i - 1)
        prev = c
      }
      acc
    }
  }

  /** Plain sample median; NaN when empty. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
