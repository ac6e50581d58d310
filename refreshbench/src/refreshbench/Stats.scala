package refreshbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Harrell–Davis estimate of the `p` quantile: a Beta-weighted average of
    * every order statistic, so in a small sample it moves smoothly instead of
    * jumping between neighbouring samples as noise reorders them. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(p > 0 && p < 1, s"quantile $p outside (0, 1)")
    val s = xs.sorted
    val n = s.size
    val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** Maps a Spark call site to the program module that launched the job. */
object CallSites {
  private val Frame = """([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r

  /** Innermost file of `site` that belongs to a known module; frames of
    * Spark, Scala and the JDK are skipped, so a library file that shares a
    * name with a program file is never taken for it. */
  def knownFile(site: String, fileModules: Map[String, String]): Option[String] =
    site.split('\n').iterator.map(_.trim)
      .filterNot(l => Seq("org.apache.spark.", "scala.", "java.").exists(l.startsWith))
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .find(fileModules.contains)

  /** Module of the file that launched the job, or `other`. */
  def moduleOf(site: String, fileModules: Map[String, String]): String =
    knownFile(site, fileModules).flatMap(fileModules.get).getOrElse("other")

  /** `file<TAB>module` lines, as the build writes them. */
  def parseModules(lines: Seq[String]): Map[String, String] =
    lines.map(_.split('\t')).collect { case Array(f, m) => f -> m }.toMap
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
