package graftbench

/** Percentiles by linear interpolation between closest ranks (the
  * "type 7" rule): rank `h = (n - 1) * q`, interpolated between the
  * values at `floor(h)` and `ceil(h)`. The median of an even count is the
  * mean of the middle two. */
object Stats {
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q >= 0 && q <= 1, s"quantile out of range: $q")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }
}

/** Minimal JSON rendering for the runner's output lines. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Raw(s) => s
    case other => quote(other.toString)
  }

  /** An already-rendered JSON fragment. */
  final case class Raw(json: String)

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
