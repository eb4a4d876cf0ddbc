package perfbench

/** Order statistics and the result-line encoding. */
object Stats {

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile a sample of `n` supports: the one that still
    * has at least ten samples beyond it. None below 100 samples.
    */
  def supportedPercentile(n: Int): Option[Double] =
    Seq(0.999, 0.99, 0.9).find(p => math.round(n * (1 - p) * 1000) >= 10000)

  /** A timing as it goes into the full record: median, sample count and
    * the highest supported percentile when there is one.
    */
  def timing(xs: Seq[Double]): Map[String, Any] =
    Map("median" -> median(xs), "n" -> xs.size, "samples" -> xs) ++
      supportedPercentile(xs.size).map(p => s"p${fmtPct(p)}" -> quantile(xs, p))

  private def fmtPct(p: Double): String =
    BigDecimal(p * 100).bigDecimal.stripTrailingZeros.toPlainString

  /** The last stdout line: `correct`, `attempted`, `failed` and one
    * `{value, unit}` object per metric, in the order given.
    */
  def resultLine(attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    Json.encode(Map(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map {
        case (name, v, unit) => name -> Map("value" -> v, "unit" -> unit)
      }: _*)))

  /** The end-to-end line must survive a 2 KB stdout capture. */
  val SummaryLimitBytes = 1500
}

/** A minimal JSON encoder for maps, sequences, strings and numbers. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
