package perfbench

/** Order statistics for the benchmark's figures. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile, at most `wanted`, that leaves at least
    * `beyond` samples strictly above its rank: a tail figure read off too
    * few samples is just the maximum. None if even the median does not
    * leave `beyond` samples (fewer than 2 * beyond samples). Returns
    * (percentile, value) using the nearest-rank method. */
  def tailPercentile(xs: Seq[Double], wanted: Int = 90,
      beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    // nearest rank of percentile p is ceil(p/100 * n); samples beyond = n - rank
    def rank(p: Int): Int = math.max(1, math.ceil(p / 100.0 * n).toInt)
    (wanted to 50 by -1).find(p => n - rank(p) >= beyond)
      .map(p => (p, s(rank(p) - 1)))
  }

  /** Failed share of attempted operations; a failure is an operation that
    * threw or that failed at least one output check. */
  def failedFrac(attempted: Int, failed: Int): Double = {
    require(attempted > 0 && failed >= 0 && failed <= attempted,
      s"bad counts: $failed failed of $attempted")
    failed.toDouble / attempted
  }
}

/** Minimal JSON writer for flat records (numbers, strings, booleans,
  * sequences and nested records). */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Seq[_] if xs.forall(_.isInstanceOf[Tuple2[_, _]]) && xs.nonEmpty =>
      obj(xs.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
