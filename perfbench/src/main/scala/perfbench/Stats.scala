package perfbench

/** Run aggregation and the result line. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-key median over passes; keys missing from a pass are absent
    * from that pass's sample. */
  def medianByKey(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatMap(_.keys).distinct.map { k =>
      k -> median(passes.flatMap(_.get(k)))
    }.toMap

  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The single JSON object the run prints as its last line. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String =
    metrics.map(m =>
      s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
      .mkString(s"""{"correct": $correct, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": {""", ", ", "}}")

  def spanLine(s: Span): String =
    s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, """ +
    s""""op": ${s.op}, "start_ms": ${num(s.startMs)}, "end_ms": ${num(s.endMs)}, """ +
    s""""gc_ms": ${s.gcMs}}"""

  def jsonString(s: String): String = str(s)
}
