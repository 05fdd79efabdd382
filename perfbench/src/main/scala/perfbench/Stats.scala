package perfbench

/** Pure helpers of the harness: order statistics, metric names and the
  * result line. Nothing here touches Spark, so the spec tests it directly. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest value with at least `p`% of the
    * sample at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100 * s.length).toInt) - 1)
  }

  /** Samples lying strictly above the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100 * n).toInt)

  /** The percentile, or an error when fewer than `minBeyond` samples lie
    * beyond it: a tail estimated from fewer samples is noise. */
  def supportedPercentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Double = {
    val b = beyond(xs.length, p)
    require(b >= minBeyond,
      s"p$p of ${xs.length} samples has $b beyond it, fewer than $minBeyond")
    percentile(xs, p)
  }

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names: a letter or digit first, then letters, digits, `_`, `.`
    * and `-`, at most 64 characters. */
  def validName(name: String): Boolean = NamePattern.matches(name)

  final case class Metric(name: String, value: Double, unit: String) {
    require(validName(name), s"invalid metric name '$name'")
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
  }

  /** JSON number with every digit the double carries (Locale-free). */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The one-line result the benchmark prints last. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val names = metrics.map(_.name)
    require(names.distinct.size == names.size, s"duplicate metric names in $names")
    val ms = metrics.map(m =>
      s"${quote(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${quote(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Correctness checks of one run: each check is recorded with its outcome,
  * and a failed check marks the run incorrect. */
final class Checks {
  private val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]

  /** Record `name` as passed when `actual == expected`. */
  def expect[T](name: String, expected: T, actual: T): Boolean = {
    val ok = expected == actual
    results += ((name, ok, if (ok) "" else s"expected $expected, got $actual"))
    ok
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    results += ((name, ok, if (ok) "" else detail))
    ok
  }

  def all: Seq[(String, Boolean, String)] = results.toSeq
  def failed: Seq[(String, Boolean, String)] = results.filterNot(_._2).toSeq
  def allPassed: Boolean = results.nonEmpty && failed.isEmpty
}
