package perfbench

import scala.collection.mutable

/** What one run measured and checked. Metric values keep every digit. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Extra lines for the reader: sample counts, tails, host stamps. */
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
  def note(s: String): Unit = notes += s

  /** One checked output: counts one attempt, and one failure on mismatch. */
  def check(what: String, expected: Long, actual: Long): Unit = {
    attempted += 1
    if (expected != actual) { failed += 1; failures += s"$what: expected $expected, got $actual" }
  }

  /** Deliveries: `expected` attempts, and each missing or extra one a failure. */
  def deliveries(what: String, expected: Long, actual: Long): Unit = {
    attempted += expected
    if (expected != actual) {
      failed += math.abs(expected - actual)
      failures += s"$what: expected $expected deliveries, got $actual"
    }
  }

  def fail(what: String): Unit = { attempted += 1; failed += 1; failures += what }
  def ok(): Unit = attempted += 1

  def failedFrac: Double = if (attempted > 0) failed.toDouble / attempted else 1.0

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(metrics: Iterable[(String, (Double, String))]): String = {
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": {${m.mkString(", ")}}}"""
  }
}
