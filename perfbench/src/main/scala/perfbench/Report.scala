package perfbench

import scala.collection.mutable

/** What one run measured: named metrics with units, op tallies, and
  * free-form detail lines for the human-readable report.
  */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(s: String): Unit = synchronized { notes += s; () }
  def attempt(ok: Boolean): Unit = {
    attemptedN.incrementAndGet()
    if (!ok) failedN.incrementAndGet()
    ()
  }
  def fail(why: String): Unit = { note(s"FAILED: $why"); attempt(ok = false) }
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""${Report.esc(k)}": {"value": ${Report.num(v)}, "unit": "${Report.esc(u)}"}"""
    }.mkString(", ")
    val ns = notes.map(n => "\"" + Report.esc(n) + "\"").mkString(", ")
    s"""{"attempted": $attempted, "failed": $failed, "metrics": {$ms}, "notes": [$ns]}"""
  }
}

object Report {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
