package perfbench

import scala.collection.mutable

/** What one workload run hands back to run.py: metrics with units, the
  * correctness ledger, and human-readable lines for the console.
  */
final class Report(val workload: String) {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val lines = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  def line(s: String): Unit = lines += s

  /** One checked operation: counts an attempt, and a failure with its
    * reason when `ok` is false.
    */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ok
  }

  def correct: Boolean = failed == 0 && attempted > 0

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Report.str(k)}:{\"value\":${Report.num(v)},\"unit\":${Report.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"workload":${Report.str(workload)},"correct":$correct,"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$ms,""" +
      s""""failures":${failures.take(20).map(Report.str).mkString("[", ",", "]")},""" +
      s""""lines":${lines.map(Report.str).mkString("[", ",", "]")}}"""
  }
}

object Report {
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

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
}
