package graft.perfbench

import scala.collection.mutable

/** Everything one run reports: named metrics with units, the operation
  * tally behind `failed_frac`, and the reasons of any failed check. */
final class Report {
  final case class Metric(value: Double, unit: String)

  val metrics = mutable.LinkedHashMap[String, Metric]()
  /** Extra figures for the human-readable report (stderr only). */
  val notes = mutable.LinkedHashMap[String, Metric]()
  private val errors = mutable.ArrayBuffer[String]()
  private var attempted0 = 0L
  private var failed0 = 0L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = Metric(value, unit)
  def note(name: String, value: Double, unit: String): Unit =
    notes(name) = Metric(value, unit)

  def count(attempted: Long, failed: Long): Unit = synchronized {
    attempted0 += attempted; failed0 += failed
  }

  /** A failed output check: counted as one failed operation and named. */
  def fail(what: String): Unit = synchronized {
    failed0 += 1; attempted0 += 1
    explain(what)
  }

  /** Name a failure that [[count]] already tallied. */
  def explain(what: String): Unit = synchronized {
    if (errors.length < 50) errors += what
  }

  /** A check that passed: one attempted operation. */
  def pass(): Unit = synchronized { attempted0 += 1 }

  def check(ok: Boolean, what: => String): Unit = if (ok) pass() else fail(what)

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def errorList: Seq[String] = synchronized(errors.toList)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(only: Seq[String]): String = {
    val ms = only.map { n =>
      val m = metrics.getOrElse(n, throw new IllegalStateException(s"metric $n not measured"))
      s""""$n": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def human(workload: String): String = {
    val sb = new StringBuilder
    sb.append(s"[perfbench] workload=$workload attempted=$attempted failed=$failed ")
    sb.append(f"failed_frac=${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.6f\n")
    (metrics ++ notes).foreach { case (n, m) =>
      sb.append(f"[perfbench]   $n%-44s ${num(m.value)}%16s ${m.unit}\n")
    }
    errorList.foreach(e => sb.append(s"[perfbench]   FAILED CHECK: $e\n"))
    sb.toString
  }
}
