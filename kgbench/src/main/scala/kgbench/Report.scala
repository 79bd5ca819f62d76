package kgbench

import scala.collection.mutable

/** Collects one run's metric samples, ratio bases, operation outcomes
  * and guard violations, and renders the result line. A metric
  * recorded several times in a run (once per repetition) reports the
  * median of its samples. */
final class Report {
  private val samples = mutable.LinkedHashMap.empty[String, (mutable.ArrayBuffer[Double], String)]
  private val bases = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
  val detail = mutable.LinkedHashMap.empty[String, String]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    samples.getOrElseUpdate(name, (mutable.ArrayBuffer.empty[Double], unit))._1 += value

  /** A ratio is always recorded with its numerator and denominator; a
    * zero denominator is a guard violation, not a silent 0. */
  def ratio(name: String, num: Double, den: Double, unit: String = "ratio"): Unit = {
    bases.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((num, den))
    guard(den != 0, s"$name has a zero base ($num/$den)")
    metric(name, if (den == 0) 0.0 else num / den, unit)
  }

  /** One attempted operation; `ok` false counts it as failed. */
  def operation(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }

  /** A condition on the run as a whole; a violation makes it incorrect. */
  def guard(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def has(name: String): Boolean = samples.contains(name)

  def value(name: String): Double = Report.median(samples(name)._1.toSeq)

  def correct: Boolean = problems.isEmpty && failed == 0 && attempted > 0

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Context printed before the result: ratio bases (median numerator
    * and denominator), sample counts, correctness figures, digests and
    * problems. */
  def detailLine: String = {
    val r = bases.map { case (k, xs) =>
      s"${str(k)}:{\"num\":${num(Report.median(xs.map(_._1).toSeq))},\"den\":${num(Report.median(xs.map(_._2).toSeq))}}"
    }
    val n = samples.map { case (k, (xs, _)) => s"${str(k)}:${xs.size}" }
    val d = detail.map { case (k, v) => s"${str(k)}:${str(v)}" }
    s"""{"detail":{${d.mkString(",")}},"samples":{${n.mkString(",")}},""" +
      s""""ratio_bases":{${r.mkString(",")}},"problems":[${problems.map(str).mkString(",")}]}"""
  }

  /** The result line, carrying the metrics named in `only`. */
  def resultLine(only: Seq[String]): String = {
    val m = samples.filter { case (k, _) => only.contains(k) }.map { case (k, (_, u)) => s"${str(k)}:{\"value\":${num(value(k))},\"unit\":${str(u)}}" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${m.mkString(",")}}}"""
  }
}

object Report {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
