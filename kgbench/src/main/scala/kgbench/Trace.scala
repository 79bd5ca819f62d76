package kgbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Spans of one traced run
  * share `runId`; `parent` is the id of the enclosing span. */
final case class Span(runId: String, id: Int, name: String, parent: Option[Int],
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans around a run's layers; [[NoSpans]] runs the same code
  * untraced. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object NoSpans extends Spans {
  def apply[T](name: String)(body: => T): T = body
}

/** In-memory span recorder. Spans nest by call structure. While a span
  * is open, the Spark jobs of this thread run under the job group
  * [[group]](name), and `metrics` holds the span's time window, so
  * [[GroupMetrics]] attributes the span's tasks to it. */
final class Tracer(val runId: String, sc: org.apache.spark.SparkContext, metrics: GroupMetrics)
    extends Spans {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil

  def group(name: String): String = s"$runId/$name"

  private def enterGroup(): Unit = open match {
    case (_, name) :: _ => sc.setJobGroup(group(name), name, interruptOnCancel = false)
    case Nil => sc.clearJobGroup()
  }

  def apply[T](name: String)(body: => T): T = {
    val id = done.size + open.size
    val parent = open.headOption.map(_._1)
    open = (id, name) :: open
    enterGroup()
    metrics.open(group(name))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      metrics.close(group(name))
      open = open.tail
      enterGroup()
      done += Span(runId, id, name, parent, t0, t1)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {
  /** A span's self time: its duration minus the part of it that its
    * children cover. Children may overlap each other and may stick
    * out of the parent; only cover inside the parent counts, and
    * overlapping cover counts once. */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = 0L
    var any = false
    clipped.foreach { case (s, e) =>
      if (!any || s > curE) {
        if (any) covered += curE - curS
        curS = s; curE = e; any = true
      } else curE = math.max(curE, e)
    }
    if (any) covered += curE - curS
    parent.durNs - covered
  }

  /** JSON-lines rendering of the recorded spans. */
  def toJsonLines(spans: Seq[Span]): String = spans.map { s =>
    val p = s.parent.map(_.toString).getOrElse("null")
    s"""{"run_id":"${s.runId}","id":${s.id},"name":"${s.name}","parent":$p,""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("", "\n", "\n")
}
