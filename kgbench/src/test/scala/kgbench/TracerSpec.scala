package kgbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private def span(id: Int, s: Long, e: Long) = Span("r", id, s"s$id", None, s, e)

  test("self time of a span without children is its duration") {
    assert(Tracer.selfNs(span(0, 10, 50), Nil) == 40)
  }

  test("disjoint children are subtracted once each") {
    assert(Tracer.selfNs(span(0, 0, 100), Seq(span(1, 10, 20), span(2, 40, 70))) == 60)
  }

  test("overlapping children count their covered union once") {
    val kids = Seq(span(1, 10, 40), span(2, 30, 60), span(3, 35, 45))
    assert(Tracer.selfNs(span(0, 0, 100), kids) == 50)
  }

  test("children are clipped to the parent and may arrive in any order") {
    val kids = Seq(span(2, 90, 130), span(1, -20, 10))
    assert(Tracer.selfNs(span(0, 0, 100), kids) == 80)
    assert(Tracer.selfNs(span(0, 0, 100), Seq(span(1, 100, 120), span(2, -5, 0))) == 100)
  }

  test("children covering the whole parent leave no self time") {
    assert(Tracer.selfNs(span(0, 0, 100), Seq(span(1, 0, 60), span(2, 60, 100))) == 0)
  }
}
