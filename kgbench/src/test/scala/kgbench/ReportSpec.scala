package kgbench

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class ReportSpec extends AnyFunSuite {

  test("repeated samples report their median") {
    val r = new Report
    Seq(3.0, 1.0, 2.0, 10.0).foreach(r.metric("wall_s", _, "s"))
    assert(r.value("wall_s") == 2.5)
    r.operation(ok = true, "")
    assert(r.resultLine(Seq("wall_s")) ==
      """{"correct":true,"attempted":1,"failed":0,"metrics":{"wall_s":{"value":2.5,"unit":"s"}}}""")
  }

  test("a ratio with a zero base makes the run incorrect; its base is printed") {
    val r = new Report
    r.operation(ok = true, "")
    r.ratio("link.accept_ratio", 3, 4)
    assert(r.correct)
    r.ratio("sink.bytes_per_triple", 10, 0, "B/triple")
    assert(!r.correct)
    assert(r.detailLine.contains(""""link.accept_ratio":{"num":3.0,"den":4.0}"""))
  }

  test("a failed operation or a violated guard makes the run incorrect") {
    val a = new Report
    a.operation(ok = false, "wrong digest")
    assert(!a.correct && a.failed == 1 && a.attempted == 1)
    val b = new Report
    b.operation(ok = true, "")
    b.guard(ok = false, "slot_util > 1")
    assert(!b.correct && b.failed == 0)
  }

  test("the result line carries only the requested metrics") {
    val r = new Report
    r.metric("setup_s", 1.0, "s")
    r.metric("extract.wall_s", 2.0, "s")
    assert(!r.resultLine(Seq("setup_s")).contains("extract"))
  }

  test("BENCHMARK.json declares exactly the workloads and metrics the benchmark reports") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    def names(key: String): Seq[(String, String, String)] = {
      val it = json.path(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => (n.path("name").asText(), n.path("unit").asText(), n.path("better").asText())).toSeq
    }
    assert(names("workloads").map(_._1) == Catalog.Workloads)
    assert(names("end_to_end") == Catalog.EndToEnd.map(m => (m.name, m.unit, m.better)))
    assert(names("per_layer") == Catalog.PerLayer.map(m => (m.name, m.unit, m.better)))
  }
}
