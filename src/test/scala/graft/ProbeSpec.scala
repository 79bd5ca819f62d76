package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("Probe times a query and writes its formatted plan under the tag's round dir") {
    val root = Paths.get(SparkTestBase.scratchDir("graft-probe"))
    val Seq(t) = graft.tools.Probe.run(spark, "/root/testdata/sf0.001",
      Seq("q01_pricing_agg"), "r99/smoke", 1, root)
    assert(t.plan == root.resolve("r99/q01_pricing_agg_smoke.txt"))
    assert(Files.size(t.plan) > 0)
    assert(new String(Files.readAllBytes(t.plan), "UTF-8").contains("Physical Plan"))
    assert(t.rows > 0 && t.countWalls.length == 1 && t.noopWall >= 0)
  }
}
