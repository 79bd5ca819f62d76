package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.StringSim._

class StringSimSpec extends AnyFunSuite {
  private def approx(a: Double, b: Double, eps: Double = 1e-4) = math.abs(a - b) < eps

  test("jaro known vectors") {
    assert(approx(jaro("MARTHA", "MARHTA"), 0.944444))
    assert(approx(jaro("DIXON", "DICKSONX"), 0.766667))
    assert(approx(jaro("JELLYFISH", "SMELLYFISH"), 0.896296))
    assert(jaro("abc", "abc") == 1.0)
    assert(jaro("abc", "xyz") == 0.0)
    assert(jaro("", "") == 1.0)
    assert(jaro("a", "") == 0.0)
  }

  test("jaroWinkler known vectors (strcmp95 0.7 boost threshold)") {
    assert(approx(jaroWinkler("MARTHA", "MARHTA"), 0.961111))
    assert(approx(jaroWinkler("DIXON", "DICKSONX"), 0.813333))
    assert(approx(jaroWinkler("DWAYNE", "DUANE"), 0.84))
    assert(jaroWinkler("same", "same") == 1.0)
  }

  test("jaroWinkler matches DuckDB jaro_winkler_similarity (strcmp95) exactly") {
    // fixture values produced by duckdb jaro_winkler_similarity — the
    // same strcmp95 lineage as the reference's `jaro` pip package
    val fixtures = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("Alice Johnson", "Alice J. Johnson", 0.9625),
      ("Acme Industries", "Acme Industries", 1.0),
      ("abcd", "abce", 0.8833333333333334),
      ("Deltaware", "Deltawre", 0.9777777777777777),
      ("Alice", "Alicia", 0.8933333333333334),
      // below-threshold pairs with shared prefixes: NO boost applied
      ("ab", "ac", 0.6666666666666666),
      ("xy", "xz", 0.6666666666666666),
      ("prefix low", "prefix completely different suffix xyz", 0.6752436647173489))
    fixtures.foreach { case (a, b, expected) =>
      assert(approx(jaroWinkler(a, b), expected, 1e-12), s"jw($a, $b)")
    }
  }

  test("cosine") {
    assert(approx(cosine(Array(1f, 0f), Array(1f, 0f)), 1.0))
    assert(approx(cosine(Array(1f, 0f), Array(0f, 1f)), 0.0))
    assert(approx(cosine(Array(1f, 1f), Array(1f, 0f)), math.sqrt(0.5)))
  }
}
