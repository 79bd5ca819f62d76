package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The bench line is the driver's ONLY performance artifact and every
  * fragment of it is hand-built string interpolation — these tests
  * parse each builder's output with a strict JSON parser and pin the
  * rare emission paths (fallback, partial, cold-N, aborted) that a
  * full bench run almost never exercises. BENCH_r03 died to exactly
  * this class of fragility (an artifact that was never parseable
  * because the producing code path had never run).
  */
class BenchJsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def parse(s: String): JsonNode = mapper.readTree(s)

  private val confN = BenchJson.confJson(8, 64, 32, "32g", "child")
  private val conf4n = BenchJson.confJson(32, 64, 32, "32g", "child")

  test("fmt is locale-independent even under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.FRANCE)
      assert(BenchJson.fmt(1.5, 2) == "1.50")
      assert(BenchJson.fmt(1234.5678, 3) == "1234.568")
      assert(BenchJson.wallsJson(Seq(1.5, 2.25)) == "[1.50,2.25]")
    } finally java.util.Locale.setDefault(saved)
  }

  test("confJson carries the measured-tuning fields") {
    val n = parse(confN)
    assert(n.get("cores").asInt == 8)
    assert(n.get("shuffle_partitions").asInt == 64)
    assert(n.get("split_mb").asInt == 32)
    assert(n.get("heap").asText == "32g")
    assert(n.get("mode").asText == "child")
  }

  test("kgThroughputJson: rates derive from the wall") {
    val n = parse(BenchJson.kgThroughputJson(500000L, 4999935L, 8079496L, 7.12))
    assert(n.get("n_turns").asLong == 4999935L)
    assert(math.abs(n.get("triples_per_sec").asDouble - 8079496L / 7.12) < 1.0)
    assert(math.abs(n.get("turns_per_sec").asDouble - 4999935L / 7.12) < 1.0)
  }

  test("pairJson: efficiency is min(N)/(4*min(4N)); multi-rep N is not cold") {
    val j = BenchJson.pairJson(2000000L, Seq(396.7, 112.1), Seq(327.6, 69.2, 33.0),
      0.9, 1.4, confN, conf4n, attempt = 1, windowQ = Some(1.02))
    val n = parse(j)
    assert(math.abs(n.get("efficiency").asDouble - 112.1 / (4 * 33.0)) < 1e-3)
    assert(n.get("wall_n_sec").asDouble == 112.1)
    assert(n.get("wall_4n_sec").asDouble == 33.0)
    assert(!n.has("n_cold") && !n.has("fallback"))
    assert(n.get("walls_n").size == 2 && n.get("walls_4n").size == 3)
    assert(n.get("window_q").asDouble == 1.02)
    assert(n.get("conf_n").get("shuffle_partitions").asInt == 64)
  }

  test("pairJson: a single-rep N level is flagged n_cold") {
    val n = parse(BenchJson.pairJson(1000000L, Seq(441.27), Seq(224.59, 119.01, 99.62),
      0.9, 1.4, confN, conf4n, attempt = 1, windowQ = Some(5.12)))
    assert(n.get("n_cold").asBoolean)
    assert(math.abs(n.get("efficiency").asDouble - 441.27 / (4 * 99.62)) < 1e-3)
  }

  test("pairJson: fallback reason with quotes and backslashes stays parseable") {
    val reason = """small_corpus: child_32=false: say "boom" C:\tmp"""
    val n = parse(BenchJson.pairJson(500000L, Seq(45.0, 44.0, 43.5), Seq(12.5, 12.0, 11.8),
      0.0, 0.0, confN, conf4n, attempt = 1, fallback = Some(reason)))
    assert(n.get("fallback").asText.startsWith("small_corpus: "))
    assert(!n.get("fallback").asText.contains("\"") && !n.get("fallback").asText.contains("\\"))
  }

  test("slimPair keeps headline numbers + flags, drops walls/conf, stays parseable") {
    val full = BenchJson.pairJson(2000000L, Seq(396.7, 112.1), Seq(327.6, 69.2, 33.0),
      0.9, 1.4, confN, conf4n, attempt = 2, windowQ = Some(1.02),
      fallback = Some("big_inproc: child_32=false"))
    val n = parse(BenchJson.slimPair(full))
    assert(n.get("n_convs").asLong == 2000000L)
    assert(math.abs(n.get("efficiency").asDouble - 112.1 / (4 * 33.0)) < 1e-3)
    assert(n.get("wall_n_sec").asDouble == 112.1 && n.get("wall_4n_sec").asDouble == 33.0)
    assert(n.get("window_q").asDouble == 1.02 && n.get("attempt").asInt == 2)
    assert(n.get("mode").asText == "child")
    assert(n.get("fallback").asBoolean)
    assert(!n.has("walls_n") && !n.has("conf_n") && !n.has("conf_4n"))
    // a prior record carries its age stamp through
    val aged = full.dropRight(1) + ""","recorded_unix":1755500000}"""
    assert(parse(BenchJson.slimPair(aged)).get("recorded_unix").asLong == 1755500000L)
  }

  test("compactLine: complete JSON well under the 2000-char tail window") {
    val kg = BenchJson.kgThroughputJson(500000L, 4999935L, 8079496L, 7.12)
    val p28 = BenchJson.pairJson(500000L, Seq(45.6, 46.0, 47.1), Seq(12.5, 12.8, 14.2),
      0.0, 0.0, confN, conf4n, attempt = 1)
    val p832 = BenchJson.pairJson(2000000L, Seq(112.1, 115.0), Seq(33.0, 34.1),
      0.9, 1.4, confN, conf4n, attempt = 1, windowQ = Some(1.02))
    val prior = p832.dropRight(1) + ""","recorded_unix":1755500000}"""
    val timings = (1 to 77).map(i => (f"q$i%02d_something_long_named", 0.1 + i * 0.01))
    val line = BenchJson.compactLine(60.6, timings, Some("/tmp/graft_bench_queries.json"),
      "/root/testdata/sf0.1", Some(kg), Some(p28), Some(p832), Some(prior),
      aborted = Some("""pair_2_8_retry: "boom""""))
    assert(line.length < 1500, s"compact line too long: ${line.length}")
    val n = parse(line)
    assert(n.get("metric").asText == "total" && n.get("value").asDouble == 60.6)
    assert(n.get("n_queries").asInt == 77)
    assert(n.get("queries").size == 3) // top-3 slowest only
    assert(n.get("queries").has("q77_something_long_named"))
    assert(n.get("scaling").get("pair_2_8").get("efficiency").asDouble > 0.8)
    assert(n.get("scaling").get("pair_8_32").get("window_q").asDouble == 1.02)
    assert(n.get("scaling").get("pair_8_32_prior").get("recorded_unix").asLong == 1755500000L)
    assert(n.get("queries_file").asText == "/tmp/graft_bench_queries.json")
    // no-scaling snapshot (first emission) is also complete JSON
    val early = BenchJson.compactLine(0.0, Seq.empty, None, "/sf", None, None, None, None, None)
    assert(parse(early).get("n_queries").asInt == 0)
  }

  test("partialPairJson records the 4N level alone") {
    val n = parse(BenchJson.partialPairJson(1000000L, Seq(224.6, 99.6), 1.4, conf4n, 5.12, 1))
    assert(n.get("wall_4n_sec").asDouble == 99.6)
    assert(n.get("partial").asText == "n level pending")
    assert(!n.has("wall_n_sec") && !n.has("efficiency"))
  }

  test("topLine: full assembly is one parseable superset object") {
    val p28 = BenchJson.pairJson(500000L, Seq(45.6, 46.0, 47.1), Seq(12.5, 12.8, 14.2),
      0.0, 0.0, confN, conf4n, attempt = 1)
    val p832 = BenchJson.partialPairJson(1000000L, Seq(99.6), 1.4, conf4n, 5.12, 1)
    val line = BenchJson.topLine(307.326, """{"q01":5.706,"q02":6.362}""",
      "/root/testdata/sf0.1",
      kg = Some(BenchJson.kgThroughputJson(500000L, 4999935L, 8079496L, 7.12)),
      pair28 = Some(p28), pair832 = Some(p832),
      aborted = Some("""pair_8_32: child "died" at C:\x"""))
    val n = parse(line)
    assert(n.get("metric").asText == "total" && n.get("unit").asText == "sec")
    assert(n.get("queries").get("q02").asDouble == 6.362)
    assert(n.get("scaling").get("pair_2_8").get("efficiency").asDouble > 0.8)
    assert(n.get("scaling").get("pair_8_32").get("partial").asText == "n level pending")
    assert(!n.get("aborted").asText.contains("\"") && !n.get("aborted").asText.contains("\\"))
  }

  test("topLine: queries-only snapshot omits kg/scaling/aborted") {
    val n = parse(BenchJson.topLine(1.0, """{"q01":1.000}""", "/sf", None, None, None, None))
    assert(!n.has("kg") && !n.has("scaling") && !n.has("aborted"))
  }

  test("acceptRetry28: rejects cold best-of-1 and super-linear artifacts") {
    val honest = BenchJson.pairJson(500000L, Seq(45.8, 43.7), Seq(16.4, 14.2),
      0.0, 0.0, "{}", "{}", attempt = 2)
    val coldN = BenchJson.pairJson(500000L, Seq(157.6), Seq(13.0, 14.1),
      0.0, 0.0, "{}", "{}", attempt = 2)
    // the r5 regression: one cold 2-core rep -> eff 3.023
    assert(!BenchJson.acceptRetry28(3.023, 0.769, coldN))
    // super-linear is rejected even with 2+ reps
    assert(!BenchJson.acceptRetry28(1.2, 0.769, honest))
    // a genuine improvement in-range is accepted
    assert(BenchJson.acceptRetry28(0.84, 0.769, honest))
    // no improvement is rejected
    assert(!BenchJson.acceptRetry28(0.70, 0.769, honest))
  }

  test("acceptPrior832: persists only a plausible improvement over the prior") {
    // r06 persisted a super-linear 1.255
    assert(!BenchJson.acceptPrior832(1.255, 0.728))
    assert(BenchJson.acceptPrior832(0.93, 0.728))
    assert(BenchJson.acceptPrior832(1.0, 0.728))
    // at or below the prior is rejected
    assert(!BenchJson.acceptPrior832(0.728, 0.728))
    assert(!BenchJson.acceptPrior832(0.70, 0.728))
    // below the 0.5 floor is rejected even with no prior
    assert(!BenchJson.acceptPrior832(0.45, 0.0))
  }

  test("windowQuality: unmeasured defaults to nominal") {
    assert(BenchJson.windowQuality(None) == 1.0)
    assert(BenchJson.windowQuality(Some(450.0)) > 5.0)
    assert(math.abs(BenchJson.windowQuality(Some(66.0)) - 0.75) < 1e-9)
  }

  test("shrinkBigCorpus: shrinks only in degraded windows, floored at 4x small, capped at big") {
    assert(BenchJson.shrinkBigCorpus(1.0, 500000L, 2000000L) == 2000000L)
    assert(BenchJson.shrinkBigCorpus(1.8, 500000L, 2000000L) == 2000000L)
    // the default 2M-conv big pair never shrinks below the 2M floor
    assert(BenchJson.shrinkBigCorpus(5.1, 500000L, 2000000L) == 2000000L)
    // a larger configured corpus halves normally
    assert(BenchJson.shrinkBigCorpus(3.0, 500000L, 10000000L) == 5000000L)
    // the floor never GROWS the corpus past the configured size
    assert(BenchJson.shrinkBigCorpus(3.0, 500000L, 1500000L) == 1500000L)
  }

  test("headline: compact, prefixed, carries each completed phase's key number") {
    val kg = BenchJson.kgThroughputJson(500000L, 4999935L, 8079496L, 7.12)
    val p28 = BenchJson.pairJson(500000L, Seq(45.6, 46.0), Seq(12.5, 12.8),
      0.0, 0.0, confN, conf4n, attempt = 1)
    val p832 = BenchJson.pairJson(1000000L, Seq(112.1), Seq(33.0),
      0.0, 0.0, confN, conf4n, attempt = 1, fallback = Some("child died"))
    val h = BenchJson.headline(Some(44.21), Some(kg), Some(p28), Some(p832))
    assert(h.startsWith("[bench] headline: "))
    assert(h.contains("queries_sec=44.2"))
    assert(h.contains("kg_triples_per_sec=1134760"))
    assert(h.contains("pair_2_8_eff=0.912"))
    assert(h.contains("pair_8_32_eff=0.849"))
    assert(h.contains("pair_8_32_fallback=true"))
    assert(h.length < 250) // must fit comfortably inside a 2000-char tail
    // partial pair has no efficiency — flagged, not invented
    val partial = BenchJson.partialPairJson(1000000L, Seq(99.6), 1.4, conf4n, 5.12, 1)
    val h2 = BenchJson.headline(None, None, None, Some(partial))
    assert(!h2.contains("pair_8_32_eff=") && h2.contains("pair_8_32_partial=true"))
    assert(BenchJson.headline(None, None, None, None).endsWith("no phases completed"))
  }

  test("retryReserve: reserved only for a measured sub-bar pair") {
    assert(BenchJson.retryReserve(0.0) == 0.0)   // unmeasured (pair failed)
    assert(BenchJson.retryReserve(0.398) == 260.0)
    assert(BenchJson.retryReserve(0.912) == 0.0)
  }
}
