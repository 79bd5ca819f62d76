package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CleanCorpus, TextOps}
import graft.functions.TextAnalytics

class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("langId identifies clear-cut samples") {
    assert(TextAnalytics.langId("the cat sat on the mat and it was happy with all of this") == "en")
    assert(TextAnalytics.langId("le chat est dans la maison avec les enfants et il est content") == "fr")
    assert(TextAnalytics.langId("der Hund ist in dem Haus und er ist mit den Kindern") == "de")
    assert(TextAnalytics.langId("el perro es grande y la casa es pequeña para los niños") == "es")
    assert(TextAnalytics.langId("xyzzy plugh qwop") == "und")
    assert(TextAnalytics.langId("") == "und")
  }

  test("quality scores order cleanly: prose > digit wall > empty") {
    val prose = TextAnalytics.quality(
      "The quarterly report shows that the teams have improved their results with better planning.")
    val digits = TextAnalytics.quality("3495 2383 9934 1123 4455 9982 3141 5926")
    val empty = TextAnalytics.quality("")
    assert(prose.score > digits.score)
    assert(digits.score >= empty.score)
    assert(prose.stopwordRatio > 0.2)
    assert(digits.digitRatio > 0.5)
  }

  test("winnowing fingerprints: shared passages share fingerprints") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "PREFIX " + a + " SUFFIX" // same passage embedded
    val c = "completely different words that have nothing in common whatsoever here"
    val fa = TextAnalytics.winnow(a).toSet
    val fb = TextAnalytics.winnow(b).toSet
    val fc = TextAnalytics.winnow(c).toSet
    val overlapAB = fa.intersect(fb).size.toDouble / fa.size
    val overlapAC = fa.intersect(fc).size.toDouble / fa.size
    info(s"overlap a∩b=$overlapAB a∩c=$overlapAC")
    assert(overlapAB > 0.6)
    assert(overlapAC < 0.2)
  }

  test("profile runs over the driver documents table") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = TextOps.profile(docs, "doc_id", "text").cache()
    assert(p.count() == docs.count())
    val row = p.filter(_.doc_id == 0L).head()
    assert(row.n_chars > 0 && row.tok_ws > 0 && row.quality > 0)
    // deterministic simhash formatting
    assert(row.simhash_hex.length == 16)
  }

  test("qualityFilter keeps good docs, drops digit walls") {
    import spark.implicits._
    // the quality gate as CleanCorpus.clean runs it; the benchmark
    // shares no 8-gram with the docs, so only the gates can drop one
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "The quarterly report shows the teams have improved their results with better planning and the work was done."),
      (2L, "9934 1123 4455 9982 3141 5926 8979 3238 4626 4338"),
      (3L, "ok")).toDF("doc_id", "text")
    val kept = CleanCorpus.clean(docs, bench, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("token counters: ws vs bpe-ish") {
    assert(TextAnalytics.tokenCountWs("a b  c") == 3)
    assert(TextAnalytics.tokenCountWs("") == 0)
    // don ' t stop 123 !
    assert(TextAnalytics.tokenCountBpeIsh("don't stop123!") == 6)
  }

  test("repetitionProfile: hand-computed fixtures") {
    import spark.implicits._
    val docs = Seq(
      // "a b a b a b": 6 words, 2 distinct; bigrams a-b(3) b-a(2) of 5
      (1L, "a b a b a b"),
      // all-distinct prose: no repeated n-grams
      (2L, "one two three four five six seven eight"),
      (3L, ""),
      // 10 words, 5-gram "a b c d e" occurs twice among 6 slots → dup5 = 2/6
      (4L, "a b c d e a b c d e")).toDF("doc_id", "text")
    val p = TextOps.repetitionProfile(docs, "doc_id", "text")
      .collect().map(r => r.doc_id -> r).toMap
    assert(p(1L).n_words == 6)
    assert(math.abs(p(1L).distinct_word_ratio - 2.0 / 6) < 1e-6)
    assert(math.abs(p(1L).top2gram_frac - 3.0 / 5) < 1e-6)
    assert(p(1L).repetitive == 1)
    assert(math.abs(p(2L).top2gram_frac - 1.0 / 7) < 1e-6) // every bigram unique: max 1 of 7 slots
    assert(p(2L).repetitive == 0)
    assert(p(3L).n_words == 0 && p(3L).repetitive == 0)
    assert(math.abs(p(4L).dup5gram_frac - 2.0 / 6) < 1e-6)
    assert(p(4L).repetitive == 1)
  }

  test("contaminationStats finds planted overlap; decontaminate drops it") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "noise words here alpha beta gamma delta epsilon zeta eta theta trailing tail"),
      (2L, "completely unrelated content with no overlap at all in any window"),
      (3L, "zeta eta theta iota kappa lambda mu nu xi omicron pi rho")).toDF("doc_id", "text")
    val stats = TextOps.contaminationStats(corpus, bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.keySet == Set(1L)) // only doc 1 shares a full 8-gram
    assert(stats(1L) == 1L)
    val kept = TextOps.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    // with trigrams, doc 3 is contaminated too ("zeta eta theta")
    val tri = TextOps.contaminationStats(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(tri == Set(1L, 3L))
  }

  test("contamination join broadcasts the benchmark side") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val plan = TextOps.contaminationStats(corpus, bench, "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }
}
