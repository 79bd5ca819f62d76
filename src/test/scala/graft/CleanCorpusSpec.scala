package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.CleanCorpus

class CleanCorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // prose that passes the quality gate (stopwords, ≥5 words, alpha-heavy)
  private def prose(tail: String) =
    s"the quick brown fox jumps over the lazy dog and then it $tail"

  test("clean applies all five stages in order") {
    import spark.implicits._
    // benchmark vocabulary is disjoint from prose() so only the
    // planted 8-gram in doc 6 overlaps
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // survives everything
      (1L, prose("went home to sleep quietly under warm blankets tonight")),
      // repetition gate: looping bigram
      (2L, "go stop go stop go stop go stop go stop go stop go stop go stop"),
      // quality gate: too few words, and a digit wall
      (3L, "tiny doc"),
      (7L, "9934 1123 4455 9982 3141 5926 8979 3238 4626 4338"),
      // PII twins: identical after redaction → dedup keeps min id (4)
      (4L, prose("mailed a@b.co about the plan for tomorrow evening meal")),
      (5L, prose("mailed c@d.io about the plan for tomorrow evening meal")),
      // contaminated: shares an 8-gram with the benchmark doc
      (6L, prose("saw alpha beta gamma delta epsilon zeta eta theta appear")))
      .toDF("doc_id", "text").withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val out = CleanCorpus.clean(docs, bench, "doc_id", "text",
      minQuality = 0.3, minWords = 5, shingleN = 8)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
    // the survivor's text is the REDACTED form
    val t4 = out.filter($"doc_id" === 4L).select("text").as[String].head()
    assert(t4.contains("<EMAIL>") && !t4.contains("a@b.co"))
    // non-text columns flow through
    assert(out.columns.contains("lang"))
    // nothing planted to drop: every stage keeps every document
    val plain = (1 to 20).map(i => (i.toLong, prose(s"unique tail number $i keeps the document alive")))
      .toDF("doc_id", "text")
    assert(CleanCorpus.clean(plain, bench, "doc_id", "text").count() == 20L)
  }

  test("clean's plan: decontamination broadcasts the benchmark, no cartesian product") {
    import spark.implicits._
    val bench = Seq((9L, "omicron pi rho sigma tau upsilon phi chi psi omega")).toDF("doc_id", "text")
    val docs = (1 to 5).map(i => (i.toLong, prose(s"unique tail $i"))).toDF("doc_id", "text")
    val plan = CleanCorpus.clean(docs, bench, "doc_id", "text", minQuality = 0.0, minWords = 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast decon join in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian in:\n$plan")
  }
}
