package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{BpeTrainer, Privacy, TextOps}

/** Property gates for the round-4 pipeline kernels: redaction
  * idempotency and containment, repetition-signal ranges, and BPE
  * encode totality. Fixed-seed ScalaCheck sampling (same convention
  * as KernelPropertySpec — the scalatestplus bridge is not cached).
  */
class PipelineKernelPropertySpec extends AnyFunSuite {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(97L + i)))

  private val wordGen: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private val piiGen: Gen[String] = Gen.oneOf(
    Gen.zip(wordGen, wordGen).map { case (a, b) => s"$a@$b.com" },
    Gen.zip(Gen.chooseNum(100, 999), Gen.chooseNum(100, 999), Gen.chooseNum(1000, 9999))
      .map { case (a, b, c) => s"$a-$b-$c" },
    Gen.listOfN(4, Gen.chooseNum(0, 255)).map(_.mkString(".")))

  private val textGen: Gen[String] =
    Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(8 -> wordGen, 2 -> piiGen)).map(_.mkString(" ")))

  test("redacted is idempotent and never reintroduces PII") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = samples(textGen, 300).toDF("t")
      .select(col("t"), Privacy.redacted(col("t")).as("once"),
        Privacy.redacted(Privacy.redacted(col("t"))).as("twice"))
      .as[(String, String, String)].collect()
    rows.foreach { case (t, once, twice) =>
      assert(twice == once, s"not idempotent on: $t")
      assert(!once.matches(s".*${Privacy.EmailRe}.*"), s"email survives in: $once")
      assert(!once.matches(s".*${Privacy.PhoneRe}.*"), s"phone survives in: $once")
      assert(!once.matches(s".*${Privacy.Ipv4Re}.*"), s"ip survives in: $once")
    }
  }

  test("repetition signals stay in [0,1]; duplicated text always gates") {
    samples(textGen, 200).foreach { t =>
      val r = TextOps.repetitionOf(1L, t)
      assert(r.distinct_word_ratio >= 0 && r.distinct_word_ratio <= 1)
      assert(r.top2gram_frac >= 0 && r.top2gram_frac <= 1)
      assert(r.top3gram_frac >= 0 && r.top3gram_frac <= 1)
      assert(r.dup5gram_frac >= 0 && r.dup5gram_frac <= 1)
      // a text repeated 8x must trip at least one gate (if non-trivial)
      val words = graft.functions.TextAnalytics.pipelineWords(t)
      if (words.size >= 2) {
        val looped = Seq.fill(8)(t).mkString(" ")
        assert(TextOps.repetitionOf(2L, looped).repetitive == 1, s"loop not gated: $t")
      }
    }
  }

  test("BPE encode is total and token-conserving (concat of tokens == word)") {
    val merges = Seq(BpeTrainer.Merge(0, "a", "b"), BpeTrainer.Merge(1, "ab", "c"),
      BpeTrainer.Merge(2, "d", "e"))
    samples(wordGen, 300).foreach { w =>
      val toks = BpeTrainer.encodeWord(w, merges)
      assert(toks.mkString == w, s"tokens don't reassemble: $w -> $toks")
      assert(toks.forall(_.nonEmpty))
    }
  }
}
