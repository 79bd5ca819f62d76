package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{Confidence, Hashing, TextAnalytics}

/** Property gates for the round-2 pure kernels: the confidence
  * functions' algebraic invariants, the content embedding's
  * determinism and normalization, and the hashing primitives the
  * seeded split / sampling paths rely on. Uses ScalaCheck generators
  * sampled under a fixed seed (the scalatestplus bridge is not in the
  * offline cache).
  */
class KernelPropertySpec extends AnyFunSuite {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val logitsGen: Gen[Array[Double]] =
    Gen.chooseNum(2, 8).flatMap(m =>
      Gen.listOfN(m, Gen.chooseNum(-10.0, 10.0)).map(_.toArray))

  test("softmax variants: probabilities sum to 1, shift invariance holds") {
    samples(logitsGen, 200).foreach { logits =>
      val sm = Confidence.softmax(logits)
      assert(math.abs(sm.sum - 1.0) < 1e-9)
      assert(sm.forall(p => p >= 0 && p <= 1))
      // softmax is shift-invariant → all three softmax arms agree
      val smMin = Confidence.softmaxMin(logits)
      val smMax = Confidence.softmaxMax(logits)
      sm.indices.foreach { i =>
        assert(math.abs(sm(i) - smMin(i)) < 1e-9)
        assert(math.abs(sm(i) - smMax(i)) < 1e-9)
      }
      // order-preserving: argmax of logits = argmax of softmax
      assert(sm.indexOf(sm.max) == logits.indexOf(logits.max))
    }
  }

  test("logisticScore is bounded and monotone in each logit (positive weight)") {
    samples(logitsGen, 200).foreach { logits =>
      val w = Array.fill(logits.length)(0.7)
      val s = Confidence.logisticScore(logits, w, -1.0)
      assert(s > 0 && s < 1)
      val bumped = logits.clone(); bumped(0) += 1.0
      assert(Confidence.logisticScore(bumped, w, -1.0) > s)
    }
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))).map(_.mkString)

  test("embedText: deterministic, unit-norm (or zero), dimension fixed") {
    samples(textGen, 300).foreach { text =>
      val v1 = TextAnalytics.embedText(text)
      val v2 = TextAnalytics.embedText(text)
      assert(v1.toSeq == v2.toSeq)
      assert(v1.length == 32)
      val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
      assert(norm == 0.0 || math.abs(norm - 1.0) < 1e-4)
    }
  }

  test("hash bucket: bounded, deterministic, roughly uniform for the split operator") {
    samples(Gen.alphaStr, 2000).foreach { k =>
      val b = Hashing.bucket(Hashing.hash64(k, 42L), 100)
      assert(b >= 0 && b < 100)
      assert(b == Hashing.bucket(Hashing.hash64(k, 42L), 100))
    }
    // uniformity on sequential ids (the seeded split's key shape)
    val n = 20000
    val frac = (0 until n).count(i =>
      Hashing.bucket(Hashing.hash64(s"conv-$i", 42L), 100) < 20).toDouble / n
    assert(frac > 0.17 && frac < 0.23, s"20% split landed at $frac")
  }

  test("parsers never throw on arbitrary input (total functions over LLM output)") {
    import graft.functions.Parsers
    // adversarial generator: delimiter-heavy garbage + unicode + quotes
    val junkChar = Gen.frequency(
      6 -> Gen.oneOf("[](){}<>'\",:#@\\".toSeq),
      3 -> Gen.alphaNumChar,
      1 -> Gen.oneOf(' ', '\n', '\t', 'é', '中', '\u0000'))
    val junk = Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, junkChar).map(_.mkString))
    samples(junk, 800).foreach { s =>
      // every parser must degrade, never kill the task (a single
      // malformed row at 100 TB must not abort the job)
      Parsers.parseTupleList(s)
      Parsers.parseWrapped(s)
      Parsers.parseTagJson(s)
      Parsers.parseFilingJson(s)
      Parsers.parseAtAt(s, "PER")
      Parsers.parseConfidenceJson(s, List(("x", "PER")))
      Parsers.verifierAnswer(s)
    }
    // and the regression shapes from the round-1 crash class
    Seq(")]", "}{", "][", ")](", "]]][[[", "}}}{{{").foreach { s =>
      assert(Parsers.parseTupleList(s) == Nil)
      assert(Parsers.parseFilingJson(s) == Nil)
    }
  }

  test("TopK.smallest == full sort + take, including tie behavior") {
    // tie-heavy domain: scores from a 7-value grid, ids unique — the
    // composite ordering is total, so heap and sort MUST agree exactly
    val caseGen: Gen[(Int, List[(Double, Long)])] = for {
      k <- Gen.chooseNum(0, 12)
      n <- Gen.chooseNum(0, 200)
      xs <- Gen.listOfN(n, Gen.chooseNum(0, 6).map(_ / 6.0))
    } yield (k, xs.zipWithIndex.map { case (s, i) => (s, i.toLong) })
    val ord: Ordering[(Double, Long)] = Ordering.by { case (s, id) => (-s, id) }
    samples(caseGen, 300).foreach { case (k, xs) =>
      val heap = graft.functions.TopK.smallest(xs.iterator, k)(ord)
      val sort = xs.sorted(ord).take(k)
      assert(heap.toList == sort, s"k=$k n=${xs.size}")
    }
  }

  test("aucFrame closed form equals a brute-force pair count on random points") {
    val rnd = new scala.util.Random(5)
    val pts = (0 until 300).map(_ => (rnd.nextBoolean(),
      math.floor(rnd.nextDouble() * 20) / 20.0)) // heavy ties
    val pos = pts.filter(_._1).map(_._2)
    val neg = pts.filterNot(_._1).map(_._2)
    val brute = (for { p <- pos; q <- neg } yield
      if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum / (pos.size * neg.size)
    val spark = SparkTestBase.spark
    import spark.implicits._
    val auc = graft.kg.Metrics.aucRankSum(pts.toDF("label", "score"), "label", "score")
    assert(math.abs(auc - brute) < 1e-12, s"auc $auc vs brute $brute")
  }
}
