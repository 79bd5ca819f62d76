package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Confidence
import graft.kg._

/** Gates for the logit-confidence suite: the six confidence functions
  * against numpy-computed fixture values (exact reference formulas,
  * evaluating_confidence.py:98-107), the distributed rank-sum AUC
  * against the sklearn value, and the pipeline logit stage's
  * confidence→correctness separation (the property the reference's
  * ROC analysis measures).
  */
class ConfidenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def approx(a: Double, b: Double, eps: Double = 1e-10) = math.abs(a - b) < eps

  private val logits = Array(2.5, -1.0, 0.7)

  test("six confidence functions match the reference's numpy math exactly") {
    // fixture values computed with numpy from the reference's lambdas
    val sm = Array(0.836472704867, 0.025259286991, 0.138268008142)
    Seq("softmax" -> Confidence.softmax _, "softmax_min" -> Confidence.softmaxMin _,
        "softmax_max" -> Confidence.softmaxMax _).foreach { case (k, f) =>
      val got = f(logits)
      sm.indices.foreach(i => assert(approx(got(i), sm(i), 1e-9), s"$k[$i]"))
    }
    val direct = Array(1.136363636364, -0.454545454545, 0.318181818182)
    val centered = Array(2.692307692308, -0.807692307692, 0.892307692308)
    direct.indices.foreach(i =>
      assert(approx(Confidence.probaDirect(logits)(i), direct(i), 1e-9), s"direct[$i]"))
    centered.indices.foreach(i =>
      assert(approx(Confidence.probaCentered(logits)(i), centered(i), 1e-9), s"centered[$i]"))
    assert(Confidence.transparent(logits).toSeq == logits.toSeq)
    // softmax variants are shift-invariant → all three agree
    assert(Confidence.softmax(logits).toSeq.zip(Confidence.softmaxMax(logits).toSeq)
      .forall { case (a, b) => approx(a, b) })
  }

  test("logisticScore = sigmoid(w·x + b)") {
    assert(approx(Confidence.logisticScore(Array(1.0, 2.0), Array(0.5, -0.25), 0.1),
      1.0 / (1.0 + math.exp(-(0.5 - 0.5 + 0.1)))))
    assert(Confidence.sigmoid(0.0) == 0.5)
  }

  test("aucRankSum matches sklearn roc_auc_score on a tie-heavy fixture") {
    import spark.implicits._
    val labels = Seq(1, 1, 0, 1, 0, 0, 1, 0, 1, 0, 0, 1, 1, 0).map(_ == 1)
    val scores = Seq(0.9, 0.8, 0.8, 0.7, 0.3, 0.55, 0.55, 0.2, 0.95, 0.1, 0.55, 0.4, 0.55, 0.9)
    val df = labels.zip(scores).toDF("label", "score")
    // sklearn.roc_auc_score == 0.714285714286 on this fixture
    assert(approx(kg.Metrics.aucRankSum(df, "label", "score"), 0.714285714286, 1e-9))
    // degenerate checks: perfect separation → 1.0; anti-separation → 0.0
    val perfect = Seq((true, 0.9), (true, 0.8), (false, 0.2), (false, 0.1)).toDF("label", "score")
    assert(approx(kg.Metrics.aucRankSum(perfect, "label", "score"), 1.0))
    val inverted = Seq((true, 0.1), (true, 0.2), (false, 0.8), (false, 0.9)).toDF("label", "score")
    assert(approx(kg.Metrics.aucRankSum(inverted, "label", "score"), 0.0))
    // all-equal scores → 0.5 (pure ties)
    val flat = Seq((true, 0.5), (false, 0.5), (true, 0.5), (false, 0.5)).toDF("label", "score")
    assert(approx(kg.Metrics.aucRankSum(flat, "label", "score"), 0.5))
    // single-class input → null AUC, never NaN/Infinity
    val onlyPos = Seq((true, 0.4), (true, 0.9)).toDF("label", "score")
    assert(kg.Metrics.aucFrame(onlyPos, "label", "score").head().isNullAt(0))
    // …and the scalar API degrades to NaN instead of NPE-ing on the null
    assert(kg.Metrics.aucRankSum(onlyPos, "label", "score").isNaN)
  }

  test("rocFrame matches sklearn roc_curve(drop_intermediate=False) points") {
    import spark.implicits._
    // sklearn on (y, s): thresholds [inf, .9, .8, .3, .2],
    // fpr [0, 0, .5, .5, 1], tpr [0, 1/3, 2/3, 1, 1] — we emit the
    // measured points (no inf anchor row, documented divergence)
    val df = Seq((true, 0.9), (false, 0.8), (true, 0.8), (true, 0.3), (false, 0.2))
      .toDF("label", "score")
    val got = kg.Metrics.rocFrame(df, "label", "score")
      .orderBy(org.apache.spark.sql.functions.col("threshold").desc)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val want = Seq((0.9, 0.0, 1.0 / 3), (0.8, 0.5, 2.0 / 3), (0.3, 0.5, 1.0), (0.2, 1.0, 1.0))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((t, f, p), (wt, wf, wp)) =>
      assert(approx(t, wt) && approx(f, wf) && approx(p, wp), s"($t,$f,$p) vs ($wt,$wf,$wp)")
    }
    // single-class input → null rate for the absent class, never a crash
    val onlyPos = Seq((true, 0.4), (true, 0.9)).toDF("label", "score")
    val rows = kg.Metrics.rocFrame(onlyPos, "label", "score").collect()
    assert(rows.forall(_.isNullAt(1)) && rows.forall(!_.isNullAt(2)))
  }

  test("rocFrame trapezoid area == rank-sum AUC (tie-averaged) on random data") {
    import spark.implicits._
    // ties + both classes, deterministic pseudo-random fixture
    val pts = (0 until 400).map { i =>
      val h = graft.functions.Hashing.hash64(i.toLong, 99L)
      val score = (graft.functions.Hashing.bucket(h, 40)) / 40.0 // heavy ties
      val label = graft.functions.Hashing.toUnit(graft.functions.Hashing.mix64(h)) < 0.3 + score / 2
      (label, score)
    }.toDF("label", "score")
    val roc = kg.Metrics.rocFrame(pts, "label", "score")
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(1), r.getDouble(2))).reverse // ascending fpr
    val withAnchor = (0.0, 0.0) +: roc.toSeq
    val trapezoid = withAnchor.sliding(2).map {
      case Seq((f0, t0), (f1, t1)) => (f1 - f0) * (t1 + t0) / 2
    }.sum
    assert(approx(trapezoid, kg.Metrics.aucRankSum(pts, "label", "score"), 1e-9))
  }

  test("aucFrame quantizes scores internally: unbounded caller, bounded grouped frame") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 20k DISTINCT raw scores — the round-2 contract would have put all
    // of them through the single-partition cumulative window
    val raw = spark.range(20000)
      .select((col("id") % 2 === 0).as("label"),
        (col("id") / 20000.0 + col("id") * 1e-9).as("score"))
    val auc3 = kg.Metrics.aucFrame(raw, "label", "score", precision = 3)
    // identical to EXPLICIT pre-rounding (the old caller contract)
    val pre = raw.select(col("label"), round(col("score"), 3).as("score"))
    val aucPre = kg.Metrics.aucFrame(pre, "label", "score", precision = 3)
    assert(approx(auc3.head().getDouble(0), aucPre.head().getDouble(0), 1e-12))
    // and the windowed frame is the quantized one: ≤ 1001 groups
    assert(pre.select("score").distinct().count() <= 1001)
  }

  test("pipeline logit stage: both classes present, softmax confidence separates them") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cfg = TranscriptGen.Config(nConvs = 120)
    val extracted = Extraction.extractAll(
      Extraction.scoreMentions(
        Extraction.buildPrompts(TranscriptGen.transcripts(spark, cfg)), cfg), cfg)
    val ml = Extraction.withLogits(extracted, cfg).cache()
    val n = ml.count()
    val nWrong = ml.filter(!_.correct).count()
    assert(n > 500)
    assert(nWrong > 0 && nWrong < n / 2, s"wrong $nWrong of $n")
    // wrong-pick rate ≈ logitNoisePerMille
    assert(math.abs(nWrong.toDouble / n - cfg.logitNoisePerMille / 1000.0) < 0.05)
    // ROC separation on the softmax confidence (rounded → bounded groups)
    val pts = ml.toDF().select(col("correct").as("label"),
      round(col("conf_softmax"), 4).as("score"))
    val auc = kg.Metrics.aucRankSum(pts, "label", "score")
    assert(auc > 0.75, s"softmax confidence AUC $auc must separate correct from wrong")
    // outputted tag always carries the max logit
    ml.collect().foreach { m =>
      assert(m.logits.max == m.logits(kg.Scorer.TagVocab.indexOf(m.outputted_tag)))
      assert(approx(m.calibrated,
        Confidence.logisticScore(m.logits.toArray, Extraction.CalibrationWeights,
          Extraction.CalibrationBias)))
    }
    // deterministic across parallelism
    val again = Extraction.withLogits(extracted.repartition(17), cfg)
      .collect().map(m => (m.conv_id, m.turn_idx, m.mention, m.outputted_tag, m.conf_softmax)).toSet
    assert(again == ml.collect().map(m => (m.conv_id, m.turn_idx, m.mention, m.outputted_tag, m.conf_softmax)).toSet)
    ml.unpersist()
  }
}
