package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg._

/** Gates for the round-2 few-shot wiring: the seeded split operator
  * (Conll2003Dataset.py:54-56), the few-shot prompt block
  * (pt_abstract.py:75-89) and the classical_test grid
  * (llm/LLMModel.py:144-203) with the reference's measured direction:
  * few-shot arms beat zero-shot (results.ipynb cells 7/13, +0.184 F1),
  * and sentence-kNN retrieval beats the random control.
  */
class FewShotGridSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("seededSplit: disjoint, complete, deterministic, seed-sensitive") {
    val cfg = TranscriptGen.Config(nConvs = 120)
    val turns = TranscriptGen.transcripts(spark, cfg).cache()
    val n = turns.count()
    val (train, test) = Experiments.seededSplit(turns, "conv_id", 20, 42L)
    val nTrain = train.count(); val nTest = test.count()
    assert(nTrain + nTest == n) // complete
    // disjoint by conversation: no conv id on both sides
    val both = train.select("conv_id").distinct()
      .intersect(test.select("conv_id").distinct()).count()
    assert(both == 0)
    // fraction ≈ testPct (per-conv hash, binomial tolerance)
    val convFrac = test.select("conv_id").distinct().count().toDouble /
      turns.select("conv_id").distinct().count()
    assert(convFrac > 0.08 && convFrac < 0.35, s"test conv fraction $convFrac")
    // deterministic at different parallelism
    val testIds = test.select("conv_id").distinct().collect().map(_.getString(0)).toSet
    val again = Experiments.seededSplit(turns.repartition(13), "conv_id", 20, 42L)
      ._2.select("conv_id").distinct().collect().map(_.getString(0)).toSet
    assert(testIds == again)
    // a different seed moves conversations across the boundary
    val otherSeed = Experiments.seededSplit(turns, "conv_id", 20, 45L)
      ._2.select("conv_id").distinct().collect().map(_.getString(0)).toSet
    assert(testIds != otherSeed)
    turns.unpersist()
  }

  test("few-shot prompts carry k example lines from the train pool only") {
    val cfg = TranscriptGen.Config(nConvs = 80)
    val turns = TranscriptGen.transcripts(spark, cfg)
    val gold = TranscriptGen.goldMentions(spark, cfg)
    val (_, testT) = Experiments.seededSplit(turns, "conv_id", 25, 42L)
    val pool = FewShots.buildPools(turns, gold, Seq(42L), testPct = 25, poolSize = 64).head
    assert(pool.length > 10 && pool.length <= 64)
    assert(pool.forall(ex => ex.output.startsWith("[") && !ex.text.contains("{")))

    val prompts = Extraction.buildPromptsWithShots(testT, pool, 3).collect()
    assert(prompts.nonEmpty)
    val poolTexts = pool.map(_.text).toSet
    prompts.foreach { p =>
      val exampleLines = p.prompt.linesIterator
        .filter(_.startsWith(Scorer.ExampleMarker)).toSeq
      assert(exampleLines.size == 3, s"expected 3 examples:\n${p.prompt}")
      exampleLines.foreach { l =>
        val text = l.stripPrefix(Scorer.ExampleMarker).split(" -> ").head
        assert(poolTexts.contains(text), s"example not from pool: $text")
      }
      // the example block never contains the input sentinel
      assert(Scorer.exampleBlockOf(p.prompt).nonEmpty)
      assert(!Scorer.exampleBlockOf(p.prompt).contains("<start_input>"))
    }
    // zero shots (or empty pool) → byte-identical to plain buildPrompts
    val zero = Extraction.buildPromptsWithShots(testT, pool, 0).collect().map(_.prompt).toSet
    val plain = Extraction.buildPrompts(testT).collect().map(_.prompt).toSet
    assert(zero == plain)
  }

  test("classical_test grid: few-shot ≥ zero-shot, kNN ≥ random (reference direction)") {
    // high scorer noise makes the few-shot repair visible (the
    // reference's raw-model regime, where the +0.18 gain lives)
    val cfg = TranscriptGen.Config(nConvs = 150, scorerNoisePerMille = 250)
    val arms = Seq(
      Experiments.Arm(PromptTechniques.Discussion, Extraction.FstNone, 0),
      Experiments.Arm(PromptTechniques.Discussion, Extraction.FstRandom, 3),
      Experiments.Arm(PromptTechniques.Discussion, Extraction.FstEntity, 3),
      Experiments.Arm(PromptTechniques.Discussion, Extraction.FstSentence, 3))
    val runs = Experiments.classicalTest(spark, cfg, arms, nbRuns = 3, testPct = 30,
      poolSize = 160).collect()
    assert(runs.length == 12)
    def meanF1(fst: String) = {
      val xs = runs.filter(_.fst == fst).map(_.f1); xs.sum / xs.length
    }
    val (zero, rand, knn, ent) = (meanF1(Extraction.FstNone), meanF1(Extraction.FstRandom),
      meanF1(Extraction.FstSentence), meanF1(Extraction.FstEntity))
    info(f"mean F1 — zero-shot: $zero%.4f  random: $rand%.4f  sentence-kNN: $knn%.4f  entity-kNN: $ent%.4f")
    assert(knn > zero, f"kNN $knn%.4f must beat zero-shot $zero%.4f")
    assert(knn >= rand, f"kNN $knn%.4f must be ≥ random $rand%.4f")
    assert(ent > zero, f"entity-kNN $ent%.4f must beat zero-shot $zero%.4f")
    // leaderboard consumes the grid output and ranks a kNN arm first
    // (sentence or entity — the reference found either can win a grid)
    import spark.implicits._
    val lb = Experiments.leaderboard(spark.createDataset(runs.toSeq)).collect()
    assert(Set(Extraction.FstSentence, Extraction.FstEntity).contains(lb.head.getString(2)))
    assert(lb.last.getString(2) != Extraction.FstSentence, "zero/random arm must rank below kNN")
    assert(lb.map(_.getInt(4)).forall(_ == 3)) // 3 runs per arm
  }

  // experiment_grid's arms (SparkEntry) plus the random and entity-kNN
  // controls of the grid test above
  private val gridArms = Seq(
    Experiments.Arm(PromptTechniques.Discussion, Extraction.FstNone, 0),
    Experiments.Arm(PromptTechniques.Discussion, Extraction.FstSentence, 3),
    Experiments.Arm(PromptTechniques.Filing, Extraction.FstSentence, 3))

  test("classical_test scores equal the per-arm reference path; each run's pool is its one-run pool") {
    val cfg = TranscriptGen.Config(nConvs = 60, scorerNoisePerMille = 150)
    val arms = gridArms ++ Seq(
      Experiments.Arm(PromptTechniques.Discussion, Extraction.FstRandom, 3),
      Experiments.Arm(PromptTechniques.Discussion, Extraction.FstEntity, 3))
    val (testPct, poolSize) = (30, 48)
    val seeds = Experiments.RunSeeds.take(2)
    val got = Experiments.classicalTest(spark, cfg, arms, nbRuns = 2, testPct = testPct,
      poolSize = poolSize).collect()
    val turns = TranscriptGen.transcripts(spark, cfg)
    val gold = TranscriptGen.goldMentions(spark, cfg)
    def rows(pool: Array[FewShots.ShotExample]) =
      pool.toSeq.map(ex => (ex.text, ex.output, ex.vec.toSeq, ex.entityVecs.toSeq.map(_.toSeq)))
    val pools = FewShots.buildPools(turns, gold, seeds, testPct, poolSize)
    assert(pools.forall(_.length == poolSize))
    assert(rows(pools(0)) != rows(pools(1)))
    val expected = seeds.zipWithIndex.flatMap { case (seed, run) =>
      val pool = FewShots.buildPools(turns, gold, Seq(seed), testPct, poolSize).head
      assert(rows(pools(run)) == rows(pool), s"run $run")
      val (trainT, testT) = Experiments.seededSplit(turns, "conv_id", testPct, seed)
      val (trainG, testG) = Experiments.seededSplit(gold, "conv_id", testPct, seed)
      // the pool of the train split itself, every turn kept, is the same
      assert(rows(FewShots.buildPools(trainT, trainG, Seq(seed), 0, poolSize).head) == rows(pool))
      arms.map { arm =>
        val prompts = Extraction.buildPromptsWithShots(
          testT, if (arm.nbFewShots > 0) pool else Array.empty, arm.nbFewShots, arm.fst)
        val prf = Metrics.weightedPRF(Metrics.align(
          PromptTechniques.detectMentions(prompts, arm.technique, cfg), testG))
        (run, arm.technique.name, if (arm.nbFewShots > 0) arm.fst else Extraction.FstNone,
          arm.nbFewShots, prf.f1, prf.precision, prf.recall)
      }
    }
    assert(got.toSeq.map(r => (r.run_idx, r.technique, r.fst, r.nb_few_shots, r.f1, r.precision, r.recall))
      == expected)
    assert(expected.map(_._5).distinct.size > 1)
  }

  test("classical_test in the experiment_grid shape runs as one plan: at most 10 jobs") {
    val cfg = TranscriptGen.Config(nConvs = 100)
    var runs: Array[Experiments.RunScore] = null
    val jobs = SparkTestBase.countJobs {
      runs = Experiments.classicalTest(spark, cfg, gridArms, nbRuns = 2).collect()
    }
    info(s"${jobs.started} jobs: ${jobs.callSites.mkString(", ")}")
    assert(runs.length == 6)
    assert(jobs.started <= 10, jobs.callSites)
  }

  test("classical_test runs are deterministic (same seed → same scores)") {
    val cfg = TranscriptGen.Config(nConvs = 60, scorerNoisePerMille = 100)
    val arms = Seq(Experiments.Arm(PromptTechniques.Wrapper, Extraction.FstSentence, 3))
    def scores() = Experiments.classicalTest(spark, cfg, arms, nbRuns = 2, testPct = 30)
      .collect().map(r => (r.run_idx, r.f1, r.precision, r.recall)).toSet
    assert(scores() == scores())
  }
}
