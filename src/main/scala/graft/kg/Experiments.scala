package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Experiment bookkeeping: the Spark re-expression of the reference's
  * ResultInstance store + leaderboard
  * (ner/llm_ner/ResultInstance.py:63-145, plot_results.py:10-35) and
  * the classical_test grid that fills it.
  */
object Experiments {

  /** One experiment run's score row (what a ResultInstance pickle
    * holds after re-scoring, ResultInstance.py:32-61): weighted
    * P/R/F1 of one grid arm on one seeded run. `fst` is the few-shot
    * technique arm (sentence / entity / random / no-shots —
    * few_shots_techniques.py). */
  final case class RunScore(
      model: String,
      technique: String,
      nb_few_shots: Int,
      run_idx: Int,
      f1: Double,
      precision: Double,
      recall: Double,
      fst: String = "sentence")

  /** Leaderboard with Student-t 95% CIs per config, sorted by mean F1
    * descending (ResultInstance.py:75-87,145 + ner/utils.py:92-118).
    * The groupBy is distributed; the t-quantile is applied on the
    * per-config aggregates. */
  def leaderboard(runs: Dataset[RunScore]): DataFrame = {
    val spark = runs.sparkSession
    import spark.implicits._
    runs.groupByKey(r => (r.model, r.technique, r.fst, r.nb_few_shots))
      .mapGroups { (key: (String, String, String, Int), it: Iterator[RunScore]) =>
        val f1s = it.map(_.f1).toSeq
        val (mean, lo, hi) = Metrics.tConfidenceInterval(f1s)
        (key._1, key._2, key._3, key._4, f1s.length, mean, lo, hi)
      }
      .toDF("model", "technique", "fst", "nb_few_shots", "n_runs", "f1_mean", "ci_low", "ci_high")
      .orderBy(col("f1_mean").desc)
  }

  /** The reference's analysis pivot (plot_results.py:99-103,118,151,
    * 243): mean F1 by prompt technique × nb_few_shots, one column per
    * shot count. Values are passed explicitly so the pivot never runs
    * the implicit distinct-values job (a full extra pass at scale);
    * callers know their grid. Shot counts become columns `fs_<n>`. */
  def leaderboardPivot(runs: Dataset[RunScore], shotCounts: Seq[Int]): DataFrame = {
    runs.groupBy(col("technique"))
      .pivot(col("nb_few_shots"), shotCounts)
      .agg(round(avg("f1"), 6))
      .toDF("technique" +: shotCounts.map(n => s"fs_$n"): _*)
      .orderBy("technique")
  }

  /** The reference's fixed run seeds (llm/LLMModel.py:174). */
  val RunSeeds: Seq[Long] = Seq(42L, 45L, 46L, 43L, 42L, 41L)

  /** Deterministic seeded split (train_test_split,
    * Conll2003Dataset.py:54-56, seeds llm/LLMModel.py:174):
    * `pmod(xxhash64(key, seed), 100) < testPct` sends a row to test.
    * Content-pure, so the SAME rows land in the same side at any
    * parallelism, and disjointness/coverage are structural. Returns
    * (train, test). */
  def seededSplit[T](ds: Dataset[T], keyCol: String, testPct: Int, seed: Long): (Dataset[T], Dataset[T]) = {
    val bucket = splitBucket(col(keyCol), lit(seed))
    (ds.filter(bucket >= testPct), ds.filter(bucket < testPct))
  }

  /** [[seededSplit]] for every seed at once, in one plan: each row once
    * per run on the side that run's seed puts it, tagged with the run's
    * index into `seeds` as `run`. */
  private[kg] def seededSplits(df: DataFrame, keyCol: String, testPct: Int,
                               seeds: Seq[Long]): (DataFrame, DataFrame) = {
    val bucket = splitBucket(col(keyCol), col("seed"))
    val tagged = df.select(col("*"), posexplode(typedLit(seeds)).as(Seq("run", "seed")))
    (tagged.filter(bucket >= testPct), tagged.filter(bucket < testPct))
  }

  private def splitBucket(key: Column, seed: Column): Column = pmod(xxhash64(key, seed), lit(100))

  /** One arm of the classical_test grid (llm/LLMModel.py:144-203):
    * prompt technique × few-shot technique × shot count. */
  final case class Arm(technique: PromptTechniques.Technique, fst: String, nbFewShots: Int)

  /** The classical_test experiment harness (llm/LLMModel.py:144-203):
    * for each of `nbRuns` seeded runs and each grid arm — split the
    * corpus into train/test by conversation (seed from RunSeeds),
    * freeze a bounded few-shot pool from the TRAIN gold, build
    * few-shot prompts for the TEST turns, detect mentions under the
    * arm's prompt technique, align against gold and score weighted
    * P/R/F1 (process_results.py:95-116) → one RunScore per (run, arm).
    * The whole grid is one plan: one collect for every run's pool, one
    * narrow pass over the run-tagged test turns for every arm's
    * prompts and mentions, one cogroup with the run-tagged test gold,
    * and one grouped count of (run, arm, y_true, y_pred) scored on the
    * driver. Feed the result to [[leaderboard]]. */
  def classicalTest(spark: SparkSession, cfg: TranscriptGen.Config,
                    arms: Seq[Arm], nbRuns: Int = 3, testPct: Int = 20,
                    poolSize: Int = 240): Dataset[RunScore] = {
    import spark.implicits._
    val seeds = (0 until nbRuns).map(run => RunSeeds(run % RunSeeds.length))
    val turns = TranscriptGen.transcripts(spark, cfg).cache()
    val gold = TranscriptGen.goldMentions(spark, cfg).cache()
    try {
      val pools = spark.sparkContext.broadcast(
        FewShots.buildPools(turns, gold, seeds, testPct, poolSize).toArray)
      def testSide(ds: Dataset[_]): DataFrame = seededSplits(ds.toDF(), "conv_id", testPct, seeds)._2
        .select(col("run").as("_1"), struct(ds.columns.map(col).toIndexedSeq: _*).as("_2"))
      val detected = testSide(turns).as[(Int, Turn)].mapPartitions { it =>
        val m = Scorer.newMatcher()
        val blocks = pools.value.map(pool => arms.map(a => Extraction.shotBlock(pool, a.nbFewShots, a.fst)))
        it.flatMap { case (run, t) =>
          arms.indices.flatMap { a =>
            Extraction.promptOf(t, blocks(run)(a)(t))
              .map(p => (run, t.conv_id, t.turn_idx, a, PromptTechniques.detect(arms(a).technique, m, p, cfg)))
          }
        }
      }
      val aligned = detected.groupByKey(d => (d._1, d._2, d._3))
        .cogroup(testSide(gold).as[(Int, Mention)].groupByKey { case (run, g) => (run, g.conv_id, g.turn_idx) }) {
          case ((run, _, _), ps, gs) =>
            val pred = ps.map(d => d._4 -> d._5).toMap
            val goldL = gs.map { case (_, g) => (g.mention, g.tag) }.toSeq
            arms.indices.iterator.flatMap { a =>
              Metrics.alignTurn(pred.getOrElse(a, Nil), goldL).map { case (t, p) => (run, a, t, p) }
            }
        }
      val counts = aligned.groupByKey(identity).count().collect()
        .groupMap { case ((run, a, _, _), _) => (run, a) } { case ((_, _, t, p), c) => (t, p, c) }
      spark.createDataset(for (run <- seeds.indices; (arm, a) <- arms.zipWithIndex) yield {
        val prf = Metrics.prfFromCounts(counts.get((run, a)).toSeq.flatten)
        RunScore("deterministic-scorer", arm.technique.name, arm.nbFewShots, run,
          prf.f1, prf.precision, prf.recall, if (arm.nbFewShots > 0) arm.fst else Extraction.FstNone)
      })
    } finally { turns.unpersist(); gold.unpersist() }
  }
}
