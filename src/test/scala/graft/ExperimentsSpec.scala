package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg._

class ExperimentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("leaderboard: mean + t-CI per config, sorted desc") {
    import spark.implicits._
    val runs = Seq(
      Experiments.RunScore("m1", "discussion", 3, 0, 0.6, 0.7, 0.5),
      Experiments.RunScore("m1", "discussion", 3, 1, 0.5, 0.6, 0.4),
      Experiments.RunScore("m1", "discussion", 3, 2, 0.7, 0.8, 0.6),
      Experiments.RunScore("m1", "wrapper", 3, 0, 0.9, 0.9, 0.9),
      Experiments.RunScore("m1", "wrapper", 3, 1, 0.8, 0.8, 0.8)).toDS()
    val lb = Experiments.leaderboard(runs).collect()
    assert(lb.head.getString(1) == "wrapper")
    val disc = lb.find(_.getString(1) == "discussion").get
    assert(math.abs(disc.getDouble(5) - 0.6) < 1e-9)
    assert(disc.getDouble(6) < 0.6 && disc.getDouble(7) > 0.6)
    assert(disc.getInt(4) == 3)
    assert(disc.getString(2) == "sentence") // default fst arm
  }

  test("leaderboardPivot: technique × nb_few_shots grid of mean F1 (plot_results pivot)") {
    import spark.implicits._
    val runs = Seq(
      Experiments.RunScore("m1", "discussion", 0, 0, 0.4, 0, 0),
      Experiments.RunScore("m1", "discussion", 0, 1, 0.6, 0, 0),
      Experiments.RunScore("m1", "discussion", 3, 0, 0.8, 0, 0),
      Experiments.RunScore("m1", "wrapper", 3, 0, 0.7, 0, 0)).toDS()
    val p = Experiments.leaderboardPivot(runs, Seq(0, 3)).collect()
    assert(p.map(_.getString(0)).toSeq == Seq("discussion", "wrapper"))
    val disc = p(0); val wrap = p(1)
    assert(math.abs(disc.getDouble(1) - 0.5) < 1e-9) // mean of 0.4, 0.6
    assert(math.abs(disc.getDouble(2) - 0.8) < 1e-9)
    assert(wrap.isNullAt(1)) // arm never run → null cell, like pandas pivot
    assert(math.abs(wrap.getDouble(2) - 0.7) < 1e-9)
  }

  test("runWithMetrics records per-stage lineage rows") {
    val cfg = TranscriptGen.Config(nConvs = 20)
    val (result, metrics) = Experiments.runWithMetrics(
      spark, TranscriptGen.transcripts(spark, cfg), cfg, "test-run")
    val m = metrics.collect().map(s => s.stage -> s).toMap
    assert(m.keySet == Set("prompts", "extract", "verify", "link", "canonicalize", "materialize"))
    // prompts stage drops the brace/empty/oversized turns
    assert(m("prompts").dropped > 0)
    // verify drops a small number of mentions
    assert(m("verify").rows_out <= m("verify").rows_in)
    // its one aggregate job is timed inside the stage
    assert(m("verify").wall_ms > 0)
    assert(m("materialize").rows_out == result.triples.count())
    assert(metrics.collect().forall(_.run_id == "test-run"))
    result.unpersistAll()
  }

  test("metrics table accumulates per-stage lineage across runs (north-star sink)") {
    import graft.sources.TableIO
    val dir = java.nio.file.Files.createTempDirectory("metrics").toString
    val cfg = TranscriptGen.Config(nConvs = 15)
    val (r1, m1) = Experiments.runWithMetrics(
      spark, TranscriptGen.transcripts(spark, cfg), cfg, "run-A")
    TableIO.appendMetrics(m1, dir)
    r1.unpersistAll()
    val (r2, m2) = Experiments.runWithMetrics(
      spark, TranscriptGen.transcripts(spark, cfg), cfg, "run-B")
    TableIO.appendMetrics(m2, dir)
    r2.unpersistAll()
    val all = TableIO.readMetrics(spark, dir).collect()
    assert(all.map(_.run_id).toSet == Set("run-A", "run-B"))
    assert(all.count(_.run_id == "run-A") == all.count(_.run_id == "run-B"))
    // identical corpus + config → identical lineage counts per stage
    val byStage = all.groupBy(m => (m.stage, m.run_id)).view.mapValues(_.head).toMap
    Seq("prompts", "extract", "verify", "link", "canonicalize", "materialize").foreach { s =>
      assert(byStage((s, "run-A")).rows_out == byStage((s, "run-B")).rows_out, s)
    }
    // run_id partition pruning: a run filter reaches PartitionFilters
    import org.apache.spark.sql.functions.col
    val one = spark.read.parquet(dir).filter(col("run_id") === "run-A")
    one.collect()
    val pf = one.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("run_id"), pf)
  }

  test("runWithMetrics runs the production plan: no join in the audited triples, rows_out = KGPipeline.run counts") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val cfg = TranscriptGen.Config(nConvs = 20)
    val turns = TranscriptGen.transcripts(spark, cfg)
    val (audited, metrics) = Experiments.runWithMetrics(spark, turns, cfg, "plan-run")
    val joins = audited.triples.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.isEmpty, audited.triples.queryExecution.optimizedPlan.toString)
    val m = metrics.collect().map(s => s.stage -> s.rows_out).toMap
    val prod = KGPipeline.run(spark, turns, cfg)
    val expected = Map(
      "prompts" -> prod.prompts.count(),
      "extract" -> prod.extracted.count(),
      "verify" -> prod.verified.count(),
      "link" -> prod.links.count(),
      "canonicalize" -> prod.canonicalMap.count(),
      "materialize" -> prod.triples.count())
    assert(m == expected)
    assert(audited.triples.collect().toSet == prod.triples.collect().toSet)
    audited.unpersistAll()
    prod.unpersistAll()
  }

  test("runWithMetrics counts the driver-held links and canonical map with no job and no cache") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.storage.StorageLevel
    val cfg = TranscriptGen.Config(nConvs = 20)
    val turns = TranscriptGen.transcripts(spark, cfg)
    var result: KGPipeline.Result = null
    val jobs = SparkTestBase.countJobs {
      result = Experiments.runWithMetrics(spark, turns, cfg, "jobs-run")._1
    }
    info(s"${jobs.started} jobs: ${jobs.callSites.mkString(", ")}")
    assert(jobs.started <= 15, jobs.callSites)
    for (ds <- Seq(result.links, result.canonicalMap)) {
      assert(ds.queryExecution.logical.isInstanceOf[LocalRelation], ds.queryExecution.logical)
      assert(ds.storageLevel == StorageLevel.NONE)
    }
    result.unpersistAll()
  }

  test("runWithMetrics: unpersistAll leaves no cached stage behind") {
    import org.apache.spark.storage.StorageLevel
    spark.catalog.clearCache()
    val cfg = TranscriptGen.Config(nConvs = 10)
    val (result, _) = Experiments.runWithMetrics(
      spark, TranscriptGen.transcripts(spark, cfg), cfg, "cache-run")
    result.unpersistAll()
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(result.prompts.storageLevel == StorageLevel.NONE)
  }

  test("confidence stage attaches levels; missing keys → null level") {
    import spark.implicits._
    val cfg = TranscriptGen.Config(nConvs = 40)
    val extracted = Extraction.extractAll(
      Extraction.scoreMentions(
        Extraction.buildPrompts(TranscriptGen.transcripts(spark, cfg)), cfg), cfg)
    val conf = Extraction.withConfidence(extracted, cfg).cache()
    val n = conf.count()
    assert(n > 0)
    val withLevel = conf.filter(_.level != null)
    assert(withLevel.count() > n * 9 / 10)
    assert(withLevel.collect().forall(c => c.score >= 0.7)) // medium-high/high
    // deterministic
    val again = Extraction.withConfidence(extracted, cfg)
      .collect().map(c => (c.conv_id, c.turn_idx, c.mention, c.level)).toSet
    assert(again == conf.collect().map(c => (c.conv_id, c.turn_idx, c.mention, c.level)).toSet)
    conf.unpersist()
  }
}
