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

  private val Stages = Set("prompts", "extract", "verify", "link", "canonicalize", "materialize")

  /** A `KGPipeline.run` over `nConvs` generated conversations whose
    * triples were counted, and that count. */
  private def countedRun(nConvs: Int): (KGPipeline.Result, Long) = {
    val cfg = TranscriptGen.Config(nConvs = nConvs)
    val result = KGPipeline.run(spark, TranscriptGen.transcripts(spark, cfg), cfg)
    (result, result.triples.count())
  }

  test("KGPipeline.run records per-stage lineage rows") {
    val (result, nTriples) = countedRun(20)
    val metrics = result.stageMetrics("test-run")
    val m = metrics.collect().map(s => s.stage -> s).toMap
    assert(m.keySet == Stages)
    // prompts stage drops the brace/empty/oversized turns
    assert(m("prompts").dropped > 0)
    // verify drops a small number of mentions
    assert(m("verify").rows_out <= m("verify").rows_in)
    // verify is timed by the action that ran it, link's collect
    assert(m("verify").wall_ms > 0)
    assert(m("materialize").rows_out == nTriples)
    assert(metrics.collect().forall(_.run_id == "test-run"))
    result.unpersistAll()
  }

  test("metrics table accumulates per-stage lineage across runs (north-star sink)") {
    import graft.sources.TableIO
    val dir = java.nio.file.Files.createTempDirectory("metrics").toString
    for (runId <- Seq("run-A", "run-B")) {
      val (r, _) = countedRun(15)
      TableIO.appendMetrics(r.stageMetrics(runId), dir)
      r.unpersistAll()
    }
    val all = TableIO.readMetrics(spark, dir).collect()
    assert(all.map(_.run_id).toSet == Set("run-A", "run-B"))
    assert(all.count(_.run_id == "run-A") == all.count(_.run_id == "run-B"))
    // identical corpus + config → identical lineage counts per stage
    val byStage = all.groupBy(m => (m.stage, m.run_id)).view.mapValues(_.head).toMap
    Stages.foreach { s =>
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

  test("stage metrics: no join in the triples, rows = run's counts") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val cfg = TranscriptGen.Config(nConvs = 20)
    val turns = TranscriptGen.transcripts(spark, cfg)
    val r = KGPipeline.run(spark, turns, cfg)
    val joins = r.triples.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.isEmpty, r.triples.queryExecution.optimizedPlan.toString)
    val triples = r.triples.collect().toSet
    val m = r.stageMetrics("plan-run").collect().map(s => s.stage -> s).toMap
    val (nVerified, nLinks) = (r.verified.count(), r.links.count())
    assert(m.view.mapValues(_.rows_out).toMap == Map(
      "prompts" -> r.prompts.count(),
      "extract" -> r.extracted.count(),
      "verify" -> nVerified,
      "link" -> nLinks,
      "canonicalize" -> r.canonicalMap.count(),
      "materialize" -> triples.size))
    assert(m.view.mapValues(_.rows_in).toMap == Map(
      "prompts" -> turns.count(),
      "extract" -> r.prompts.count(),
      "verify" -> KGPipeline.mentionsOf(r.extracted).count(),
      "link" -> nVerified,
      "canonicalize" -> nLinks,
      "materialize" -> (nVerified + r.relations.count())))
    // the observed triples are the stages' triples
    val plain = KGPipeline.materializeTriplesAdaptive(r.extracted, r.verified, r.relations, r.canonicalMap)
    assert(triples == plain.collect().toSet)
    r.unpersistAll()
  }

  test("stage metrics count driver-held links and canon, no cache") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.storage.StorageLevel
    var result: KGPipeline.Result = null
    val jobs = SparkTestBase.countJobs { result = countedRun(20)._1 }
    info(s"${jobs.started} jobs: ${jobs.callSites.mkString(", ")}")
    assert(jobs.started <= 6, jobs.callSites)
    for (ds <- Seq(result.links, result.canonicalMap)) {
      assert(ds.queryExecution.logical.isInstanceOf[LocalRelation], ds.queryExecution.logical)
      assert(ds.storageLevel == StorageLevel.NONE)
    }
    val m = result.stageMetrics("jobs-run").collect().map(s => s.stage -> s.rows_out).toMap
    assert(m("link") == result.links.collect().length && m("canonicalize") == result.canonicalMap.collect().length)
    result.unpersistAll()
  }

  test("stage metrics read after triples.count() start no job") {
    val (result, _) = countedRun(20)
    var rows = Array.empty[StageMetric]
    val jobs = SparkTestBase.countJobs { rows = result.stageMetrics("read-run").collect() }
    assert(jobs.started == 0, jobs.callSites)
    assert(rows.map(_.stage).toSet == Stages)
    result.unpersistAll()
  }

  test("a second action over the triples leaves their metrics unchanged") {
    val (result, nTriples) = countedRun(20)
    val first = result.stageMetrics("twice").collect().toSet
    assert(result.triples.collect().length == nTriples)
    assert(result.stageMetrics("twice").collect().toSet == first)
    assert(first.exists(s => s.stage == "materialize" && s.rows_out == nTriples))
    result.unpersistAll()
  }

  test("KGPipeline.run: unpersistAll leaves no cached stage behind") {
    import org.apache.spark.storage.StorageLevel
    spark.catalog.clearCache()
    val (result, _) = countedRun(10)
    result.stageMetrics("cache-run").collect()
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
