package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg._
import graft.sources.{NioRawLocalFileSystem, TableIO}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

object KGPipelineSpec {
  /** An extraction row that stores the verifier's outcome as a second
    * mention list, the shape the storage spec compares against. */
  final case class ParsedVerifiedRow(
      conv_id: String,
      turn_idx: Int,
      parsed: Seq[(String, String)],
      verified: Seq[(String, String)],
      relations: Seq[(String, String, String)])
}

class KGPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val cfg = TranscriptGen.Config(nConvs = 60)

  private lazy val result = KGPipeline.run(spark, cfg)
  private lazy val goldM = TranscriptGen.goldMentions(spark, cfg)
  private lazy val goldT = TranscriptGen.goldTriples(spark, cfg)

  test("mention-level weighted F1 ≥ 0.95 (reference alignment semantics)") {
    val prf = Metrics.weightedPRF(Metrics.align(result.verified, goldM))
    info(s"mention P=${prf.precision} R=${prf.recall} F1=${prf.f1} support=${prf.support}")
    assert(prf.f1 >= 0.95, s"F1 ${prf.f1}")
    assert(prf.precision >= 0.95)
  }

  test("triple P/R ≥ 0.95 vs gold (north-rule gate)") {
    val prf = Metrics.triplePR(result.triples, goldT)
    info(s"triple P=${prf.precision} R=${prf.recall} gold=${prf.support}")
    assert(prf.precision >= 0.95, s"precision ${prf.precision}")
    assert(prf.recall >= 0.95, s"recall ${prf.recall}")
  }

  test("exact mentions link with confidence 1.0 and are accepted") {
    import spark.implicits._
    val exact = result.links.filter(_.mention == Lexicon.People(0)).collect()
    assert(exact.nonEmpty)
    assert(exact.forall(l => l.confidence == 1.0 && l.accepted))
    assert(exact.forall(_.entity_id == Lexicon.idByName(Lexicon.People(0))))
  }

  test("canonicalization merges duplicate catalogue entities to min id") {
    import spark.implicits._
    val dupIds = Lexicon.catalogue.filter(_.entity_id.endsWith("x")).map(_.entity_id).toSet
    assert(dupIds.nonEmpty)
    val canon = result.canonicalMap
      .filter(org.apache.spark.sql.functions.col("member").isin(dupIds.toSeq.map("e:" + _): _*))
      .collect()
    // every duplicate that appears in the link graph maps to its base id
    canon.foreach { row =>
      val member = row.getString(0).stripPrefix("e:")
      assert(row.getString(1) == member.stripSuffix("x"),
        s"$member → ${row.getString(1)}")
    }
  }

  test("few-shot pool lifts the full pipeline's triple recall under scorer noise") {
    // the end-to-end form of the grid result: same corpus, same gold,
    // the ONLY difference is the few-shot block in the prompts
    val noisy = TranscriptGen.Config(nConvs = 120, scorerNoisePerMille = 250)
    val turns = TranscriptGen.transcripts(spark, noisy)
    val gold = TranscriptGen.goldTriples(spark, noisy)
    val pool = FewShots.buildPools(turns, TranscriptGen.goldMentions(spark, noisy), Seq(42L),
      testPct = 0, poolSize = 160).head
    val zero = KGPipeline.run(spark, turns, noisy)
    val shot = KGPipeline.run(spark, turns, noisy, fewShotPool = pool, nbFewShots = 3)
    val prZero = Metrics.triplePR(zero.triples, gold)
    val prShot = Metrics.triplePR(shot.triples, gold)
    info(s"triple recall zero-shot=${prZero.recall} 3-shot=${prShot.recall}")
    assert(prShot.recall > prZero.recall,
      s"few-shot recall ${prShot.recall} must beat zero-shot ${prZero.recall}")
    assert(prShot.precision >= prZero.precision - 1e-9)
    zero.unpersistAll(); shot.unpersistAll()
  }

  test("pipeline output is identical under different parallelism of the input") {
    import spark.implicits._
    val turns2 = TranscriptGen.transcripts(spark, cfg).repartition(2)
    val turns13 = TranscriptGen.transcripts(spark, cfg).repartition(13)
    val t2 = KGPipeline.run(spark, turns2, cfg).triples.collect().toSet
    val t13 = KGPipeline.run(spark, turns13, cfg).triples.collect().toSet
    assert(t2 == t13)
    assert(t2.nonEmpty)
  }

  test("run + triples.count() on 500 conversations: at most 6 Spark jobs, links and canonical map driver-held") {
    var r: KGPipeline.Result = null
    val jobs = SparkTestBase.countJobs {
      r = KGPipeline.run(spark, TranscriptGen.Config(nConvs = 500))
      r.triples.count()
    }
    info(s"${jobs.started} jobs: ${jobs.callSites.mkString(", ")}")
    assert(jobs.started <= 6, jobs.callSites)
    // every job is named by its action, the query-stage jobs AQE runs
    // included: link's collect and the count, no other
    assert(jobs.callSites.count(_.startsWith("count at KGPipelineSpec.scala")) >= 2, jobs.callSites)
    assert(jobs.callSites.forall(s =>
      s.startsWith("collect at EntityLinking.scala") || s.startsWith("count at KGPipelineSpec.scala")), jobs.callSites)
    assert(r.links.isLocal && r.canonicalMap.isLocal)
    // the sink on the materialized triples: ONE shuffle into the leaf
    // partitioning and one write job (the other job is that shuffle's
    // map stage); the range counts are observed on the write, so no
    // count job runs and no frame is cached
    val triples = r.triples.cache()
    triples.count()
    val sink = SparkTestBase.countJobs(TableIO.writeTriples(triples, SparkTestBase.scratchDir("graft-triples-500")))
    info(s"sink: ${sink.started} jobs: ${sink.callSites.mkString(", ")}; ${sink.shuffleStages} shuffle stages")
    assert(sink.shuffleStages == 1, sink)
    assert(sink.writing == 1 && sink.started <= 2, sink)
    assert(sink.cachedRdds == 0, sink)
    triples.unpersist()
    r.unpersistAll()
  }

  /** Bytes the block manager holds for `ds` once it is cached: the one
    * cached RDD that appears while it is counted. */
  private def cachedBytes(ds: org.apache.spark.sql.Dataset[_]): Long = {
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    ds.cache().count()
    val fresh = spark.sparkContext.getRDDStorageInfo.filterNot(i => before(i.id))
    assert(fresh.length == 1, fresh.toSeq)
    fresh.head.memSize
  }

  test("extraction rows store the verifier outcome once: >= 30% fewer cached bytes, verified = the verifier filter") {
    import spark.implicits._
    val cfg500 = TranscriptGen.Config(nConvs = 500)
    val prompts = Extraction.buildPrompts(TranscriptGen.transcripts(spark, cfg500))
    val extracted = KGPipeline.extract(prompts, cfg500)
    val pairs = extracted.map(e =>
      KGPipelineSpec.ParsedVerifiedRow(e.conv_id, e.turn_idx, e.parsed, e.verified, e.relations))
    val (once, twice) = (cachedBytes(extracted), cachedBytes(pairs))
    info(s"cached extraction: $once B with rejected indices, $twice B with a verified list")
    assert(once <= 0.7 * twice, s"$once B is not 30% under $twice B")

    val scored = Extraction.scoreMentions(prompts, cfg500).collect()
      .map(s => (s.conv_id, s.turn_idx) -> s).toMap
    val rows = extracted.collect()
    assert(rows.length == scored.size)
    rows.foreach { e =>
      val s = scored((e.conv_id, e.turn_idx))
      val kept = Extraction.parsedOf(s).filter { case (ne, tag) =>
        graft.functions.Parsers.verifierAnswer(
          Scorer.verifierResponse(s.conv_id, s.turn_idx, ne, tag, s.text, cfg500)).contains(true)
      }
      assert(e.parsed == Extraction.parsedOf(s) && e.verified == kept, e)
    }
    assert(rows.exists(_.rejected.nonEmpty), "the fixture must exercise the verifier's rejects")
    extracted.unpersist(); pairs.unpersist()
  }

  test("driver kg_mention_confidence / kg_mention_logits rows equal the spelled-out extraction chain") {
    import org.apache.spark.sql.functions.{col, concat_ws, round, transform}
    val cfg40 = TranscriptGen.Config(nConvs = 40)
    val extracted = Extraction.extractAll(Extraction.scoreMentions(
      Extraction.buildPrompts(TranscriptGen.transcripts(spark, cfg40)), cfg40), cfg40)
    // any sf dir other than sf0.01/sf0.1 gives the 40-conversation config
    def rows(query: String) = SparkEntry.queries(query)(spark, "sf0.001").collect().toSet
    val conf = Extraction.withConfidence(extracted, cfg40).toDF().collect().toSet
    assert(conf.nonEmpty && rows("kg_mention_confidence") == conf)
    val logits = Extraction.withLogits(extracted, cfg40).toDF()
      .withColumn("logits", concat_ws(",", transform(col("logits"), l => round(l, 6).cast("string"))))
      .collect().toSet
    assert(logits.nonEmpty && rows("kg_mention_logits") == logits)
  }

  test("driver kg_mentions rows equal the parsed mentions of KGPipeline.extract") {
    val cfg40 = TranscriptGen.Config(nConvs = 40)
    val parsed = KGPipeline.mentionsOf(KGPipeline.extract(
      Extraction.buildPrompts(TranscriptGen.transcripts(spark, cfg40)), cfg40)).toDF().collect().toSet
    val rows = SparkEntry.queries("kg_mentions")(spark, "sf0.001").collect().toSet
    assert(parsed.nonEmpty && rows == parsed)
  }

  /** Parquet files per directory under `d`. */
  private def parquetFiles(d: String): Map[String, Int] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
    try files.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent.toString).view.mapValues(_.size).toMap
    finally files.close()
  }

  /** Each committed range's manifest row count must equal what reads back from its dir. */
  private def assertManifestMatchesDirs(dir: String): Unit =
    TableIO.readManifest(dir).foreach { case (r, e) =>
      val back = spark.read.parquet(s"$dir/range=$r").count()
      assert(e.rows == back, s"range $r: manifest rows ${e.rows} != read-back $back")
    }

  test("resumable triple sink: crash mid-write, resume, identical output") {
    val dir = SparkTestBase.scratchDir("graft-triples")
    val full = result.triples
    intercept[RuntimeException] {
      TableIO.writeTriples(full, dir, failAfterRanges = 2)
    }
    val partial = TableIO.readManifest(dir)
    assert(partial.size == 2, s"manifest after crash: $partial")
    // resume completes only the missing ranges
    val manifest = TableIO.writeTriples(full, dir)
    assert(manifest.size == TableIO.NRanges)
    // committed timestamps of the first two ranges unchanged (not rewritten)
    assert(partial.forall { case (r, e) => manifest(r).commitTs == e.commitTs })
    val back = TableIO.readTriples(spark, dir).collect().toSet
    assert(back == full.collect().toSet)
    assertManifestMatchesDirs(dir)
  }

  test("sink layout: a fresh write is one file per (range, pred, bucket) leaf") {
    val dir = SparkTestBase.scratchDir("graft-triples-layout")
    // a 24-partition input must not leak its partitioning into the layout
    val manifest = TableIO.writeTriples(result.triples.repartition(24), dir)
    assert(manifest.size == TableIO.NRanges)
    val files = parquetFiles(dir)
    assert(files.values.forall(_ == 1), s"files per leaf: ${files.filter(_._2 > 1)}")
    assert(files.keys.forall(_.matches(""".*/range=\d+/pred=[^/]+/bucket=\d+""")), files.keys)
    val leaves = spark.read.parquet(dir).select("range", "pred", "bucket").distinct().count()
    assert(files.size == leaves, s"${files.size} leaf dirs vs $leaves distinct leaves")
    val back = TableIO.readTriples(spark, dir).collect().toSet
    assert(back == result.triples.collect().toSet)
    assertManifestMatchesDirs(dir)
  }

  /** POSIX permissions under `d` by kind: dirs by depth, then parquet
    * files and their `.crc` checksums. */
  private def modes(d: String): Map[String, Set[String]] = {
    val root = Paths.get(d)
    val all = Files.walk(root)
    try all.iterator().asScala.filter(_ != root).toSeq.flatMap { p =>
      val kind =
        if (Files.isDirectory(p)) Some(s"dir@${root.relativize(p).getNameCount}")
        else if (p.toString.endsWith(".parquet")) Some("parquet")
        else if (p.toString.endsWith(".parquet.crc")) Some("crc")
        else None
      kind.map(_ -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    finally all.close()
  }

  test("sink: crash before the first commit leaves staged rows invisible; resume clears them") {
    val dir = SparkTestBase.scratchDir("graft-triples-staged")
    val full = result.triples
    intercept[RuntimeException] {
      TableIO.writeTriples(full, dir, failAfterRanges = 0)
    }
    assert(TableIO.readManifest(dir).isEmpty)
    val staging = Paths.get(dir, ".staging")
    assert(spark.read.parquet(staging.toString).count() == full.count(), "the write job staged every row")
    assert(TableIO.readTriples(spark, dir).count() == 0)
    assert(spark.read.schema("subj STRING, obj STRING, range INT, pred STRING, bucket INT")
      .parquet(dir).count() == 0)
    val manifest = TableIO.writeTriples(full, dir)
    assert(!Files.exists(staging))
    assert(manifest.size == TableIO.NRanges)
    assert(TableIO.readTriples(spark, dir).collect().toSet == full.collect().toSet)
    assert(parquetFiles(dir).values.forall(_ == 1))
    assertManifestMatchesDirs(dir)
  }

  test("sink: one write job per writeTriples call, whatever the number of missing ranges") {
    val dir = SparkTestBase.scratchDir("graft-triples-jobs")
    val crashed = SparkTestBase.countJobs {
      intercept[RuntimeException](TableIO.writeTriples(result.triples, dir, failAfterRanges = 1))
    }.writing
    assert(TableIO.readManifest(dir).size == 1)
    val resumed = SparkTestBase.countJobs(TableIO.writeTriples(result.triples, dir)).writing
    val fresh = SparkTestBase.countJobs(
      TableIO.writeTriples(result.triples, SparkTestBase.scratchDir("graft-triples-jobs"))).writing
    assert((crashed, resumed, fresh) == ((1, 1, 1)))
    assert(SparkTestBase.countJobs(TableIO.writeTriples(result.triples, dir)).writing == 0,
      "a complete sink writes nothing")
  }

  test("sink: an empty input commits every range empty and reads back empty") {
    import spark.implicits._
    val dir = SparkTestBase.scratchDir("graft-triples-empty")
    val manifest = TableIO.writeTriples(spark.emptyDataset[Triple], dir)
    assert(manifest.keySet == (0 until TableIO.NRanges).toSet)
    assert(manifest.values.forall(_.rows == 0), manifest)
    assert(TableIO.readTriples(spark, dir).count() == 0)
  }

  test("sink: an input whose rows all land in one range commits the others empty") {
    import spark.implicits._
    val src = SparkTestBase.scratchDir("graft-triples-src")
    TableIO.writeTriples(result.triples, src)
    val oneRange = spark.read.parquet(s"$src/range=0").select("subj", "pred", "obj").as[Triple]
    val want = oneRange.collect().toSet
    assert(want.nonEmpty)
    val dir = SparkTestBase.scratchDir("graft-triples-one-range")
    val manifest = TableIO.writeTriples(oneRange, dir)
    assert(manifest.view.mapValues(_.rows).toMap ==
      Map(0 -> want.size.toLong) ++ (1 until TableIO.NRanges).map(_ -> 0L))
    assert(TableIO.readTriples(spark, dir).collect().toSet == want)
  }

  test("sink: a range count that was not observed throws instead of committing a guess") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, count_if, lit}
    import scala.concurrent.duration._
    val never = Observation()
    intercept[IllegalStateException](TableIO.observedRows(never, Seq(0), 100.millis))
    val range0 = Observation()
    spark.range(10).withColumn("range", lit(0))
      .observe(range0, count_if(col("range") === 0).as("0")).collect()
    assert(TableIO.observedRows(range0, Seq(0)) == Map(0 -> 10L))
    val missing = intercept[IllegalStateException](TableIO.observedRows(range0, Seq(0, 1)))
    assert(missing.getMessage.contains("range 1"), missing)
  }

  test("sink: files and dirs get the permissions of a plain parquet write of the same frame") {
    val dir = SparkTestBase.scratchDir("graft-triples-perms")
    TableIO.writeTriples(result.triples, dir)
    val plain = SparkTestBase.scratchDir("graft-triples-plain") + "/t"
    spark.read.parquet(dir).write.partitionBy("range", "pred", "bucket").parquet(plain)
    val sink = modes(dir)
    assert(Set("dir@1", "dir@2", "dir@3", "parquet", "crc").subsetOf(sink.keySet), sink)
    assert(sink == modes(plain))
  }

  test("NioRawLocalFileSystem sets rwx bits itself and hands the sticky bit to Hadoop") {
    val fs = new NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    val root = Paths.get(SparkTestBase.scratchDir("graft-nio-fs"))
    def mode(p: java.nio.file.Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    val f = Files.createFile(root.resolve("f"))
    fs.setPermission(new Path(f.toString), perm("640"))
    assert(mode(f) == Integer.parseInt("640", 8))
    val d = Files.createDirectory(root.resolve("d"))
    fs.setPermission(new Path(d.toString), perm("1750"))
    assert(mode(d) == Integer.parseInt("1750", 8))
  }

  test("promptOf drops empty, brace and over-budget turns") {
    val t = Turn("c", 0, "user", "Alice Johnson joined Acme Industries .", null, null)
    var blocks = 0
    def block(s: String) = { blocks += 1; s }
    assert(Extraction.promptOf(t, block("")).map(_.text).contains(t.text))
    assert(Extraction.promptOf(t.copy(text = ""), block("")).isEmpty)
    assert(Extraction.promptOf(t.copy(text = "{ \"a\": 1 } Alice"), block("")).isEmpty)
    assert(blocks == 1, "empty and brace turns must not build the shot block")
    // the budget counts the assembled prompt, shot block included
    val fits = Extraction.promptOf(t, "").get.prompt_tokens
    val pad = "x " * (TranscriptGen.MaxPromptTokens - fits)
    assert(Extraction.promptOf(t, pad).map(_.prompt_tokens).contains(TranscriptGen.MaxPromptTokens))
    assert(Extraction.promptOf(t, pad + "x ").isEmpty)
  }

  test("oversized prompts are dropped (counted, not extracted)") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, cfg)
    val oversized = turns.filter(_.text.length > 10000).count()
    assert(oversized > 0)
    val prompts = Extraction.buildPrompts(turns)
    assert(prompts.filter(_.text.length > 10000).count() == 0)
  }
}
