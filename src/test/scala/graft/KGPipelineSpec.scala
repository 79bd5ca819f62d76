package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg._
import graft.sources.{NioRawLocalFileSystem, TableIO}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

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
    val pool = FewShots.buildPool(turns, TranscriptGen.goldMentions(spark, noisy), 160)
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
    // compaction of a fresh write is a no-op on rows and on files per dir
    TableIO.compactTriples(spark, dir)
    assert(parquetFiles(dir) == files)
    assert(TableIO.readTriples(spark, dir).collect().toSet == back)
  }

  test("compaction: one file per partition, identical rows, manifest intact") {
    val dir = java.nio.file.Files.createTempDirectory("triples_compact").toString
    TableIO.writeTriples(result.triples, dir)
    // a fresh write is already one file per leaf, so lay each committed
    // range out as a 24-task appender would: MANY small files per leaf
    TableIO.readManifest(dir).keys.foreach { r =>
      spark.read.parquet(s"$dir/range=$r").repartition(24).localCheckpoint()
        .write.mode("overwrite").partitionBy("pred", "bucket").parquet(s"$dir/range=$r")
    }
    val before = TableIO.readTriples(spark, dir).collect().toSet
    assert(before == result.triples.collect().toSet)
    assert(parquetFiles(dir).values.exists(_ > 1), "fixture must start with small files")
    val manifestBefore = TableIO.readManifest(dir)
    TableIO.compactTriples(spark, dir)
    assert(parquetFiles(dir).values.forall(_ == 1), s"files per dir: ${parquetFiles(dir).values.max}")
    assert(TableIO.readTriples(spark, dir).collect().toSet == before)
    assert(TableIO.readManifest(dir).view.mapValues(_.rows).toMap ==
      manifestBefore.view.mapValues(_.rows).toMap)
    // resume after compaction is a no-op (manifest complete)
    val again = TableIO.writeTriples(result.triples, dir)
    assert(again.keySet == manifestBefore.keySet)
    assert(TableIO.readTriples(spark, dir).collect().toSet == before)
    // crash WINDOW between the two swap renames: src gone, data parked
    // in .range-<r>-old — the next compaction must restore and proceed
    val r0 = manifestBefore.keySet.min
    val src = java.nio.file.Paths.get(dir, s"range=$r0")
    val old = java.nio.file.Paths.get(dir, s".range-$r0-old")
    java.nio.file.Files.move(src, old)
    assert(!java.nio.file.Files.exists(src))
    TableIO.compactTriples(spark, dir)
    assert(java.nio.file.Files.exists(src) && !java.nio.file.Files.exists(old))
    assert(TableIO.readTriples(spark, dir).collect().toSet == before)
  }

  /** Jobs that wrote records to files while `f` ran. */
  private def writeJobs(f: => Unit): Int = {
    val sc = spark.sparkContext
    val listener = new SparkListener {
      val jobOfStage = scala.collection.mutable.Map.empty[Int, Int]
      val writers = scala.collection.mutable.Set.empty[Int]
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        e.stageIds.foreach(jobOfStage(_) = e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          jobOfStage.get(e.stageId).foreach(writers += _)
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { f; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
    listener.synchronized(listener.writers.size)
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
    val crashed = writeJobs {
      intercept[RuntimeException](TableIO.writeTriples(result.triples, dir, failAfterRanges = 1))
    }
    assert(TableIO.readManifest(dir).size == 1)
    val resumed = writeJobs(TableIO.writeTriples(result.triples, dir))
    val fresh = writeJobs(TableIO.writeTriples(result.triples, SparkTestBase.scratchDir("graft-triples-jobs")))
    assert((crashed, resumed, fresh) == ((1, 1, 1)))
    assert(writeJobs(TableIO.writeTriples(result.triples, dir)) == 0, "a complete sink writes nothing")
  }

  test("sink: an empty input commits every range empty and reads back empty") {
    import spark.implicits._
    val dir = SparkTestBase.scratchDir("graft-triples-empty")
    val manifest = TableIO.writeTriples(spark.emptyDataset[Triple], dir)
    assert(manifest.keySet == (0 until TableIO.NRanges).toSet)
    assert(manifest.values.forall(_.rows == 0), manifest)
    assert(TableIO.readTriples(spark, dir).count() == 0)
    TableIO.compactTriples(spark, dir)
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
    TableIO.compactTriples(spark, dir)
    assert(TableIO.readTriples(spark, dir).collect().toSet == want)
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

  test("oversized prompts are dropped (counted, not extracted)") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, cfg)
    val oversized = turns.filter(_.text.length > 10000).count()
    assert(oversized > 0)
    val prompts = Extraction.buildPrompts(turns)
    assert(prompts.filter(_.text.length > 10000).count() == 0)
  }
}
