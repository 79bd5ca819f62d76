package kgbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Dataset
import graft.kg._
import graft.sources.TableIO

/** kg_batch: a seeded transcript corpus from parquet through
  * `KGPipeline.run` into `TableIO.writeTriples`. Extraction,
  * materialization and the sink carry the work; linking and
  * canonicalization run against the small fixture catalogue. */
object KgBatch {
  /** 5 000 conversations ≈ 50 k turns ≈ 87 k distinct triples. */
  val Convs = 5000L
  val InputFiles = 16
  val MinReps = 2
  val QualityGate = 0.95

  private def turns(ctx: Ctx, dir: String): Dataset[Turn] = {
    import ctx.spark.implicits._
    ctx.spark.read.parquet(dir).as[Turn]
  }

  private def sinkDigest(ctx: Ctx, sink: String): Digest =
    Checksum.of(TableIO.readTriples(ctx.spark, sink).toDF())

  private def committed(manifest: Map[Int, TableIO.RangeEntry]): Long =
    manifest.values.map(_.rows).sum

  /** The production definition: `KGPipeline.run` from the transcripts
    * parquet, then the resumable sink into a fresh directory. Returns
    * committed rows and the wall time to the committed manifest. */
  private def productionPass(ctx: Ctx, turnsDir: String, cfg: TranscriptGen.Config,
                             sink: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val c0 = ctx.processCpuS
    val res = KGPipeline.run(ctx.spark, turns(ctx, turnsDir), cfg)
    val rows = committed(TableIO.writeTriples(res.triples, sink))
    val wall = ctx.secondsSince(t0)
    ctx.log(f"pass cpu ${ctx.processCpuS - c0}%.3f s")
    ctx.sampleHeap()
    res.unpersistAll()
    (rows, wall)
  }

  /** The layers of `KGPipeline.run`, called one by one through their
    * public functions in the pipeline's order, each output forced where
    * the pipeline materializes it: the cached extraction, links and
    * canonical map, then the triples and the sink. The triples are
    * also cached and counted inside `materialize`, so the sink's jobs
    * do not absorb materialization work; that extra cache is part of
    * `trace.overhead_s`. Counts for the ratios are taken after the
    * spans close, against the still-cached layer outputs. */
  private def tracedPass(ctx: Ctx, runId: String, turnsDir: String, cfg: TranscriptGen.Config,
                         sink: String): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val r = ctx.report
    val tr = new Tracer(runId, spark.sparkContext, ctx.listener)
    val catalogue = Lexicon.catalogue.toArray
    val in = turns(ctx, turnsDir)
    val nTurns = in.count()

    var nExtracted, nLinks, nCanon, nTriples, nCommitted = 0L
    val (extracted, verified, links, canon, triples) = tr("chain") {
      val extracted = tr("extract") {
        val prompts = Extraction.buildPromptsWithShots(in, Array.empty, 0)
        val e = Extraction.extractAll(Extraction.scoreMentions(prompts, cfg), cfg).cache()
        nExtracted = e.count()
        e
      }
      val verified = extracted.flatMap(e =>
        e.verified.map { case (m, t) => Mention(e.conv_id, e.turn_idx, m, t) })
      val relations = extracted.flatMap(e =>
        e.relations.map { case (s, p, o) => Relation(e.conv_id, e.turn_idx, s, p, o) })
      val links = tr("link") {
        val l = EntityLinking.linkAdaptive(verified, catalogue).cache()
        nLinks = l.count()
        l
      }
      val canon = tr("canon") {
        val c = Canonicalize.canonicalMap(links, TranscriptGen.entities(spark)).cache()
        nCanon = c.count()
        c
      }
      val triples = tr("materialize") {
        val t = KGPipeline.materializeTriplesAdaptive(extracted, verified, relations, canon).cache()
        nTriples = t.count()
        t
      }
      nCommitted = tr("sink")(committed(TableIO.writeTriples(triples, sink)))
      (extracted, verified, links, canon, triples)
    }
    ctx.sampleHeap()

    val prompts = Extraction.buildPromptsWithShots(in, Array.empty, 0).count()
    val nVerified = verified.count()
    val accepted = links.filter(_.accepted).count()
    val preDistinct = extracted.map(e => (e.verified.size + e.relations.size).toLong).reduce(_ + _)
    triples.unpersist(); extracted.unpersist(); links.unpersist(); canon.unpersist()

    ctx.drainListener()
    ctx.recordSpans(tr)
    val root = tr.spans.find(_.name == "chain").get
    // the layers' task time, charged by job group, must fit in the task
    // time the clock puts inside the traced chain; what is left is the
    // chain's own share, as is its wall time outside the layer spans
    val layerTaskNs = Catalog.Layers.map(l => ctx.listener(tr.group(l)).runNs).sum
    val chainTaskNs = ctx.listener.windowRunNs(tr.group("chain"))
    r.guard(layerTaskNs <= chainTaskNs,
      s"layer task time ${layerTaskNs / 1e9} s exceeds the ${chainTaskNs / 1e9} s run inside the traced chain")
    r.detail("chain_self_s") = (Tracer.selfNs(root, tr.spans.filter(_.parent.contains(root.id))) / 1e9).toString
    r.detail("chain_self_task_s") = ((chainTaskNs - layerTaskNs) / 1e9).toString
    r.guard(nCommitted == nTriples, s"sink manifest rows $nCommitted differ from the triple count $nTriples")
    ctx.layerMetrics(tr, "extract", nTurns, nExtracted)
    ctx.layerMetrics(tr, "link", nVerified, nLinks)
    ctx.layerMetrics(tr, "canon", accepted + catalogue.length, nCanon)
    ctx.layerMetrics(tr, "materialize", nExtracted, nTriples)
    ctx.layerMetrics(tr, "sink", nTriples, nCommitted)
    r.ratio("extract.prompt_keep_ratio", prompts, nTurns)
    r.ratio("link.accept_ratio", accepted, nLinks)
    r.ratio("materialize.dedup_ratio", nTriples, preDistinct)
    r.ratio("materialize.shuffle_bytes_per_triple",
      ctx.listener(tr.group("materialize")).shuffleWriteBytes, nTriples, "B/triple")
    val files = Files.walk(Paths.get(sink)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    r.metric("sink.files", files.size.toDouble, "count")
    r.ratio("sink.bytes_per_triple", files.map(Files.size).sum.toDouble, nCommitted, "B/triple")
    root.durNs / 1e9
  }

  /** Triple precision and recall of a committed sink against the
    * generator's gold triples (`TranscriptGen.goldTriples`), as sets
    * on the driver; both must reach [[QualityGate]]. */
  private def checkQuality(ctx: Ctx, sink: String, cfg: TranscriptGen.Config): Unit = {
    val got = TableIO.readTriples(ctx.spark, sink).collect().toSet
    val gold = TranscriptGen.goldTriples(ctx.spark, cfg).collect().toSet
    val hit = got.count(gold.contains).toDouble
    val (p, rc) = (hit / got.size, hit / gold.size)
    ctx.report.detail("kg_precision") = s"$p (${hit.toLong}/${got.size})"
    ctx.report.detail("kg_recall") = s"$rc (${hit.toLong}/${gold.size})"
    ctx.report.guard(got.nonEmpty && p >= QualityGate && rc >= QualityGate,
      f"triple P/R $p%.4f/$rc%.4f below $QualityGate")
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val cfg = TranscriptGen.Config(nConvs = Convs, seed = ctx.args.seed)
    val turnsDir = ctx.dir("turns")
    ctx.setup(
      () => {
        TranscriptGen.transcripts(ctx.spark, cfg).repartition(InputFiles)
          .write.mode("overwrite").parquet(turnsDir)
        Checksum.of(ctx.spark.read.parquet(turnsDir))
      },
      () => {
        // one full pass: the timed passes then run compiled code
        val sink = ctx.dir("warm")
        productionPass(ctx, turnsDir, cfg, sink)
        Ctx.deleteRecursively(Paths.get(sink))
      })

    // trace 0: timed production passes; trace 1: untraced/traced pairs
    var digests = Vector.empty[Digest]
    var last = ""
    ctx.repeatFor(if (ctx.args.trace) 1 else MinReps) { i =>
      if (last.nonEmpty) Ctx.deleteRecursively(Paths.get(last))
      last = ctx.dir(s"sink-$i")
      val (rows, wall) = productionPass(ctx, turnsDir, cfg, last)
      ctx.log(f"pass $i: $rows triples in $wall%.3f s")
      r.metric("wall_s", wall, "s")
      r.metric("rows_per_s", rows / wall, "rows/s")
      val d = sinkDigest(ctx, last)
      r.operation(d.rows == rows && digests.forall(_ == d),
        s"pass $i: committed $rows rows, digest $d, earlier ${digests.headOption.getOrElse("-")}")
      digests :+= d
      if (ctx.args.trace) {
        val tSink = ctx.dir(s"traced-$i")
        val tracedWall = tracedPass(ctx, s"kg_batch-${ctx.args.seed}-$i", turnsDir, cfg, tSink)
        ctx.log(f"traced pass $i: $tracedWall%.3f s")
        val td = sinkDigest(ctx, tSink)
        r.operation(td == d, s"traced pass $i: digest $td differs from KGPipeline.run's $d")
        r.metric("trace.overhead_s", tracedWall - wall, "s")
        Ctx.deleteRecursively(Paths.get(tSink))
      }
    }
    ctx.checkExpected("triples", digests.head)
    checkQuality(ctx, last, cfg)
    ctx.log("quality checked")
  }
}
