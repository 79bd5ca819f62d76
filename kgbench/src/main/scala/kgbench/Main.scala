package kgbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.kgbench.ListenerBusDrain

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <checkout> [--driver-memory <size>]`. Prints a detail line
  * and, last, the result JSON line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: String, driverMemory: String)

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      need("root"), kv.getOrElse("driver-memory", "2g"))
    require(Catalog.Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Catalog.Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val build = Paths.get(args.root, ".bench_build")
    val work = build.resolve(s"work/${args.workload}-${args.seed}-${ProcessHandle.current().pid()}")
    val report = new Report
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    // Only what the environment dictates: master, driver memory (the
    // launcher sizes the heap; recorded here), UI off, UTC, scratch
    // space inside the checkout, and one shuffle partition per core —
    // the program sets no shuffle width of its own and every harness in
    // the repository (graft.Verify, graft.Bench) pins it to the core
    // count; at Spark's default of 200 the sink writes tens of
    // thousands of files per pass. Split and AQE settings are Spark's
    // defaults.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"kgbench-${args.workload}")
      .config("spark.driver.memory", args.driverMemory)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", build.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = new GroupMetrics
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, args, report, listener, work, cores, sessionS,
      Ctx.expected(Paths.get(args.root, "kgbench", "expected.json"), args.workload, args.seed))
    val want = if (args.trace) Catalog.PerLayer else Catalog.EndToEnd
    var exit = 0
    try {
      args.workload match {
        case "kg_batch" => KgBatch.run(ctx)
        case "queries" => QueryWorkload.run(ctx)
      }
      report.metric("live_heap_mb", ctx.liveHeapMb, "MB")
      if (args.trace) {
        // layers this workload does not run spent no time: report 0
        Catalog.PerLayer.filterNot(m => report.has(m.name)).foreach(m => report.metric(m.name, 0.0, m.unit))
      }
      report.guard(want.forall(m => report.has(m.name)),
        s"missing metrics: ${want.filterNot(m => report.has(m.name)).map(_.name).mkString(",")}")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally {
      if (args.trace) Files.write(build.resolve(s"spans-${args.workload}-${args.seed}.jsonl"),
        ctx.spanLines.toString.getBytes("UTF-8"))
      spark.stop()
      Ctx.deleteRecursively(work)
    }
    if (exit != 0) sys.exit(exit)
    println(report.detailLine)
    println(report.resultLine(want.map(_.name)))
    System.out.flush()
  }
}

/** Everything one run shares across its workload code. `expected`
  * holds the output digests recorded for this workload and seed. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val report: Report,
                val listener: GroupMetrics, work: Path, val cores: Int, sessionS: Double,
                expected: Map[String, String]) {
  private var heapMb = 0.0
  val spanLines = new StringBuilder

  def dir(name: String): String = work.resolve(name).toString

  private val started = System.nanoTime()

  /** Progress on stderr, with seconds since the run started. */
  def log(msg: String): Unit = System.err.println(f"[kgbench ${secondsSince(started)}%7.2f] $msg")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU seconds this JVM has used on all threads (tasks, driver, JIT,
    * GC); logged next to each pass's wall time. */
  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Repeats `body` until the run's measuring time is used up, at
    * least `min` times. */
  def repeatFor(min: Int)(body: Int => Unit): Unit = {
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var i = 0
    while (i < min || System.nanoTime() < deadline) { body(i); i += 1 }
  }

  /** Post-GC heap occupancy: the heap pools' collection usage (what
    * the last collection left behind), read after each of three full
    * collections 200 ms apart, keeping the lowest reading. Between
    * collections Spark's ContextCleaner drops blocks of RDDs that are
    * no longer referenced (checkpoints of finished queries), so a
    * single reading depends on how far the cleaner had got. Called
    * after each repetition while its caches are still live; the run
    * reports the highest value. */
  def sampleHeap(): Unit = {
    val used = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    }.min
    heapMb = math.max(heapMb, used / 1e6)
  }

  def liveHeapMb: Double = heapMb

  def drainListener(): Unit = ListenerBusDrain(spark.sparkContext)

  /** Per-layer metrics of one traced span from its job group's task
    * totals. */
  def layerMetrics(tr: Tracer, layer: String, rowsIn: Long, rowsOut: Long, prefix: String = ""): Unit = {
    val s = tr.spans.find(_.name == layer).getOrElse(sys.error(s"no span $layer"))
    val g = listener(tr.group(layer))
    val name = prefix + layer
    val wall = s.durNs / 1e9
    val task = g.runNs / 1e9
    val r = report
    log(f"$name: wall $wall%.3f s, task $task%.3f s, cpu ${g.cpuNs / 1e9}%.3f s, jobs ${g.jobs}")
    r.metric(s"$name.wall_s", wall, "s")
    r.metric(s"$name.jobs", g.jobs.toDouble, "count")
    r.metric(s"$name.shuffle_write_mb", g.shuffleWriteBytes / 1e6, "MB")
    if (prefix.isEmpty) {
      r.metric(s"$name.task_s", task, "s")
      r.ratio(s"$name.slot_util", task, wall * cores)
      r.guard(task <= wall * cores, f"$name.slot_util > 1 (task $task%.3f s over $wall%.3f s x $cores cores)")
      r.metric(s"$name.rows_in", rowsIn.toDouble, "rows")
      r.metric(s"$name.rows_out", rowsOut.toDouble, "rows")
      r.metric(s"$name.spill_mb", g.spillBytes / 1e6, "MB")
    }
  }

  /** Set-up: the input generation, [[Ctx.SetupReps]] times (the input
    * digest must repeat exactly), then one untimed warm-up pass — the
    * cold first pass, which costs about twice a warm one. Each
    * `setup_s` sample is session start + one generation + the warm-up. */
  def setup(generate: () => Digest, warm: () => Unit): Unit = {
    val gens = (0 until Ctx.SetupReps).map { i =>
      val (d, genS) = timed(generate())
      log(f"set-up $i: inputs generated in $genS%.2f s")
      (d, genS)
    }
    val (_, warmS) = timed(warm())
    log(f"warm-up pass: $warmS%.2f s")
    gens.foreach { case (_, genS) => report.metric("setup_s", sessionS + genS + warmS, "s") }
    val digests = gens.map(_._1).distinct
    report.guard(digests.size == 1, s"inputs differ between set-ups of one seed: ${digests.mkString(", ")}")
    checkExpected("input", digests.head)
  }

  def recordSpans(tr: Tracer): Unit = spanLines ++= Tracer.toJsonLines(tr.spans)

  /** Checks a digest against the one recorded for this seed, if any. */
  def checkExpected(key: String, actual: Digest): Unit = {
    report.detail(key) = actual.toString
    expected.get(key).foreach(want =>
      report.guard(want == actual.toString, s"$key digest $actual differs from the recorded $want"))
  }
}

object Ctx {
  /** Input generations per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Output digests recorded for known seeds (kgbench/expected.json:
    * workload → seed → key → "rows:hash"). A seed without an entry is
    * still checked for internal consistency and the quality gates. */
  def expected(file: Path, workload: String, seed: Long): Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
      .path(workload).path(seed.toString).fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
