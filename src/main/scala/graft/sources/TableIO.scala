package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import scala.concurrent.duration.FiniteDuration
import graft.kg.{Observed, Triple}

/** Thin table facade: partitioned parquet + JSON manifest emulating
  * the Iceberg semantics the pipeline needs (atomic-ish commit,
  * partition listing, resume) — SURVEY §7.2: no Iceberg jar ships in
  * /opt/spark/jars and the sandbox is offline, so the facade keeps
  * the call sites Iceberg-shaped for a config-swap at deploy time.
  *
  * Layout: `outDir/range=R/pred=P/bucket=B/part-....parquet` where
  * `bucket = pmod(xxhash64(subj), nBuckets)` (the north rule's
  * (pred, subj-hash) partitioning) and `range = bucket % nRanges` is
  * the checkpoint unit.
  *
  * Commit protocol ([[writeTriples]]): one partitioned write job lays
  * out every range the manifest lacks under `outDir/.staging`. The
  * rows of each range are counted by an `Observation` on that write
  * (one `count_if(range = r)` per missing range), so no aggregate job
  * runs and nothing is cached; a range whose count was not observed,
  * or an observation not completed within [[Observed.Within]], fails
  * the call before the first commit. Then, range by range,
  * `.staging/range=R` is swapped into `range=R` by rename
  * ([[swapIn]]) and the range is recorded in `_manifest.json` via
  * write-temp + atomic rename. Readers list only manifest-listed
  * ranges, and Spark's file listing skips dot-prefixed dirs, so a
  * crash anywhere leaves uncommitted data invisible; resume deletes a
  * stale `.staging` and rewrites only the missing ranges —
  * per-partition lineage, exactly-once output.
  *
  * Every write goes through [[NioLocalFileSystem]] ([[writer]]):
  * without libhadoop, Hadoop's local filesystem forks a `chmod`
  * process for each file and directory it creates (about 500 per
  * kg_batch sink pass), and the write tasks spent about two thirds
  * of their time waiting on those forks.
  *
  * A write is one parquet file per `range=R/pred=P/bucket=B` leaf.
  * One task writes each leaf ([[byLeaf]]), so a hot (pred, bucket)
  * leaf is one task's work; `graft.Bench` does not drive this sink.
  */
object TableIO {

  val NBuckets = 16
  val NRanges = 4

  final case class RangeEntry(range: Int, rows: Long, commitTs: Long)

  private def manifestPath(outDir: String) = Paths.get(outDir, "_manifest.json")

  def readManifest(outDir: String): Map[Int, RangeEntry] = {
    val p = manifestPath(outDir)
    if (!Files.exists(p)) return Map.empty
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    // minimal parser for our own writer's format
    val entryRe = """\{"range":(\d+),"rows":(\d+),"commitTs":(\d+)\}""".r
    entryRe.findAllMatchIn(txt).map { m =>
      val e = RangeEntry(m.group(1).toInt, m.group(2).toLong, m.group(3).toLong)
      e.range -> e
    }.toMap
  }

  private def writeManifest(outDir: String, entries: Map[Int, RangeEntry]): Unit = {
    val body = entries.values.toSeq.sortBy(_.range)
      .map(e => s"""{"range":${e.range},"rows":${e.rows},"commitTs":${e.commitTs}}""")
      .mkString("[", ",", "]")
    val tmp = Paths.get(outDir, s"._manifest.tmp")
    Files.createDirectories(Paths.get(outDir))
    Files.write(tmp, s"""{"ranges":$body}""".getBytes("UTF-8"))
    Files.move(tmp, manifestPath(outDir), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The sink's columns: the triple plus the partition columns. Reads
    * name it explicitly, so a committed range with no rows (a dir with
    * no parquet file) reads back empty instead of failing schema
    * inference. */
  private val SinkSchema =
    Encoders.product[Triple].schema.add("range", IntegerType).add("bucket", IntegerType)

  /** The sink's leaf partitioning: the `bucket` column is added and
    * rows are hash-partitioned on (pred, bucket). One task then owns
    * each leaf, so a partitioned write emits exactly one file per
    * leaf. The partition count is explicit, the session's
    * `spark.sql.shuffle.partitions`: AQE coalesces a by-column
    * repartition of a few MB into ONE task, which then writes every
    * leaf alone, but leaves a by-number one alone. */
  private def byLeaf(df: DataFrame): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.withColumn("bucket", pmod(xxhash64(col("subj")), lit(NBuckets)).cast("int"))
      .repartition(n, col("pred"), col("bucket"))
  }

  /** Each range's row count from an observation of `count_if(range =
    * r)` columns named by the range. A count that is missing, or an
    * observation not completed within `within` ([[Observed.await]]),
    * throws: the manifest never records a guessed count. */
  private[graft] def observedRows(rows: Observation, ranges: Seq[Int],
                                    within: FiniteDuration = Observed.Within): Map[Int, Long] = {
    val row = Observed.await(rows.future, "row counts", within)
    ranges.map { r =>
      val i = row.schema.fieldNames.indexOf(r.toString)
      if (i < 0 || row.isNullAt(i)) throw new IllegalStateException(s"no row count observed for range $r")
      r -> row.getLong(i)
    }.toMap
  }

  /** `df.write` through [[NioLocalFileSystem]]. Hadoop caches the
    * `file:` filesystem by scheme, not by conf, so this write's conf
    * also bypasses the cache; the session's cached instance, and with
    * it every reader, keeps Hadoop's own class. */
  private def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write
      .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")

  /** Committed range dirs, with the partition columns from their paths. */
  private def readRanges(spark: SparkSession, outDir: String, ranges: Seq[Int]): DataFrame =
    spark.read.schema(SinkSchema).option("basePath", outDir)
      .parquet(ranges.map(r => s"$outDir/range=$r"): _*)

  /** Resumable write: skips ranges already in the manifest. The missing
    * ranges' rows go through ONE shuffle ([[byLeaf]]) into ONE write
    * job that lays them all out under `.staging`; each range's row
    * count is observed on that write ([[observedRows]]), so no other
    * job runs and nothing is cached. Then each range is swapped into place
    * ([[swapIn]]) and committed to the manifest, one at a time.
    * `failAfterRanges` injects a crash before the commit of range
    * number `failAfterRanges` of this call, for the resume tests. */
  def writeTriples(triples: Dataset[Triple], outDir: String,
                   failAfterRanges: Int = Int.MaxValue): Map[Int, RangeEntry] = {
    val staging = Paths.get(outDir, ".staging")
    deleteRecursively(staging) // left by a crash before the last commit
    var manifest = readManifest(outDir)
    val todo = (0 until NRanges).filterNot(manifest.contains)
    if (todo.isEmpty) return manifest
    val rows = Observation()
    val counts = todo.map(r => count_if(col("range") === r).as(r.toString))
    val leaves = byLeaf(triples.toDF())
      .withColumn("range", pmod(col("bucket"), lit(NRanges)))
      .filter(col("range").isin(todo: _*))
      .observe(rows, counts.head, counts.tail: _*)
    writer(leaves).partitionBy("range", "pred", "bucket").parquet(staging.toString)
    val rowsByRange = observedRows(rows, todo)
    todo.zipWithIndex.foreach { case (r, written) =>
      if (written >= failAfterRanges)
        throw new RuntimeException(s"injected failure before range $r")
      // a range with no rows has no staged dir; commit it empty
      swapIn(outDir, r, Files.createDirectories(staging.resolve(s"range=$r")))
      manifest += r -> RangeEntry(r, rowsByRange(r), System.currentTimeMillis())
      writeManifest(outDir, manifest)
    }
    deleteRecursively(staging)
    manifest
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally stream.close() // walk holds directory handles until closed
    }
  }

  /** Replace `range=r` with the dir `staged` by two renames: the old
    * dir (if any) moves to `.range-<r>-old`, then `staged` moves in.
    * A real Iceberg commit swaps a metadata pointer; the facade makes
    * the single-writer assumption its manifest commits already make.
    * [[writeTriples]] swaps only ranges the manifest lacks, so a crash
    * between the renames leaves an uncommitted range, which the next
    * [[writeTriples]] rewrites. */
  private def swapIn(outDir: String, r: Int, staged: java.nio.file.Path): Unit = {
    val dst = Paths.get(outDir, s"range=$r")
    val old = Paths.get(outDir, s".range-$r-old")
    deleteRecursively(old)
    if (Files.exists(dst)) Files.move(dst, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staged, dst, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  /** Metrics-table sink (the north star's "Iceberg metrics table",
    * through the same facade): per-stage lineage rows appended under
    * run_id partitions — one accumulating table across runs, readable
    * with partition pruning on run_id. */
  def appendMetrics(metrics: Dataset[graft.kg.StageMetric], outDir: String): Unit =
    writer(metrics.toDF()).mode("append").partitionBy("run_id").parquet(outDir)

  def readMetrics(spark: SparkSession, outDir: String): Dataset[graft.kg.StageMetric] = {
    import spark.implicits._
    if (!Files.exists(Paths.get(outDir))) return spark.emptyDataset[graft.kg.StageMetric]
    spark.read.parquet(outDir)
      .select("run_id", "stage", "rows_in", "rows_out", "dropped", "wall_ms")
      .as[graft.kg.StageMetric]
  }

  /** Read back the committed triple table (manifest-listed ranges
    * only — uncommitted partial ranges are invisible, like an Iceberg
    * snapshot read). */
  def readTriples(spark: SparkSession, outDir: String): Dataset[Triple] = {
    import spark.implicits._
    val manifest = readManifest(outDir)
    if (manifest.isEmpty) return spark.emptyDataset[Triple]
    readRanges(spark, outDir, manifest.keys.toSeq.sorted)
      .select("subj", "pred", "obj").as[Triple]
  }
}
