package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.kg.Triple

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
  * out every range the manifest lacks under `outDir/.staging`. Then,
  * range by range, `.staging/range=R` is swapped into `range=R` by
  * rename ([[swapIn]], the swap [[compactTriples]] also uses) and the
  * range is recorded in `_manifest.json` via write-temp + atomic
  * rename. Readers list only manifest-listed ranges, and Spark's file
  * listing skips dot-prefixed dirs, so a crash anywhere leaves
  * uncommitted data invisible; resume deletes a stale `.staging` and
  * rewrites only the missing ranges — per-partition lineage,
  * exactly-once output.
  *
  * Every write goes through [[NioLocalFileSystem]] ([[writer]]):
  * without libhadoop, Hadoop's local filesystem forks a `chmod`
  * process for each file and directory it creates (about 500 per
  * kg_batch sink pass), and the write tasks spent about two thirds
  * of their time waiting on those forks.
  *
  * A fresh write is one parquet file per `range=R/pred=P/bucket=B`
  * leaf. One task writes each leaf, so a hot (pred, bucket) leaf is
  * one task's work; [[compactTriples]] already accepts the same bound,
  * and `graft.Bench` does not drive this sink. Compaction stays the
  * maintenance op for tables written before the one-file-per-leaf
  * layout or appended to by other writers.
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

  private def withPartitionCols(triples: Dataset[Triple]): DataFrame =
    triples.toDF()
      .withColumn("bucket", pmod(xxhash64(col("subj")), lit(NBuckets)).cast("int"))
      .withColumn("range", pmod(col("bucket"), lit(NRanges)))

  /** One task owns each (pred, bucket) leaf, so a partitioned write
    * emits exactly one file per leaf. */
  private def byLeaf(df: DataFrame): DataFrame =
    df.repartition(col("pred"), col("bucket"))

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
    * ranges' rows go through one (pred, bucket) shuffle ([[byLeaf]]),
    * one aggregate job counts every range's rows and ONE write job lays
    * them all out under `.staging`. Then each range is swapped into
    * place ([[swapIn]]) and committed to the manifest, one at a time.
    * `failAfterRanges` injects a crash before the commit of range
    * number `failAfterRanges` of this call, for the resume tests. */
  def writeTriples(triples: Dataset[Triple], outDir: String,
                   failAfterRanges: Int = Int.MaxValue): Map[Int, RangeEntry] = {
    val staging = Paths.get(outDir, ".staging")
    deleteRecursively(staging) // left by a crash before the last commit
    var manifest = readManifest(outDir)
    val todo = (0 until NRanges).filterNot(manifest.contains)
    if (todo.isEmpty) return manifest
    val cached =
      byLeaf(withPartitionCols(triples).filter(col("range").isin(todo: _*))).cache()
    try {
      val rowsByRange = cached.groupBy("range").count().collect()
        .map(row => row.getInt(0) -> row.getLong(1)).toMap
      writer(cached).partitionBy("range", "pred", "bucket").parquet(staging.toString)
      todo.zipWithIndex.foreach { case (r, written) =>
        if (written >= failAfterRanges)
          throw new RuntimeException(s"injected failure before range $r")
        // a range with no rows has no staged dir; commit it empty
        swapIn(outDir, r, Files.createDirectories(staging.resolve(s"range=$r")))
        manifest += r -> RangeEntry(r, rowsByRange.getOrElse(r, 0L), System.currentTimeMillis())
        writeManifest(outDir, manifest)
      }
    } finally cached.unpersist()
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
    * A crash between the renames leaves the old data in
    * `.range-<r>-old`, which [[repairRange]] restores for a committed
    * range; an uncommitted range is rewritten by the next
    * [[writeTriples]] anyway. */
  private def swapIn(outDir: String, r: Int, staged: java.nio.file.Path): Unit = {
    val dst = Paths.get(outDir, s"range=$r")
    val old = Paths.get(outDir, s".range-$r-old")
    deleteRecursively(old)
    if (Files.exists(dst)) Files.move(dst, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staged, dst, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  /** Compact committed ranges: rewrite each manifest-listed range so
    * every (pred, bucket) partition holds ONE file. [[writeTriples]]
    * already writes that layout; an appender that writes from many
    * tasks adds task-count files per partition and readers pay
    * per-file open cost — compaction is the standing maintenance op
    * (Iceberg's rewrite_data_files, through this facade). Per range:
    * rewrite into a temp dir, verify the row count against the
    * manifest, then [[swapIn]]. A crash before the swap leaves the
    * old range intact (stale temp dirs are cleaned on the next run); a
    * crash between the swap's two renames is restored by
    * [[repairRange]] before the next compaction proceeds, so every
    * crash point is recoverable. */
  def compactTriples(spark: SparkSession, outDir: String): Unit = {
    val manifest = readManifest(outDir)
    manifest.toSeq.sortBy(_._1).foreach { case (r, entry) =>
      val tmp = Paths.get(outDir, s".range-$r-compacting")
      repairRange(outDir, r) // crash between the two swap renames
      deleteRecursively(tmp) // stale temp from a crashed compaction
      writer(byLeaf(readRanges(spark, outDir, Seq(r)).drop("range")))
        .partitionBy("pred", "bucket").parquet(tmp.toString)
      val rows = spark.read.schema(SinkSchema).parquet(tmp.toString).count()
      require(rows == entry.rows,
        s"compaction row drift in range $r: $rows != ${entry.rows}")
      swapIn(outDir, r, tmp)
    }
  }

  /** Restore a range whose swap crashed between the two renames: the
    * manifest-listed directory is missing but its `.range-<r>-old`
    * sibling exists. No-op otherwise. */
  def repairRange(outDir: String, r: Int): Unit = {
    val src = Paths.get(outDir, s"range=$r")
    val old = Paths.get(outDir, s".range-$r-old")
    if (!Files.exists(src) && Files.exists(old))
      Files.move(old, src, StandardCopyOption.ATOMIC_MOVE)
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
