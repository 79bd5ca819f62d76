package graft.tools

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Query probe: per named `SparkEntry` query, warm walls with the
  * bench's action (count), one noop-sink wall (computes every column)
  * and the result row count, plus the formatted plan dumped for
  * before/after evidence.
  *
  * Usage: runMain graft.tools.Probe <tag> <q1,q2,...> [reps]
  *   tag   -> `<round>/<label>` writes plans/<round>/<name>_<label>.txt
  *            (`r07/before` -> plans/r07/<name>_before.txt); a tag
  *            without '/' writes plans/<name>_<tag>.txt
  *   reps  -> warm count repetitions (default 3, every rep reported)
  * Env, with graft.Bench's defaults: SPARK_GRAFT_SF_DIR (the sf
  * parquet dir), SPARK_GRAFT_CPUS (local cores).
  */
object Probe {

  final case class Timing(name: String, rows: Long, countWalls: Seq[Double],
                          noopWall: Double, plan: Path)

  def run(spark: SparkSession, sfDir: String, names: Seq[String], tag: String,
          reps: Int, planRoot: Path): Seq[Timing] = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val slash = tag.lastIndexOf('/')
    val planDir = if (slash < 0) planRoot else planRoot.resolve(tag.substring(0, slash))
    val label = tag.substring(slash + 1)
    Files.createDirectories(planDir)
    def wall[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"probe:$name")
      try {
        val counts = (1 to reps).map(_ => wall(fn(spark, sfDir).count()))
        val (_, noop) = wall(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        val plan = planDir.resolve(s"${name}_$label.txt")
        Files.write(plan, fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")).getBytes("UTF-8"))
        val rows = counts.last._1
        val walls = counts.map(_._2)
        println(f"[probe] $name%-28s rows=$rows count=" +
          walls.map(w => f"$w%.2f").mkString("/") +
          f" min=${walls.min}%.2f noop=$noop%.2f s  (plan -> $plan)")
        Timing(name, rows, walls, noop, plan)
      } finally spark.sparkContext.setJobDescription(null)
    }
  }

  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq("q68_pagerank"))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // same untimed warm-up as Bench: JIT + codegen + encoder init
      try { graft.SparkEntry.entry(spark).count() } catch { case _: Throwable => () }
      try { spark.read.parquet(s"$dir/nation.parquet").count() } catch { case _: Throwable => () }
      run(spark, dir, names, tag, reps, Paths.get("plans"))
    } finally spark.stop()
  }
}
