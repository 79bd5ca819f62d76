package kgbench

import graft.SparkEntry

/** The pinned query set, one query after another through
  * `SparkEntry.queries`, over seeded tables. It has no KG sink but
  * shares code with the KG layers: q35 runs
  * `Canonicalize.connectedComponents`, q30 the `jaro_winkler`
  * expression the linker's scoring mirrors, and the experiment grid
  * runs extraction. A change that helps one use of that code and
  * costs another shows here.
  *
  * Each query's result is consumed by [[Checksum.of]] (one aggregate
  * over every column), which is also its output check: a query's
  * digest must repeat across passes and match the recorded one. */
object QueryWorkload {
  /** Documents per table set; the other tables scale with it
    * ([[Inputs.writeQueryTables]]). The directory name carries the
    * `sf0.01` scale tag `SparkEntry` sizes the experiment grid's
    * synthetic corpus by. */
  val Rows = 500L
  val Scale = "sf0.01"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val dir = ctx.dir(Scale)
    var reference = Map.empty[String, Digest]

    def pass(spans: Spans): (Double, Long) = {
      val c0 = ctx.processCpuS
      var wall = 0.0
      var rows = 0L
      Catalog.Queries.foreach { q =>
        val (d, s) = ctx.timed(spans(q)(Checksum.of(SparkEntry.queries(q)(spark, dir))))
        wall += s
        ctx.log(f"$q: ${d.rows} rows in $s%.3f s")
        rows += d.rows
        reference.get(q) match {
          case Some(want) => r.operation(d == want, s"$q digest $d differs from the first pass's $want")
          case None => reference += q -> d
        }
      }
      ctx.log(f"pass cpu ${ctx.processCpuS - c0}%.3f s")
      ctx.sampleHeap()
      (wall, rows)
    }

    ctx.setup(
      () => {
        Inputs.writeQueryTables(spark, ctx.args.seed, Rows, dir)
        Checksum.ofAll(Inputs.QueryTables.map(t => spark.read.parquet(s"$dir/$t.parquet")))
      },
      () => pass(NoSpans))

    ctx.repeatFor(1) { i =>
      val (wall, rows) = pass(NoSpans)
      r.metric("wall_s", wall, "s")
      r.metric("rows_per_s", rows / wall, "rows/s")
      if (ctx.args.trace) {
        val tr = new Tracer(s"queries-${ctx.args.seed}-$i", spark.sparkContext, ctx.listener)
        val (tracedWall, _) = tr("chain")(pass(tr))
        ctx.drainListener()
        ctx.recordSpans(tr)
        Catalog.Queries.foreach(q => ctx.layerMetrics(tr, q, 0, 0, prefix = "q."))
        r.metric("trace.overhead_s", tracedWall - wall, "s")
      }
    }
    reference.toSeq.sortBy(_._1).foreach { case (q, d) => ctx.checkExpected(q, d) }
  }
}
