package kgbench

/** The benchmark's metric names and units, as declared in
  * BENCHMARK.json (a spec keeps the two in step). */
object Catalog {
  final case class M(name: String, unit: String, better: String)

  val Workloads: Seq[String] = Seq("kg_batch", "queries")

  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("wall_s", "s", "lower"),
    M("rows_per_s", "rows/s", "higher"),
    M("live_heap_mb", "MB", "lower"))

  /** KG pipeline layers, in `KGPipeline.run` order, then the sink. */
  val Layers: Seq[String] = Seq("extract", "link", "canon", "materialize", "sink")

  /** The pinned queries, run in this order: the members of the
    * ROADMAP's pinned slow set that an open ROADMAP item targets and
    * the run budget fits (experiment grid as one plan; q80 pair
    * packing; q30's count path; PageRank and CC convergence checked
    * every k rounds). */
  val Queries: Seq[String] = Seq("experiment_grid", "q80_triangle_count", "q30_blocked_link",
    "q68_pagerank", "q35_connected_components")

  val LayerMetrics: Seq[M] = Seq(
    M("wall_s", "s", "lower"), M("task_s", "s", "lower"), M("slot_util", "ratio", "higher"),
    M("jobs", "count", "lower"), M("rows_in", "rows", "higher"), M("rows_out", "rows", "higher"),
    M("shuffle_write_mb", "MB", "lower"), M("spill_mb", "MB", "lower"))

  val QueryMetrics: Seq[M] = Seq(
    M("wall_s", "s", "lower"), M("jobs", "count", "lower"), M("shuffle_write_mb", "MB", "lower"))

  val PerLayer: Seq[M] =
    Layers.flatMap(l => LayerMetrics.map(m => m.copy(name = s"$l.${m.name}"))) ++ Seq(
      M("extract.prompt_keep_ratio", "ratio", "higher"),
      M("link.accept_ratio", "ratio", "higher"),
      M("materialize.dedup_ratio", "ratio", "higher"),
      M("materialize.shuffle_bytes_per_triple", "B/triple", "lower"),
      M("sink.files", "count", "lower"),
      M("sink.bytes_per_triple", "B/triple", "lower"),
      M("trace.overhead_s", "s", "lower")) ++
      Queries.flatMap(q => QueryMetrics.map(m => m.copy(name = s"q.$q.${m.name}")))
}
