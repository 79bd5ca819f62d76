package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Canonicalization: connected components over accepted `sameAs`
  * edges, canonical id = min catalogue entity id per component
  * (SURVEY §7.0 step 6). The reference delegates this merge to a human
  * via Excel (entityMatching.py:170-430).
  *
  * The pipeline's map ([[canonicalMap]]) is built on the driver at any
  * size: linking's output is collected once and closed with a
  * union-find. Materialization broadcasts the map anyway, so a
  * distributed map would buy no memory headroom, only jobs.
  *
  * [[connectedComponents]] is the distributed hash-min label
  * propagation over an edge frame, for graphs that live in Spark (q35).
  */
object Canonicalize {

  /** Hash-min label propagation: each vertex starts labeled with
    * itself; every round each vertex takes the min label among itself
    * and its neighbors; stop when no label changes. Rounds = O(graph
    * diameter). `localCheckpoint` every round cuts the growing lineage
    * (SURVEY §7.3 plan-growth hazard).
    *
    * Skew: a hot vertex's groupBy(dst).min is algebraic, so it
    * collapses in the map-side combiner; no salting is needed.
    *
    * edges: (src, dst) string pairs, undirected. Returns
    * (vertex, component) with component = min vertex id reachable. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()

    // Adapt the loop's shuffle width to the measured graph size: the
    // iteration runs MANY tiny jobs, and per-partition overhead
    // dominates when the distinct-vertex graph is orders of magnitude
    // smaller than the corpus (typical: |distinct mentions| ≪ |turns|).
    // The width is applied with explicit repartition() inside the loop
    // — NOT by mutating the session-global shuffle-partitions conf,
    // which would race against concurrent queries on the same session.
    val nEdges = sym.count()
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val loopPartitions = math.max(4L, math.min(sessionWidth, nEdges / 100000L + 1)).toInt
    connectedComponentsLoop(sym.repartition(loopPartitions, col("src")), maxIter, loopPartitions)
  }

  /** Driver-local union-find: every vertex of `edges` paired with its
    * component's root, the component's min vertex id (min-id root,
    * path compression). */
  private def unionFind(edges: Seq[(String, String)]): Seq[(String, String)] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } // min-id root
    }
    parent.keys.toSeq.map(v => (v, find(v)))
  }

  private def connectedComponentsLoop(sym: DataFrame, maxIter: Int,
                                      width: Int): DataFrame = {
    var labels = sym.select(col("src").as("vertex")).distinct()
      .withColumn("label", col("vertex"))
      .repartition(width, col("vertex"))
      .localCheckpoint()

    var changed = 1L
    var iter = 0
    // maxIter is a safety valve, not an accuracy knob: rounds needed =
    // O(graph diameter); leaving the loop with changed > 0 would
    // silently return WRONG component labels, so that case throws.
    while (changed > 0 && iter < maxIter) {
      // candidate label for each vertex: min over neighbors' labels.
      // Explicit width on every shuffle keeps the loop's many tiny
      // jobs narrow without touching session conf.
      val viaNeighbors = sym.join(labels, sym("src") === labels("vertex"))
        .select(sym("dst").as("vertex"), col("label"))
      val newLabels = labels.select(col("vertex"), col("label"))
        .union(viaNeighbors)
        .repartition(width, col("vertex"))
        .groupBy("vertex")
        .agg(min("label").as("newLabel"))
      val joined = labels.join(newLabels, "vertex")
        .select(col("vertex"), col("label"), col("newLabel"))
        .localCheckpoint()
      changed = joined.filter(col("newLabel") < col("label")).count()
      // next round's labels are a NARROW projection of the joined
      // frame that was just materialized — lineage is already cut
      // there, so the r5 second localCheckpoint per round was a
      // redundant extra job (r6: 3 jobs/round → 2)
      labels = joined.select(col("vertex"), col("newLabel").as("label"))
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter (rounds ≈ graph diameter)")
    labels.withColumnRenamed("label", "component")
  }

  /** Alias edges inside the catalogue itself: entities whose
    * normalized display name is identical are the same real-world
    * entity (the duplicate-catalogue case the reference resolves by
    * hand). Normalization: lowercase, strip punctuation, drop
    * middle initials. Returns (src, dst) = (id, the group's min id). */
  def aliasEdgesLocal(catalogue: Seq[Entity]): Seq[(String, String)] =
    catalogue.groupBy(e => normalizeName(e.display_name)).values
      .flatMap(es => aliasGroup(es.map(_.entity_id))).toSeq

  /** The alias rule for one normalized-name group: every other id →
    * the group's min id (the canonical). */
  private def aliasGroup(ids: Seq[String]): Seq[(String, String)] = {
    val distinct = ids.distinct
    val canonical = distinct.min
    distinct.filter(_ != canonical).map(_ -> canonical)
  }

  def normalizeName(name: String): String =
    name.toLowerCase
      .split("\\s+")
      .filter(t => !(t.length == 2 && t.endsWith("."))) // drop middle initials
      .mkString(" ")
      .replaceAll("[^a-z0-9 ]", "")
      .trim

  /** One canonical-map row (`m:<mention>` or `e:<entity_id>` member). */
  final case class CanonEntry(member: String, canonical: String)

  /** mention→canonical-entity map from accepted links + alias edges.
    * Components that contain no catalogue entity id keep the mention
    * itself as canonical subject. Returns (member, canonical).
    *
    * Both inputs are collected once: a driver-held input
    * ([[EntityLinking.linkAdaptive]]'s links on either path, the
    * pipeline's catalogue) runs no job, a distributed one runs one job.
    * The map is a `LocalRelation` of [[CanonEntry]] rows, so reading it
    * runs no job either. */
  def canonicalMap(accepted: Dataset[LinkMatch], catalogue: Dataset[Entity]): DataFrame = {
    // filtered on the driver: a typed filter would make a LocalRelation run a job
    val edges = accepted.collect().toSeq.filter(_.accepted)
      .map(lm => ("m:" + lm.mention, "e:" + lm.entity_id)) ++
      aliasEdgesLocal(catalogue.collect().toSeq).map { case (a, b) => ("e:" + a, "e:" + b) }
    // from a case class: the plan is a bare LocalRelation (toDF(names) adds a Project)
    accepted.sparkSession.createDataFrame(
      canonicalMapLocal(edges).map { case (m, c) => CanonEntry(m, c) })
  }

  /** Driver-local union-find + canonical pick over an edge set. */
  def canonicalMapLocal(edges: Seq[(String, String)]): Seq[(String, String)] = {
    val roots = unionFind(edges)
    // root = min member, the canonical of an entity-free component
    val canonical = roots.groupBy(_._2).map { case (root, ms) =>
      val entityIds = ms.collect { case (m, _) if m.startsWith("e:") => m.substring(2) }
      root -> (if (entityIds.nonEmpty) entityIds.min else root)
    }
    roots.map { case (m, root) => m -> canonical(root) }
  }
}
