package graft.kg

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, StringSim}

/** Entity linking: mention strings → catalogue entities, reproducing
  * `EntityMatching` exactly (ketl/mongo/entityMatching.py:29-94):
  * Jaro-Winkler top-k proposals, margin confidence `2*s1 − s2`
  * (`:87`), global min-max normalization (`:90-92`), and the 0.6
  * auto-accept threshold (`:22,199` — the human Excel loop replaced
  * by threshold accept per SURVEY §3.2).
  *
  * Scale design: the catalogue is the SMALL side → broadcast it once
  * and compute each mention's top-k in a single mapPartitions pass
  * (no shuffle, no M× row explosion — the Spark-native form of the
  * reference's full cross product). Before scoring, mentions are
  * deduplicated by string (`groupBy value` with provenance counts,
  * mirroring myMongoClient.py:62-75) — the hot-entity skew therefore
  * collapses into ONE scored row per distinct string. Each distinct
  * string leaves its task as one summary row (top entity, s1, margin
  * confidence, min proposal score); the summaries are collected and
  * normalized once on the driver, where canonicalization reads the
  * links anyway.
  *
  * For catalogues too big to broadcast, `candidateBlocks` gives the
  * blocking-key equi-join path of the north rule (normalized first
  * char + length band + char-bigram band keys); its proposals reach
  * the same summary and normalization through [[matches]].
  */
object EntityLinking {

  val NbPropositions = 4
  val ConfidenceThresh = 0.6

  /** Distinct mention strings (PERSON/ORG only — the linkable types)
    * with occurrence counts as provenance. */
  def valuesToMatch(mentions: Dataset[Mention]): Dataset[(String, Long)] = {
    import mentions.sparkSession.implicits._
    mentions
      .filter(m => m.tag == "PERSON" || m.tag == "ORG")
      .groupByKey(_.mention)
      .count()
  }

  /** Ranking order shared by every scoring path: score descending,
    * then ascending entity_id (deterministic; the reference inherits
    * pandas' stable sort order). */
  private val proposalOrder: Ordering[(Entity, Double)] =
    Ordering.by { case (e, s) => (-s, e.entity_id) }

  /** One mention's NB_PROPOSITIONS best entities, best first, via a
    * bounded heap (one pass, O(k) space — never a full catalogue
    * sort+copy per mention). `ents` is sorted by entity_id. */
  private def topProposals(mention: String, ents: Array[Entity]): Seq[(Entity, Double)] =
    graft.functions.TopK.smallest(
      ents.iterator.map(e => (e, StringSim.jaroWinkler(mention, e.display_name))),
      NbPropositions)(proposalOrder)

  /** Broadcast top-k scoring: per distinct mention, Jaro-Winkler vs
    * every catalogue entity, one row per kept proposal. */
  def proposals(values: Dataset[(String, Long)], catalogue: Array[Entity]): Dataset[LinkProposal] = {
    val spark = values.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(catalogue.sortBy(_.entity_id))
    values.mapPartitions { it =>
      val ents = bc.value
      it.flatMap { case (mention, _) =>
        topProposals(mention, ents).zipWithIndex.map { case ((e, s), rank) =>
          LinkProposal(mention, e.entity_id, e.display_name, s, rank + 1)
        }
      }
    }
  }

  /** One distinct mention's ranked proposals reduced to what the
    * normalization needs: the top entity, its score s1, the margin
    * confidence and the lowest proposal score. */
  private[kg] final case class Scored(mention: String, entity_id: String, entity_name: String,
                                      s1: Double, conf: Double, min_score: Double)

  /** Margin confidence (entityMatching.py:87):
    * conf = 1 if s1 == 1 else 2*s1 − s2, with s2 = 0 for a lone
    * proposal. `ranked` is best first and non-empty. */
  private def scored(mention: String, ranked: Seq[(String, String, Double)]): Scored = {
    val (id, name, s1) = ranked.head
    val s2 = if (ranked.length > 1) ranked(1)._3 else 0.0
    Scored(mention, id, name, s1, if (s1 == 1.0) 1.0 else 2 * s1 - s2, ranked.map(_._3).min)
  }

  /** Global min-max normalization + accept on the driver
    * (entityMatching.py:90-94):
    *   min_   = min over ALL proposal scores (all ranks)
    *   max_   = max over confidences
    *   norm   = 1 if conf == 1 else (conf − min_)/(max_ + 0.05 − min_)
    *   accept = norm > 0.6 (top-1 proposal only)
    * Rows are sorted by mention; the result is a `LocalRelation`, so
    * reading it runs no job. */
  private def normalize(spark: SparkSession, rows: Array[Scored]): Dataset[LinkMatch] = {
    import spark.implicits._
    // lazy: an empty input has no min/max and needs none
    lazy val min_ = rows.map(_.min_score).min
    lazy val max_ = rows.map(_.conf).max
    spark.createDataset(rows.sortBy(_.mention).toSeq.map { r =>
      val norm = if (r.conf == 1.0) 1.0 else (r.conf - min_) / (max_ + 0.05 - min_)
      LinkMatch(r.mention, r.entity_id, r.entity_name, r.s1, norm, norm > ConfidenceThresh)
    })
  }

  /** Links from a proposal set (the blocked path's, or [[proposals]]'):
    * each mention's proposals are grouped and reduced to one summary,
    * which is collected and normalized on the driver. */
  def matches(props: Dataset[LinkProposal]): Dataset[LinkMatch] = {
    val spark = props.sparkSession
    import spark.implicits._
    normalize(spark, props
      .groupByKey(_.mention)
      .mapGroups { (mention, it) =>
        scored(mention, it.toSeq.sortBy(_.rank).map(p => (p.entity_id, p.entity_name, p.jaro_score)))
      }
      .collect())
  }

  /** Full linking pass over a mention set against a broadcast
    * catalogue: distributed dedup, then ONE mapPartitions that scores
    * each distinct value and emits its summary, collected by one job
    * and normalized on the driver. An empty catalogue gives no links. */
  def link(mentions: Dataset[Mention], catalogue: Array[Entity]): Dataset[LinkMatch] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(catalogue.sortBy(_.entity_id))
    normalize(spark, valuesToMatch(mentions).mapPartitions { it =>
      val ents = bc.value
      it.flatMap { case (mention, _) =>
        val top = topProposals(mention, ents)
        Option.when(top.nonEmpty)(
          scored(mention, top.map { case (e, s) => (e.entity_id, e.display_name, s) }))
      }
    }.collect())
  }

  /** Catalogue size above which the collect+broadcast full-scan
    * scoring path is replaced by blocking-key candidate generation
    * ([[proposalsBlocked]]): a multi-million-entity catalogue neither
    * fits a broadcast nor affords O(|mentions|·|catalogue|) scoring.
    * Recall of the blocked path vs the exact path is spec-gated
    * (BlockedLinkingSpec, incl. a ×100 catalogue). */
  val BroadcastCatalogueThreshold: Long = 100000L

  /** Full linking, the path selected by catalogue size (known
    * driver-side, so no count job): small → [[link]] (broadcast
    * catalogue, exact reference semantics); large → blocked equi-join
    * candidates through [[matches]]. Either way the links are a
    * driver-normalized `LocalRelation`. Used by the pipeline. */
  def linkAdaptive(mentions: Dataset[Mention], catalogue: Array[Entity]): Dataset[LinkMatch] = {
    if (catalogue.length <= BroadcastCatalogueThreshold) link(mentions, catalogue)
    else {
      val spark = mentions.sparkSession
      import spark.implicits._
      matches(proposalsBlocked(valuesToMatch(mentions),
        spark.createDataset(catalogue.toIndexedSeq)))
    }
  }

  // ------------------------------------------------------------------
  // Blocking-key candidate generation (north rule) for catalogues too
  // large to broadcast: a mention and an entity are candidates iff
  // they share ≥1 block key. Keys: normalized first char, length band,
  // and the 2 smallest char-bigram hashes (cheap LSH-ish band).
  // ------------------------------------------------------------------

  def blockKeys(s: String): Seq[Long] = {
    val norm = s.toLowerCase.trim
    if (norm.isEmpty) return Seq(0L)
    val first = Hashing.hash64("f:" + norm.charAt(0))
    val lenBand = Hashing.hash64("l:" + (norm.length / 4))
    val bigrams = graft.functions.TextAnalytics.charNgrams(norm, 2)
      .map(g => Hashing.hash64("b:" + g)).sorted.take(2)
    (Seq(first, lenBand) ++ bigrams).distinct
  }

  /** Candidate pairs via exploded block keys + equi-join; dedup by
    * (mention, entity). The downstream scoring/top-k is shared with
    * the broadcast path. */
  def candidateBlocks(values: Dataset[(String, Long)], catalogue: Dataset[Entity]): Dataset[(String, Entity)] = {
    val spark = values.sparkSession
    import spark.implicits._
    val mentionKeys = values.flatMap { case (m, _) => blockKeys(m).map(k => (k, m)) }
      .toDF("bkey", "mention")
    val entityKeys = catalogue.flatMap(e => blockKeys(e.display_name).map(k => (k, e)))
      .toDF("bkey", "entity")
    mentionKeys.join(entityKeys, "bkey")
      .select(col("mention"), col("entity.entity_id"), col("entity.display_name"), col("entity.entity_type"))
      .distinct()
      .as[(String, String, String, String)]
      .map { case (m, id, name, tpe) => (m, Entity(id, name, tpe)) }
  }

  /** Blocked variant of proposals: same top-k semantics but only over
    * block-sharing candidates (recall < 1 by design; tested on the
    * fixture catalogue). */
  def proposalsBlocked(values: Dataset[(String, Long)], catalogue: Dataset[Entity]): Dataset[LinkProposal] = {
    val spark = values.sparkSession
    import spark.implicits._
    candidateBlocks(values, catalogue)
      .map { case (m, e) => (m, e.entity_id, e.display_name, StringSim.jaroWinkler(m, e.display_name)) }
      .toDF("mention", "entity_id", "entity_name", "jaro_score")
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("mention").orderBy(col("jaro_score").desc, col("entity_id"))))
      .filter(col("rank") <= NbPropositions)
      .as[LinkProposal]
  }
}
