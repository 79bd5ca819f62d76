package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** End-to-end KG construction (SURVEY.md §7.0): transcripts →
  * ordered turns → batched mention scorer → parse → verify →
  * relations → entity linking → canonicalization → (subj, pred, obj)
  * triples. Every stage keys on (conv_id, turn_idx) so the north
  * rule's stable turn ordering holds under any shuffle.
  *
  * Triple vocabulary:
  *  - turn-level:   (conv_id#turn_idx, mentions_<TAG>, obj)
  *  - entity-level: (subj_entity, pred, obj_entity) for relations
  * where obj/subj_entity is the canonical catalogue entity id when
  * the surface form linked (accepted) — else the surface string
  * (GPE locations stay textual).
  */
object KGPipeline {

  final case class Result(
      turns: Dataset[Turn],
      prompts: Dataset[Prompt],
      mentions: Dataset[Mention],
      verified: Dataset[Mention],
      relations: Dataset[Relation],
      links: Dataset[LinkMatch],
      canonicalMap: DataFrame, // (member, canonical)
      triples: Dataset[Triple],
      extracted: Dataset[Extraction.TurnExtraction]) {
    /** Release the cached extraction rows, the one stage output that
      * [[run]] and an audited run leave cached: links and the canonical
      * map are driver-held `LocalRelation`s and never cached. */
    def unpersistAll(): Unit = extracted.unpersist()
  }

  def run(spark: SparkSession, cfg: TranscriptGen.Config): Result =
    run(spark, TranscriptGen.transcripts(spark, cfg), cfg)

  def run(spark: SparkSession, turns: Dataset[Turn], cfg: TranscriptGen.Config,
          fewShotPool: Array[FewShots.ShotExample] = Array.empty,
          nbFewShots: Int = 0): Result = {
    // 1-2. order is carried by (conv_id, turn_idx) keys; prompts with
    //      brace/empty/oversized drop semantics — optionally carrying
    //      a sentence-kNN few-shot block (the reference's headline
    //      quality lever, pt_abstract.py:75-89)
    val prompts = Extraction.buildPromptsWithShots(turns, fewShotPool, nbFewShots)

    // 2-4. batched scorer, then the FUSED per-turn chain (parse →
    //      verify → relations) in one narrow pass — the reference's
    //      per-sentence run_prompt flow (pt_abstract.py:45-73). Only
    //      the compact extraction rows are cached; raw text/responses
    //      never cross a shuffle.
    val extracted = extract(prompts, cfg).cache()

    val mentions = mentionsOf(extracted)
    val verified = verifiedOf(extracted)
    val relations = relationsOf(extracted)

    // 5. entity linking — path selected by catalogue size
    //    (EntityLinking.BroadcastCatalogueThreshold): distinct values are
    //    scored in executor tasks, and their summaries normalized once
    //    on the driver into a LocalRelation
    val catalogue = Lexicon.catalogue.toArray
    val links = EntityLinking.linkAdaptive(verified, catalogue)

    // 6. canonicalization: the links are collected once and closed with
    //    a driver union-find (CC over accepted links + catalogue
    //    aliases); the map is a driver-held LocalRelation
    val canon = Canonicalize.canonicalMap(links, TranscriptGen.entities(spark))

    // 7. triple materialization: the canonical map rides a broadcast
    //    variable through ONE narrow flatMap over the extraction rows
    val triples = materializeTriplesAdaptive(extracted, verified, relations, canon)

    Result(turns, prompts, mentions, verified, relations, links, canon, triples, extracted)
  }

  /** Mention scoring, then the fused per-turn chain. */
  def extract(prompts: Dataset[Prompt], cfg: TranscriptGen.Config): Dataset[Extraction.TurnExtraction] =
    Extraction.extractAll(Extraction.scoreMentions(prompts, cfg), cfg)

  /** The projections of the extraction rows — parsed mentions,
    * verifier-surviving mentions and relations — defined once for the
    * batch and audited paths. */
  def mentionsOf(extracted: Dataset[Extraction.TurnExtraction]): Dataset[Mention] = {
    import extracted.sparkSession.implicits._
    extracted.flatMap(e => e.parsed.map { case (m, t) => Mention(e.conv_id, e.turn_idx, m, t) })
  }

  def verifiedOf(extracted: Dataset[Extraction.TurnExtraction]): Dataset[Mention] = {
    import extracted.sparkSession.implicits._
    extracted.flatMap(e => e.verified.map { case (m, t) => Mention(e.conv_id, e.turn_idx, m, t) })
  }

  def relationsOf(extracted: Dataset[Extraction.TurnExtraction]): Dataset[Relation] = {
    import extracted.sparkSession.implicits._
    extracted.flatMap(e =>
      e.relations.map { case (s, p, o) => Relation(e.conv_id, e.turn_idx, s, p, o) })
  }

  /** The canonical map's `m:` rows are collected into a driver `Map`
    * and broadcast into ONE narrow flatMap + distinct over the
    * extraction rows: no joins, no union. The distinct hashes the whole
    * row, not the sink's (pred, bucket) leaf: that key has at most
    * #preds x 16 values, which caps the dedup's parallelism, and a
    * dedup after a user repartition loses the map-side combine.
    * `verified` and `relations` are unused; they keep the signature its
    * callers compile against. */
  def materializeTriplesAdaptive(extracted: Dataset[Extraction.TurnExtraction],
                                 verified: Dataset[Mention], relations: Dataset[Relation],
                                 canon: DataFrame): Dataset[Triple] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    val map = canon.as[(String, String)].collect()
      .collect { case (m, c) if m.startsWith("m:") => m.substring(2) -> c }.toMap
    val bc = spark.sparkContext.broadcast(map)
    extracted.flatMap(e => triplesOf(e, bc.value)).distinct()
  }

  /** The triple vocabulary of one extracted turn against a canonical
    * surface map: the turn's verified mentions and its relations. */
  def triplesOf(e: Extraction.TurnExtraction, m: Map[String, String]): Seq[Triple] = {
    val subjTurn = s"${e.conv_id}#${e.turn_idx}"
    e.verified.map { case (ne, tag) =>
      Triple(subjTurn, "mentions_" + tag, m.getOrElse(ne, ne))
    } ++ e.relations.map { case (s, p, o) =>
      Triple(m.getOrElse(s, s), p, m.getOrElse(o, o))
    }
  }
}
