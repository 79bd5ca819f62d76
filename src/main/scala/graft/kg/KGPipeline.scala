package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
    /** Release the pipeline's cached stages (extracted/links/canon). */
    def unpersistAll(): Unit = {
      extracted.unpersist()
      links.unpersist()
      canonicalMap.unpersist()
    }
  }

  def run(spark: SparkSession, cfg: TranscriptGen.Config): Result =
    run(spark, TranscriptGen.transcripts(spark, cfg), cfg)

  def run(spark: SparkSession, turns: Dataset[Turn], cfg: TranscriptGen.Config,
          technique: PromptTechniques.Technique = PromptTechniques.Discussion,
          fewShotPool: Array[FewShots.ShotExample] = Array.empty,
          nbFewShots: Int = 0): Result = {
    import spark.implicits._

    // 1-2. order is carried by (conv_id, turn_idx) keys; prompts with
    //      brace/empty/oversized drop semantics — optionally carrying
    //      a sentence-kNN few-shot block (the reference's headline
    //      quality lever, pt_abstract.py:75-89)
    val prompts = Extraction.buildPromptsWithShots(turns, fewShotPool, nbFewShots)

    // 2-4. batched scorer, then the FUSED per-turn chain (parse →
    //      verify → relations) in one narrow pass — the reference's
    //      per-sentence run_prompt flow (pt_abstract.py:45-73). Only
    //      the compact extraction rows are cached; raw text/responses
    //      never cross a shuffle. Any of the five prompt techniques
    //      can drive detection (classical_test's grid axis,
    //      llm/LLMModel.py:164-169).
    val extracted = extract(prompts, cfg, technique).cache()

    val mentions = mentionsOf(extracted)
    val verified = verifiedOf(extracted)
    val relations = relationsOf(extracted)

    // 5. entity linking — path auto-selected by catalogue size
    //    (EntityLinking.BroadcastCatalogueThreshold) and distinct mention
    //    count: few values → driver-held links, which steps 6-7 follow
    val catalogue = Lexicon.catalogue.toArray
    val links = cachedUnlessLocal(EntityLinking.linkAdaptive(verified, catalogue))

    // 6. canonicalization (CC over accepted links + catalogue aliases)
    val canon = cachedUnlessLocal(Canonicalize.canonicalMap(links, TranscriptGen.entities(spark)))

    // 7. triple materialization: a driver-held canonical map rides a
    //    broadcast variable through ONE narrow flatMap over the
    //    extraction rows; a distributed one, broadcast joins
    val triples = materializeTriplesAdaptive(extracted, verified, relations, canon)

    Result(turns, prompts, mentions, verified, relations, links, canon, triples, extracted)
  }

  /** A cached LocalRelation is read back through Spark jobs, so only
    * distributed stages are cached. */
  private def cachedUnlessLocal[T](ds: Dataset[T]): Dataset[T] =
    if (ds.isLocal) ds else ds.cache()

  /** Detection under `technique`, then the fused per-turn chain. */
  def extract(prompts: Dataset[Prompt], cfg: TranscriptGen.Config,
              technique: PromptTechniques.Technique = PromptTechniques.Discussion)
      : Dataset[Extraction.TurnExtraction] = technique match {
    case PromptTechniques.Discussion =>
      Extraction.extractAll(Extraction.scoreMentions(prompts, cfg), cfg)
    case other =>
      Extraction.extractAllWith(prompts, other, cfg)
  }

  /** The projections of the extraction rows — parsed mentions,
    * verifier-surviving mentions and relations — defined once for the
    * batch, audited and streaming paths. */
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

  /** Follows canonicalization's path (`isLocal`, no job): a driver-held
    * canonical map is broadcast into ONE narrow flatMap + distinct (no
    * joins, no union); any other map takes the [[materializeTriples]]
    * broadcast joins. */
  def materializeTriplesAdaptive(extracted: Dataset[Extraction.TurnExtraction],
                                 verified: Dataset[Mention], relations: Dataset[Relation],
                                 canon: DataFrame): Dataset[Triple] =
    if (!canon.isLocal) materializeTriples(verified, relations, canon)
    else {
      val spark = extracted.sparkSession
      import spark.implicits._
      val map = canon.as[(String, String)].collect()
        .collect { case (m, c) if m.startsWith("m:") => m.substring(2) -> c }.toMap
      val bc = spark.sparkContext.broadcast(map)
      extracted.flatMap(e => triplesOf(e, bc.value)).distinct()
    }

  /** The triple vocabulary of one extracted turn against a canonical
    * surface map — the ONE definition shared by the batch narrow path
    * and the streaming lift (StreamingExtraction.tripleStream): a
    * change here changes both, so batch and stream can never drift. */
  def triplesOf(e: Extraction.TurnExtraction, m: Map[String, String]): Seq[Triple] = {
    val subjTurn = s"${e.conv_id}#${e.turn_idx}"
    e.verified.map { case (ne, tag) =>
      Triple(subjTurn, "mentions_" + tag, m.getOrElse(ne, ne))
    } ++ e.relations.map { case (s, p, o) =>
      Triple(m.getOrElse(s, s), p, m.getOrElse(o, o))
    }
  }

  /** Maps a surface form through the canonical map (members are
    * prefixed "m:"); non-linked surfaces stay themselves. Broadcast
    * join: the canonical map is |distinct linkable mentions| +
    * |catalogue| rows — small relative to the mention stream. */
  def materializeTriples(verified: Dataset[Mention], relations: Dataset[Relation],
                         canon: DataFrame): Dataset[Triple] = {
    val spark = verified.sparkSession
    import spark.implicits._

    val canonM = broadcast(
      canon.filter(col("member").startsWith("m:"))
        .select(expr("substring(member, 3)").as("surface"), col("canonical")))

    val mentionTriples = verified.toDF()
      .join(canonM, verified("mention") === canonM("surface"), "left_outer")
      .select(
        concat(col("conv_id"), lit("#"), col("turn_idx")).as("subj"),
        concat(lit("mentions_"), col("tag")).as("pred"),
        coalesce(col("canonical"), col("mention")).as("obj"))

    val rel = relations.toDF()
    val relTriples = rel
      .join(canonM.withColumnRenamed("surface", "s_surface").withColumnRenamed("canonical", "s_canon"),
        rel("subj") === col("s_surface"), "left_outer")
      .join(canonM.withColumnRenamed("surface", "o_surface").withColumnRenamed("canonical", "o_canon"),
        rel("obj") === col("o_surface"), "left_outer")
      .select(
        coalesce(col("s_canon"), rel("subj")).as("subj"),
        rel("pred").as("pred"),
        coalesce(col("o_canon"), rel("obj")).as("obj"))

    mentionTriples.union(relTriples).distinct().as[Triple]
  }
}
