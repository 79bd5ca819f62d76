package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, size, sum}

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
      verified: Dataset[Mention],
      relations: Dataset[Relation],
      links: Dataset[LinkMatch],
      canonicalMap: DataFrame, // (member, canonical)
      triples: Dataset[Triple],
      extracted: Dataset[Extraction.TurnExtraction],
      private[kg] val observed: Seq[scala.concurrent.Future[Observed.Completion]], // turns, extraction, triples
      private[kg] val canonNs: Long) {
    /** Release the cached extraction rows, the one stage output that
      * [[run]] leaves cached: links and the canonical map are
      * driver-held `LocalRelation`s and never cached. */
    def unpersistAll(): Unit = extracted.unpersist()

    /** The run's six [[StageMetric]] rows, from the actions it already
      * ran: link's collect observed the turns and the extraction rows
      * (one per prompt), the first action over [[triples]] observed
      * them, and links and the canonical map count their driver rows.
      * Starts no job; waits at most [[Observed.Within]] for [[triples]]. */
    def stageMetrics(runId: String): Dataset[StageMetric] = {
      import turns.sparkSession.implicits._
      val Seq(in, ex, out) = observed.map(Observed.await(_, "stage metrics"))
      val Seq(nTurns, nPrompts, nParsed, nVerified, nRelations, nTriples) =
        Seq(in, ex, out).flatMap(_.row.toSeq).map(_.asInstanceOf[Long])
      val (nLinks, nCanon) = (links.collect().length.toLong, canonicalMap.collect().length.toLong)
      Seq(("prompts", nTurns, nPrompts, ex.wallNs), ("extract", nPrompts, nPrompts, ex.wallNs),
        ("verify", nParsed, nVerified, ex.wallNs), ("link", nVerified, nLinks, ex.wallNs),
        ("canonicalize", nLinks, nCanon, canonNs), ("materialize", nVerified + nRelations, nTriples, out.wallNs))
        .map { case (stage, rowsIn, rowsOut, ns) =>
          StageMetric(runId, stage, rowsIn, rowsOut, math.max(0L, rowsIn - rowsOut), ns / 1000000L)
        }.toDS()
    }
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
    val (observedTurns, turnsIn) = Observed(turns, count(lit(1)))
    val prompts = Extraction.buildPromptsWithShots(observedTurns, fewShotPool, nbFewShots)

    // 2-4. batched scorer, then the FUSED per-turn chain (parse →
    //      verify → relations) in one narrow pass — the reference's
    //      per-sentence run_prompt flow (pt_abstract.py:45-73). Only
    //      the compact extraction rows are cached; raw text/responses
    //      never cross a shuffle. They are observed under the cache,
    //      so the action that fills it reports them.
    val (extracted, extractedRows) = Observed(extract(prompts, cfg), count(lit(1)),
      Seq(size(col("parsed")), size(col("parsed")) - size(col("rejected")), size(col("relations")))
        .map(c => coalesce(sum(c), lit(0L))): _*)
    extracted.cache()

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
    val t0 = System.nanoTime()
    val canon = Canonicalize.canonicalMap(links, TranscriptGen.entities(spark))
    val canonNs = System.nanoTime() - t0

    // 7. triple materialization: the canonical map rides a broadcast
    //    variable through ONE narrow flatMap over the extraction rows
    val (triples, triplesOut) = Observed(
      materializeTriplesAdaptive(extracted, verified, relations, canon), count(lit(1)))

    Result(turns, prompts, verified, relations, links, canon, triples, extracted,
      Seq(turnsIn, extractedRows, triplesOut), canonNs)
  }

  /** Mention scoring, then the fused per-turn chain. */
  def extract(prompts: Dataset[Prompt], cfg: TranscriptGen.Config): Dataset[Extraction.TurnExtraction] =
    Extraction.extractAll(Extraction.scoreMentions(prompts, cfg), cfg)

  /** The projections of the extraction rows — parsed mentions,
    * verifier-surviving mentions and relations — defined once. */
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
