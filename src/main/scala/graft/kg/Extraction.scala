package graft.kg

import org.apache.spark.sql.Dataset
import graft.functions.{Parsers, TextAnalytics}

/** Mention + relation extraction stages (SURVEY.md §7.0 steps 1-4).
  * Each stage is a declarative Dataset transform; the only imperative
  * code is inside `mapPartitions` batches where the scorer lives.
  * All stages carry (conv_id, turn_idx) so the stable turn ordering
  * of the north rule is a key property, not an accident of plan
  * order.
  */
object Extraction {

  /** Prompt building under [[promptOf]]'s drop semantics (empty,
    * brace and over-budget turns are skipped, pt_abstract.py:54-60);
    * dropped rows are COUNTED by the caller via the returned datasets,
    * not silently lost. */
  def buildPrompts(turns: Dataset[Turn]): Dataset[Prompt] =
    buildPromptsWithShots(turns, Array.empty, 0)

  /** Few-shot technique names (few_shots_techniques.py): sentence-kNN
    * (FST_Sentence :67-88), entity/token-kNN (FST_Entity :102-124),
    * random control (FST_Random :55-58), no-shots (FST_NoShots
    * :44-47 — the k=0 / empty-pool case). */
  val FstSentence = "sentence"
  val FstEntity = "entity"
  val FstRandom = "random"
  val FstNone = "no-shots"

  /** Prompt building with an optional few-shot block
    * (pt_abstract.get_few_shots, pt_abstract.py:75-89): per turn, k
    * examples retrieved from the broadcast pool — sentence-kNN by
    * embedding cosine (few_shots_techniques.py:71-81) or the random
    * control arm (:55-58, seeded by content hash, never rand()) —
    * rendered as EXAMPLE lines ahead of the input sentinel. Retrieval
    * is a narrow mapPartitions pass over the broadcast pool: no
    * shuffle, no driver loop, O(|pool|) per turn with a bounded pool.
    * Every turn goes through [[promptOf]], the one prompt guard. */
  def buildPromptsWithShots(turns: Dataset[Turn], pool: Array[FewShots.ShotExample],
                            k: Int, fst: String = FstSentence): Dataset[Prompt] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(pool)
    turns.mapPartitions { it =>
      val block = shotBlock(bc.value, k, fst)
      it.flatMap(t => promptOf(t, block(t)))
    }
  }

  /** A turn's few-shot block of `k` examples under the `fst` arm ("" for
    * k = 0 or an empty pool). Build it once per partition: the FstEntity
    * index is partition-constant (same hoist as Ann.planeMatrix). */
  private[kg] def shotBlock(shots: Array[FewShots.ShotExample], k: Int, fst: String): Turn => String = {
    lazy val entityIndex: Array[(Int, Array[Float])] =
      shots.iterator.zipWithIndex.flatMap { case (ex, i) =>
        ex.entityVecs.iterator.map(ev => (i, ev))
      }.toArray
    t =>
      if (k <= 0 || shots.isEmpty) ""
      else {
        val chosen: Seq[FewShots.ShotExample] = fst match {
          case FstRandom =>
            // seeded draws, deduped by index, first k
            val idxs = Iterator.from(0)
              .map(i => graft.functions.Hashing.bucket(
                graft.functions.Hashing.hash64(s"${t.conv_id}#${t.turn_idx}#rnd$i"), shots.length))
              .take(4 * k + 8).toSeq.distinct.take(k)
            idxs.map(shots(_))
          case FstEntity =>
            // per query token: top-k vs ALL pool entity embeddings;
            // merge by score desc, dedup pool row keeping best,
            // truncate to k (FST_Entity, few_shots_techniques
            // .py:110-124 — the idx-dedup-after-sort semantics).
            // Bounded heaps throughout: O(k) space per token.
            val ord: Ordering[(Double, Int)] = Ordering.by { case (s, i) => (-s, i) }
            val qTokens = t.text.split("\\s+").filter(_.nonEmpty)
              .map(w => TextAnalytics.embedText(w))
            val merged = qTokens.iterator.flatMap { qv =>
              graft.functions.TopK.smallest(
                entityIndex.iterator.map { case (i, ev) =>
                  (graft.functions.StringSim.cosine(qv, ev), i)
                }, k)(ord)
            }.toArray.sorted(ord)
            val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
            merged.foreach { case (_, i) => seen += i }
            seen.take(k).toSeq.map(shots(_))
          case _ => // sentence-kNN, ties by pool index (stable argsort)
            val qv = TextAnalytics.embedText(t.text)
            graft.functions.TopK.smallest(
              shots.iterator.zipWithIndex.map { case (ex, i) =>
                (graft.functions.StringSim.cosine(qv, ex.vec), i)
              }, k)(Ordering.by { case (s, i) => (-s, i) })
              .map { case (_, i) => shots(i) }.toSeq
        }
        "### ASSISTANT : Can you provide me examples ?\n" +
          "### USER : There are examples :\n" +
          chosen.map(ex => s"${Scorer.ExampleMarker}${ex.text} -> ${ex.output}").mkString("\n") + "\n"
      }
  }

  /** The reference's input cleaning (Conll2003Dataset.py:62-63): a
    * text is kept only when it is non-empty and has no brace. */
  private[kg] def cleanText(text: String): Boolean = text.nonEmpty && !text.contains("{")

  /** The one prompt guard: a turn's prompt, or None when the reference
    * would skip it — empty or brace text, or an assembled prompt (shot
    * block included) over the context budget (pt_abstract.py:54-60).
    * `block` is by name, so a turn dropped on its text pays no kNN. */
  private[graft] def promptOf(t: Turn, block: => String): Option[Prompt] =
    if (!cleanText(t.text)) None
    else {
      val prompt = s"### SYSTEM : The task is to extract named entities in a sentence.\n" +
        block +
        s"### USER : <start_input> ${t.text} <end_input>\n### ASSISTANT : <start_output> ["
      val tokens = TextAnalytics.tokenCountWs(prompt)
      if (tokens > TranscriptGen.MaxPromptTokens) None
      else Some(Prompt(t.conv_id, t.turn_idx, t.text, prompt, tokens))
    }

  /** The mention scorer with its matcher built once per call — one
    * "model load" per partition or thread (replaces the reference's
    * per-sentence model invocation, llm/LLMModel.py:87-91). */
  private def scorer(cfg: TranscriptGen.Config): Prompt => Scored = {
    val matcher = Scorer.newMatcher()
    p => Scored(p.conv_id, p.turn_idx, p.text,
      Scorer.mentionResponse(matcher, p.conv_id, p.turn_idx, p.text, cfg,
        Scorer.exampleBlockOf(p.prompt)))
  }

  /** Batched mention scorer, one matcher per partition. */
  def scoreMentions(prompts: Dataset[Prompt], cfg: TranscriptGen.Config): Dataset[Scored] = {
    import prompts.sparkSession.implicits._
    prompts.mapPartitions(_.map(scorer(cfg)))
  }

  /** Prompt guard and scorer over the turns of one partition (or one
    * thread), one matcher for all of them: each prompted turn with its
    * scored row, for callers that carry a turn column (event time)
    * past scoring. */
  private[graft] def scoreTurns(turns: Iterator[Turn], cfg: TranscriptGen.Config): Iterator[(Turn, Scored)] = {
    val score = scorer(cfg)
    turns.flatMap(t => promptOf(t, "").map(p => (t, score(p))))
  }

  /** The discussion-format response parsed into (mention, tag) pairs
    * (pt_discussion.py:41-59 semantics, tag filter included). */
  val MentionTags: Set[String] = Set("PERSON", "ORG", "GPE")

  private[graft] def parsedOf(s: Scored): List[(String, String)] =
    Parsers.parseTupleList(s.response, MentionTags)

  /** Everything the per-turn extraction chain produces in one narrow
    * pass: the parsed mentions, the indices into `parsed` of the
    * mentions the verifier rejected, and the relations. The verifier
    * keeps almost every mention, so the rows store its outcome once as
    * `rejected` instead of a second mention list; [[verified]] derives
    * the surviving mentions, in parse order. */
  final case class TurnExtraction(
      conv_id: String,
      turn_idx: Int,
      parsed: Seq[(String, String)],
      rejected: Seq[Int],
      relations: Seq[(String, String, String)]) {
    def verified: Seq[(String, String)] =
      if (rejected.isEmpty) parsed
      else parsed.zipWithIndex.collect { case (m, i) if !rejected.contains(i) => m }
  }

  /** The fused per-turn extraction: parse the mention response, run
    * the verifier on each mention, then the stage-2 relation chain on
    * the verified set — all inside ONE narrow mapPartitions, because
    * every input (text, response, mentions) is turn-local. This is
    * exactly the reference's per-sentence control flow
    * (pt_abstract.run_prompt: parse → verify → confidence,
    * pt_abstract.py:45-73; chained stage-2 pt_multi_pt.py:81-90) —
    * and the 100-TB design: per-turn work is embarrassingly parallel,
    * shuffles happen only where semantics demand them (linking
    * aggregation, canonicalization, final distinct). */
  def extractAll(scored: Dataset[Scored], cfg: TranscriptGen.Config): Dataset[TurnExtraction] = {
    import scored.sparkSession.implicits._
    scored.mapPartitions(_.map(extractRow(_, cfg)))
  }

  /** One scored turn through parse → verify → relations. */
  private def extractRow(s: Scored, cfg: TranscriptGen.Config): TurnExtraction = {
    val parsed = parsedOf(s)
    val rejected = parsed.zipWithIndex.collect { case ((ne, tag), i)
      if !Parsers.verifierAnswer(
        Scorer.verifierResponse(s.conv_id, s.turn_idx, ne, tag, s.text, cfg)).contains(true) => i
    }
    val e = TurnExtraction(s.conv_id, s.turn_idx, parsed, rejected, Nil)
    val ordered = e.verified.sortBy { case (m, _) =>
      val i = s.text.indexOf(m); if (i < 0) Int.MaxValue else i
    }
    val relResp = Scorer.relationResponse(s.conv_id, s.turn_idx, s.text, ordered, cfg)
    val rels = Parsers.parseFilingJson(relResp, Scorer.RelationPreds).flatMap { case (pair, pred) =>
      val arrow = pair.indexOf(" -> ")
      if (arrow < 0) Nil
      else List((pair.substring(0, arrow), pred, pair.substring(arrow + 4)))
    }
    e.copy(relations = rels)
  }

  /** One verified mention with its confidence level and numeric score
    * (confidence_checker semantics; missing key → null level). */
  final case class MentionConfidence(
      conv_id: String,
      turn_idx: Int,
      mention: String,
      tag: String,
      level: String, // nullable
      score: Double)

  /** Confidence-checker pass (confidence_checker.py:7-35 +
    * pt_abstract.py:68-71): one scorer call per turn attaching a
    * level to each verified span; spans missing from the response
    * dict get a null level and score 0 (the reference degenerates
    * them to the literal 'None'). Narrow over the extracted rows. */
  def withConfidence(extracted: Dataset[TurnExtraction],
                     cfg: TranscriptGen.Config): Dataset[MentionConfidence] = {
    import extracted.sparkSession.implicits._
    extracted.mapPartitions { it =>
      it.flatMap { e =>
        if (e.verified.isEmpty) Iterator.empty
        else {
          // the scorer needs the turn text only to seed; confidence is
          // per-mention content-hashed, so pass a stable surrogate
          val resp = Scorer.confidenceResponse(e.conv_id, e.turn_idx, "", e.verified, cfg)
          Parsers.parseConfidenceJson(resp, e.verified.toList).iterator.map {
            case (ne, tag, levelOpt) =>
              MentionConfidence(e.conv_id, e.turn_idx, ne, tag,
                levelOpt.orNull,
                levelOpt.flatMap(Parsers.ConfidenceLevels.get).getOrElse(0.0))
          }
        }
      }
    }
  }

  /** One mention with its per-tag logits and the reference's six
    * confidence variants evaluated at the outputted tag
    * (evaluating_confidence.py show_confidence points, :140-160):
    * `correct` = (gold tag == outputted tag), the label ROC/AUC is
    * computed over. `calibrated` is the logistic-calibration score
    * over the logits (fixed broadcast weights). */
  final case class MentionLogits(
      conv_id: String,
      turn_idx: Int,
      mention: String,
      gold_tag: String,
      outputted_tag: String,
      logits: Seq[Double],
      conf_softmax: Double,
      conf_softmax_min: Double,
      conf_softmax_max: Double,
      conf_proba_direct: Double,
      conf_proba_centered: Double,
      conf_transparent: Double,
      calibrated: Double,
      correct: Boolean)

  /** Fixed logistic-calibration weights (per-tag logit weights + bias).
    * Training happens offline in the reference's notebook; these are
    * the deployed coefficients the scorer ships with. */
  val CalibrationWeights: Array[Double] = Array(0.9, 0.9, 0.9)
  val CalibrationBias: Double = -1.5

  /** Logit-confidence stage (evaluating_confidence.py:56-77 +
    * :98-160): per verified mention, per-tag logits from the scorer,
    * the six confidence functions evaluated at the outputted tag, the
    * calibrated score, and the correctness label. Narrow pass. */
  def withLogits(extracted: Dataset[TurnExtraction],
                 cfg: TranscriptGen.Config): Dataset[MentionLogits] = {
    import extracted.sparkSession.implicits._
    extracted.flatMap { e =>
      e.verified.map { case (ne, tag) =>
        val (out, logits) = Scorer.tagLogits(e.conv_id, e.turn_idx, ne, tag, cfg)
        val oi = Scorer.TagVocab.indexOf(out)
        def at(fn: Array[Double] => Array[Double]) = fn(logits)(oi)
        MentionLogits(e.conv_id, e.turn_idx, ne, tag, out, logits.toSeq,
          at(graft.functions.Confidence.softmax),
          at(graft.functions.Confidence.softmaxMin),
          at(graft.functions.Confidence.softmaxMax),
          at(graft.functions.Confidence.probaDirect),
          at(graft.functions.Confidence.probaCentered),
          at(graft.functions.Confidence.transparent),
          graft.functions.Confidence.logisticScore(logits, CalibrationWeights, CalibrationBias),
          tag == out)
      }
    }
  }
}
