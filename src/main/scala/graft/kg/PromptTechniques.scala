package graft.kg

import org.apache.spark.sql.Dataset
import graft.functions.{Hashing, Parsers}

/** All five of the reference's prompt techniques as runnable mention
  * detection paths (SURVEY §2.7/§2.8). Each technique has a scorer
  * wire format (what the deterministic scorer emits — the same
  * formats the reference's LLM was constrained to produce) and the
  * matching parser. A reference user can switch technique exactly
  * like passing a different PromptTechnique to classical_test
  * (llm/LLMModel.py:164-169).
  *
  *  - discussion: tuple list  (pt_discussion.py)
  *  - wrapper:    <tag>…</tag> markup (pt_wrapper.py)
  *  - getEntitiesTagger: two-stage chain, string list then char-tag
  *    json (pt_get_entities.py + pt_tagger.py via pt_multi_pt.py:81-90)
  *  - filing:     tag→[entities] json (pt_filing.py)
  *  - atat:       per-tag @@…## markup fan-out (pt_gpt_ner.py:28-38 —
  *    the one technique that issues ONE PROMPT PER TAG)
  */
object PromptTechniques {

  sealed trait Technique { def name: String }
  case object Discussion extends Technique { val name = "discussion" }
  case object Wrapper extends Technique { val name = "wrapper" }
  case object GetEntitiesTagger extends Technique { val name = "get-entities-tagger" }
  case object Filing extends Technique { val name = "filing" }
  case object AtAt extends Technique { val name = "@@##" }

  private def pyStr(s: String): String = graft.functions.Parsers.pyStr(s)

  private def noisy(convId: String, turnIdx: Int, text: String, salt: Long, cfg: TranscriptGen.Config): Boolean =
    Hashing.bucket(Hashing.hash64(s"$convId#$turnIdx#$text", cfg.seed ^ salt), 1000) < cfg.scorerNoisePerMille

  /** Deterministic scorer responses for a turn under a technique.
    * `examples` is the prompt's few-shot block (Scorer.exampleBlockOf);
    * a demonstrated surface form repairs a would-be malformed
    * generation (Scorer.demonstrated — the few-shot quality lever).
    * Discussion is `Scorer.mentionResponse`, which scans the turn
    * itself; the other arms share one scan and one noise draw. */
  def respond(tech: Technique, m: Scorer.Matcher, convId: String, turnIdx: Int,
              text: String, cfg: TranscriptGen.Config,
              examples: String = ""): Seq[(String, String)] = {
    lazy val mentions = m.findMentions(text)
    lazy val malformed = noisy(convId, turnIdx, text, 0x1001, cfg) &&
      !Scorer.demonstrated(mentions, examples)
    tech match {
      case Discussion =>
        Seq(("None", Scorer.mentionResponse(m, convId, turnIdx, text, cfg, examples)))
      case Wrapper =>
        // replace each found surface with <TAG>surface</TAG> in order.
        // DISTINCT surfaces only: findMentions emits one entry per
        // occurrence, and replace already marks every occurrence — a
        // second fold pass over the same surface would re-match inside
        // the markup and nest tags (<GPE><GPE>…), corrupting the
        // round-trip (the reference's span loop, MyDataset.py:104-109,
        // has exactly that re-marking quirk; we dedupe instead of
        // reproducing garbage the parser then mis-extracts)
        val marked = mentions.distinct.foldLeft(text) { case (acc, (ne, tag)) =>
          acc.replace(ne, s"<$tag>$ne</$tag>")
        }
        Seq(("None", if (malformed) marked.replace("</", "<") else s"$marked <end_output>"))
      case GetEntitiesTagger =>
        val stage1 = mentions.map(x => pyStr(x._1)).mkString("[", ", ", "]")
        val stage2 = mentions.map { case (ne, tag) =>
          s"${pyStr(ne)}: ${pyStr(Parsers.TagToChar.getOrElse(tag, "?"))}"
        }.mkString("{", ", ", "}")
        if (malformed) Seq(("stage1", stage1.take(stage1.length / 2)), ("stage2", "{'oops"))
        else Seq(("stage1", s"$stage1 <end_output>"), ("stage2", s"$stage2 <end_output>"))
      case Filing =>
        val byTag = mentions.groupBy(_._2).toSeq.sortBy(_._1).map { case (tag, ms) =>
          s"${pyStr(tag)}: [" + ms.map(x => pyStr(x._1)).mkString(", ") + "]"
        }.mkString("{", ", ", "}")
        Seq(("None", if (malformed) "{'x': " else s"$byTag <end_output>"))
      case AtAt =>
        // per-tag fan-out: one response per tag, that tag's mentions
        // wrapped (distinct surfaces — same re-marking guard as Wrapper)
        Extraction.MentionTags.toSeq.sorted.map { tag =>
          val marked = mentions.filter(_._2 == tag).map(_._1).distinct
            .foldLeft(text) { (acc, ne) => acc.replace(ne, s"@@$ne##") }
          (tag, if (malformed) marked.replace("##", "") else marked)
        }
    }
  }

  /** Parse a turn's responses back to (mention, tag) pairs under the
    * technique's parser; dedup first-occurrence like the reference's
    * set() (SURVEY §7.3). */
  def parse(tech: Technique, responses: Seq[(String, String)],
            tags: Set[String] = Extraction.MentionTags): List[(String, String)] = {
    val out = tech match {
      case Discussion =>
        responses.flatMap { case (_, r) => Parsers.parseTupleList(r, tags) }
      case Wrapper =>
        responses.flatMap { case (_, r) => Parsers.parseWrapped(r) }.filter(x => tags.contains(x._2))
      case GetEntitiesTagger =>
        // stage-1 names feed stage-2 (pt_multi_pt.py:81-90); final
        // output is the tagger's char-json parse
        responses.collect { case ("stage2", r) => Parsers.parseTagJson(r) }.flatten
          .filter(x => tags.contains(x._2))
      case Filing =>
        responses.flatMap { case (_, r) => Parsers.parseFilingJson(r, tags) }
      case AtAt =>
        responses.flatMap { case (tag, r) => Parsers.parseAtAt(r, tag) }
          .filter { case (ne, _) => ne.nonEmpty }
    }
    val seen = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    out.foreach(seen += _)
    seen.toList
  }

  /** Mention detection under any technique: batched scorer + parse in
    * one narrow pass, no verifier (prompt building/length guard shared
    * with the main pipeline via Extraction.buildPrompts). */
  def detectMentions(prompts: Dataset[Prompt], tech: Technique,
                     cfg: TranscriptGen.Config): Dataset[Mention] = {
    import prompts.sparkSession.implicits._
    prompts.mapPartitions { it =>
      val m = Scorer.newMatcher()
      it.flatMap { p =>
        detect(tech, m, p, cfg).map { case (ne, tag) => Mention(p.conv_id, p.turn_idx, ne, tag) }
      }
    }
  }

  /** One prompt's parsed (mention, tag) pairs under `tech`, with the
    * caller's per-partition matcher. */
  private[kg] def detect(tech: Technique, m: Scorer.Matcher, p: Prompt,
                         cfg: TranscriptGen.Config): List[(String, String)] =
    parse(tech, respond(tech, m, p.conv_id, p.turn_idx, p.text, cfg, Scorer.exampleBlockOf(p.prompt)))
}
