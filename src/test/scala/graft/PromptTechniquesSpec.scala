package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg._

class PromptTechniquesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val cfg = TranscriptGen.Config(nConvs = 40)
  import PromptTechniques._
  private val techniques = Seq(Discussion, Wrapper, GetEntitiesTagger, Filing, AtAt)

  test("all five techniques extract the identical mention set") {
    import spark.implicits._
    val prompts = Extraction.buildPrompts(TranscriptGen.transcripts(spark, cfg)).cache()
    val results = techniques.map { tech =>
      tech.name -> PromptTechniques.detectMentions(prompts, tech, cfg)
        .collect().map(m => (m.conv_id, m.turn_idx, m.mention, m.tag)).toSet
    }.toMap
    val discussion = results("discussion")
    assert(discussion.nonEmpty)
    results.foreach { case (name, set) =>
      assert(set == discussion, s"technique $name diverges: " +
        s"extra=${(set -- discussion).take(3)} missing=${(discussion -- set).take(3)}")
    }
    prompts.unpersist()
  }

  test("per-technique wire formats parse on literal examples") {
    // wrapper
    assert(PromptTechniques.parse(PromptTechniques.Wrapper,
      Seq(("None", "<PERSON>Alice Johnson</PERSON> visited <GPE>Paris</GPE>"))) ==
      List(("Alice Johnson", "PERSON"), ("Paris", "GPE")))
    // two-stage tagger (stage1 names are chained context; stage2 is parsed)
    assert(PromptTechniques.parse(PromptTechniques.GetEntitiesTagger,
      Seq(("stage1", "['Alice']"), ("stage2", "{'Alice': '4', 'Acme': 'B'}"))) ==
      List(("Alice", "PERSON"), ("Acme", "ORG")))
    // filing — reference-shaped response: the model's '}' is eaten by
    // the stop token and re-appended by the parser (pt_filing.py:49);
    // a complete dict would hit the end+2 slice quirk and parse empty
    assert(PromptTechniques.parse(PromptTechniques.Filing,
      Seq(("None", "{'ORG': ['Acme'], 'GPE': ['Oslo']"))).toSet ==
      Set(("Acme", "ORG"), ("Oslo", "GPE")))
    // atat fan-out: tag comes from the prompt, not the response
    assert(PromptTechniques.parse(PromptTechniques.AtAt,
      Seq(("PERSON", "@@Alice## met Bob"), ("ORG", "no entities"))) ==
      List(("Alice", "PERSON")))
  }

  test("repeated surfaces round-trip once through markup techniques (no nested re-marking)") {
    val forms = Vector(("Paris", "x", "GPE"))
    val m = new Scorer.Matcher(forms)
    val cfg = TranscriptGen.Config(nConvs = 1, scorerNoisePerMille = 0)
    // "Paris is Paris": two occurrences → two findMentions entries; a
    // second fold pass over the same surface used to re-match inside
    // the markup (@@@@Paris####) and emit the garbage mention "@@Paris"
    for (tech <- Seq(PromptTechniques.Wrapper, PromptTechniques.AtAt)) {
      val rs = PromptTechniques.respond(tech, m, "c0", 0, "Paris is Paris", cfg)
      assert(PromptTechniques.parse(tech, rs) == List(("Paris", "GPE")),
        s"$tech: $rs")
    }
  }

  test("malformed responses degrade to empty across techniques") {
    techniques.foreach { tech =>
      val junk = Seq(("None", "{[(<"), ("stage1", "xx"), ("stage2", "yy"),
        ("PERSON", "@@never closed"))
      assert(PromptTechniques.parse(tech, junk).isEmpty, tech.name)
    }
  }
}
