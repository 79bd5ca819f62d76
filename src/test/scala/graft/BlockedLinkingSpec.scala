package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg._

class BlockedLinkingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("blocking-key candidate generation recalls the exact top-1 match") {
    import spark.implicits._
    val cat = Lexicon.catalogue
    // every surface form the corpus can produce for linkable entities
    val surfaces = Lexicon.surfaceForms.collect {
      case (s, _, tag) if tag == "PERSON" || tag == "ORG" => s
    }.distinct
    val values = surfaces.map(s => (s, 1L)).toDS()
    val exact = EntityLinking.proposals(values, cat.toArray)
      .filter(_.rank == 1).collect().map(p => p.mention -> p.entity_id).toMap
    val blocked = EntityLinking.proposalsBlocked(values, TranscriptGen.entities(spark))
      .filter(_.rank == 1).collect().map(p => p.mention -> p.entity_id).toMap
    val hits = exact.count { case (m, e) => blocked.get(m).contains(e) }
    val recall = hits.toDouble / exact.size
    info(s"blocked top-1 recall = $recall over ${exact.size} surfaces")
    assert(recall >= 0.95, s"recall $recall")
  }

  test("linkAdaptive: small catalogue ≡ broadcast link; blocked path recalls ≥0.95 on ×100 catalogue") {
    import spark.implicits._
    val cfg = TranscriptGen.Config(nConvs = 50)
    val r = KGPipeline.run(spark, cfg)
    val verified = r.verified.cache()
    verified.count()
    r.unpersistAll()

    // small catalogue: adaptive == the broadcast reference path, exactly
    val small = EntityLinking.linkAdaptive(verified, Lexicon.catalogue.toArray)
      .collect().map(l => (l.mention, l.entity_id, l.accepted)).toSet
    val direct = EntityLinking.link(verified, Lexicon.catalogue.toArray)
      .collect().map(l => (l.mention, l.entity_id, l.accepted)).toSet
    assert(small == direct)

    // ×100 catalogue (13k entities): decoys that never outscore the
    // fixture entities; the blocked path must recall the exact top-1
    val decoys = (0 until Lexicon.catalogue.length * 99).map { i =>
      Entity(f"D$i%06d", s"Qz${i % 977}xx Wk${i % 499}yy", "Personne")
    }
    val big = Lexicon.catalogue ++ decoys
    val bigDs = spark.createDataset(big)
    val exact = EntityLinking.link(verified, big.toArray)
      .filter(_.accepted).collect().map(l => l.mention -> l.entity_id).toMap
    val blockedLinks = EntityLinking.matches(
      EntityLinking.proposalsBlocked(EntityLinking.valuesToMatch(verified), bigDs))
    // normalized on the driver, like the broadcast path's links
    assert(blockedLinks.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val blocked = blockedLinks
      .filter(_.accepted).collect().map(l => l.mention -> l.entity_id).toMap
    assert(exact.nonEmpty)
    val hits = exact.count { case (m, e) => blocked.get(m).contains(e) }
    val recall = hits.toDouble / exact.size
    info(s"blocked accepted-link recall = $recall over ${exact.size} mentions, |catalogue|=${big.length}")
    assert(recall >= 0.95, s"recall $recall")
    verified.unpersist()
  }

  test("Filing detection = KGPipeline.run parsed mentions") {
    val cfg = TranscriptGen.Config(nConvs = 40)
    val disc = KGPipeline.run(spark, TranscriptGen.transcripts(spark, cfg), cfg)
    val a = KGPipeline.mentionsOf(disc.extracted).collect().toSet
    val b = PromptTechniques.detectMentions(disc.prompts, PromptTechniques.Filing, cfg).collect().toSet
    assert(a.nonEmpty && a == b, s"extra=${(b -- a).take(3)} missing=${(a -- b).take(3)}")
    disc.unpersistAll()
  }
}
