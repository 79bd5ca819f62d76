package graft.kg

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.functions.Hashing

/** Deterministic synthetic transcript corpus (FIXTURES.md §1) in the
  * exact BASELINE.json input_hint shape. Every draw is a pure
  * function of (conv_id, turn_idx, seed) via content hashing — never
  * of partition id, row order or an RNG stream — so the corpus (and
  * its gold) is bit-identical at any parallelism. Generated with
  * `spark.range(nConvs).flatMap(...)`, so it scales to arbitrarily
  * large corpora without a driver-side materialization.
  *
  * Edge cases built in per FIXTURES.md: empty texts, texts containing
  * `{` (the reference's brace filter, Conll2003Dataset.py:62-63),
  * oversized texts (prompt-length drop, pt_abstract.py:54-60),
  * duplicated texts across conversations, and one hot entity
  * appearing in ~25% of entity-bearing turns (skew case for the
  * linking/canonicalization joins).
  */
object TranscriptGen {

  final case class Config(
      nConvs: Long = 20,
      seed: Long = 42L,
      hotPct: Int = 25,          // % of person picks that hit the hot entity
      variantPct: Int = 10,      // % of person mentions using a surface variant
      scorerNoisePerMille: Int = 15, // turns whose scorer response is malformed
      verifierNoisePerMille: Int = 3,
      logitNoisePerMille: Int = 150) // mentions whose tag logits favor a wrong tag

  /** Maximum prompt size the scorer accepts (whitespace tokens);
    * mirrors the reference's 4096-token context minus max_tokens
    * guard (pt_abstract.py:54-60). */
  val MaxPromptTokens: Int = 3840

  import Lexicon._

  private def h(conv: Long, turn: Int, salt: Long, seed: Long): Long =
    Hashing.hash64(conv * 0x9E3779B97F4A7C15L + turn * 0x100000001B3L + salt, seed)

  def turnsFor(conv: Long, cfg: Config): Int = 8 + Hashing.bucket(h(conv, -1, 0x71, cfg.seed), 5)

  private def pickPerson(conv: Long, turn: Int, salt: Long, cfg: Config): Int = {
    val hh = h(conv, turn, salt, cfg.seed)
    if (Hashing.bucket(hh, 100) < cfg.hotPct) 0
    else 1 + Hashing.bucket(Hashing.mix64(hh), People.length - 1)
  }

  /** The surface form a person appears under in this turn (canonical
    * or a deterministic variant), plus the canonical name. */
  private def personSurface(conv: Long, turn: Int, salt: Long, cfg: Config): (String, String) = {
    val idx = pickPerson(conv, turn, salt, cfg)
    val canonical = People(idx)
    val vh = h(conv, turn, salt ^ 0x5A5A, cfg.seed)
    val surface =
      if (Hashing.bucket(vh, 100) < cfg.variantPct) variant(canonical, 1 + Hashing.bucket(Hashing.mix64(vh), 3))
      else canonical
    (surface, canonical)
  }

  private def pickOrg(conv: Long, turn: Int, salt: Long, cfg: Config): String =
    Orgs(Hashing.bucket(h(conv, turn, salt, cfg.seed), Orgs.length))
  private def pickLoc(conv: Long, turn: Int, salt: Long, cfg: Config): String =
    Locs(Hashing.bucket(h(conv, turn, salt, cfg.seed), Locs.length))

  /** Everything known about one generated turn: the input row plus
    * gold mentions (surface forms as embedded in text), gold
    * relations over surface forms, and gold canonical-entity mapping
    * for linkable surfaces. */
  final case class GenTurn(
      turn: Turn,
      goldMentions: List[(String, String)],            // (surface, tag)
      goldRelations: List[(String, String, String)])   // (subjSurface, pred, objSurface)

  private val Filler = ("lorem ipsum dolor sit amet " * 900).trim

  def genTurn(conv: Long, turnIdx: Int, cfg: Config): GenTurn = {
    val convId = f"conv-$conv%08d"
    val role = turnIdx % 3 match {
      case 0 => "user"
      case 1 => "assistant"
      case _ => "tool"
    }
    val tool = if (role == "tool") "search" else null
    val ts = new Timestamp(1700000000000L + conv * 3600000L + turnIdx * 60000L)
    def mk(text: String, ms: List[(String, String)], rs: List[(String, String, String)]) =
      GenTurn(Turn(convId, turnIdx, role, text, tool, ts), ms, rs)

    val edge = Hashing.bucket(h(conv, turnIdx, 0xE, cfg.seed), 1000)
    if (edge < 15) return mk("", Nil, Nil)
    if (edge < 35) return mk("{ \"status\": \"ok\", \"retries\": 0 } please ignore this payload", Nil, Nil)
    if (edge < 45) {
      // oversized: carries one real mention that the length guard drops
      val (p, _) = personSurface(conv, turnIdx, 0x01, cfg)
      return mk(s"$p attached the full report . $Filler", List((p, "PERSON")), Nil)
    }
    if (edge < 60) return mk("Thanks for the update .", Nil, Nil)

    val template = Hashing.bucket(h(conv, turnIdx, 0x7, cfg.seed), 8)
    template match {
      case 0 =>
        val (p, _) = personSurface(conv, turnIdx, 0x01, cfg)
        val o = pickOrg(conv, turnIdx, 0x02, cfg)
        val l = pickLoc(conv, turnIdx, 0x03, cfg)
        mk(s"$p from $o visited $l last week .",
          List((p, "PERSON"), (o, "ORG"), (l, "GPE")),
          List((p, "works_for", o), (p, "visited", l)))
      case 1 =>
        val o = pickOrg(conv, turnIdx, 0x02, cfg)
        val l = pickLoc(conv, turnIdx, 0x03, cfg)
        mk(s"$o opened a new office in $l .",
          List((o, "ORG"), (l, "GPE")),
          List((o, "located_in", l)))
      case 2 =>
        val (p1, _) = personSurface(conv, turnIdx, 0x01, cfg)
        var (p2, c2) = personSurface(conv, turnIdx, 0x04, cfg)
        if (p2 == p1) { p2 = People((People.indexOf(c2) + 1) % People.length) }
        val o = pickOrg(conv, turnIdx, 0x02, cfg)
        mk(s"$p1 met $p2 at $o yesterday .",
          List((p1, "PERSON"), (p2, "PERSON"), (o, "ORG")),
          List((p1, "met", p2)))
      case 3 =>
        val (p, _) = personSurface(conv, turnIdx, 0x01, cfg)
        val o = pickOrg(conv, turnIdx, 0x02, cfg)
        mk(s"$p joined $o as director .",
          List((p, "PERSON"), (o, "ORG")),
          List((p, "works_for", o)))
      case 4 =>
        val l = pickLoc(conv, turnIdx, 0x03, cfg)
        mk(s"The weather in $l is nice today .", List((l, "GPE")), Nil)
      case 5 =>
        mk("Please schedule the meeting for tomorrow .", Nil, Nil)
      case 6 =>
        val (p, _) = personSurface(conv, turnIdx, 0x01, cfg)
        mk(s"$p said the quarterly report is ready .", List((p, "PERSON")), Nil)
      case _ =>
        val o1 = pickOrg(conv, turnIdx, 0x02, cfg)
        var o2 = pickOrg(conv, turnIdx, 0x05, cfg)
        if (o2 == o1) o2 = Orgs((Orgs.indexOf(o1) + 1) % Orgs.length)
        mk(s"$o1 acquired $o2 last month .",
          List((o1, "ORG"), (o2, "ORG")),
          List((o1, "acquired", o2)))
    }
  }

  // ---------- Dataset builders (all spark.range-driven) ----------

  def transcripts(spark: SparkSession, cfg: Config): Dataset[Turn] = {
    import spark.implicits._
    spark.range(cfg.nConvs).flatMap { conv =>
      (0 until turnsFor(conv, cfg)).map(t => genTurn(conv, t, cfg).turn)
    }
  }

  def goldMentions(spark: SparkSession, cfg: Config): Dataset[Mention] = {
    import spark.implicits._
    spark.range(cfg.nConvs).flatMap { conv =>
      (0 until turnsFor(conv, cfg)).flatMap { t =>
        val g = genTurn(conv, t, cfg)
        g.goldMentions.map { case (m, tag) => Mention(g.turn.conv_id, t, m, tag) }
      }
    }
  }

  def entities(spark: SparkSession): Dataset[Entity] = {
    import spark.implicits._
    spark.createDataset(Lexicon.catalogue)
  }

  /** Gold triples under the pipeline's vocabulary (see KGPipeline):
    * turn-level mention triples with linked surfaces canonicalized to
    * the min-id catalogue entity, plus entity-level relation triples. */
  def goldTriples(spark: SparkSession, cfg: Config): Dataset[Triple] = {
    import spark.implicits._
    spark.range(cfg.nConvs).flatMap { conv =>
      (0 until turnsFor(conv, cfg)).flatMap { t =>
        val g = genTurn(conv, t, cfg)
        val subjTurn = s"${g.turn.conv_id}#$t"
        val mentionTriples = g.goldMentions.map { case (m, tag) =>
          Triple(subjTurn, s"mentions_$tag", canonicalObj(m, tag))
        }
        val relTriples = g.goldRelations.map { case (s, p, o) =>
          Triple(canonicalObj(s, surfaceTag(s)), p, canonicalObj(o, surfaceTag(o)))
        }
        (mentionTriples ++ relTriples).distinct
      }
    }.distinct()
  }

  private lazy val surfaceToCanonicalName: Map[String, (String, String)] =
    Lexicon.surfaceForms.map { case (surface, canonical, tag) => surface -> (canonical, tag) }.toMap

  private def surfaceTag(surface: String): String =
    surfaceToCanonicalName.get(surface).map(_._2).getOrElse("GPE")

  /** Canonical triple object for a surface form: the catalogue entity
    * id for PERSON/ORG (min id per canonicalization component = the
    * base, unsuffixed id), the surface itself for GPE. */
  def canonicalObj(surface: String, tag: String): String =
    if (tag == "GPE") surface
    else surfaceToCanonicalName.get(surface)
      .flatMap { case (canonical, _) => Lexicon.idByName.get(canonical) }
      .getOrElse(surface)
}
