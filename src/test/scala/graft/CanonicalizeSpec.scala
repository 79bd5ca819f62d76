package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.{Canonicalize, Entity, KGPipeline, Lexicon, TranscriptGen}

class CanonicalizeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // On vertices without an `e:` prefix the union-find's canonical is
  // the component's min member: an independent reference for the loop.
  test("local union-find and distributed hash-min agree on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vertices = (0 until 300).map(i => f"v$i%03d")
    val edges = (0 until 350).map { _ =>
      (vertices(rnd.nextInt(vertices.length)), vertices(rnd.nextInt(vertices.length)))
    }.filter { case (a, b) => a != b }
    val local = Canonicalize.canonicalMapLocal(edges).toMap
    val dist = Canonicalize.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist)
    assert(local.nonEmpty)
    // component label is the min member
    local.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.keys.min == comp)
    }
  }

  test("chain graph: long diameter converges") {
    import spark.implicits._
    val edges = (0 until 40).map(i => (f"c$i%02d", f"c${i + 1}%02d"))
    val local = Canonicalize.canonicalMapLocal(edges).toMap
    assert(local.values.toSet == Set("c00"))
    val dist = Canonicalize.connectedComponents(edges.toDF("src", "dst"), maxIter = 50)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist == local)
  }

  test("canonicalMapLocal on a mixed graph: the canonical of every member") {
    val edges = Seq(
      ("m:Alice Jonson", "e:P0001"), ("e:P0001x", "e:P0001"),
      ("m:Acme", "e:O0002"), ("m:Lone Mention", "e:Zz"),
      ("e:Q9", "e:Q8"), ("e:Q8", "e:Q7"),
      ("m:solo b", "m:solo a"))
    val local = Canonicalize.canonicalMapLocal(edges)
    assert(local.length == local.toMap.size, "one row per member")
    assert(local.toMap == Map(
      "m:Alice Jonson" -> "P0001", "e:P0001" -> "P0001", "e:P0001x" -> "P0001",
      "m:Acme" -> "O0002", "e:O0002" -> "O0002",
      "m:Lone Mention" -> "Zz", "e:Zz" -> "Zz",
      "e:Q9" -> "Q7", "e:Q8" -> "Q7", "e:Q7" -> "Q7",
      // an entity-free component keeps its min member
      "m:solo b" -> "m:solo a", "m:solo a" -> "m:solo a"))
  }

  test("link ≡ matches(proposals) on the fixture catalogue") {
    import spark.implicits._
    val cat = graft.kg.Lexicon.catalogue.toArray
    val mentions = Seq("Alice Johnson", "Alice J. Johnson", "Meridian Bank",
      "Tundra Robotics", "Bruno Keler").flatMap(m =>
      Seq(graft.kg.Mention("c", 0, m, "PERSON")))
    val ds = mentions.toDS()
    val grouped = graft.kg.EntityLinking.matches(
      graft.kg.EntityLinking.proposals(
        graft.kg.EntityLinking.valuesToMatch(ds), cat))
      .collect().map(l => l.mention -> l).toMap
    val scored = graft.kg.EntityLinking.link(ds, cat)
      .collect().map(l => l.mention -> l).toMap
    assert(grouped.keySet == scored.keySet)
    assert(scored.keySet == mentions.map(_.mention).toSet)
    grouped.foreach { case (m, g) =>
      val l = scored(m)
      assert(g.entity_id == l.entity_id, m)
      assert(g.confidence == l.confidence, m)
      assert(g.accepted == l.accepted, m)
    }
  }

  test("driver alias edges on the fixture catalogue and on forced name duplicates") {
    // the fixture duplicates entities under a middle-initial variant and an x-suffixed id
    val fixture = Canonicalize.aliasEdgesLocal(Lexicon.catalogue)
    val dupIds = Lexicon.catalogue.map(_.entity_id).filter(_.endsWith("x"))
    assert(dupIds.nonEmpty)
    assert(fixture.toSet == dupIds.map(id => id -> id.stripSuffix("x")).toSet)
    val forced = Seq(
      Entity("P2", "Alice J. Johnson", "Personne"), Entity("P1", "alice johnson", "Personne"),
      Entity("P3", "Alice Johnson!", "Personne"), Entity("P3", "Alice K. Johnson", "Personne"),
      Entity("O9", "ACME Industries", "Entreprise"), Entity("O10", "Acme  Industries.", "Entreprise"),
      Entity("O11", "Lone Org", "Entreprise"))
    val edges = Canonicalize.aliasEdgesLocal(forced)
    for (es <- Seq(fixture, edges)) assert(es.size == es.toSet.size, "no duplicate edges")
    assert(edges.toSet == Set("P2" -> "P1", "P3" -> "P1", "O9" -> "O10"))
  }

  test("canonicalMap: driver-held and repartitioned inputs give one driver map") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val r = KGPipeline.run(spark, TranscriptGen.Config(nConvs = 40))
    val catalogue = TranscriptGen.entities(spark)
    val fromLocal = Canonicalize.canonicalMap(r.links, catalogue)
    val fromDist = Canonicalize.canonicalMap(r.links.repartition(2), catalogue.repartition(2))
    for (m <- Seq(fromLocal, fromDist))
      assert(m.queryExecution.logical.isInstanceOf[LocalRelation], m.queryExecution.logical)
    val rows = fromLocal.collect().map(row => row.getString(0) -> row.getString(1))
    assert(rows.toSet == fromDist.collect().map(row => row.getString(0) -> row.getString(1)).toSet)
    val byMember = rows.toMap
    assert(rows.length == byMember.size, "one canonical per member")
    // a linked mention and both ids of a duplicated entity map to the base id
    val links = r.links.collect()
    val expected = links.filter(_.accepted).flatMap { l =>
      val base = l.entity_id.stripSuffix("x")
      Seq("m:" + l.mention -> base, "e:" + l.entity_id -> base, "e:" + base -> base)
    }.toMap
    assert(expected.exists(_._1.startsWith("m:")))
    assert(expected.forall { case (m, c) => byMember.get(m).contains(c) }, expected)
    assert(links.filter(!_.accepted).forall(l => !byMember.contains("m:" + l.mention)))
    r.unpersistAll()
  }

  test("normalizeName drops middle initials and punctuation") {
    assert(Canonicalize.normalizeName("Alice J. Johnson") == "alice johnson")
    assert(Canonicalize.normalizeName("ACME Industries") == "acme industries")
  }
}
