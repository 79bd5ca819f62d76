package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.{Canonicalize, Entity, KGPipeline, Lexicon, TranscriptGen}

class CanonicalizeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("local union-find and distributed hash-min agree on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vertices = (0 until 300).map(i => f"v$i%03d")
    val edges = (0 until 350).map { _ =>
      (vertices(rnd.nextInt(vertices.length)), vertices(rnd.nextInt(vertices.length)))
    }.filter { case (a, b) => a != b }
    val df = edges.toDF("src", "dst")
    val local = Canonicalize.connectedComponents(df)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = Canonicalize.connectedComponents(df, forceDistributed = true)
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
    val chain = (0 until 40).map(i => (f"c$i%02d", f"c${i + 1}%02d")).toDF("src", "dst")
    val local = Canonicalize.connectedComponents(chain)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local.values.toSet == Set("c00"))
    val dist = Canonicalize.connectedComponents(chain, forceDistributed = true, maxIter = 50)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist == local)
  }

  test("canonicalMapLocal ≡ canonicalMapDistributed on a mixed graph") {
    import spark.implicits._
    val edges = Seq(
      ("m:Alice Jonson", "e:P0001"), ("e:P0001x", "e:P0001"),
      ("m:Acme", "e:O0002"), ("m:Lone Mention", "e:Zz"),
      ("e:Q9", "e:Q8"), ("e:Q8", "e:Q7"))
    val local = Canonicalize.canonicalMapLocal(edges).toMap
    val distDf = Canonicalize.canonicalMapDistributed(edges.toDF("src", "dst"))
    val dist = distDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist)
    assert(local("e:P0001x") == "P0001")
    assert(local("m:Alice Jonson") == "P0001")
    assert(local("e:Q9") == "Q7")
  }

  test("linkLocal ≡ distributed linking on the fixture catalogue") {
    import spark.implicits._
    val cat = graft.kg.Lexicon.catalogue.toArray
    val mentions = Seq("Alice Johnson", "Alice J. Johnson", "Meridian Bank",
      "Tundra Robotics", "Bruno Keler").flatMap(m =>
      Seq(graft.kg.Mention("c", 0, m, "PERSON")))
    val ds = mentions.toDS()
    val dist = graft.kg.EntityLinking.matches(
      graft.kg.EntityLinking.proposals(
        graft.kg.EntityLinking.valuesToMatch(ds), cat))
      .collect().map(l => l.mention -> l).toMap
    val local = graft.kg.EntityLinking.linkLocal(mentions.map(_.mention).distinct, cat)
      .map(l => l.mention -> l).toMap
    assert(dist.keySet == local.keySet)
    dist.foreach { case (m, d) =>
      val l = local(m)
      assert(d.entity_id == l.entity_id, m)
      assert(math.abs(d.confidence - l.confidence) < 1e-12, m)
      assert(d.accepted == l.accepted, m)
    }
  }

  test("driver alias edges ≡ aliasEdges on the fixture catalogue and on forced name duplicates") {
    import spark.implicits._
    val forced = Seq(
      Entity("P2", "Alice J. Johnson", "Personne"), Entity("P1", "alice johnson", "Personne"),
      Entity("P3", "Alice Johnson!", "Personne"), Entity("P3", "Alice K. Johnson", "Personne"),
      Entity("O9", "ACME Industries", "Entreprise"), Entity("O10", "Acme  Industries.", "Entreprise"),
      Entity("O11", "Lone Org", "Entreprise"))
    for (cat <- Seq(Lexicon.catalogue, forced)) {
      val local = Canonicalize.aliasEdgesLocal(cat)
      val dist = Canonicalize.aliasEdges(cat.toDS()).as[(String, String)].collect()
      assert(local.toSet == dist.toSet)
      assert(local.size == local.toSet.size && dist.length == dist.toSet.size, "no duplicate edges")
      assert(local.nonEmpty)
    }
    assert(Canonicalize.aliasEdgesLocal(forced).toSet == Set("P2" -> "P1", "P3" -> "P1", "O9" -> "O10"))
  }

  test("canonicalMap follows isLocal: driver-held inputs give a driver-held map equal to the distributed one") {
    val r = KGPipeline.run(spark, TranscriptGen.Config(nConvs = 40))
    val catalogue = TranscriptGen.entities(spark)
    assert(r.links.isLocal && catalogue.isLocal)
    val local = Canonicalize.canonicalMap(r.links, catalogue)
    val dist = Canonicalize.canonicalMap(r.links.repartition(2), catalogue.repartition(2))
    assert(local.isLocal && !dist.isLocal)
    val rows = local.collect().map(row => row.getString(0) -> row.getString(1))
    assert(rows.exists(_._1.startsWith("m:")) && rows.exists(_._1.startsWith("e:")))
    assert(rows.toSet == dist.collect().map(row => row.getString(0) -> row.getString(1)).toSet)
    assert(rows.length == rows.toMap.size, "one canonical per member")
    r.unpersistAll()
  }

  test("normalizeName drops middle initials and punctuation") {
    assert(Canonicalize.normalizeName("Alice J. Johnson") == "alice johnson")
    assert(Canonicalize.normalizeName("ACME Industries") == "acme industries")
  }
}
