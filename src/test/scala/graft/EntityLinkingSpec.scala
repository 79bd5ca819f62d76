package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.kg._

class EntityLinkingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val cat = Lexicon.catalogue.toArray

  /** `n` (at most 26⁴) distinct PERSON strings: a fixture name with a
    * distinct four-letter tail, so some link and some do not. */
  private def persons(n: Int): Dataset[Mention] = {
    import spark.implicits._
    (0 until n).map { i =>
      val tail = Seq(17576, 676, 26, 1).map(b => ('a' + i / b % 26).toChar).mkString
      Mention(s"c${i % 97}", i % 7, Lexicon.People(i % Lexicon.People.length) + " " + tail, "PERSON")
    }.toDS()
  }

  private def isLocal(ds: Dataset[_]): Boolean =
    ds.queryExecution.logical.isInstanceOf[LocalRelation]

  test("20 001 distinct values: driver-normalized links equal matches(proposals), no extra jobs") {
    val small = persons(30)
    val smallJobs = SparkTestBase.countJobs(EntityLinking.link(small, cat).collect(): Unit)

    val n = 20001
    val big = persons(n).cache()
    big.count()
    var links: Dataset[LinkMatch] = null
    var rows: Array[LinkMatch] = null
    val bigJobs = SparkTestBase.countJobs {
      links = EntityLinking.link(big, cat)
      rows = links.collect()
    }
    info(s"jobs: small ${smallJobs.callSites.mkString(", ")}; big ${bigJobs.callSites.mkString(", ")}")
    assert(isLocal(links), links.queryExecution.logical)
    assert(rows.length == n)
    assert(rows.map(_.mention).distinct.length == n)
    assert(rows.map(_.mention).toSeq == rows.map(_.mention).sorted.toSeq, "sorted by mention")
    assert(rows.exists(_.accepted) && rows.exists(!_.accepted))

    val grouped = EntityLinking.matches(EntityLinking.proposals(EntityLinking.valuesToMatch(big), cat))
    assert(isLocal(grouped), grouped.queryExecution.logical)
    val byMention = grouped.collect().map(l => l.mention -> l).toMap
    assert(byMention.size == n)
    rows.foreach { l =>
      val g = byMention(l.mention)
      assert(g.entity_id == l.entity_id, l.mention)
      assert(g.accepted == l.accepted, l.mention)
      assert(java.lang.Double.compare(g.confidence, l.confidence) == 0, l.mention)
    }
    assert(bigJobs.started <= smallJobs.started, (smallJobs.callSites, bigJobs.callSites))
    big.unpersist()
  }

  test("empty catalogue or empty proposal set: empty links through link and matches") {
    import spark.implicits._
    val mentions = persons(20)
    val none = Array.empty[Entity]
    val results = Seq(
      EntityLinking.link(mentions, none),
      EntityLinking.link(spark.emptyDataset[Mention], cat),
      EntityLinking.matches(EntityLinking.proposals(EntityLinking.valuesToMatch(mentions), none)),
      EntityLinking.matches(spark.emptyDataset[LinkProposal]))
    results.foreach { links =>
      assert(isLocal(links), links.queryExecution.logical)
      assert(links.collect().isEmpty)
    }
  }
}
