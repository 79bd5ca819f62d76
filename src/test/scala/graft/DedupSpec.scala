package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Synthetic corpus with KNOWN near-duplicates: 60 base docs of
    * random words; every third doc gets a mutated copy (few words
    * swapped) and every fifth an exact copy. Seeded → deterministic. */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("data", "spark", "table", "join", "query", "scan",
      "merge", "batch", "window", "stream", "filter", "sort", "hash", "row",
      "column", "value", "key", "part", "agg", "fast")
    val base = (0 until 60).map { i =>
      (i.toLong, Vector.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val copies = base.collect {
      case (id, t) if id % 5 == 0 => (1000L + id, t) // exact copy
      case (id, t) if id % 3 == 0 =>
        val w = t.split(" ").toVector
        val mutated = w.updated(3, "zzz").updated(17, "qqq")
        (2000L + id, mutated.mkString(" ")) // near copy (jaccard ≳ 0.7)
    }
    base ++ copies
  }

  private def docsDF: DataFrame = {
    import spark.implicits._
    corpus.toDF("doc_id", "text")
  }

  test("null-text documents sketch to the empty shingle set and cluster together") {
    import spark.implicits._
    // nulls sketch to the empty set: same signature, every band key
    // shared, so both land in one cluster and never NPE the sketch
    val docs = Seq((1L, null: String), (2L, null: String), (3L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val sk = Dedup.sketch(docs, "doc_id", "text").collect().map(s => s.doc_id -> s).toMap
    assert(sk(1L).nShingles == 0 && sk(2L).nShingles == 0)
    assert(sk(1L).minhash.sameElements(sk(2L).minhash))
    assert(sk(1L).simhash == sk(2L).simhash)
    val clusters = Dedup.minhashClusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 3)
    assert(clusters(1L) == 1L && clusters(2L) == 1L, s"null-text docs must share a cluster: $clusters")
    assert(clusters(3L) == 3L)
  }

  test("minhash clusters assign one row per doc, copies share clusters") {
    val clusters = Dedup.minhashClusters(docsDF, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == corpus.size)
    // exact copies share a cluster with their original
    (0 until 60 by 5).foreach { id =>
      assert(clusters(id.toLong) == clusters(1000L + id), s"doc $id")
    }
  }
}
