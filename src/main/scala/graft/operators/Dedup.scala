package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalytics

/** Near-duplicate sketching for the training-data pipeline: one
  * word-3-shingle MinHash signature plus a SimHash per document, and
  * MinHash-band clusters over them. Generalizes the reference's
  * dedup-by-text (ner/Datasets/utils.py:33-45).
  *
  * No all-pairs work ever happens: documents meet only through the
  * band keys of their signatures, and sketches are computed in one
  * mapPartitions pass per doc.
  */
object Dedup {

  final case class DocSketch(doc_id: Long, minhash: Array[Long], simhash: Long, nShingles: Int)
  final case class BandKey(band: Int, key: Long, doc_id: Long)

  val NumHashes = 64
  val RowsPerBand = 4 // 16 bands → catches jaccard ≳ 0.5 w.h.p.
  val ShingleK = 3

  /** One-pass sketching: word-3-shingle minhash signature + simhash. */
  def sketch(docs: DataFrame, idCol: String, textCol: String): Dataset[DocSketch] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val sh = TextAnalytics.shingles(if (text == null) "" else text, ShingleK).toSet
          DocSketch(id, TextAnalytics.minHashSignature(sh, NumHashes),
            TextAnalytics.simhash64(if (text == null) "" else text), sh.size)
        }
      }
  }

  /** Per-doc candidate-cluster id: min doc_id over docs sharing any
    * minhash band (1-hop group; transitive closure is
    * Canonicalize.connectedComponents when needed). Always non-empty
    * — one row per doc. */
  def minhashClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sketches = sketch(docs, idCol, textCol)
    val bands = sketches.flatMap { s =>
      TextAnalytics.lshBandKeys(s.minhash, RowsPerBand).zipWithIndex.map {
        case (k, b) => BandKey(b, k, s.doc_id)
      }
    }.toDF("band", "key", "doc_id")
    // secondary sort: repartition by bucket, sort (bucket, id) within
    // partitions, stream each bucket once — its first id IS the bucket
    // min. The sketch pipeline runs ONCE (the groupBy+join shape
    // computed it twice) and per-bucket memory is O(1) even for
    // pathological hot buckets.
    val withBandMin = bands
      .repartition(col("band"), col("key"))
      .sortWithinPartitions("band", "key", "doc_id")
      .as[(Int, Long, Long)]
      .mapPartitions { it =>
        var curBand = -1
        var curKey = 0L
        var curMin = 0L
        it.map { case (band, key, id) =>
          if (band != curBand || key != curKey) {
            curBand = band; curKey = key; curMin = id
          }
          (id, curMin)
        }
      }
      .toDF("doc_id", "band_min")
    withBandMin.groupBy("doc_id").agg(min("band_min").as("cluster_id"))
  }
}
